"""Multimodal plumbing: binary column round-trip through mapInPandas."""

from __future__ import annotations

import pytest

from sparkifydb_datawarehouse_spark.llm import multimodal


def test_features_roundtrip(spark, sf_dir):
    df = multimodal.multimodal_features(spark, sf_dir)
    rows = df.limit(20).collect()
    assert len(rows) == 20
    for r in rows:
        assert r["magic_ok"] == 1, "header must survive the binary round-trip"
        assert r["width"] == r["doc_id"] % 64 + 1
        assert r["height"] == r["doc_id"] % 48 + 1
        assert r["kind"] == "image/fake"
        assert r["n_bytes"] > 8


def test_checksum_matches_python(spark, sf_dir):
    from sparkifydb_datawarehouse_spark.tables import load_table

    doc = load_table(spark, sf_dir, "documents").filter("doc_id = 0").collect()[0]
    feat = (
        multimodal.multimodal_features(spark, sf_dir).filter("doc_id = 0").collect()[0]
    )
    assert feat["payload_checksum"] == sum(doc["text"].encode()) % (1 << 31)


def test_image_phash_separates_classes_and_collapses_brightness(spark, sf_dir):
    """The dHash dedup's two theorems (one hash per class, brightness
    invariance) are driver-oracled; cross-class SEPARATION is the
    empirical property pinned here: all 48 planted pattern classes
    must land on 48 distinct hashes, and every contract flag is 1."""
    from sparkifydb_datawarehouse_spark import registry
    from sparkifydb_datawarehouse_spark.llm.multimodal import (
        _PHASH_CLASSES,
        _dhash,
        _plant_phash,
    )

    registry.load_all_modules()
    rows = registry.QUERIES["q_dedup_image_phash"](spark, sf_dir).collect()
    assert all(r["hash_consistent"] == 1 for r in rows)
    assert all(r["brightness_collapsed"] == 1 for r in rows)

    # separation: compute the hashes directly over one doc per class
    def dhash(d):
        [(_, _, h)] = _dhash(d, _plant_phash(d))
        return h

    hashes = {dhash(d) for d in range(_PHASH_CLASSES)}
    assert len(hashes) == _PHASH_CLASSES, (
        "planted pattern classes must have pairwise-distinct dHashes"
    )
    # brightness variants (d//48 = 0 vs 1) of the same class hash identically
    assert _plant_phash(3) != _plant_phash(3 + _PHASH_CLASSES)  # pixels actually differ
    assert dhash(3) == dhash(3 + _PHASH_CLASSES)


def test_decode_image_unknown_magic_raises():
    from sparkifydb_datawarehouse_spark.llm.codecs import ImageDecodeError

    # 6 bytes of PNG magic is not the 8-byte signature — unknown magic
    # is a decode error (the round-9 codec gate is gone)
    with pytest.raises(ImageDecodeError, match="unrecognized"):
        multimodal.decode_image(b"\x89PNG\r\n")


def test_resize_fits_box_and_shrinks(spark, sf_dir):
    from sparkifydb_datawarehouse_spark import registry

    registry.load_all_modules()
    rows = registry.QUERIES["q_multimodal_resize"](spark, sf_dir).collect()
    assert len(rows) > 0
    for r in rows:
        assert 1 <= r["width"] <= 16 and 1 <= r["height"] <= 16
        assert r["n_bytes"] >= 8  # header survives


def test_frame_sampling_strides(spark, sf_dir):
    from sparkifydb_datawarehouse_spark import registry

    registry.load_all_modules()
    df = registry.QUERIES["q_multimodal_frames"](spark, sf_dir)
    rows = df.collect()
    assert len(rows) > 0
    # frame numbers are multiples of the stride, per doc
    assert all(r["frame_no"] % 4 == 0 for r in rows)
    # at least one doc yields multiple frames (payloads are ~100s of bytes)
    from collections import Counter

    per_doc = Counter(r["doc_id"] for r in rows)
    assert max(per_doc.values()) > 1


def test_audio_features_deterministic_and_consistent(spark, sf_dir):
    """PCM plumbing invariants: n_samples matches the metadata contract
    (64 + doc_id % 192), features are deterministic across runs, and
    RMS is positive for the nonzero synthetic waveform."""
    from sparkifydb_datawarehouse_spark.llm import multimodal as M

    a = {r["doc_id"]: (r["n_samples"], r["rms"], r["zero_crossings"])
         for r in M.multimodal_audio(spark, sf_dir).collect()}
    b = {r["doc_id"]: (r["n_samples"], r["rms"], r["zero_crossings"])
         for r in M.multimodal_audio(spark, sf_dir).collect()}
    assert a == b
    for doc_id, (n, rms, zc) in a.items():
        assert n == 64 + doc_id % 192
        assert rms > 0
        assert 0 <= zc < n
