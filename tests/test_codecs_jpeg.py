"""Pins for the pure-Python baseline JPEG codec (codecs_jpeg.py).

The oracled query (q_multimodal_decode_jpeg) value-checks the
quantization-exact DC path end-to-end through Spark; these tests pin
the parts the oracle can't reach: the AC run-length/zigzag path
(against an INDEPENDENT direct-formula IDCT, not the decoder's matrix
form), lossy-roundtrip sanity, subsampling, restartless bitstream
edge cases, and the error contract.
"""

from __future__ import annotations

import numpy as np
import pytest

from sparkifydb_datawarehouse_spark.llm.codecs import ImageDecodeError
from sparkifydb_datawarehouse_spark.llm.codecs_jpeg import (
    QT_LUMA,
    ZIGZAG,
    decode_jpeg,
    encode_jpeg_baseline,
    encode_jpeg_from_coeffs,
)


def _direct_idct(coef: np.ndarray) -> np.ndarray:
    """Textbook T.81 A.3.3 IDCT, written as the quadruple loop so it
    shares no code with the decoder's separable matrix form."""
    out = np.zeros((8, 8))
    for x in range(8):
        for y in range(8):
            s = 0.0
            for u in range(8):
                for v in range(8):
                    cu = 1 / np.sqrt(2) if u == 0 else 1.0
                    cv = 1 / np.sqrt(2) if v == 0 else 1.0
                    s += (
                        cu
                        * cv
                        * coef[u, v]
                        * np.cos((2 * x + 1) * u * np.pi / 16)
                        * np.cos((2 * y + 1) * v * np.pi / 16)
                    )
            out[x, y] = s / 4
    return np.rint(out + 128).clip(0, 255).astype(np.uint8)


def _block_constant_plane(w: int, h: int, seed: int) -> np.ndarray:
    plane = np.zeros((h, w), dtype=np.uint8)
    for by in range((h + 7) // 8):
        for bx in range((w + 7) // 8):
            plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = 2 * (
                (7 * seed + 5 * bx + 3 * by) % 128
            )
    return plane


def test_grayscale_dc_exact_roundtrip():
    for w, h, seed in [(8, 8, 1), (23, 17, 3), (31, 23, 9), (9, 8, 4)]:
        plane = _block_constant_plane(w, h, seed)
        img = decode_jpeg(encode_jpeg_baseline([plane], w, h))
        assert (img["width"], img["height"], img["channels"]) == (w, h, 1)
        got = np.frombuffer(img["pixels"], dtype=np.uint8).reshape(h, w)
        assert np.array_equal(got, plane)


@pytest.mark.parametrize("sampling", ["444", "420"])
def test_color_neutral_chroma_exact(sampling):
    w, h = 21, 13  # partial blocks + odd dims (exercises 420 pooling pad)
    y = _block_constant_plane(w, h, 5)
    neutral = np.full((h, w), 128, dtype=np.uint8)
    img = decode_jpeg(encode_jpeg_baseline([y, neutral, neutral], w, h, sampling))
    assert img["channels"] == 3
    rgb = np.frombuffer(img["pixels"], dtype=np.uint8).reshape(h, w, 3)
    for c in range(3):
        assert np.array_equal(rgb[:, :, c], y), f"channel {c} ({sampling})"


def test_ac_path_against_direct_idct():
    """Single nonzero AC coefficients at assorted zigzag positions:
    the decoded block must equal the direct-formula IDCT of the
    dequantized coefficient array — pins Huffman AC run/size decode,
    ZRL handling, and zigzag placement."""
    for nat_idx, qval in [(1, 3), (8, -2), (63, 1), (28, 5), (17, -4)]:
        qb = np.zeros((1, 1, 8, 8), dtype=np.int32)
        qb[0, 0, nat_idx // 8, nat_idx % 8] = qval
        img = decode_jpeg(encode_jpeg_from_coeffs(qb, 8, 8))
        got = np.frombuffer(img["pixels"], dtype=np.uint8).reshape(8, 8)
        coef = np.zeros((8, 8))
        coef[nat_idx // 8, nat_idx % 8] = qval * QT_LUMA[nat_idx]
        assert np.array_equal(got, _direct_idct(coef)), f"AC at {nat_idx}"


def test_dense_coefficients_roundtrip_vs_direct_idct():
    """A block with many nonzero coefficients (forces multi-symbol AC
    runs and DC+AC interplay across two blocks with DC prediction)."""
    rng = np.random.default_rng(11)
    qb = rng.integers(-5, 6, size=(1, 2, 8, 8)).astype(np.int32)
    img = decode_jpeg(encode_jpeg_from_coeffs(qb, 16, 8))
    got = np.frombuffer(img["pixels"], dtype=np.uint8).reshape(8, 16)
    for b in range(2):
        coef = qb[0, b].astype(np.float64) * QT_LUMA.reshape(8, 8)
        assert np.array_equal(got[:, b * 8 : (b + 1) * 8], _direct_idct(coef))


def test_lossy_roundtrip_sanity():
    """Natural-image-ish gradient: decode must land near the original
    (baseline JPEG at these tables keeps smooth content within a few
    levels) — catches gross scaling/normalization bugs."""
    xs = np.linspace(0, 255, 32)
    grad = np.tile(xs, (24, 1)).astype(np.uint8)
    img = decode_jpeg(encode_jpeg_baseline([grad], 32, 24))
    got = np.frombuffer(img["pixels"], dtype=np.uint8).reshape(24, 32).astype(float)
    assert np.abs(got - grad).max() <= 4


def test_byte_stuffing_survives():
    """Values chosen to make 0xFF bytes likely in the entropy stream
    over many blocks; decode must still parse (FF00 unstuffing)."""
    rng = np.random.default_rng(7)
    plane = rng.integers(0, 256, size=(40, 48), dtype=np.uint8)
    img = decode_jpeg(encode_jpeg_baseline([plane], 48, 40))
    assert (img["width"], img["height"]) == (48, 40)


def test_error_contract():
    plane = np.full((8, 8), 100, dtype=np.uint8)
    blob = encode_jpeg_baseline([plane], 8, 8)
    with pytest.raises(ImageDecodeError):
        decode_jpeg(b"\x00\x00" + blob[2:])  # bad magic
    with pytest.raises(ImageDecodeError):
        decode_jpeg(blob[:40])  # truncated mid-segment
    # progressive SOF2 refused, not garbage
    sof0 = blob.find(b"\xff\xc0")
    assert sof0 > 0
    prog = blob[:sof0] + b"\xff\xc2" + blob[sof0 + 2 :]
    with pytest.raises(ImageDecodeError):
        decode_jpeg(prog)


def test_truncated_entropy_refused_not_garbage():
    """ADVICE r5: a stream truncated AFTER valid headers (EOI appended
    where half the entropy bytes should be) must raise, not decode the
    missing MCUs from fabricated zero-pad bits. A big multi-MCU image
    guarantees many MCUs remain undecoded at the premature EOI, so the
    8-byte pad slack trips."""
    rng = np.random.default_rng(5)
    plane = rng.integers(0, 256, (64, 64), dtype=np.uint8)
    blob = encode_jpeg_baseline([plane], 64, 64)
    sos = blob.find(b"\xff\xda")
    assert sos > 0 and blob.endswith(b"\xff\xd9")
    entropy_start = sos + 2 + int.from_bytes(blob[sos + 2 : sos + 4], "big")
    cut = entropy_start + (len(blob) - 2 - entropy_start) // 2
    with pytest.raises(ImageDecodeError):
        decode_jpeg(blob[:cut] + b"\xff\xd9")
    # the slack must NOT break valid streams: full blob still decodes
    assert decode_jpeg(blob)["width"] == 64


def test_encoder_validates_chroma_plane_shapes():
    """ADVICE r5: a mis-shaped Cb/Cr plane must be a clear ValueError
    at encode time, not a corrupt fixture."""
    y = np.zeros((16, 16), dtype=np.uint8)
    bad = np.zeros((8, 8), dtype=np.uint8)
    with pytest.raises(ValueError, match="plane 1"):
        encode_jpeg_baseline([y, bad, y], 16, 16, "444")
    with pytest.raises(ValueError, match="plane 2"):
        encode_jpeg_baseline([y, y, bad], 16, 16, "420")


def test_zigzag_is_a_permutation():
    assert sorted(ZIGZAG) == list(range(64))
    # spec spot checks (T.81 Figure 5)
    assert ZIGZAG[:10] == (0, 1, 8, 16, 9, 2, 3, 10, 17, 24)
    assert ZIGZAG[-3:] == (55, 62, 63)


def test_decode_image_dispatches_jpeg():
    from sparkifydb_datawarehouse_spark.llm.multimodal import decode_image

    plane = _block_constant_plane(16, 16, 2)
    img = decode_image(encode_jpeg_baseline([plane], 16, 16))
    assert img["channels"] == 1
    assert np.array_equal(
        np.frombuffer(img["pixels"], dtype=np.uint8).reshape(16, 16), plane
    )


# ---------------------------------------------------------------------------
# Progressive (SOF2) decode — round 7. The decisive property: for ANY
# coefficient grid, progressive decode must reconstruct pixels
# IDENTICAL to the baseline decode of the same coefficients (the two
# coding processes carry the same data). Fuzzed over densities,
# magnitudes, grid shapes, scan scripts, color/subsampling, and
# restart intervals.
# ---------------------------------------------------------------------------


def _rand_coeffs(rng, bh, bw, dens, mag):
    q = np.zeros((bh, bw, 8, 8), dtype=np.int32)
    mask = rng.random((bh, bw, 8, 8)) < dens
    q[mask] = rng.integers(-mag, mag + 1, size=int(mask.sum()))
    return q


def test_progressive_equals_baseline_on_random_grids():
    from sparkifydb_datawarehouse_spark.llm.codecs_jpeg import (
        decode_jpeg,
        encode_jpeg_from_coeffs,
        encode_jpeg_progressive_from_coeffs,
    )

    rng = np.random.default_rng(42)
    for _ in range(25):
        bh, bw = int(rng.integers(1, 5)), int(rng.integers(1, 6))
        q = _rand_coeffs(
            rng, bh, bw, float(rng.uniform(0.02, 0.9)), int(rng.integers(2, 200))
        )
        w = max(bw * 8 - int(rng.integers(0, 8)), 1)
        h = max(bh * 8 - int(rng.integers(0, 8)), 1)
        base = decode_jpeg(encode_jpeg_from_coeffs(q, w, h))
        prog = decode_jpeg(encode_jpeg_progressive_from_coeffs(q, w, h))
        assert base["pixels"] == prog["pixels"], (bh, bw, w, h)


def test_progressive_scan_scripts():
    """Spectral-selection-only, deep successive approximation, and
    63 single-coefficient bands all reconstruct identically."""
    from sparkifydb_datawarehouse_spark.llm.codecs_jpeg import (
        decode_jpeg,
        encode_jpeg_from_coeffs,
        encode_jpeg_progressive_from_coeffs,
    )

    rng = np.random.default_rng(7)
    q = _rand_coeffs(rng, 3, 4, 0.3, 60)
    w, h = 29, 21
    base = decode_jpeg(encode_jpeg_from_coeffs(q, w, h))
    scripts = [
        [
            {"ids": [1], "ss": 0, "se": 0, "ah": 0, "al": 0},
            {"ids": [1], "ss": 1, "se": 9, "ah": 0, "al": 0},
            {"ids": [1], "ss": 10, "se": 63, "ah": 0, "al": 0},
        ],
        [
            {"ids": [1], "ss": 0, "se": 0, "ah": 0, "al": 3},
            {"ids": [1], "ss": 0, "se": 0, "ah": 3, "al": 2},
            {"ids": [1], "ss": 0, "se": 0, "ah": 2, "al": 1},
            {"ids": [1], "ss": 0, "se": 0, "ah": 1, "al": 0},
            {"ids": [1], "ss": 1, "se": 63, "ah": 0, "al": 1},
            {"ids": [1], "ss": 1, "se": 63, "ah": 1, "al": 0},
        ],
        [{"ids": [1], "ss": 0, "se": 0, "ah": 0, "al": 0}]
        + [
            {"ids": [1], "ss": k, "se": k, "ah": 0, "al": 0}
            for k in range(1, 64)
        ],
    ]
    for sc in scripts:
        prog = decode_jpeg(encode_jpeg_progressive_from_coeffs(q, w, h, scans=sc))
        assert base["pixels"] == prog["pixels"], sc[:2]


def test_progressive_color_and_subsampling():
    from sparkifydb_datawarehouse_spark.llm.codecs_jpeg import (
        decode_jpeg,
        encode_jpeg_baseline,
        encode_jpeg_progressive,
    )

    rng = np.random.default_rng(11)
    for sampling in ("444", "420"):
        w, h = 37, 26
        planes = [
            rng.integers(0, 256, size=(h, w)).astype(np.uint8) for _ in range(3)
        ]
        b = decode_jpeg(
            encode_jpeg_baseline([p.copy() for p in planes], w, h, sampling)
        )
        p = decode_jpeg(
            encode_jpeg_progressive([p.copy() for p in planes], w, h, sampling)
        )
        assert b["pixels"] == p["pixels"], sampling


def test_progressive_restart_intervals():
    from sparkifydb_datawarehouse_spark.llm.codecs_jpeg import (
        decode_jpeg,
        encode_jpeg_from_coeffs,
        encode_jpeg_progressive_from_coeffs,
    )

    rng = np.random.default_rng(13)
    q = _rand_coeffs(rng, 4, 5, 0.3, 50)
    w, h = 40, 32
    base = decode_jpeg(encode_jpeg_from_coeffs(q, w, h))
    for ri in (1, 3, 7):
        prog = decode_jpeg(
            encode_jpeg_progressive_from_coeffs(q, w, h, restart_interval=ri)
        )
        assert base["pixels"] == prog["pixels"], ri


def test_progressive_truncation_refused_not_garbage():
    from sparkifydb_datawarehouse_spark.llm.codecs import ImageDecodeError
    from sparkifydb_datawarehouse_spark.llm.codecs_jpeg import (
        decode_jpeg,
        encode_jpeg_progressive_from_coeffs,
    )

    rng = np.random.default_rng(17)
    q = _rand_coeffs(rng, 4, 5, 0.3, 50)
    blob = encode_jpeg_progressive_from_coeffs(q, 40, 32)
    with pytest.raises(ImageDecodeError):
        decode_jpeg(blob[: len(blob) * 2 // 3])


def test_progressive_rejects_invalid_scan_params():
    """Mixed DC/AC bands, multi-component AC scans, and skipping a
    successive-approximation bit must all refuse cleanly."""
    from sparkifydb_datawarehouse_spark.llm.codecs import ImageDecodeError
    from sparkifydb_datawarehouse_spark.llm.codecs_jpeg import (
        decode_jpeg,
        encode_jpeg_progressive_from_coeffs,
    )

    rng = np.random.default_rng(19)
    q = _rand_coeffs(rng, 2, 2, 0.3, 40)
    bad_scripts = [
        [{"ids": [1], "ss": 0, "se": 5, "ah": 0, "al": 0}],  # DC+AC mixed
        [
            {"ids": [1], "ss": 0, "se": 0, "ah": 0, "al": 2},
            {"ids": [1], "ss": 0, "se": 0, "ah": 3, "al": 1},  # skips a bit
        ],
    ]
    for sc in bad_scripts:
        blob = encode_jpeg_progressive_from_coeffs(q, 16, 16, scans=sc)
        with pytest.raises(ImageDecodeError):
            decode_jpeg(blob)


# ---------------------------------------------------------------------------
# T.81 B.1.1.2 fill bytes — any marker may be preceded by a run of
# 0xFF padding. ADVICE r7: next_marker_pos (and the entropy reader /
# segment loop) treated a fill 0xFF followed by another 0xFF as a
# marker id and failed with a confusing length-read error.
# ---------------------------------------------------------------------------


def _insert_fill_bytes(blob: bytes, n: int = 3) -> bytes:
    """Structurally re-emit ``blob`` with ``n`` 0xFF fill bytes before
    every marker: segment markers, RSTn inside entropy data, and the
    marker terminating each scan's entropy data."""
    import struct as _struct

    out = bytearray()
    pos = 0
    while pos + 1 < len(blob):
        assert blob[pos] == 0xFF, hex(blob[pos])
        marker = blob[pos + 1]
        if pos > 0:  # never pad SOI — the magic check is positional
            out.extend(b"\xff" * n)
        out.extend(blob[pos : pos + 2])
        pos += 2
        if marker in (0xD8, 0xD9):
            continue  # segment-less markers
        seglen = _struct.unpack(">H", blob[pos : pos + 2])[0]
        out.extend(blob[pos : pos + seglen])
        pos += seglen
        if marker == 0xDA:  # SOS: copy entropy data up to next real
            # marker, padding RSTn markers inline and re-entering
            # entropy mode after each one
            while True:
                start = pos
                while pos + 1 < len(blob):
                    if blob[pos] == 0xFF and blob[pos + 1] != 0x00:
                        break
                    pos += 1
                out.extend(blob[start:pos])
                if pos + 1 < len(blob) and 0xD0 <= blob[pos + 1] <= 0xD7:
                    out.extend(b"\xff" * n)
                    out.extend(blob[pos : pos + 2])
                    pos += 2
                    continue
                break
    out.extend(blob[pos:])
    return bytes(out)


def test_fill_bytes_before_markers_tolerated():
    """Baseline + progressive decodes are byte-identical when every
    marker is preceded by a 0xFF fill run (including before RSTn and
    the post-scan markers that next_marker_pos locates)."""
    from sparkifydb_datawarehouse_spark.llm.codecs_jpeg import (
        decode_jpeg,
        encode_jpeg_from_coeffs,
        encode_jpeg_progressive_from_coeffs,
    )

    rng = np.random.default_rng(23)
    q = _rand_coeffs(rng, 3, 4, 0.4, 60)
    w, h = 30, 22
    for encode in (
        lambda: encode_jpeg_from_coeffs(q, w, h),
        lambda: encode_jpeg_progressive_from_coeffs(q, w, h),
        lambda: encode_jpeg_progressive_from_coeffs(q, w, h, restart_interval=2),
    ):
        blob = encode()
        want = decode_jpeg(blob)
        for n in (1, 2, 7):
            got = decode_jpeg(_insert_fill_bytes(blob, n))
            assert got["pixels"] == want["pixels"], n


# ---------------------------------------------------------------------------
# Golden bytes: every encoder entry point over a small seeded grid (gray,
# 444 and 420 planes; restart interval 0 and 3) must keep producing the
# exact same files. Roundtrip and pixel-equality tests above cannot see
# a change in scan order, header layout or restart placement that the
# decoder happens to mirror; a sha256 of the output can.
# ---------------------------------------------------------------------------


def _golden_cases() -> dict:
    from sparkifydb_datawarehouse_spark.llm import codecs_jpeg as hj
    from sparkifydb_datawarehouse_spark.llm import codecs_jpeg_arith as aj

    w, h = 37, 26
    rng = np.random.default_rng(2026)
    ycc = [rng.integers(0, 256, size=(h, w)).astype(np.uint8) for _ in range(3)]
    images = {
        "gray": ([ycc[0]], "444"),
        "444": (ycc, "444"),
        "420": (ycc, "420"),
    }
    q = _rand_coeffs(np.random.default_rng(2027), 4, 5, 0.3, 60)
    cw, ch = 37, 29
    cases = {}
    for name, (planes, samp) in images.items():
        cases[f"baseline-{name}"] = lambda p=planes, s=samp: hj.encode_jpeg_baseline(
            p, w, h, s
        )
        for ri in (0, 3):
            cases[f"progressive-{name}-ri{ri}"] = (
                lambda p=planes, s=samp, r=ri: hj.encode_jpeg_progressive(
                    p, w, h, s, restart_interval=r
                )
            )
            cases[f"arith-{name}-ri{ri}"] = lambda p=planes, s=samp, r=ri: aj.encode_jpeg_arith(
                p, w, h, s, restart_interval=r
            )
            cases[f"arith-percomp-{name}-ri{ri}"] = (
                lambda p=planes, s=samp, r=ri: aj.encode_jpeg_arith(
                    p, w, h, s, restart_interval=r, per_component_scans=True
                )
            )
            cases[f"progressive-arith-{name}-ri{ri}"] = (
                lambda p=planes, s=samp, r=ri: aj.encode_jpeg_progressive_arith(
                    p, w, h, s, restart_interval=r
                )
            )
    cases["from-coeffs"] = lambda: hj.encode_jpeg_from_coeffs(q, cw, ch)
    for ri in (0, 3):
        cases[f"progressive-from-coeffs-ri{ri}"] = (
            lambda r=ri: hj.encode_jpeg_progressive_from_coeffs(
                q, cw, ch, restart_interval=r
            )
        )
        cases[f"arith-from-coeffs-ri{ri}"] = lambda r=ri: aj.encode_jpeg_arith_from_coeffs(
            q, cw, ch, restart_interval=r
        )
    return cases


_GOLDEN_SHA256 = {
    "arith-420-ri0": "651da0989a684723f5a93752d0c9528c53957de49cede4daaacda6e80a58c06f",
    "arith-420-ri3": "4c42a90a27c8e73d52baf26e0b9e6c97670ac1c464a2d7b8cb3a048eb556cd06",
    "arith-444-ri0": "c4f3e32f8af435613462383d666f1f6c43fb90cab65030d0a6d3143fca1b3c6b",
    "arith-444-ri3": "16bc7f9fdcbefa7b9778176739acb86f9d3bcd60c71b22f0751b949a4514b3ae",
    "arith-from-coeffs-ri0": "3fd557bc7246933b4a3fe3a83ca8a99a6a9447d8a05fbc7b26f8e1021b99fd87",
    "arith-from-coeffs-ri3": "8c274e5ca5aec91feef3ecd95f435ae41d9f8beb3b74b7900157602bfc851d3c",
    "arith-gray-ri0": "8a99b7f7553d188a50fd937dfc6242179603ed5ca5a27f13136817e76d33bac7",
    "arith-gray-ri3": "dc0702fb873767f35a92f163792d9972eac1c1538254f1fc4c379d425354741e",
    "arith-percomp-420-ri0": "046429474432851550d6e17740a81444180379c805f6fb41d66de8d13f7c8657",
    "arith-percomp-420-ri3": "cb486703e63258665060852d07b45b63676f4f35939e520ced41e979b290440c",
    "arith-percomp-444-ri0": "adb303cd416d5d7312221283f7c3e6bf495f0a447b888544ee2d1930734ecb93",
    "arith-percomp-444-ri3": "30bd715cd6973ef3a4fa9916c235ab3d3d1ef8ba43043cc7d8fc4ad743644488",
    "arith-percomp-gray-ri0": "8a99b7f7553d188a50fd937dfc6242179603ed5ca5a27f13136817e76d33bac7",
    "arith-percomp-gray-ri3": "dc0702fb873767f35a92f163792d9972eac1c1538254f1fc4c379d425354741e",
    "baseline-420": "26f520bb4b97b2dfd1b8b8f900166db7a5b965274803da09297d1eed324deb2b",
    "baseline-444": "bf15480494bf748c93fb129fe18369b8373b95c3d4f514d42dad8ffbdfc2aa6d",
    "baseline-gray": "3ff477daec47d641130516a49b9ceb57e37b74232ab25f2499ba8c281430b2ed",
    "from-coeffs": "8e974be094a731a3b4cde3cca2778ff3de6a7f98347a0ff52f743bdb62a6c9e6",
    "progressive-420-ri0": "fa3a3f1ea45a48f944fce43cc93ec12e71d2fcddd0df3d410f57cb2e8528ec23",
    "progressive-420-ri3": "2b4b248b02878cf0c9fbd5e6fa6ca3a7e8d2cdb909b2ac0ae80130d8db884d3d",
    "progressive-444-ri0": "4d63ae1c17b281e27260510a5ecf6072770da8ff2232f964b2ad704256fc51e0",
    "progressive-444-ri3": "c2bf8e84bc38f1981a2fba0ff251d44110180a8d0c2045944f9d5388f1619e83",
    "progressive-arith-420-ri0": "f3c7067faa3438ecb325259e1495d59f30decc72df21a47b60c78bff7ff95bb6",
    "progressive-arith-420-ri3": "f07ba5648579a922aa59f66f910d15b0f41557a8364618a726afcafa6f632a91",
    "progressive-arith-444-ri0": "09c770128bd74607b2ba51ede9fc9626012fe9995c592584b4fcb620f68ab8cf",
    "progressive-arith-444-ri3": "c9328f31fcca1fea59fb0f611b1b44fef220727663f95b3412ba1f9af0153b8a",
    "progressive-arith-gray-ri0": "c70adc7ebb763924637b955283be3422060ebf3619280950753a8a66ccb6b590",
    "progressive-arith-gray-ri3": "d2d15cc8d218605301c606d65404a29afe87930575dd2a836ccbce7bbf5a5206",
    "progressive-from-coeffs-ri0": "e413c2f23ea84848df5325bb644c7c427d7434a323f6dd36f165b67b91463b61",
    "progressive-from-coeffs-ri3": "706629f109486dcd1f73c712d187c348565f339f01ac38d6b260c44f1ca80da1",
    "progressive-gray-ri0": "64e5a950e06ecfb0c7d8b76c079a3fe4ff7d15f392ab41d58b2de99f43ac5758",
    "progressive-gray-ri3": "f5d21c98e00012ec00a3b543b47dd1ca9726208faad3af18c6da98a1f490ce88",
}


@pytest.mark.parametrize("case", sorted(_GOLDEN_SHA256))
def test_encoder_bytes_are_pinned(case):
    import hashlib

    blob = _golden_cases()[case]()
    assert hashlib.sha256(blob).hexdigest() == _GOLDEN_SHA256[case]
