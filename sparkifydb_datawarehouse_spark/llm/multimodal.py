"""Multimodal columns: image/audio/video as opaque `binary` columns
with typed metadata, processed by Arrow-batched Pandas functions.

Every query here has one per-document path. A PLANTER `d -> bytes`
builds a document's media from its doc_id: a real PPM, PNG, WebP,
JPEG, GIF, QOI, TIFF, WAV or FLAC payload whose decoded values have a
closed form the DuckDB oracle recomputes. A FEATURE function
`(d, blob) -> rows` decodes it in pure Python (codecs*.py) and returns
0..n fixed-width rows. `_decode_query` composes the two and
`_codec_query` runs them as one fused mapInPandas (the plan is
described there); `_map_rows` is the module's one batch loop, also
used by the phash dedup, which keeps a round-robin spread because its
groupBy needs no doc_id order. The fake-media queries
(features, resize, frames, audio) build their payloads JVM-side
(`attach_fake_media`, `attach_fake_audio`) and pass only a feature
function: a deterministic fake media container ("FAKE" magic +
width/height header + payload bytes) exercises the binary-column
plumbing independent of any codec.

Scale notes:
- Binary payloads ride in Arrow record batches
  (spark.sql.execution.arrow.maxRecordsPerBatch caps batch memory —
  for multi-MB media, lower it or use binaryFile source splitting).
- mapInPandas streams batch-iterators: peak memory is one batch per
  core, not one partition — required for 100 TB of media.
- Feature extraction emits small fixed-width rows (the features),
  never re-emits payload bytes — downstream shuffles carry features
  only.
"""

from __future__ import annotations

import functools
from collections.abc import Callable, Iterable, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..registry import query
from ..tables import load_table

Rows = Iterable[tuple]


def _map_rows(
    df: DataFrame, row_fn: Callable[..., Rows], schema: StructType
) -> DataFrame:
    """One mapInPandas over `df`: `row_fn(*row)` gets each input row's
    values as Python scalars and returns its 0..n output tuples in
    `schema` order. Payloads that row_fn builds and decodes never
    leave the Python worker; only the output rows cross back."""
    names = schema.fieldNames()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            cols = [pdf[c] for c in pdf.columns]
            yield pd.DataFrame(
                [out for row in zip(*cols) for out in row_fn(*row)], columns=names
            )

    return df.mapInPandas(run, schema)


def _codec_query(
    spark: SparkSession,
    sf_dir: str,
    row_fn: Callable[..., Rows],
    schema: StructType,
    order_cols: tuple = ("doc_id",),
    payload: Callable[[DataFrame], DataFrame] | None = None,
) -> DataFrame:
    """The plan of every media query but the phash dedup: documents →
    range spread on doc_id → `payload` (a JVM-side media column; by
    default the bare doc_id) → one fused mapInPandas of `row_fn` →
    sortWithinPartitions(order_cols). Results are byte-identical,
    including row order, to the older round-robin spread → attach
    mapInPandas → decode mapInPandas → global orderBy, and faster:

    - ``repartitionByRange`` on the OUTPUT order key BEFORE the codec
      work. A final ``orderBy`` puts a range exchange ABOVE the codec
      chain, and the range partitioner's bound-sampling pass
      re-executes its child — so every encode+decode ran TWICE per
      action. Ranging the bare doc_id scan instead makes the sampling
      pass re-read only doc_ids, and the partitions come out already
      globally ordered by the key (measured on
      q_multimodal_decode_webp_anim at sf0.1: 5.63 → 2.38 s min-of-3
      interleaved, rows + order equal). It also spreads the
      single-file fixture scan, one partition, across executors.
    - ONE fused mapInPandas: media payloads are born and die inside a
      single Python worker pass instead of crossing the JVM↔Python
      Arrow boundary between two ArrowEval nodes (2 → 1 in the plan).
    - ``sortWithinPartitions`` keeps the declared per-key order
      (frame_idx etc.); cross-partition order is the range
      partitioning's.
    """
    docs = load_table(spark, sf_dir, "documents")
    spread = docs.repartitionByRange(spark.sparkContext.defaultParallelism, "doc_id")
    media = payload(spread) if payload else spread.select("doc_id")
    return _map_rows(media, row_fn, schema).sortWithinPartitions(*order_cols)


def _decode_query(
    spark: SparkSession,
    sf_dir: str,
    plant: Callable[[int], bytes],
    feature: Callable[[int, bytes], Rows],
    schema: StructType,
    order_cols: tuple = ("doc_id",),
) -> DataFrame:
    """A decode query: each document's features of its planted media."""
    return _codec_query(spark, sf_dir, lambda d: feature(d, plant(d)), schema, order_cols)


_MAGIC = b"FAKE"


def attach_fake_media(docs: DataFrame) -> DataFrame:
    """Derive a deterministic binary media column from document text:
    [4-byte magic][2-byte width][2-byte height][utf-8 payload],
    plus a typed metadata struct — the schema shape a real media
    table would have (payload opaque, metadata queryable)."""
    width = (F.col("doc_id") % 64 + 1).cast("int")
    height = (F.col("doc_id") % 48 + 1).cast("int")
    header_hex = F.concat(
        F.lit(_MAGIC.hex().upper()),
        F.lpad(F.hex(width), 4, "0"),
        F.lpad(F.hex(height), 4, "0"),
    )
    media = F.concat(F.to_binary(header_hex, F.lit("hex")), F.encode("text", "utf-8"))
    meta = F.struct(
        F.lit("image/fake").alias("kind"),
        F.length(media).cast("long").alias("n_bytes"),
        width.alias("width"),
        height.alias("height"),
    )
    return docs.select("doc_id", media.alias("media"), meta.alias("media_meta"))


def _fake_media_payload(docs: DataFrame) -> DataFrame:
    """attach_fake_media without its metadata struct, for the feature
    functions that read only the payload: the struct would otherwise
    cross the Arrow boundary into the Python worker for nothing."""
    return attach_fake_media(docs).drop("media_meta")


_FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("kind", StringType()),
        StructField("n_bytes", LongType()),
        StructField("magic_ok", IntegerType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("payload_checksum", LongType()),
    ]
)


def _fake_features(d: int, media: bytes | None, meta: dict | None) -> Rows:
    """The deterministic stand-in for image decode + stats: header
    fields and a payload checksum; the payload itself is dropped."""
    if media is None:
        # undecodable/null payload: emit an observability row
        # (magic_ok=0, zero bytes) instead of crashing the
        # worker — at corpus scale null media is routine
        return [(d, meta["kind"] if meta is not None else None, 0, 0, -1, -1, 0)]
    blob = bytes(media)
    magic_ok = int(blob[:4] == _MAGIC)
    width = int.from_bytes(blob[4:6], "big") if magic_ok else -1
    height = int.from_bytes(blob[6:8], "big") if magic_ok else -1
    payload = blob[8:] if magic_ok else blob
    return [(d, meta["kind"], len(blob), magic_ok, width, height, sum(payload) % (1 << 31))]


# ---------------------------------------------------------------------------
# Round-8 conversions: the three fake-media plumbing queries and the
# fake-PCM audio query are EXACT closed forms of (doc_id, text) — the
# payload is the UTF-8 encoding of the text behind an 8-byte header,
# and DuckDB can reproduce every output column: byte lengths via
# octet_length(encode(text)) (UTF-8-correct, no ASCII assumption) and
# byte VALUES via hex-digit arithmetic over hex(encode(text)). So the
# whole mapInPandas plumbing (1→1 features, 1→1 resize metadata,
# 1→many frame sampling, PCM synth + DSP reductions) is value-checked
# end to end, not just rows-counted. rows-only shrinks to the three
# genuinely unreachable ids (surrogate keys, raw-file scans whose
# oracle would need a per-sf path).
# ---------------------------------------------------------------------------

_HEX_BYTE = (
    "16 * (strpos('0123456789ABCDEF', substr(hx, 2 * {i} + 1, 1)) - 1)"
    " + (strpos('0123456789ABCDEF', substr(hx, 2 * {i} + 2, 1)) - 1)"
)

_ORACLE_MM_FEATURES = f"""
WITH m AS (
    SELECT doc_id,
           CAST(doc_id % 64 + 1 AS INTEGER) AS w,
           CAST(doc_id % 48 + 1 AS INTEGER) AS h,
           CASE WHEN text IS NULL THEN NULL ELSE hex(encode(text)) END AS hx
    FROM documents
)
SELECT doc_id,
       'image/fake' AS kind,
       CAST(CASE WHEN hx IS NULL THEN 0 ELSE 8 + length(hx) // 2 END AS BIGINT)
           AS n_bytes,
       CAST(CASE WHEN hx IS NULL THEN 0 ELSE 1 END AS INTEGER) AS magic_ok,
       CASE WHEN hx IS NULL THEN -1 ELSE w END AS width,
       CASE WHEN hx IS NULL THEN -1 ELSE h END AS height,
       CAST(COALESCE({{hexsum}}, 0) % 2147483648 AS BIGINT) AS payload_checksum
FROM m
ORDER BY doc_id
""".format(hexsum=_HEX_BYTE.format(i="i").join(
    ["list_sum(list_transform(range(length(hx) // 2), i -> ", "))"]
))

_ORACLE_MM_RESIZE = """
WITH m AS (
    SELECT doc_id,
           doc_id % 64 + 1 AS w,
           doc_id % 48 + 1 AS h,
           octet_length(encode(text)) AS plen,
           greatest(doc_id % 64 + 1, doc_id % 48 + 1) AS mx
    FROM documents WHERE text IS NOT NULL
)
SELECT doc_id,
       CAST(CASE WHEN mx <= 16 THEN w
            ELSE greatest(1, (16 * w) // mx) END AS INTEGER) AS width,
       CAST(CASE WHEN mx <= 16 THEN h
            ELSE greatest(1, (16 * h) // mx) END AS INTEGER) AS height,
       CAST(8 + CASE WHEN mx <= 16 THEN plen
            ELSE (plen + greatest(1, mx // 16) - 1) // greatest(1, mx // 16)
            END AS BIGINT) AS n_bytes
FROM m
ORDER BY doc_id
"""

_ORACLE_MM_FRAMES = """
WITH m AS (
    SELECT doc_id, hex(encode(text)) AS hx,
           (octet_length(encode(text))) // 32 AS n_frames
    FROM documents WHERE text IS NOT NULL
), f AS (
    SELECT doc_id, hx, 4 * UNNEST(range((n_frames + 3) // 4)) AS i
    FROM m WHERE n_frames > 0
)
SELECT doc_id,
       CAST(i AS INTEGER) AS frame_no,
       CAST(list_sum(list_transform(range(32), j ->
           16 * (strpos('0123456789ABCDEF', substr(hx, 2 * (32 * i + j) + 1, 1)) - 1)
              + (strpos('0123456789ABCDEF', substr(hx, 2 * (32 * i + j) + 2, 1)) - 1)
       )) AS BIGINT) AS frame_checksum
FROM f
ORDER BY doc_id, frame_no
"""

_ORACLE_MM_AUDIO = """
WITH p AS (
    SELECT doc_id, 64 + doc_id % 192 AS n FROM documents
), v AS (
    SELECT doc_id, n, i,
           ((doc_id * 7919 + i * 104729) % 4096) - 2048 AS x,
           CASE WHEN i > 0 THEN
               ((doc_id * 7919 + (i - 1) * 104729) % 4096) - 2048 END AS px
    FROM (SELECT doc_id, n, UNNEST(range(n)) AS i FROM p)
)
SELECT doc_id,
       CAST(n AS INTEGER) AS n_samples,
       CAST(FLOOR(SQRT(SUM(x * x) * 1.0 / n)) AS BIGINT) AS rms,
       CAST(SUM(CASE WHEN px IS NOT NULL AND ((x < 0) != (px < 0))
                THEN 1 ELSE 0 END) AS INTEGER) AS zero_crossings
FROM v
GROUP BY doc_id, n
ORDER BY doc_id
"""


@query("q_multimodal_features", oracle=_ORACLE_MM_FEATURES)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → fake media binary column → Arrow-batched feature
    extraction via mapInPandas."""
    return _codec_query(
        spark, sf_dir, _fake_features, _FEATURE_SCHEMA, payload=attach_fake_media
    )


def decode_image(blob: bytes) -> dict:
    """Decode a real image payload to
    {"width", "height", "channels", "pixels" (RGB row-major bytes)}.

    PPM (netpbm P6/P3), 24-bit BI_RGB BMP, 8-bit RGB/RGBA PNG
    (stdlib-zlib inflate + unfilter), JPEG — baseline sequential,
    progressive (SOF2, round 7) AND arithmetic-coded sequential +
    progressive (SOF9/SOF10, round 9) — (grayscale returns channels=1
    with the luma plane; YCbCr returns BT.601 RGB), and lossless WebP
    (VP8L, round 8) AND lossy/extended WebP (VP8 intra-frame + VP8X
    still containers, round 10 — codecs_vp8.py) decode here in pure
    Python with no external dependency (codecs.py / codecs_jpeg.py /
    codecs_jpeg_arith.py / codecs_vp8l.py / codecs_vp8.py). The
    round-9 NotImplementedError codec gate is gone: every format the
    planters emit decodes natively."""
    from .codecs import _PNG_MAGIC, decode_bmp, decode_png, decode_ppm
    from .codecs_gif import decode_gif
    from .codecs_jpeg import decode_jpeg
    from .codecs_vp8l import decode_vp8l

    if blob[:2] in (b"P6", b"P3"):
        return decode_ppm(blob)
    if blob[:2] == b"BM":
        return decode_bmp(blob)
    if blob[:8] == _PNG_MAGIC:
        return decode_png(blob)
    if blob[:2] == b"\xff\xd8":
        return decode_jpeg(blob)
    if blob[:6] in (b"GIF87a", b"GIF89a"):
        g = decode_gif(blob)  # first frame is the still-image view
        return {
            "width": g["width"],
            "height": g["height"],
            "channels": 3,
            "pixels": g["frames"][0],
        }
    if blob[:4] == b"qoif":
        from .codecs_qoi import decode_qoi  # round 11: QOI lossless

        return decode_qoi(blob)
    if blob[:2] in (b"II", b"MM") and blob[2:4] in (b"*\x00", b"\x00*"):
        from .codecs_tiff import decode_tiff  # round 11: baseline TIFF

        return decode_tiff(blob)
    if blob[:4] == b"RIFF" and blob[8:12] == b"WEBP":
        if b"VP8L" in blob[12:24]:
            return decode_vp8l(blob)
        from .codecs_vp8 import decode_webp_lossy

        # lossy "VP8 " + extended VP8X (still VP8 or VP8L) — round 10
        return decode_webp_lossy(blob)
    from .codecs import ImageDecodeError

    raise ImageDecodeError(
        f"unrecognized image magic {blob[:8]!r} — supported: PPM, BMP, "
        "PNG, JPEG (all four T.81 DCT processes), GIF, QOI, and WebP "
        "(VP8L lossless, VP8 lossy, VP8X still containers)"
    )


# ---------------------------------------------------------------------------
# REAL decode path, oracle-checked end-to-end: plant genuine P6 PPM
# bytes (deterministic gradient from doc_id), decode them with the
# pure-Python parser, and reduce to integer channel sums. Because the
# planted pixel at index i is (31·doc_id + 7·i) mod 256, the decoded
# statistics have a closed form DuckDB can compute with
# generate_series — so the encode → parse-header → raster-walk →
# stats pipeline is VALUE-checked, not just rows-only.
# ---------------------------------------------------------------------------

_PX_A, _PX_B = 31, 7  # pixel[i] = (A*doc_id + B*i) % 256

_RGB_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("channels", IntegerType()),
        StructField("sum_r", LongType()),
        StructField("sum_g", LongType()),
        StructField("sum_b", LongType()),
    ]
)
_RGBA_SCHEMA = StructType(_RGB_SCHEMA.fields + [StructField("sum_a", LongType())])


def _gradient(d: int, n: int) -> bytes:
    """The first n bytes of the planted gradient pixel[i] = (A·d + B·i) mod 256."""
    px = (np.arange(n, dtype=np.int64) * _PX_B + d * _PX_A) % 256
    return px.astype(np.uint8).tobytes()


def _plant_ppm(d: int) -> bytes:
    """A real P6 PPM of the gradient raster."""
    from .codecs import encode_ppm_p6

    w, h = d % 64 + 1, d % 48 + 1
    return encode_ppm_p6(w, h, _gradient(d, w * h * 3))


def _image_sums(shape: Callable[[list], list]) -> Callable[[int, bytes], Rows]:
    """The one still-image feature: a REAL decode via decode_image,
    then one integer sum per decoded channel (numpy over the decoded
    buffer), which `shape` fits to the query's sum columns."""

    def feature(d: int, blob: bytes) -> Rows:
        img = decode_image(blob)
        px = np.frombuffer(img["pixels"], dtype=np.uint8).astype(np.int64)
        sums = [int(s) for s in px.reshape(-1, img["channels"]).sum(axis=0)]
        return [(d, img["width"], img["height"], img["channels"], *shape(sums))]

    return feature


def _rgb(sums: list) -> list:
    # grayscale replicates its luma sum across the three sum columns
    # (documented: one closed form covers both)
    return sums * 3 if len(sums) == 1 else sums[:3]


def _rgba_null(sums: list) -> list:
    # a channel the image lacks (RGB's alpha) sums to NULL
    return (sums + [None] * 3)[:4]


def _rgba_zero(sums: list) -> list:
    # a channel the image lacks sums to 0, not NULL — keeps the column
    # non-null int64 end-to-end (the driver's value-hash is
    # dtype-sensitive; a mixed-null int column degrades to float64 in
    # pandas)
    return (sums + [0] * 3)[:4]


_ORACLE_DECODE_PPM = f"""
WITH px AS (
    SELECT doc_id,
           CAST(doc_id % 64 + 1 AS INTEGER) AS width,
           CAST(doc_id % 48 + 1 AS INTEGER) AS height,
           UNNEST(generate_series(0, (doc_id % 64 + 1) * (doc_id % 48 + 1) * 3 - 1)) AS i
    FROM documents
)
SELECT doc_id, width, height, 3 AS channels,
       CAST(SUM(CASE WHEN i % 3 = 0 THEN ({_PX_A} * doc_id + {_PX_B} * i) % 256 END) AS BIGINT) AS sum_r,
       CAST(SUM(CASE WHEN i % 3 = 1 THEN ({_PX_A} * doc_id + {_PX_B} * i) % 256 END) AS BIGINT) AS sum_g,
       CAST(SUM(CASE WHEN i % 3 = 2 THEN ({_PX_A} * doc_id + {_PX_B} * i) % 256 END) AS BIGINT) AS sum_b
FROM px
GROUP BY doc_id, width, height
ORDER BY doc_id
"""


@query("q_multimodal_decode_ppm", oracle=_ORACLE_DECODE_PPM)
def multimodal_decode_ppm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → REAL P6 PPM binary column → pure-Python decode →
    integer channel sums, value-checked against the closed form of the
    planted gradient. Per-row work is heavy (encode + parse + raster
    walk), so the scan is spread across executors first (single-file
    fixture gives one scan partition — the llm/dedup.py idiom); the
    features that leave mapInPandas are seven fixed-width columns,
    payload bytes never shuffle."""
    return _decode_query(spark, sf_dir, _plant_ppm, _image_sums(_rgb), _RGB_SCHEMA)


# ---------------------------------------------------------------------------
# PNG decode, oracle-checked end-to-end (VERDICT r4 #3): same planted
# gradient pixel[i] = (31·doc_id + 7·i) mod 256, but the raster is
# compressed into a REAL PNG — zlib-deflated scanlines whose filter
# type cycles 0..4 by row, even doc_ids RGB (color type 2), odd RGBA
# (color type 6). decode_png must therefore inflate the IDAT, verify
# chunk CRCs, and correctly undo ALL FIVE filters on BOTH channel
# layouts to reproduce the closed-form channel sums DuckDB computes —
# a wrong Paeth tie-break or alpha stride slips the sums immediately.
# ---------------------------------------------------------------------------

def _png_shape(d: int) -> tuple[int, int, int]:
    return d % 32 + 1, d % 24 + 1, 3 if d % 2 == 0 else 4  # w, h, channels


def _plant_png(d: int) -> bytes:
    """A real PNG of the gradient raster (filters cycling by row)."""
    from .codecs import encode_png

    w, h, ch = _png_shape(d)
    return encode_png(w, h, _gradient(d, w * h * ch), channels=ch)


_ORACLE_DECODE_PNG = f"""
WITH px AS (
    SELECT doc_id,
           CAST(doc_id % 32 + 1 AS INTEGER) AS width,
           CAST(doc_id % 24 + 1 AS INTEGER) AS height,
           CAST(CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 4 END AS INTEGER) AS channels,
           UNNEST(generate_series(0,
               (doc_id % 32 + 1) * (doc_id % 24 + 1)
               * (CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 4 END) - 1)) AS i
    FROM documents
)
SELECT doc_id, width, height, channels,
       CAST(SUM(CASE WHEN i % channels = 0 THEN ({_PX_A} * doc_id + {_PX_B} * i) % 256 END) AS BIGINT) AS sum_r,
       CAST(SUM(CASE WHEN i % channels = 1 THEN ({_PX_A} * doc_id + {_PX_B} * i) % 256 END) AS BIGINT) AS sum_g,
       CAST(SUM(CASE WHEN i % channels = 2 THEN ({_PX_A} * doc_id + {_PX_B} * i) % 256 END) AS BIGINT) AS sum_b,
       CAST(SUM(CASE WHEN i % channels = 3 THEN ({_PX_A} * doc_id + {_PX_B} * i) % 256 END) AS BIGINT) AS sum_a
FROM px
GROUP BY doc_id, width, height, channels
ORDER BY doc_id
"""


@query("q_multimodal_decode_png", oracle=_ORACLE_DECODE_PNG)
def multimodal_decode_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → REAL PNG binary column (deflate + cycling filters,
    RGB/RGBA by doc parity) → pure-Python stdlib-zlib decode → integer
    channel sums, value-checked against the closed form of the planted
    gradient. Same scale shape as the PPM path: scan spread first
    (encode+inflate+unfilter is real per-row CPU), fixed-width feature
    columns leave mapInPandas, payload bytes never shuffle."""
    return _decode_query(
        spark, sf_dir, _plant_png, _image_sums(_rgba_null), _RGBA_SCHEMA
    )


# ---------------------------------------------------------------------------
# Lossless-WebP (VP8L) decode, oracle-checked end-to-end (round 8,
# VERDICT r7 #6): the SAME planted gradient as the PNG path, but the
# raster is a real RIFF/VP8L bitstream and the encoder options cycle
# by doc_id so the oracled path itself exercises the feature matrix —
# subtract-green, predictor, cross-color, LZ77 (both distance forms),
# color cache, and meta-huffman groups. Lossless ⇒ the channel sums
# must reproduce the closed form exactly; a wrong predictor border
# rule, cache hash, or canonical code assignment slips them
# immediately.
# ---------------------------------------------------------------------------


def _webp_encode_opts(d: int) -> dict:
    return {
        "subtract_green": d % 2 == 1,
        "predictor": d % 3 == 0,
        "color_element": (17, 203, 9) if d % 5 == 0 else None,
        "cache_bits": (0, 0, 3, 6)[d % 4],
        "lz77": d % 2 == 0,
        "distance_map": d % 4 < 2,
        "use_max_symbol": d % 3 != 1,
        "meta_groups": (0, 0, 2, 3)[d % 4],
    }


def _plant_webp(d: int) -> bytes:
    """A real VP8L bitstream of the PNG path's raster, options cycling."""
    from .codecs_vp8l import encode_vp8l

    w, h, ch = _png_shape(d)
    return encode_vp8l(w, h, _gradient(d, w * h * ch), channels=ch, **_webp_encode_opts(d))


_ORACLE_DECODE_WEBP = _ORACLE_DECODE_PNG


@query("q_multimodal_decode_webp", oracle=_ORACLE_DECODE_WEBP)
def multimodal_decode_webp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → real lossless-WebP binary column (VP8L transforms /
    LZ77 / cache / meta-huffman cycling by doc_id) → pure-Python
    decode → integer channel sums, value-checked against the closed
    form of the planted gradient. Same scale shape as the PNG path:
    scan spread first, fixed-width feature columns leave mapInPandas,
    payload bytes never shuffle."""
    return _decode_query(
        spark, sf_dir, _plant_webp, _image_sums(_rgba_null), _RGBA_SCHEMA
    )


# ---------------------------------------------------------------------------
# LOSSY WebP decode (round 10 — the last codec gate dies, VERDICT r9
# #4): plant per-macroblock-constant rasters, which VP8's Y2/WHT DC
# path reconstructs EXACTLY at q-index 0 (codecs_vp8.py docstring
# theorem: Y2 DC = 8·r → inverse WHT → inverse DCT gives residual r
# bit-for-bit at every luma pixel). Intra modes cycle per MB across
# DC/V/H/TM/B_PRED (the B_PRED sub-mode policy exercises all ten 4x4
# predictors on interior subblocks), chroma stays neutral (Cb=Cr=128
# survives 4:2:0 and BT.601 exactly, so R=G=B=Y — the same one-form
# trick as the JPEG path), every 7th doc rides the VP8X extended
# container (chunk-walk coverage in driver data), and filter_level=0
# (the planted closed form is only valid unfiltered; levels > 0 are
# pinned by tests/test_codecs_vp8.py roundtrips).
# ---------------------------------------------------------------------------


# deterministic update set: DC-band nodes of every block type —
# exercises the update lattice AND live context selection
_VP8_PROB_UPDATES = {
    (t, 0, c, n): 90 + 7 * t + 11 * c + n
    for t in range(4)
    for c in range(3)
    for n in (0, 1, 2)
}


def _vp8_shape(d: int) -> tuple[int, int]:
    return d % 24 + 9, d % 16 + 9  # w, h


def _mb_targets(d: int, a: int, w: int, h: int) -> list[list[int]]:
    """Per-macroblock luma constants (a·d + 5·mx + 3·my) mod 256."""
    return [
        [(a * d + 5 * mx + 3 * my) % 256 for mx in range((w + 15) // 16)]
        for my in range((h + 15) // 16)
    ]


def _plant_webp_lossy(d: int) -> bytes:
    """A real lossy-WebP of a per-MB-constant raster: intra modes
    cycling, VP8X wrap every 7th doc, §13.4 token-probability updates
    every 5th (entropy-layer only, values unchanged)."""
    from .codecs_vp8 import encode_webp_vp8

    w, h = _vp8_shape(d)
    return encode_webp_vp8(
        _mb_targets(d, 11, w, h),
        w,
        h,
        extended=d % 7 == 0,
        use_skip=d % 3 == 0,  # mb_no_coeff_skip header path
        coef_prob_updates=_VP8_PROB_UPDATES if d % 5 == 1 else None,
        y_mode_fn=lambda mx, my: (d + mx + my) % 5,
        uv_mode_fn=lambda mx, my: (d + mx + 2 * my) % 4,
    )


_ORACLE_DECODE_WEBP_LOSSY = """
WITH d AS (
    SELECT doc_id,
           doc_id % 24 + 9 AS w,
           doc_id % 16 + 9 AS h
    FROM documents
),
gx AS (SELECT d.*, UNNEST(range(0, (w + 15) // 16)) AS mx FROM d),
g AS (SELECT gx.*, UNNEST(range(0, (h + 15) // 16)) AS my FROM gx),
s AS (
    SELECT doc_id, w, h,
           SUM(((11 * doc_id + 5 * mx + 3 * my) % 256)
               * LEAST(16, w - 16 * mx) * LEAST(16, h - 16 * my)) AS sum_luma
    FROM g
    GROUP BY doc_id, w, h
)
SELECT doc_id, CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
       CAST(3 AS INTEGER) AS channels,
       CAST(sum_luma AS BIGINT) AS sum_r,
       CAST(sum_luma AS BIGINT) AS sum_g,
       CAST(sum_luma AS BIGINT) AS sum_b
FROM s
ORDER BY doc_id
"""


@query("q_multimodal_decode_webp_lossy", oracle=_ORACLE_DECODE_WEBP_LOSSY)
def multimodal_decode_webp_lossy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → real lossy-WebP binary column (VP8 key frames,
    intra modes cycling per MB, VP8X wrap every 7th doc) → pure-Python
    RFC 6386 decode (bool coder, token contexts, inverse WHT/DCT, all
    intra predictors) → integer channel sums, value-checked against
    the closed form of the planted per-MB constants. Same scale shape
    as the other decode paths: scan spread first (entropy decode is
    real per-row CPU), fixed-width feature columns leave mapInPandas,
    payload bytes never shuffle."""
    return _decode_query(
        spark, sf_dir, _plant_webp_lossy, _image_sums(_rgb), _RGB_SCHEMA
    )


# ---------------------------------------------------------------------------
# WebP ALPHA still (VP8X + ALPH + VP8, round 10): the alpha plane is a
# planted per-row ramp a(d, y) = (13d + 7y) mod 256 carried through
# the real ALPH machinery — filter method cycling d % 4 (none /
# horizontal / vertical / gradient), compression cycling d % 2 (raw /
# headerless-VP8L with alpha in the green channel) — while the color
# raster is the same exactly-reconstructed per-MB-constant VP8 frame
# as the lossy query (seed 17d). decode_image returns RGBA; both the
# luma sums and the alpha sum have closed forms.
# ---------------------------------------------------------------------------

def _plant_webp_alpha(d: int) -> bytes:
    from .codecs_vp8 import encode_webp_vp8

    w, h = _vp8_shape(d)
    alpha = bytes((13 * d + 7 * y) % 256 for y in range(h) for _ in range(w))
    return encode_webp_vp8(
        _mb_targets(d, 17, w, h),
        w,
        h,
        alpha=alpha,
        alpha_filtering=d % 4,
        alpha_compression=d % 2,
    )


_ORACLE_DECODE_WEBP_ALPHA = """
WITH d AS (
    SELECT doc_id,
           doc_id % 24 + 9 AS w,
           doc_id % 16 + 9 AS h
    FROM documents
),
gx AS (SELECT d.*, UNNEST(range(0, (w + 15) // 16)) AS mx FROM d),
g AS (SELECT gx.*, UNNEST(range(0, (h + 15) // 16)) AS my FROM gx),
s AS (
    SELECT doc_id, w, h,
           SUM(((17 * doc_id + 5 * mx + 3 * my) % 256)
               * LEAST(16, w - 16 * mx) * LEAST(16, h - 16 * my)) AS sum_luma
    FROM g
    GROUP BY doc_id, w, h
),
ar AS (SELECT d.*, UNNEST(range(0, h)) AS y FROM d),
a AS (
    SELECT doc_id, SUM(((13 * doc_id + 7 * y) % 256) * w) AS sum_alpha
    FROM ar
    GROUP BY doc_id
)
SELECT s.doc_id, CAST(s.w AS INTEGER) AS width, CAST(s.h AS INTEGER) AS height,
       CAST(4 AS INTEGER) AS channels,
       CAST(s.sum_luma AS BIGINT) AS sum_r,
       CAST(s.sum_luma AS BIGINT) AS sum_g,
       CAST(s.sum_luma AS BIGINT) AS sum_b,
       CAST(a.sum_alpha AS BIGINT) AS sum_a
FROM s JOIN a ON s.doc_id = a.doc_id
ORDER BY s.doc_id
"""


@query("q_multimodal_decode_webp_alpha", oracle=_ORACLE_DECODE_WEBP_ALPHA)
def multimodal_decode_webp_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → VP8X+ALPH+VP8 WebP binary column (alpha filter and
    compression methods cycling by doc_id) → pure-Python decode →
    RGBA channel sums, value-checked against the planted closed forms
    (per-MB-constant luma, per-row alpha ramp). Same scale shape as
    every decode path: scan spread, per-doc CPU in mapInPandas,
    payloads never shuffle."""
    return _decode_query(
        spark, sf_dir, _plant_webp_alpha, _image_sums(_rgba_null), _RGBA_SCHEMA
    )


# ---------------------------------------------------------------------------
# Animated WebP frame sampling (VP8X + ANIM + ANMF, round 10): the
# WebP analog of the GIF frames query. Each doc gets n = d%4 + 2
# full-canvas frames whose constant value v(d, f) = (29d + 41f) mod
# 256 — EVEN frames are planted VP8 key frames (exactly reconstructed,
# neutral chroma), ODD frames VP8L lossless — so one animation stream
# exercises both decoders plus the ANMF header walk and compositing.
# The sampler keeps every 2nd frame; sums have one closed form because
# both codecs reproduce the constant exactly.
# ---------------------------------------------------------------------------


def _plant_webp_anim(d: int) -> bytes:
    from .codecs_vp8 import encode_webp_anim

    w, h = _vp8_shape(d)
    mbw, mbh = (w + 15) // 16, (h + 15) // 16
    specs = []
    for f in range(d % 4 + 2):
        v = (29 * d + 41 * f) % 256
        if f % 2 == 0:
            targets = [[v] * mbw for _ in range(mbh)]
            specs.append({"kind": "vp8", "mb_targets": targets, "duration": 100})
        else:
            specs.append({"kind": "vp8l", "rgb": (v, v, v), "duration": 100})
    return encode_webp_anim(specs, w, h)


def _sampled_frames(decode: Callable[[bytes], dict]) -> Callable[[int, bytes], Rows]:
    """The one animation feature: decode every frame with `decode`,
    keep every 2nd, and emit one row of channel sums per kept frame."""

    def feature(d: int, blob: bytes) -> Rows:
        g = decode(blob)
        nf = len(g["frames"])
        return [
            (d, f, g["width"], g["height"], nf, sum(px[0::3]), sum(px[1::3]), sum(px[2::3]))
            for f, px in list(enumerate(g["frames"]))[::2]
        ]

    return feature


_ORACLE_DECODE_WEBP_ANIM = """
WITH p AS (
    SELECT doc_id,
           CAST(doc_id % 24 + 9 AS INTEGER) AS width,
           CAST(doc_id % 16 + 9 AS INTEGER) AS height,
           CAST(doc_id % 4 + 2 AS INTEGER) AS n_frames
    FROM documents
), fr AS (
    SELECT doc_id, width, height, n_frames,
           UNNEST(generate_series(0, n_frames - 1)) AS frame_idx
    FROM p
)
SELECT doc_id, CAST(frame_idx AS INTEGER) AS frame_idx, width, height, n_frames,
       CAST(((29 * doc_id + 41 * frame_idx) % 256) * width * height AS BIGINT) AS sum_r,
       CAST(((29 * doc_id + 41 * frame_idx) % 256) * width * height AS BIGINT) AS sum_g,
       CAST(((29 * doc_id + 41 * frame_idx) % 256) * width * height AS BIGINT) AS sum_b
FROM fr
WHERE frame_idx % 2 = 0
ORDER BY doc_id, frame_idx
"""


# ---------------------------------------------------------------------------
# Perceptual-hash image dedup (round 10): the multimodal member of the
# dedup family — decode REAL media (PNG here; any decode_image format
# works), reduce each raster to a 64-bit dHash (9×8 block-mean
# downsample, horizontal gradient signs), and group exact hash
# collisions: the image analog of q_dedup_exact's fingerprint groupBy.
# Fixture: 48 image CLASSES (docs with equal doc_id % 48 carry
# pixel-identical 32×32 block-pattern rasters), alternate repetitions
# (doc_id // 48 odd) brightened by a uniform +8 — two contract
# THEOREMS ride the planted design:
#   hash_consistent     — all docs of a class share ONE hash (same
#                         pixels → same hash; and dHash compares
#                         gradient SIGNS, which a uniform brightness
#                         shift preserves — so both parities collide);
#   brightness_collapsed— the class's bright and dark variants landed
#                         in the same cluster (vacuously 1 if a class
#                         has only one parity at this SF).
# n_docs per class is the closed form DuckDB recomputes. Cross-class
# hash separation is reported (engine-deterministic for fixed data)
# but not oracled — it is an empirical property of the pattern family,
# not a theorem. At 100 TB the plan shape is the one that matters:
# payloads die inside the first mapInPandas (only 8-byte hashes
# shuffle), and the groupBy is a plain hash-partition on int64.
# ---------------------------------------------------------------------------

_PHASH_CLASSES = 48
_PHASH_DIM = 32  # 8x8 blocks of 4px

def _phash_block_value(cls: int, bx: int, by: int) -> int:
    # class-dependent gradient-SIGN pattern: bit (8·by + bx) of a
    # golden-ratio-mixed 64-bit word per class (a LINEAR pattern in
    # cls collapses — the first cut, (11·cls + …) % 5, gave only 5
    # distinct dHashes across 48 classes; pytest pins 48/48 now).
    # Values keep 8px of headroom so the +8 brightness variant cannot
    # clip, preserving every gradient sign.
    word = ((cls + 1) * 0x9E3779B97F4A7C15) & ((1 << 64) - 1)
    return 200 if (word >> (8 * by + bx)) & 1 else 40


@functools.cache
def _phash_planes() -> list:
    """The 48 class planes: 8×8 blocks of 4px, built once per process."""
    return [
        np.array(
            [[_phash_block_value(cls, bx, by) for bx in range(8)] for by in range(8)],
            dtype=np.uint8,
        )
        .repeat(_PHASH_DIM // 8, axis=0)
        .repeat(_PHASH_DIM // 8, axis=1)
        for cls in range(_PHASH_CLASSES)
    ]


def _plant_phash(d: int) -> bytes:
    """A real PNG of d's class plane, brightened by 8 on alternate
    repetitions."""
    from .codecs import encode_png

    # brightness variant alternates along d // 48 so every
    # class sees BOTH variants once it has ≥ 2 docs (d % 2
    # would never vary within a class — 48 is even)
    bright = (d // _PHASH_CLASSES) % 2
    plane = _phash_planes()[d % _PHASH_CLASSES] + (8 if bright else 0)
    rgb = np.repeat(plane[:, :, None], 3, axis=2)
    return encode_png(_PHASH_DIM, _PHASH_DIM, rgb.tobytes(), 3)


def _dhash(d: int, blob: bytes) -> Rows:
    """(doc_id, img_class, dhash): decode, luma, 9×8 block-mean
    downsample, 64 horizontal gradient-sign bits packed into an int64."""
    img = decode_image(blob)
    w, h, ch = img["width"], img["height"], img["channels"]
    px = np.frombuffer(img["pixels"], dtype=np.uint8).reshape(h, w, ch)
    luma = px.mean(axis=2)
    # 9x8 block means (row-major split as even as possible)
    ys = np.linspace(0, h, 9, dtype=int)
    xs = np.linspace(0, w, 10, dtype=int)
    grid = np.array(
        [
            [luma[ys[r] : ys[r + 1], xs[c] : xs[c + 1]].mean() for c in range(9)]
            for r in range(8)
        ]
    )
    bits = (grid[:, 1:] > grid[:, :-1]).reshape(-1)
    val = 0
    for b in bits:
        val = (val << 1) | int(b)
    if val >= 1 << 63:
        val -= 1 << 64
    return [(d, d % _PHASH_CLASSES, val)]


_ORACLE_DEDUP_IMAGE_PHASH = f"""
SELECT CAST(doc_id % {_PHASH_CLASSES} AS INTEGER) AS img_class,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(1 AS INTEGER) AS hash_consistent,
       CAST(1 AS INTEGER) AS brightness_collapsed
FROM documents
GROUP BY doc_id % {_PHASH_CLASSES}
ORDER BY img_class
"""


@query("q_dedup_image_phash", oracle=_ORACLE_DEDUP_IMAGE_PHASH)
def dedup_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → real PNG binary column (48 pixel-identical image
    classes, alternate repetitions uniformly brightened) → decode →
    64-bit dHash →
    exact-hash dedup clusters, contract-checked per class: one hash
    per class (including across the brightness variants — a dHash
    theorem), closed-form class sizes."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    # a round-robin spread: the groupBy below needs no doc_id order,
    # and a range spread would add its sampling job
    spread = docs.repartition(spark.sparkContext.defaultParallelism)
    hashes = _map_rows(
        spread,
        lambda d: _dhash(d, _plant_phash(d)),
        StructType(
            [
                StructField("doc_id", LongType()),
                StructField("img_class", IntegerType()),
                StructField("dhash", LongType()),
            ]
        ),
    )
    return (
        hashes.groupBy("img_class")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            (F.count_distinct("dhash") == 1).cast("int").alias("hash_consistent"),
            F.when(
                F.count_distinct(
                    F.floor(F.col("doc_id") / _PHASH_CLASSES) % 2
                )
                < 2,
                F.lit(1),
            )  # vacuous: one brightness variant present at this SF
            .otherwise((F.count_distinct("dhash") == 1).cast("int"))
            .alias("brightness_collapsed"),
        )
        .orderBy("img_class")
    )


@query("q_multimodal_decode_webp_anim", oracle=_ORACLE_DECODE_WEBP_ANIM)
def multimodal_decode_webp_anim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → real animated-WebP binary column (ANMF frames
    alternating planted VP8 key frames and VP8L lossless frames) →
    pure-Python container walk + both decoders + compositing →
    every-2nd-frame sampling → per-frame channel sums, value-checked
    against the planted constants' closed form. Frame payloads never
    shuffle; only fixed-width per-frame rows leave mapInPandas."""
    from .codecs_vp8 import decode_webp_frames

    return _decode_query(
        spark,
        sf_dir,
        _plant_webp_anim,
        _sampled_frames(decode_webp_frames),
        _GIF_FRAME_SCHEMA,
        ("doc_id", "frame_idx"),
    )


# ---------------------------------------------------------------------------
# Resize: binary in → binary out with recomputed metadata. The
# deterministic fake "resample" keeps every k-th payload byte; a real
# codec swaps only the body of _resize. The Spark-side contract
# under test: media columns survive a pandas round trip, metadata
# struct is rebuilt typed, and payload size actually shrinks.
# ---------------------------------------------------------------------------

_RESIZE_MAX_DIM = 16

_RESIZED_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("media", BinaryType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_bytes", LongType()),
    ]
)


def _resize(d: int, media: bytes | None) -> Rows:
    if media is None:  # null payload: nothing to resize, skip
        return []
    blob = bytes(media)
    w = int.from_bytes(blob[4:6], "big")
    h = int.from_bytes(blob[6:8], "big")
    scale = max(w, h) / _RESIZE_MAX_DIM
    if scale <= 1:
        nw, nh, payload = w, h, blob[8:]
    else:
        nw = max(1, int(w / scale))
        nh = max(1, int(h / scale))
        step = max(1, int(scale))
        payload = blob[8:][::step]  # deterministic fake resample
    nb = _MAGIC + nw.to_bytes(2, "big") + nh.to_bytes(2, "big") + payload
    return [(d, nb, nw, nh, len(nb))]


@query("q_multimodal_resize", oracle=_ORACLE_MM_RESIZE)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize every fake image to fit a 16px box; returns the resized
    binary plus its new metadata (payload bytes stay in the row only
    until the next projection — callers selecting metadata columns
    never shuffle the blobs)."""
    resized = _codec_query(
        spark, sf_dir, _resize, _RESIZED_SCHEMA, payload=_fake_media_payload
    )
    return resized.select("doc_id", "width", "height", "n_bytes")


# ---------------------------------------------------------------------------
# Frame sampling: one media row → N frame rows (the 1→many shape that
# makes mapInPandas the right operator — a scalar UDF cannot change
# cardinality). Fake video = payload split into fixed 32-byte frames;
# sample every 4th. Real decoder swaps the frame iterator only.
# ---------------------------------------------------------------------------

_FRAME_BYTES = 32
_FRAME_STRIDE = 4

_FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_no", IntegerType()),
        StructField("frame_checksum", LongType()),
    ]
)


def _sample_frames(d: int, media: bytes | None) -> Rows:
    if media is None:  # null payload: no frames to sample
        return []
    payload = bytes(media)[8:]
    n_frames = len(payload) // _FRAME_BYTES
    return [
        (d, i, sum(payload[i * _FRAME_BYTES : (i + 1) * _FRAME_BYTES]))
        for i in range(0, n_frames, _FRAME_STRIDE)
    ]


@query("q_multimodal_frames", oracle=_ORACLE_MM_FRAMES)
def multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample every 4th 32-byte 'frame' of each fake video payload —
    one output row per sampled frame."""
    return _codec_query(
        spark,
        sf_dir,
        _sample_frames,
        _FRAME_SCHEMA,
        ("doc_id", "frame_no"),
        payload=_fake_media_payload,
    )


# ---------------------------------------------------------------------------
# Audio plumbing — completes the modality triple (image features /
# image resize / video frame-sample above). Payload = fake PCM16
# little-endian mono samples, deterministic per doc; metadata carries
# sample_rate + n_samples (the queryable part). Features = RMS energy
# and zero-crossing count via numpy over Arrow batches — the exact
# shape a real decoder (soundfile/librosa, absent in this container)
# would slot into; the codec boundary stays decode_image-style honest.
# ---------------------------------------------------------------------------

_SAMPLE_RATE = 8000


def attach_fake_audio(docs: DataFrame) -> DataFrame:
    """Deterministic PCM16 mono payload: n_samples = 64 + doc_id % 192,
    sample[i] = ((doc_id * 7919 + i * 104729) % 4096) - 2048 (int16),
    packed little-endian. Computed JVM-side via expressions so the
    payload generation itself is codegen, not Python."""
    n = (F.lit(64) + F.col("doc_id") % 192).cast("int")
    # hex-encode each sample as 4 hex chars (little-endian int16)
    sample = (
        "((doc_id * 7919 + i * 104729) % 4096) - 2048"
    )
    le16 = (
        f"concat(lpad(hex(({sample} + 65536) % 256), 2, '0'), "
        f"lpad(hex((({sample} + 65536) div 256) % 256), 2, '0'))"
    )
    pcm_hex = F.expr(
        f"array_join(transform(sequence(0, {'(64 + doc_id % 192)'} - 1), "
        f"i -> {le16}), '')"
    )
    audio = F.to_binary(pcm_hex, F.lit("hex"))
    meta = F.struct(
        F.lit("audio/pcm16").alias("kind"),
        F.lit(_SAMPLE_RATE).alias("sample_rate"),
        n.alias("n_samples"),
        (n.cast("double") / _SAMPLE_RATE).alias("duration_sec"),
    )
    return docs.select("doc_id", audio.alias("audio"), meta.alias("audio_meta"))


_AUDIO_FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_samples", IntegerType()),
        StructField("rms", LongType()),
        StructField("zero_crossings", IntegerType()),
    ]
)


def _audio_features(d: int, blob: bytes) -> Rows:
    x = np.frombuffer(bytes(blob), dtype="<i2").astype(np.int64)
    rms = int(np.sqrt(np.mean(x * x))) if len(x) else 0
    zc = int(np.sum(np.signbit(x[1:]) != np.signbit(x[:-1]))) if len(x) > 1 else 0
    return [(d, len(x), rms, zc)]


@query("q_multimodal_audio", oracle=_ORACLE_MM_AUDIO)
def multimodal_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio feature extraction over mapInPandas: payloads stay inside
    their partition (features out, PCM never shuffles) — identical
    batch shape to the image/video paths."""
    return _codec_query(
        spark,
        sf_dir,
        _audio_features,
        _AUDIO_FEATURE_SCHEMA,
        payload=lambda docs: attach_fake_audio(docs).drop("audio_meta"),
    )


# ---------------------------------------------------------------------------
# WAV (RIFF integer-PCM) decode, oracle-checked end-to-end (round 8):
# the audio analog of the image decode family. Each doc gets a REAL
# WAV container — mono/stereo by parity, 8-bit unsigned / 16-bit
# signed PCM cycling by doc_id % 3 — carrying the planted interleaved
# ramp v(d, i) = ((31·d + 7·i) mod 2^bits) − 2^(bits−1). decode_wav
# walks the chunks, validates block alignment, recentres 8-bit
# storage, and de-interleaves; the per-channel sums and the absolute
# peak reduce to a closed form DuckDB recomputes. A wrong byte order,
# channel stride, or sign recentre slips the sums immediately.
# ---------------------------------------------------------------------------

_WAV_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("sample_rate", IntegerType()),
        StructField("channels", IntegerType()),
        StructField("bits", IntegerType()),
        StructField("n_frames", LongType()),
        StructField("sum_ch0", LongType()),
        StructField("sum_ch1", LongType()),
        StructField("peak_abs", LongType()),
    ]
)


def _wav_plant_params(d: int) -> tuple[int, int, int, int]:
    n_frames = d % 480 + 8
    channels = 1 if d % 2 == 0 else 2
    bits = 8 if d % 3 == 0 else 16
    sample_rate = 8000 + (d % 5) * 4000
    return n_frames, channels, bits, sample_rate


def _ramp(d: int, n_frames: int, channels: int, bits: int) -> list[list[int]]:
    """Per-channel samples of the planted interleaved ramp
    v(d, i) = ((31·d + 7·i) mod 2^bits) − 2^(bits−1)."""
    mod, half = (1 << bits), (1 << (bits - 1))
    return [
        [((_PX_A * d + _PX_B * (f * channels + c)) % mod) - half for f in range(n_frames)]
        for c in range(channels)
    ]


def _plant_wav(d: int) -> bytes:
    """A real WAV of the planted ramp."""
    from .codecs_wav import encode_wav

    n_frames, channels, bits, rate = _wav_plant_params(d)
    return encode_wav(rate, channels, bits, _ramp(d, n_frames, channels, bits))


def _pcm_sums(decode: Callable[[bytes], dict]) -> Callable[[int, bytes], Rows]:
    """The one audio feature: decode with `decode`, then per-channel
    integer sums (NULL for a missing second channel) and the absolute
    peak."""

    def feature(d: int, blob: bytes) -> Rows:
        a = decode(blob)
        sums = [sum(ch) for ch in a["samples"]]
        peak = max((abs(v) for ch in a["samples"] for v in ch), default=0)
        head = (d, a["sample_rate"], a["channels"], a["bits"], a["n_frames"])
        return [(*head, *(sums + [None] * 2)[:2], peak)]

    return feature


# ---------------------------------------------------------------------------
# Animated-GIF frame sampling, oracle-checked end-to-end (round 8):
# the video-shaped path gets a REAL container. Each doc gets an
# animated GIF89a (2-5 frames; odd docs store frames INTERLACED) whose
# frame f is the planted index raster idx(x, y) = (d + f + x + y) mod
# 16 over the closed-form palette color(i) = (31i mod 256,
# (17i + 3) mod 256, (7i + 11) mod 256). The decoder runs the full
# machinery — LZW with code growth, sub-block reassembly, interlace
# reorder, canvas compositing — then the SAMPLER keeps every 2nd
# frame and reduces each to channel sums DuckDB recomputes. A wrong
# interlace pass order or LZW code-size bump slips the sums.
# ---------------------------------------------------------------------------

_GIF_P = 16  # planted palette size

_GIF_FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_frames", IntegerType()),
        StructField("sum_r", LongType()),
        StructField("sum_g", LongType()),
        StructField("sum_b", LongType()),
    ]
)


def _gif_plant_params(d: int) -> tuple[int, int, int]:
    return d % 21 + 4, d % 17 + 4, d % 4 + 2  # w, h, n_frames


_GIF_PALETTE = [
    ((31 * i) % 256, (17 * i + 3) % 256, (7 * i + 11) % 256) for i in range(_GIF_P)
]


def _plant_gif(d: int) -> bytes:
    from .codecs_gif import encode_gif

    w, h, nf = _gif_plant_params(d)
    frames = [
        {
            "indices": [(d + f + x + y) % _GIF_P for y in range(h) for x in range(w)],
            "interlaced": d % 2 == 1,
        }
        for f in range(nf)
    ]
    return encode_gif(w, h, _GIF_PALETTE, frames)


_ORACLE_DECODE_GIF = f"""
WITH p AS (
    SELECT doc_id,
           CAST(doc_id % 21 + 4 AS INTEGER) AS width,
           CAST(doc_id % 17 + 4 AS INTEGER) AS height,
           CAST(doc_id % 4 + 2 AS INTEGER) AS n_frames
    FROM documents
), fr AS (
    SELECT doc_id, width, height, n_frames,
           UNNEST(generate_series(0, n_frames - 1)) AS frame_idx
    FROM p
), px AS (
    SELECT doc_id, frame_idx, width, height, n_frames,
           (doc_id + frame_idx + (i % width) + (i // width)) % {_GIF_P} AS idx
    FROM (SELECT *, UNNEST(generate_series(0, width * height - 1)) AS i FROM fr)
    WHERE frame_idx % 2 = 0
)
SELECT doc_id, CAST(frame_idx AS INTEGER) AS frame_idx, width, height, n_frames,
       CAST(SUM((31 * idx) % 256) AS BIGINT) AS sum_r,
       CAST(SUM((17 * idx + 3) % 256) AS BIGINT) AS sum_g,
       CAST(SUM((7 * idx + 11) % 256) AS BIGINT) AS sum_b
FROM px
GROUP BY doc_id, frame_idx, width, height, n_frames
ORDER BY doc_id, frame_idx
"""


@query("q_multimodal_decode_gif_frames", oracle=_ORACLE_DECODE_GIF)
def multimodal_decode_gif_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → real animated-GIF binary column → pure-Python
    GIF89a decode (LZW, interlace, compositing) → every-2nd-frame
    sampling → per-frame channel sums, value-checked against the
    planted raster's closed form. Frame payloads never shuffle; only
    fixed-width per-frame rows leave mapInPandas."""
    from .codecs_gif import decode_gif

    return _decode_query(
        spark,
        sf_dir,
        _plant_gif,
        _sampled_frames(decode_gif),
        _GIF_FRAME_SCHEMA,
        ("doc_id", "frame_idx"),
    )


_ORACLE_DECODE_WAV = f"""
WITH p AS (
    SELECT doc_id,
           CAST(doc_id % 480 + 8 AS BIGINT) AS n_frames,
           CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 2 END AS INTEGER) AS channels,
           CAST(CASE WHEN doc_id % 3 = 0 THEN 8 ELSE 16 END AS INTEGER) AS bits,
           CAST(8000 + (doc_id % 5) * 4000 AS INTEGER) AS sample_rate
    FROM documents
), s AS (
    SELECT doc_id, n_frames, channels, bits, sample_rate,
           UNNEST(generate_series(0, n_frames * channels - 1)) AS i
    FROM p
), v AS (
    SELECT doc_id, n_frames, channels, bits, sample_rate,
           ({_PX_A} * doc_id + {_PX_B} * i) % (1 << bits) - (1 << (bits - 1)) AS val,
           i % channels AS ch
    FROM s
)
SELECT doc_id, sample_rate, channels, bits, n_frames,
       CAST(SUM(CASE WHEN ch = 0 THEN val END) AS BIGINT) AS sum_ch0,
       CAST(SUM(CASE WHEN ch = 1 THEN val END) AS BIGINT) AS sum_ch1,
       CAST(MAX(ABS(val)) AS BIGINT) AS peak_abs
FROM v
GROUP BY doc_id, sample_rate, channels, bits, n_frames
ORDER BY doc_id
"""


@query("q_multimodal_decode_wav", oracle=_ORACLE_DECODE_WAV)
def multimodal_decode_wav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → real WAV binary column → pure-Python RIFF/PCM
    decode → per-channel integer sums + absolute peak, value-checked
    against the planted ramp's closed form. Same scale shape as the
    image decode paths: scan spread first, fixed-width features leave
    mapInPandas, PCM bytes never shuffle."""
    from .codecs_wav import decode_wav

    return _decode_query(spark, sf_dir, _plant_wav, _pcm_sums(decode_wav), _WAV_SCHEMA)


# ---------------------------------------------------------------------------
# JPEG decode, oracle-checked end-to-end (round 5 — closes the last
# compressed-codec gap, VERDICT r4 "missing #2"): plant images whose
# 8x8 blocks are CONSTANT with even value v(bx,by) = 2*((7d + 5bx +
# 3by) % 128). A constant-even block's only DCT coefficient is
# DC = 8*(v-128), which the standard table's Q[0]=16 divides exactly,
# so baseline JPEG round-trips these pixels BIT-FOR-BIT and DuckDB
# can compute the decoded channel sums in closed form (per-block value
# x the cropped block's pixel count). Even doc_ids encode grayscale
# (1 component); odd doc_ids encode YCbCr 4:2:0 with neutral chroma
# (Cb=Cr=128 survives average-pool subsampling and upsampling exactly,
# and BT.601 with zero chroma gives R=G=B=Y) — so ONE closed form
# checks both the single-component and the interleaved-MCU +
# subsampling + color-conversion decode paths. The decoder still runs
# its full machinery: marker parse, DHT canonical Huffman build,
# entropy decode of DC diffs/EOBs, dequant, float IDCT, clamp, crop.
# The AC run-length path can't be exercised by quantization-exact
# fixtures (any nonzero AC is lossy) — tests/test_codecs_jpeg.py pins
# it against an independent direct-formula IDCT instead.
# ---------------------------------------------------------------------------

def _jpeg_plane(d: int):
    w, h = d % 24 + 8, d % 16 + 8
    plane = np.zeros((h, w), dtype=np.uint8)
    for by in range((h + 7) // 8):
        for bx in range((w + 7) // 8):
            v = 2 * ((7 * d + 5 * bx + 3 * by) % 128)
            plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = v
    return w, h, plane


def _jpeg_planter(
    encode: Callable[..., bytes], restarts: bool = False
) -> Callable[[int], bytes]:
    """Planter of one T.81 coding process `encode`: the block-constant
    raster, grayscale for even ids, YCbCr 4:2:0 neutral-chroma for
    odd. With `restarts`, every 3rd doc gets restart interval 2, so
    the arithmetic coder's RSTn + coder/statistics re-init path runs
    at oracle scale."""

    def plant(d: int) -> bytes:
        w, h, plane = _jpeg_plane(d)
        opts = {"restart_interval": 2 if d % 3 == 0 else 0} if restarts else {}
        if d % 2 == 0:
            return encode([plane], w, h, **opts)
        neutral = np.full((h, w), 128, dtype=np.uint8)
        return encode([plane, neutral, neutral], w, h, "420", **opts)

    return plant


_ORACLE_DECODE_JPEG = """
WITH d AS (
    SELECT doc_id,
           doc_id % 24 + 8 AS w,
           doc_id % 16 + 8 AS h,
           CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END AS INTEGER)
               AS channels
    FROM documents
),
bx AS (SELECT d.*, UNNEST(range(0, (w + 7) // 8)) AS bx FROM d),
b AS (SELECT bx.*, UNNEST(range(0, (h + 7) // 8)) AS by FROM bx),
s AS (
    SELECT doc_id, w, h, channels,
           SUM((2 * ((7 * doc_id + 5 * bx + 3 * by) % 128))
               * LEAST(8, w - 8 * bx) * LEAST(8, h - 8 * by)) AS sum_luma
    FROM b
    GROUP BY doc_id, w, h, channels
)
SELECT doc_id, CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
       channels,
       CAST(sum_luma AS BIGINT) AS sum_r,
       CAST(sum_luma AS BIGINT) AS sum_g,
       CAST(sum_luma AS BIGINT) AS sum_b
FROM s
ORDER BY doc_id
"""


@query("q_multimodal_decode_jpeg", oracle=_ORACLE_DECODE_JPEG)
def multimodal_decode_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → REAL baseline JPEG binary column (grayscale / YCbCr
    4:2:0 by doc parity) → pure-Python T.81 decode → integer channel
    sums, value-checked against the closed form of the planted
    quantization-exact raster. Same scale shape as the PPM/PNG paths:
    scan spread first (entropy decode is real per-row CPU), fixed-width
    feature columns leave mapInPandas, payload bytes never shuffle."""
    from .codecs_jpeg import encode_jpeg_baseline

    return _decode_query(
        spark, sf_dir, _jpeg_planter(encode_jpeg_baseline), _image_sums(_rgb), _RGB_SCHEMA
    )


@query("q_multimodal_decode_jpeg_progressive", oracle=_ORACLE_DECODE_JPEG)
def multimodal_decode_jpeg_progressive(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """documents → REAL progressive (SOF2) JPEG binary column
    (grayscale / YCbCr 4:2:0 by doc parity, full successive-
    approximation scan script) → pure-Python T.81 progressive decode →
    integer channel sums, value-checked against the SAME closed form as
    the baseline JPEG query — the quantization-exact raster must
    reconstruct identically through either coding process. The lossy
    AC/refinement paths are pinned separately by
    tests/test_codecs_jpeg.py's progressive==baseline pixel-equality
    fuzz over random coefficient grids. The SOF2 stream runs the
    full default scan script (DC first at Al=1 + DC refinement,
    per-component AC spectral bands at Al=2, two AC refinement
    passes); on a DC-only raster the AC scans are pure EOB-run
    streams, so the decoder still walks every progressive code path
    (successive approximation, EOB runs, correction-bit reads)."""
    from .codecs_jpeg import encode_jpeg_progressive

    return _decode_query(
        spark,
        sf_dir,
        _jpeg_planter(encode_jpeg_progressive),
        _image_sums(_rgb),
        _RGB_SCHEMA,
    )


@query("q_multimodal_decode_jpeg_prog_arith", oracle=_ORACLE_DECODE_JPEG)
def multimodal_decode_jpeg_prog_arith(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """documents → REAL progressive arithmetic-coded (SOF10) JPEG
    binary column → pure-Python T.81 Annex-G-model QM decode → integer
    channel sums against the same closed form as every other JPEG
    process — one planted raster, four coding processes, identical
    reconstruction. Losslessness of the progressive-arithmetic entropy
    layer on arbitrary coefficients is pinned by
    tests/test_codecs_jpeg_arith.py's SOF10==baseline pixel fuzz."""
    from .codecs_jpeg_arith import encode_jpeg_progressive_arith

    return _decode_query(
        spark,
        sf_dir,
        _jpeg_planter(encode_jpeg_progressive_arith),
        _image_sums(_rgb),
        _RGB_SCHEMA,
    )


@query("q_multimodal_decode_jpeg_arith", oracle=_ORACLE_DECODE_JPEG)
def multimodal_decode_jpeg_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → REAL arithmetic-coded (SOF9) JPEG binary column
    (grayscale / YCbCr 4:2:0 by doc parity, restart markers on every
    3rd doc) → pure-Python T.81 Annex-D QM-coder decode → integer
    channel sums, value-checked against the SAME closed form as the
    baseline/progressive JPEG queries — the quantization-exact raster
    must reconstruct identically through every coding process. The
    entropy layer's losslessness on arbitrary coefficients is pinned
    separately by tests/test_codecs_jpeg_arith.py's arith==huffman
    pixel-equality fuzz. Same 100 TB shape as the other decode paths:
    scan spread first, fixed-width features leave mapInPandas, payload
    bytes never shuffle."""
    from .codecs_jpeg_arith import encode_jpeg_arith

    return _decode_query(
        spark,
        sf_dir,
        _jpeg_planter(encode_jpeg_arith, restarts=True),
        _image_sums(_rgb),
        _RGB_SCHEMA,
    )


# ---------------------------------------------------------------------------
# QOI decode (round 11, codecs_qoi.py): QOI is LOSSLESS, so instead of
# the planted-constant closed forms the DCT family needs, the fixture
# plants full per-pixel formula rasters chosen to force every chunk
# kind — row-constant (RUN), +1 gradients (DIFF, wrapping), a 4-color
# alternation (INDEX), and a luma-correlated gradient (LUMA) — with a
# row-constant alpha plane on every 3rd doc (RGBA ops at row
# boundaries, alpha-invariant ops inside rows). The decoded sums equal
# the formulas' sums exactly, which DuckDB computes per pixel.
# ---------------------------------------------------------------------------


def _qoi_raster(d: int, w: int, h: int, channels: int):
    xs = np.arange(w, dtype=np.int64)[None, :]
    ys = np.arange(h, dtype=np.int64)[:, None]
    p = d % 4
    if p == 0:  # row-constant -> RUN inside rows
        r = (7 * d + 3 * ys) % 256 + 0 * xs
        g = (11 * d + 5 * ys) % 256 + 0 * xs
        b = (13 * d + 7 * ys) % 256 + 0 * xs
    elif p == 1:  # +1/+1/+1 neighbor deltas -> DIFF (wrapping)
        r = (d + xs + ys) % 256
        g = (2 * d + xs + ys) % 256
        b = (3 * d + xs + ys) % 256
    elif p == 2:  # 4-color alternation -> INDEX
        c = (xs + ys) % 4
        r = (17 * d + 63 * c) % 256
        g = (29 * d + 63 * c) % 256
        b = (5 * d + 63 * c) % 256
    else:  # luma-correlated gradient -> LUMA
        g = (3 * d + 2 * xs + 5 * ys) % 256
        r = (g + xs % 7) % 256
        b = (g + ys % 5) % 256
    planes = [r + 0 * xs, g + 0 * xs, b + 0 * xs]
    if channels == 4:
        planes.append((9 * d + ys) % 256 + 0 * xs)
    return np.stack([pl.astype(np.uint8) for pl in planes], axis=-1)


def _plant_qoi(d: int) -> bytes:
    from .codecs_qoi import encode_qoi

    w, h = d % 20 + 8, d % 12 + 6
    channels = 4 if d % 3 == 0 else 3
    return encode_qoi(w, h, _qoi_raster(d, w, h, channels).tobytes(), channels)


_ORACLE_DECODE_QOI = """
WITH d AS (
    SELECT doc_id,
           doc_id % 20 + 8 AS w,
           doc_id % 12 + 6 AS h,
           CASE WHEN doc_id % 3 = 0 THEN 4 ELSE 3 END AS ch,
           doc_id % 4 AS p
    FROM documents
),
gx AS (SELECT d.*, UNNEST(range(0, w)) AS x FROM d),
g AS (SELECT gx.*, UNNEST(range(0, h)) AS y FROM gx),
px AS (
    SELECT doc_id, w, h, ch,
           CASE p WHEN 0 THEN (7 * doc_id + 3 * y) % 256
                  WHEN 1 THEN (doc_id + x + y) % 256
                  WHEN 2 THEN (17 * doc_id + 63 * ((x + y) % 4)) % 256
                  ELSE ((3 * doc_id + 2 * x + 5 * y) % 256 + x % 7) % 256
           END AS r,
           CASE p WHEN 0 THEN (11 * doc_id + 5 * y) % 256
                  WHEN 1 THEN (2 * doc_id + x + y) % 256
                  WHEN 2 THEN (29 * doc_id + 63 * ((x + y) % 4)) % 256
                  ELSE (3 * doc_id + 2 * x + 5 * y) % 256
           END AS gg,
           CASE p WHEN 0 THEN (13 * doc_id + 7 * y) % 256
                  WHEN 1 THEN (3 * doc_id + x + y) % 256
                  WHEN 2 THEN (5 * doc_id + 63 * ((x + y) % 4)) % 256
                  ELSE ((3 * doc_id + 2 * x + 5 * y) % 256 + y % 5) % 256
           END AS b,
           CASE WHEN ch = 4 THEN (9 * doc_id + y) % 256 ELSE 0 END AS a
    FROM g
)
SELECT doc_id, CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
       CAST(ch AS INTEGER) AS channels,
       CAST(SUM(r) AS BIGINT) AS sum_r,
       CAST(SUM(gg) AS BIGINT) AS sum_g,
       CAST(SUM(b) AS BIGINT) AS sum_b,
       CAST(SUM(a) AS BIGINT) AS sum_a
FROM px
GROUP BY doc_id, w, h, ch
ORDER BY doc_id
"""


@query("q_multimodal_decode_qoi", oracle=_ORACLE_DECODE_QOI)
def multimodal_decode_qoi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → real QOI binary column (op-forcing pattern families
    cycling by doc_id, RGBA every 3rd doc) → pure-Python decode
    (codecs_qoi.py — interop-complete, the format has no
    implementation-defined tables) → exact RGBA channel sums against
    the planted per-pixel formulas. Same 100 TB shape as every decode
    path: scan spread first (decode is per-row CPU), fixed-width
    feature columns leave mapInPandas, payload bytes never shuffle."""
    return _decode_query(
        spark, sf_dir, _plant_qoi, _image_sums(_rgba_zero), _RGBA_SCHEMA
    )


# ---------------------------------------------------------------------------
# Baseline TIFF decode (round 11, codecs_tiff.py): lossless like QOI,
# so the fixtures plant per-pixel formula rasters and the oracle sums
# them exactly. Coverage cycles the format's real axes by doc_id:
# byte order (II/MM), compression (none / PackBits), strip height
# (single-strip vs 3-row strips), and photometric (8-bit gray on
# every 3rd doc, RGB otherwise).
# ---------------------------------------------------------------------------


def _plant_tiff(d: int) -> bytes:
    from .codecs_tiff import encode_tiff

    w, h = d % 18 + 7, d % 10 + 5
    xs = np.arange(w, dtype=np.int64)[None, :]
    ys = np.arange(h, dtype=np.int64)[:, None]
    if d % 3 == 0:  # 8-bit grayscale
        raster = ((23 * d + 5 * xs + 9 * ys) % 256).astype(np.uint8)
        px, ch = raster.tobytes(), 1
    else:
        r = (7 * d + xs + 0 * ys) % 256
        g = (11 * d + ys + 0 * xs) % 256
        b = (13 * d + xs + ys) % 256
        px = np.stack(
            [r.astype(np.uint8), g.astype(np.uint8), b.astype(np.uint8)],
            axis=-1,
        ).tobytes()
        ch = 3
    return encode_tiff(
        w,
        h,
        px,
        ch,
        big_endian=d % 2 == 1,
        # all three compressions cycle through the estate:
        # PackBits / LZW (r12, spec §13) / none
        packbits=d % 5 < 2,
        lzw=d % 5 in (2, 3),
        rows_per_strip=3 if d % 4 == 0 else None,
    )


_ORACLE_DECODE_TIFF = """
WITH d AS (
    SELECT doc_id,
           doc_id % 18 + 7 AS w,
           doc_id % 10 + 5 AS h,
           CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 3 END AS ch
    FROM documents
),
gx AS (SELECT d.*, UNNEST(range(0, w)) AS x FROM d),
g AS (SELECT gx.*, UNNEST(range(0, h)) AS y FROM gx),
px AS (
    SELECT doc_id, w, h, ch,
           CASE WHEN ch = 1 THEN (23 * doc_id + 5 * x + 9 * y) % 256
                ELSE (7 * doc_id + x) % 256 END AS r,
           CASE WHEN ch = 1 THEN 0 ELSE (11 * doc_id + y) % 256 END AS gg,
           CASE WHEN ch = 1 THEN 0 ELSE (13 * doc_id + x + y) % 256 END AS b
    FROM g
)
SELECT doc_id, CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
       CAST(ch AS INTEGER) AS channels,
       CAST(SUM(r) AS BIGINT) AS sum_r,
       CAST(SUM(gg) AS BIGINT) AS sum_g,
       CAST(SUM(b) AS BIGINT) AS sum_b,
       CAST(0 AS BIGINT) AS sum_a
FROM px
GROUP BY doc_id, w, h, ch
ORDER BY doc_id
"""


@query("q_multimodal_decode_tiff", oracle=_ORACLE_DECODE_TIFF)
def multimodal_decode_tiff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → real baseline-TIFF binary column (byte order,
    PackBits, strip layout, and gray/RGB photometric all cycling by
    doc_id) → pure-Python TIFF 6.0 decode (codecs_tiff.py —
    interop-complete within the stated subset, loud refusals outside
    it) → exact channel sums against the planted per-pixel formulas.
    Decode-family floor plan: scan spread, per-doc CPU in mapInPandas,
    payloads never shuffle."""
    return _decode_query(
        spark, sf_dir, _plant_tiff, _image_sums(_rgba_zero), _RGBA_SCHEMA
    )


# ---------------------------------------------------------------------------
# FLAC decode (round 11, codecs_flac.py): the audio family's
# COMPRESSED member beside the WAV container — same planted
# interleaved ramp and the same closed-form oracle family, carried
# through real Rice-coded fixed-predictor subframes, all three stereo
# decorrelation modes, and both CRCs. Lossless, so the decoded
# per-channel sums equal the WAV-style formulas exactly.
# ---------------------------------------------------------------------------


def _flac_plant_params(d: int):
    n_frames = d % 360 + 16
    channels = 1 if d % 2 == 0 else 2
    rate = 8000 + (d % 5) * 4000
    stereo = ("independent", "left_side", "mid_side")[d % 3]
    sub = "verbatim" if d % 4 == 3 else "fixed"
    return n_frames, channels, rate, stereo, sub


def _plant_flac(d: int) -> bytes:
    from .codecs_flac import encode_flac

    n_frames, channels, rate, stereo, sub = _flac_plant_params(d)
    return encode_flac(
        _ramp(d, n_frames, channels, 16), rate, 16, stereo_mode=stereo, subframe_mode=sub
    )


_ORACLE_DECODE_FLAC = f"""
WITH p AS (
    SELECT doc_id,
           CAST(doc_id % 360 + 16 AS BIGINT) AS n_frames,
           CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 2 END AS INTEGER) AS channels,
           CAST(16 AS INTEGER) AS bits,
           CAST(8000 + (doc_id % 5) * 4000 AS INTEGER) AS sample_rate
    FROM documents
), s AS (
    SELECT doc_id, n_frames, channels, bits, sample_rate,
           UNNEST(generate_series(0, n_frames * channels - 1)) AS i
    FROM p
), v AS (
    SELECT doc_id, n_frames, channels, bits, sample_rate,
           ({_PX_A} * doc_id + {_PX_B} * i) % 65536 - 32768 AS val,
           i % channels AS ch
    FROM s
)
SELECT doc_id, sample_rate, channels, bits, n_frames,
       CAST(SUM(CASE WHEN ch = 0 THEN val END) AS BIGINT) AS sum_ch0,
       CAST(SUM(CASE WHEN ch = 1 THEN val END) AS BIGINT) AS sum_ch1,
       CAST(MAX(ABS(val)) AS BIGINT) AS peak_abs
FROM v
GROUP BY doc_id, sample_rate, channels, bits, n_frames
ORDER BY doc_id
"""


@query("q_multimodal_decode_flac", oracle=_ORACLE_DECODE_FLAC)
def multimodal_decode_flac(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → real FLAC binary column (Rice-coded fixed-predictor
    subframes; stereo decorrelation and verbatim/fixed coding cycling
    by doc_id; CRC-8 + CRC-16 validated on decode) → pure-Python
    RFC 9639 decode → per-channel integer sums + absolute peak,
    value-checked against the planted ramp's closed form. Same scale
    shape as the WAV path: scan spread, per-doc CPU in mapInPandas,
    compressed audio bytes never shuffle."""
    from .codecs_flac import decode_flac

    return _decode_query(spark, sf_dir, _plant_flac, _pcm_sums(decode_flac), _WAV_SCHEMA)
