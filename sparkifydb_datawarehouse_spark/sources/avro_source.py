"""Avro Object Container File source (B1, round 11) — a pure-Python
reader/writer for the Apache Avro 1.x OCF format (public spec,
avro.apache.org: magic ``Obj\\x01``, metadata map with the JSON schema
and codec, 16-byte sync marker, length-prefixed data blocks).

Avro is THE row-oriented interchange format of the Hadoop/Kafka
estate; Spark's own reader lives in the external spark-avro package,
which is not installed here — so this connector implements the
container + binary encoding natively (zigzag-varint ints/longs,
length-prefixed strings/bytes, little-endian IEEE doubles, 1-byte
booleans, union-index-prefixed nullable fields; ``null`` and
``deflate`` — raw RFC-1951 — block codecs) and exposes it through the
same posture as the XML connector next door: Avro is an INGEST
format — a one-pass distributed parse into columnar storage, after
which you land Parquet and never scan the Avro again.

Scale shape: the WRITE side (fixture materialization) encodes per
partition with mapInPandas — each task emits one self-contained OCF
blob (own header + sync), the natural unit an Avro estate arrives in.
The READ side is the 100 TB direction: ``binaryFile`` scan over the
``.avro`` files → per-file decode in mapInPandas → typed rows; files
are the parallelism unit exactly as in a real multi-file estate, and
only typed columns leave the decoder."""

from __future__ import annotations

import datetime
import decimal
import json
import re
import struct
import zlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..tables import load_table, side_table

_MAGIC = b"Obj\x01"
_SYNC = bytes(range(16))  # deterministic fixture sync marker


class AvroError(ValueError):
    pass


# ---------------------------------------------------------------------------
# binary primitives
# ---------------------------------------------------------------------------


def _write_long(buf: bytearray, n: int) -> None:
    n = (n << 1) ^ (n >> 63)  # zigzag
    n &= (1 << 64) - 1
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            buf.append(b | 0x80)
        else:
            buf.append(b)
            return


def _read_long(data: bytes, pos: int) -> tuple[int, int]:
    shift, acc = 0, 0
    while True:
        if pos >= len(data):
            raise AvroError("varint ran off the end of the block")
        b = data[pos]
        pos += 1
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
        if shift > 63:
            raise AvroError("varint longer than 64 bits")
    val = (acc >> 1) ^ -(acc & 1)  # un-zigzag
    return val, pos


def _write_bytes(buf: bytearray, b: bytes) -> None:
    _write_long(buf, len(b))
    buf += b


def _read_bytes(data: bytes, pos: int) -> tuple[bytes, int]:
    n, pos = _read_long(data, pos)
    if n < 0 or pos + n > len(data):
        raise AvroError("bytes length out of range")
    return data[pos : pos + n], pos + n


# ---------------------------------------------------------------------------
# logical types (Avro spec "Logical Types" section, avro.apache.org):
# spec strings "date" (int days), "timestamp-micros" (long micros),
# "uuid" (RFC-4122 string), "decimal(p,s)" (bytes: big-endian
# two's-complement unscaled integer). VERDICT r11 #4 — real OCF
# estates carry these, not bare primitives.
# ---------------------------------------------------------------------------

_EPOCH_DATE = datetime.date(1970, 1, 1)
_EPOCH_TS = datetime.datetime(1970, 1, 1)
_DECIMAL_RE = re.compile(r"^decimal\((\d+),(\d+)\)$")


def _is_uuid_str(s: str) -> bool:
    if len(s) != 36:
        return False
    for i, ch in enumerate(s):
        if i in (8, 13, 18, 23):
            if ch != "-":
                return False
        elif ch not in "0123456789abcdefABCDEF":
            return False
    return True


def _encode_value(buf: bytearray, val, typ: str) -> None:
    if val is None:
        raise AvroError(f"null value for non-nullable {typ}")
    if typ in ("long", "int"):
        _write_long(buf, int(val))
    elif typ == "string":
        _write_bytes(buf, str(val).encode("utf-8"))
    elif typ == "bytes":
        _write_bytes(buf, bytes(val))
    elif typ == "double":
        buf += struct.pack("<d", float(val))
    elif typ == "boolean":
        buf.append(1 if val else 0)
    elif typ == "date":  # int: days since epoch
        _write_long(buf, (val - _EPOCH_DATE).days)
    elif typ == "timestamp-micros":  # long: micros since epoch (exact
        # timedelta arithmetic — float seconds would lose precision)
        td = val - _EPOCH_TS
        _write_long(buf, (td.days * 86_400 + td.seconds) * 1_000_000 + td.microseconds)
    elif typ == "uuid":  # string, RFC-4122 text form
        s = str(val)
        if not _is_uuid_str(s):
            raise AvroError(f"not an RFC-4122 uuid string: {s!r}")
        _write_bytes(buf, s.encode("utf-8"))
    elif _DECIMAL_RE.match(typ):  # bytes: big-endian 2's-complement unscaled
        scale = int(_DECIMAL_RE.match(typ).group(2))
        unscaled = int(decimal.Decimal(val).scaleb(scale))
        _write_bytes(
            buf, unscaled.to_bytes(unscaled.bit_length() // 8 + 1, "big", signed=True)
        )
    else:
        raise AvroError(f"unsupported avro type {typ}")


def _decode_value(data: bytes, pos: int, typ: str):
    if typ in ("long", "int"):
        return _read_long(data, pos)
    if typ == "string":
        raw, pos = _read_bytes(data, pos)
        return raw.decode("utf-8"), pos
    if typ == "bytes":
        return _read_bytes(data, pos)
    if typ == "double":
        if pos + 8 > len(data):
            raise AvroError("double ran off the end of the block")
        return struct.unpack("<d", data[pos : pos + 8])[0], pos + 8
    if typ == "boolean":
        if pos >= len(data):
            raise AvroError("boolean ran off the end of the block")
        return bool(data[pos]), pos + 1
    if typ == "date":
        days, pos = _read_long(data, pos)
        return _EPOCH_DATE + datetime.timedelta(days=days), pos
    if typ == "timestamp-micros":
        us, pos = _read_long(data, pos)
        return _EPOCH_TS + datetime.timedelta(microseconds=us), pos
    if typ == "uuid":
        raw, pos = _read_bytes(data, pos)
        s = raw.decode("utf-8")
        if not _is_uuid_str(s):
            raise AvroError(f"uuid logical type holds a non-uuid string: {s!r}")
        return s, pos
    m = _DECIMAL_RE.match(typ)
    if m:
        raw, pos = _read_bytes(data, pos)
        if not raw:
            raise AvroError("decimal with empty unscaled bytes")
        unscaled = int.from_bytes(raw, "big", signed=True)
        return decimal.Decimal(unscaled).scaleb(-int(m.group(2))), pos
    raise AvroError(f"unsupported avro type {typ}")


# fields: list of (name, type_spec, nullable) — type_spec is a
# primitive name or a logical-type spec string (see block above)

_LOGICAL_JSON = {
    "date": {"type": "int", "logicalType": "date"},
    "timestamp-micros": {"type": "long", "logicalType": "timestamp-micros"},
    "uuid": {"type": "string", "logicalType": "uuid"},
}


def _type_json(spec: str):
    if spec in _LOGICAL_JSON:
        return dict(_LOGICAL_JSON[spec])
    m = _DECIMAL_RE.match(spec)
    if m:
        return {
            "type": "bytes",
            "logicalType": "decimal",
            "precision": int(m.group(1)),
            "scale": int(m.group(2)),
        }
    return spec


def _type_spec(t) -> str:
    """JSON type (possibly annotated) → internal spec string."""
    if isinstance(t, str):
        return t
    if isinstance(t, dict):
        lt = t.get("logicalType")
        base = t.get("type")
        if lt == "date" and base == "int":
            return "date"
        if lt == "timestamp-micros" and base == "long":
            return "timestamp-micros"
        if lt == "uuid" and base == "string":
            return "uuid"
        if lt == "decimal" and base in ("bytes", "fixed"):
            return f"decimal({int(t['precision'])},{int(t.get('scale', 0))})"
        if lt is not None and isinstance(base, str):
            # unknown annotation: Avro spec says fall back to the base type
            return base
    raise AvroError(f"unsupported avro type {t}")


def _record_schema_json(name: str, fields) -> str:
    return json.dumps(
        {
            "type": "record",
            "name": name,
            "fields": [
                {
                    "name": fn,
                    "type": ["null", _type_json(ft)] if nullable else _type_json(ft),
                }
                for fn, ft, nullable in fields
            ],
        }
    )


def _parse_schema(schema_json: str):
    try:
        sch = json.loads(schema_json)
    except json.JSONDecodeError as e:
        raise AvroError(f"bad schema JSON: {e}") from e
    if sch.get("type") != "record":
        raise AvroError("only record schemas are supported")
    fields = []
    for f in sch.get("fields", []):
        t = f["type"]
        if isinstance(t, list):
            branches = [b for b in t if b != "null"]
            if len(t) != 2 or "null" not in t or len(branches) != 1:
                raise AvroError(f"unsupported union {t}")
            fields.append((f["name"], _type_spec(branches[0]), True))
        else:
            fields.append((f["name"], _type_spec(t), False))
    return sch.get("name", "record"), fields


def encode_ocf(
    records,
    fields,
    name: str = "row",
    codec: str = "null",
    block_rows: int = 1000,
    sync: bytes = _SYNC,
) -> bytes:
    """Serialize dict records into one self-contained OCF blob."""
    if codec not in ("null", "deflate"):
        raise AvroError(f"unsupported codec {codec}")
    out = bytearray(_MAGIC)
    meta = {
        "avro.schema": _record_schema_json(name, fields).encode(),
        "avro.codec": codec.encode(),
    }
    _write_long(out, len(meta))
    for k, v in sorted(meta.items()):
        _write_bytes(out, k.encode())
        _write_bytes(out, v)
    _write_long(out, 0)  # end of metadata map
    out += sync
    for start in range(0, len(records), block_rows):
        chunk = records[start : start + block_rows]
        body = bytearray()
        for rec in chunk:
            for fn, ft, nullable in fields:
                val = rec.get(fn)
                if nullable:
                    if val is None:
                        _write_long(body, 0)  # union branch: null
                        continue
                    _write_long(body, 1)
                _encode_value(body, val, ft)
        payload = bytes(body)
        if codec == "deflate":
            co = zlib.compressobj(9, zlib.DEFLATED, -15)
            payload = co.compress(payload) + co.flush()
        _write_long(out, len(chunk))
        _write_bytes(out, payload)
        out += sync
    return bytes(out)


def decode_ocf(blob: bytes):
    """Parse one OCF blob → (field specs, list of dict records)."""
    if blob[:4] != _MAGIC:
        raise AvroError("not an Avro OCF (bad magic)")
    pos = 4
    meta: dict[str, bytes] = {}
    while True:
        n, pos = _read_long(blob, pos)
        if n == 0:
            break
        if n < 0:  # negative count: a byte size precedes the entries
            _, pos = _read_long(blob, pos)
            n = -n
        for _ in range(n):
            k, pos = _read_bytes(blob, pos)
            v, pos = _read_bytes(blob, pos)
            meta[k.decode()] = v
    if "avro.schema" not in meta:
        raise AvroError("OCF missing avro.schema")
    codec = meta.get("avro.codec", b"null").decode()
    if codec not in ("null", "deflate"):
        raise AvroError(f"unsupported codec {codec}")
    _, fields = _parse_schema(meta["avro.schema"].decode())
    sync = blob[pos : pos + 16]
    pos += 16
    records = []
    while pos < len(blob):
        n_rows, pos = _read_long(blob, pos)
        payload, pos = _read_bytes(blob, pos)
        if blob[pos : pos + 16] != sync:
            raise AvroError("sync marker mismatch (corrupt block boundary)")
        pos += 16
        if codec == "deflate":
            payload = zlib.decompress(payload, -15)
        bp = 0
        for _ in range(n_rows):
            rec = {}
            for fn, ft, nullable in fields:
                if nullable:
                    branch, bp = _read_long(payload, bp)
                    if branch == 0:
                        rec[fn] = None
                        continue
                    if branch != 1:
                        raise AvroError(f"bad union branch {branch}")
                rec[fn], bp = _decode_value(payload, bp, ft)
            records.append(rec)
        if bp != len(payload):
            raise AvroError("block decoded short/long of its payload")
    return fields, records


# ---------------------------------------------------------------------------
# two-phase "avro_dir" sink (VERDICT r11 #5): the estate WRITE goes
# through sources/pysink.DirWriter's executor-temp-file +
# driver-rename-commit protocol — each task encodes one self-contained
# OCF ON THE EXECUTOR and returns only the temp name + counts in its
# commit message; the driver's commit renames temp → part files and
# rewrites the _SUCCESS manifest; a crashed job leaves only temp
# files. No blob ever rides to the driver.
# ---------------------------------------------------------------------------

_SPARK_TO_AVRO = {
    "bigint": "long",
    "int": "int",
    "double": "double",
    "string": "string",
    "boolean": "boolean",
    "binary": "bytes",
    "date": "date",
    "timestamp": "timestamp-micros",
    # parquet naive timestamps surface as NTZ in Spark 4 — same
    # micros-since-epoch wire encoding, wall-clock semantics
    "timestamp_ntz": "timestamp-micros",
}


def _avro_fields_from_spark(schema, logical_overrides=None):
    """Spark StructType → [(name, avro type spec, nullable)].
    decimal(p,s) maps through verbatim; ``logical_overrides`` forces a
    column onto a logical spec (e.g. a uuid-formatted string column)."""
    overrides = logical_overrides or {}
    fields = []
    for f in schema.fields:
        ss = f.dataType.simpleString()
        if f.name in overrides:
            spec = overrides[f.name]
        elif _DECIMAL_RE.match(ss):
            spec = ss
        elif ss in _SPARK_TO_AVRO:
            spec = _SPARK_TO_AVRO[ss]
        else:
            raise AvroError(f"no avro mapping for spark type {ss} ({f.name})")
        fields.append((f.name, spec, True))
    return fields


def _make_avro_dir_datasource():
    """Build the DataSource class lazily (pyspark.sql.datasource import
    kept out of module import time)."""
    from pyspark.sql.datasource import DataSource

    from .pysink import DirWriter

    class AvroDirWriter(DirWriter):
        ext = "avro"

        def __init__(self, options, schema, overwrite):
            super().__init__(options, overwrite)
            self.codec = options.get("codec", "null")
            self.alternate_col = options.get("alternate_col")
            self.rec_name = options.get("name", "row")
            overrides = {
                k[len("logical.") :]: v
                for k, v in options.items()
                if k.startswith("logical.")
            }
            self.fields = _avro_fields_from_spark(schema, overrides)

        def _pick_codec(self, records) -> str:
            if self.codec != "alternate":
                return self.codec
            # deterministic per-partition alternation: parity of the
            # MIN key in the partition (row order within a partition
            # is not guaranteed; the min is)
            col = self.alternate_col
            keys = [int(r[col]) for r in records if r.get(col) is not None] if col else []
            if not keys:
                return "null"
            return "deflate" if min(keys) % 2 else "null"

        def encode(self, rows, fh) -> int:
            records = [row.asDict() for row in rows]
            if records:
                fh.write(
                    encode_ocf(
                        records,
                        self.fields,
                        name=self.rec_name,
                        codec=self._pick_codec(records),
                    )
                )
            return len(records)

    class AvroDirDataSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "avro_dir"

        def writer(self, schema, overwrite):
            return AvroDirWriter(self.options, schema, overwrite)

    return AvroDirDataSource


def register_sink(spark: SparkSession) -> None:
    spark.dataSource.register(_make_avro_dir_datasource())


def supplier_avro_dir(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the supplier table as a multi-file .avro estate
    (one OCF per partition, codec alternating null/deflate), cached by
    source content (tables.side_table). Written through the
    two-phase avro_dir sink (VERDICT r11 #5): executors encode + write
    temp files, the driver's commit renames them — no blob collect."""

    def build(d: str) -> None:
        register_sink(spark)
        df = load_table(spark, sf_dir, "supplier").repartition(4, "s_suppkey")
        (
            df.write.format("avro_dir")
            .option("path", d)
            .option("codec", "alternate")
            .option("alternate_col", "s_suppkey")
            .option("name", "supplier")
            .mode("append")
            .save()
        )

    return side_table(spark, sf_dir, ["supplier"], "supplier-avro", build)


_ORACLE_AVRO = """
SELECT s_suppkey, s_name, s_nationkey, ROUND(s_acctbal, 2) AS acctbal
FROM supplier
WHERE s_nationkey >= 13
ORDER BY s_suppkey
"""


@query("q_scan_avro", oracle=_ORACLE_AVRO)
def scan_avro(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed roundtrip of the supplier table through a multi-file Avro
    OCF estate: distributed per-file decode (binaryFile scan →
    mapInPandas over the pure-Python OCF reader — files are the
    parallelism unit, exactly a real Avro estate's shape), value-
    checked against the original parquet. deflate and null block
    codecs both on the read path (alternating per file)."""
    import pandas as pd
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    d = supplier_avro_dir(spark, sf_dir)
    out_schema = StructType(
        [
            StructField("s_suppkey", LongType()),
            StructField("s_name", StringType()),
            StructField("s_nationkey", LongType()),
            StructField("acctbal", DoubleType()),
        ]
    )

    def decode_files(batches):
        for pdf in batches:
            rows = []
            for content in pdf["content"]:
                _, recs = decode_ocf(bytes(content))
                for r in recs:
                    rows.append(
                        (
                            r["s_suppkey"],
                            r["s_name"],
                            r["s_nationkey"],
                            r["s_acctbal"],
                        )
                    )
            yield pd.DataFrame(rows, columns=[f.name for f in out_schema.fields])

    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.avro")
        .load(d)
        .select("content")
    )
    return (
        files.mapInPandas(decode_files, out_schema)
        .filter(F.col("s_nationkey") >= 13)
        # round SPARK-side so the HALF_UP semantics match the oracle's
        # ROUND (python's round() is banker's and would diverge)
        .withColumn("acctbal", F.round("acctbal", 2))
        # decode once (optimization r13, guide §2.4): the final sort's
        # range partitioner re-executes its child to sample bounds, so
        # without this cut every OCF file decoded TWICE per action; the
        # sort key only exists post-decode (files are the parallelism
        # unit), so materializing the small typed rows is the fix
        .localCheckpoint(eager=False)
        .orderBy("s_suppkey")
    )


# ---------------------------------------------------------------------------
# logical-typed estate (VERDICT r11 #4): orders roundtripped through
# decimal(18,2) / date / timestamp-micros / uuid logical columns —
# the annotations real OCF estates carry (Kafka Connect, Sqoop,
# Debezium all emit decimal-as-bytes + date/timestamp-micros).
# ---------------------------------------------------------------------------


def orders_avro_logical_dir(spark: SparkSession, sf_dir: str) -> str:
    """Materialize a logically-typed orders estate: o_totalprice
    re-typed decimal(18,2) (bytes, big-endian unscaled), o_orderdate
    as BOTH date (int days) and timestamp-micros (long), plus a
    deterministic RFC-4122-shaped uuid string column. Written through
    the two-phase avro_dir sink; cached by source content and session
    timezone (tables.side_table)."""

    def build(d: str) -> None:
        register_sink(spark)
        h = F.md5(F.col("o_orderkey").cast("string"))
        uuid_col = F.concat_ws(
            "-",
            F.substring(h, 1, 8),
            F.substring(h, 9, 4),
            F.substring(h, 13, 4),
            F.substring(h, 17, 4),
            F.substring(h, 21, 12),
        )
        df = (
            load_table(spark, sf_dir, "orders")
            .select(
                "o_orderkey",
                F.col("o_totalprice").cast("decimal(18,2)").alias("o_total"),
                F.col("o_orderdate").cast("date").alias("o_date"),
                F.col("o_orderdate").alias("o_ts"),
                uuid_col.alias("o_uuid"),
            )
            .repartition(4, "o_orderkey")
        )
        (
            df.write.format("avro_dir")
            .option("path", d)
            .option("codec", "alternate")
            .option("alternate_col", "o_orderkey")
            .option("logical.o_uuid", "uuid")
            .option("name", "orders_logical")
            .mode("append")
            .save()
        )

    return side_table(spark, sf_dir, ["orders"], "orders-avro-logical", build)


_ORACLE_AVRO_LOGICAL = """
WITH h AS (
    SELECT o_orderkey, o_totalprice, o_orderdate,
           md5(CAST(o_orderkey AS VARCHAR)) AS hx
    FROM orders
    WHERE o_orderkey % 5 = 0
)
SELECT o_orderkey,
       CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS total_cents,
       CAST(o_orderdate AS DATE) AS o_date,
       o_orderdate AS o_ts,
       substr(hx, 1, 8) || '-' || substr(hx, 9, 4) || '-' || substr(hx, 13, 4)
           || '-' || substr(hx, 17, 4) || '-' || substr(hx, 21, 12) AS o_uuid
FROM h
ORDER BY o_orderkey
"""


@query("q_scan_avro_logical", oracle=_ORACLE_AVRO_LOGICAL)
def scan_avro_logical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed roundtrip of orders through an OCF estate carrying the
    four ubiquitous Avro LOGICAL types (spec "Logical Types"):
    decimal(18,2) as big-endian-unscaled bytes (emitted as exact
    integer cents — dtype-stable for the driver hash), date as
    int-days, timestamp-micros as long, uuid as annotated string.
    Write side is the two-phase avro_dir sink (executor temp files +
    driver rename-commit); read side is the binaryFile → per-file
    decode path, files as the parallelism unit."""
    import pandas as pd
    from pyspark.sql.types import (
        DateType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampNTZType,
    )

    d = orders_avro_logical_dir(spark, sf_dir)
    out_schema = StructType(
        [
            StructField("o_orderkey", LongType()),
            StructField("total_cents", LongType()),
            StructField("o_date", DateType()),
            StructField("o_ts", TimestampNTZType()),
            StructField("o_uuid", StringType()),
        ]
    )

    def decode_files(batches):
        for pdf in batches:
            rows = []
            for content in pdf["content"]:
                _, recs = decode_ocf(bytes(content))
                for r in recs:
                    total = r["o_total"]
                    rows.append(
                        (
                            r["o_orderkey"],
                            # exact cents; None passes through (null slice)
                            None if total is None else int(total.scaleb(2)),
                            r["o_date"],
                            r["o_ts"],
                            r["o_uuid"],
                        )
                    )
            yield pd.DataFrame(rows, columns=[f.name for f in out_schema.fields])

    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.avro")
        .load(d)
        .select("content")
    )
    return (
        files.mapInPandas(decode_files, out_schema)
        .filter(F.col("o_orderkey") % 5 == 0)
        # decode once before the sort (same range-sampling
        # double-execution cut as q_scan_avro above)
        .localCheckpoint(eager=False)
        .orderBy("o_orderkey")
    )
