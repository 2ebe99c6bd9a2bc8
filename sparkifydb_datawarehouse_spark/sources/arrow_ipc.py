"""Arrow IPC / Feather V2 source + sink (B1, round 12; VERDICT r11
#3). The Arrow IPC *file* format (a.k.a. Feather V2 — magic
``ARROW1`` at both ends, framed record batches, a footer with the
schema and block index; public spec at arrow.apache.org) is the
interchange format ML feature stores and dataframe tooling hand
around; ``pyarrow`` (16.1.0, installed) implements it natively, so —
unlike the hand-rolled Avro/XML decoders next door — this connector's
job is the DISTRIBUTION shape, not the byte-level codec:

- WRITE: a two-phase ``arrow_ipc_dir`` Python DataSource (the
  sources/pysink.DirWriter protocol — executor temp files, driver
  rename-commit, ``_SUCCESS`` manifest). Each task serializes its
  partition as one self-contained IPC file via ``pyarrow.ipc``;
  compression (lz4 / zstd / none) alternates per partition the same
  way the Avro estate alternates codecs, and one string column is
  DICTIONARY-ENCODED — the Arrow feature parquet interchange loses.
- READ: ``binaryFile`` scan over ``*.arrow`` → per-file
  ``pa.ipc.open_file`` decode in mapInPandas — files are the
  parallelism unit, only the projected typed columns leave the
  decoder. At 100 TB this is one task per IPC file, embarrassingly
  parallel, no shuffle until the query asks for one.

Avro (avro_source.py) is the row-oriented ingest member of B1; Arrow
IPC is the columnar one. Ingest posture is shared: parse once, land
Parquet.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..tables import load_table, side_table


class ArrowIpcError(ValueError):
    pass


_CODEC_CYCLE = ("lz4", "zstd", None)  # per-partition compression rotation


def _make_arrow_dir_datasource():
    """Two-phase Arrow-IPC directory sink (pysink.DirWriter)."""
    from pyspark.sql.datasource import DataSource

    from .pysink import DirWriter

    class ArrowDirWriter(DirWriter):
        def __init__(self, options, schema, overwrite):
            super().__init__(options, overwrite)
            self.dict_cols = [
                c for c in options.get("dictionary_cols", "").split(",") if c
            ]
            self.alternate_col = options.get("alternate_col")
            # "file" (Feather V2: ARROW1 magic + footer, random access)
            # or "stream" (no footer — the Flight/Kafka wire framing)
            self.ipc_format = options.get("ipc_format", "file")
            if self.ipc_format not in ("file", "stream"):
                raise ArrowIpcError(f"unknown ipc_format {self.ipc_format}")
            self.ext = "arrow" if self.ipc_format == "file" else "arrows"
            self.schema = schema

        def encode(self, rows, fh) -> int:
            import pyarrow as pa
            import pyarrow.ipc as ipc

            records = [row.asDict() for row in rows]
            if not records:
                return 0
            # ADVICE r12 #4: build the arrow schema from the DECLARED
            # Spark schema instead of letting from_pylist infer per
            # partition — an all-null column would otherwise infer
            # null-typed, producing schema skew across estate files
            # and a read-side failure.
            from pyspark.sql.pandas.types import to_arrow_schema

            table = pa.Table.from_pylist(records, schema=to_arrow_schema(self.schema))
            for c in self.dict_cols:
                idx = table.schema.get_field_index(c)
                table = table.set_column(
                    idx, c, table.column(c).combine_chunks().dictionary_encode()
                )
            # deterministic per-partition codec: min key mod cycle len
            codec = None
            if self.alternate_col:
                keys = [
                    int(r[self.alternate_col])
                    for r in records
                    if r.get(self.alternate_col) is not None
                ]
                if keys:
                    codec = _CODEC_CYCLE[min(keys) % len(_CODEC_CYCLE)]
            opts = ipc.IpcWriteOptions(compression=codec)
            new_writer = ipc.new_file if self.ipc_format == "file" else ipc.new_stream
            with new_writer(fh, table.schema, options=opts) as w:
                w.write_table(table)
            return len(records)

    class ArrowDirDataSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "arrow_ipc_dir"

        def writer(self, schema, overwrite):
            return ArrowDirWriter(self.options, schema, overwrite)

    return ArrowDirDataSource


def register_sink(spark: SparkSession) -> None:
    spark.dataSource.register(_make_arrow_dir_datasource())


def lineitem_arrow_dir(spark: SparkSession, sf_dir: str) -> str:
    """Materialize a 5-column lineitem projection as a multi-file
    Arrow IPC estate (one file per partition; lz4/zstd/uncompressed
    rotating; l_returnflag dictionary-encoded), cached by source
    content and session timezone (tables.side_table)."""

    def build(d: str) -> None:
        register_sink(spark)
        import math

        df = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey",
            "l_linenumber",
            "l_quantity",
            "l_returnflag",
            "l_shipdate",
        )
        # files are the read-side parallelism unit: size the estate at
        # ~500k rows/file (min 4) so a 100x corpus fans out over ~100
        # tasks instead of 4 giant files (r12 probe note, SCALING.md)
        n_files = max(4, math.ceil(df.count() / 500_000))
        df = df.repartition(n_files, "l_orderkey")
        (
            df.write.format("arrow_ipc_dir")
            .option("path", d)
            .option("alternate_col", "l_orderkey")
            .option("dictionary_cols", "l_returnflag")
            .mode("append")
            .save()
        )

    return side_table(spark, sf_dir, ["lineitem"], "lineitem-arrow-file", build)


_ORACLE_ARROW = """
SELECT l_orderkey,
       CAST(l_linenumber AS INTEGER) AS l_linenumber,
       l_quantity,
       l_returnflag,
       l_shipdate
FROM lineitem
WHERE l_quantity >= 45
ORDER BY l_orderkey, l_linenumber
"""


@query("q_scan_arrow_ipc", oracle=_ORACLE_ARROW)
def scan_arrow_ipc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed roundtrip of lineitem through a multi-file Arrow IPC /
    Feather V2 estate: distributed per-file decode (binaryFile scan →
    ``pa.ipc.open_file`` in mapInPandas), lz4 + zstd + uncompressed
    files all on the read path, a dictionary-encoded column decoded
    back to plain strings, value-checked against the original
    parquet. The write side is the two-phase arrow_ipc_dir sink."""
    import pandas as pd
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampNTZType,
    )

    d = lineitem_arrow_dir(spark, sf_dir)
    out_schema = StructType(
        [
            StructField("l_orderkey", LongType()),
            StructField("l_linenumber", IntegerType()),
            StructField("l_quantity", DoubleType()),
            StructField("l_returnflag", StringType()),
            StructField("l_shipdate", TimestampNTZType()),
        ]
    )
    names = [f.name for f in out_schema.fields]

    def decode_files(batches):
        import pyarrow as pa
        import pyarrow.ipc as ipc

        for pdf in batches:
            for content in pdf["content"]:
                reader = ipc.open_file(pa.BufferReader(bytes(content)))
                table = reader.read_all()
                flag = table.column("l_returnflag")
                if not pa.types.is_dictionary(flag.type):
                    raise ArrowIpcError(
                        "estate contract violated: l_returnflag not "
                        "dictionary-encoded"
                    )
                out = table.to_pandas()
                yield out[names]

    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.arrow")
        .load(d)
        .select("content")
    )
    return (
        files.mapInPandas(decode_files, out_schema)
        .filter(F.col("l_quantity") >= 45)
        # decode once (optimization r13, guide §2.4): the final sort's
        # range partitioner re-executes its child to sample bounds —
        # without this cut every IPC file decoded TWICE per action
        .localCheckpoint(eager=False)
        .orderBy("l_orderkey", "l_linenumber")
    )


# ---------------------------------------------------------------------------
# Arrow IPC STREAM format (round 12, second half): the footer-less
# framing Flight / Kafka-style transports put on the wire — schema
# message, dictionary batches, record batches, EOS; no random access,
# no ARROW1 magic. Same spec page as the file format; a connector
# claiming Arrow interop meets both.
# ---------------------------------------------------------------------------


def lineitem_arrow_stream_dir(spark: SparkSession, sf_dir: str) -> str:
    """The stream-format twin of lineitem_arrow_dir (same 5-column
    projection, codec rotation and dictionary column; `.arrows`
    extension, ipc.new_stream framing)."""

    def build(d: str) -> None:
        import math

        register_sink(spark)
        df = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey",
            "l_linenumber",
            "l_quantity",
            "l_returnflag",
            "l_shipdate",
        )
        n_files = max(4, math.ceil(df.count() / 500_000))
        df = df.repartition(n_files, "l_orderkey")
        (
            df.write.format("arrow_ipc_dir")
            .option("path", d)
            .option("ipc_format", "stream")
            .option("alternate_col", "l_orderkey")
            .option("dictionary_cols", "l_returnflag")
            .mode("append")
            .save()
        )

    return side_table(spark, sf_dir, ["lineitem"], "lineitem-arrow-stream", build)


_ORACLE_ARROW_STREAM = """
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       ROUND(SUM(l_quantity), 2) AS sum_qty,
       CAST(MIN(l_orderkey) AS BIGINT) AS first_order
FROM lineitem
WHERE l_quantity <= 5
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@query("q_scan_arrow_stream", oracle=_ORACLE_ARROW_STREAM)
def scan_arrow_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregation over the STREAM-format Arrow estate: per-file
    ``pa.ipc.open_stream`` decode (schema + dictionary + record
    batches, EOS-terminated, no footer) feeding a plain groupBy —
    proving the wire framing, the dictionary decode, and that a
    downstream agg composes with the connector. Files remain the
    parallelism unit."""
    import pandas as pd
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampNTZType,
    )

    d = lineitem_arrow_stream_dir(spark, sf_dir)
    out_schema = StructType(
        [
            StructField("l_orderkey", LongType()),
            StructField("l_linenumber", IntegerType()),
            StructField("l_quantity", DoubleType()),
            StructField("l_returnflag", StringType()),
            StructField("l_shipdate", TimestampNTZType()),
        ]
    )
    names = [f.name for f in out_schema.fields]

    def decode_files(batches):
        import pyarrow as pa
        import pyarrow.ipc as ipc

        for pdf in batches:
            for content in pdf["content"]:
                blob = bytes(content)
                if blob[:6] == b"ARROW1":
                    raise ArrowIpcError(
                        "estate contract violated: got FILE-format magic in "
                        "a stream estate"
                    )
                table = ipc.open_stream(pa.BufferReader(blob)).read_all()
                if not pa.types.is_dictionary(table.column("l_returnflag").type):
                    raise ArrowIpcError(
                        "estate contract violated: l_returnflag not "
                        "dictionary-encoded"
                    )
                yield table.to_pandas()[names]

    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.arrows")
        .load(d)
        .select("content")
    )
    return (
        files.mapInPandas(decode_files, out_schema)
        .filter(F.col("l_quantity") <= 5)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.min("l_orderkey").alias("first_order"),
        )
        .orderBy("l_returnflag")
    )
