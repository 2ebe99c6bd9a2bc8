"""Text-file (log-line) source — the raw-log ingestion path: read
unstructured lines with `spark.read.text`, parse fields out with
regexp in the projection. This is how a warehouse eats legacy app
logs / syslog before they earn a columnar home; completes the format
family next to Parquet/CSV/ORC/JSON/PySource.

The registered query materializes a pipe-delimited log rendering of
the `nation` table once per sf_dir, reads it back as raw text, and
regexp-parses the columns; the oracle is the ORIGINAL parquet table —
a correct render+parse roundtrip must reproduce it exactly.

Scale notes: text is splittable by line; parsing cost is one regexp
per line in whole-stage codegen. There is no pushdown and no pruning
— like CSV, an ingest format only; the first job it feeds should be
the Parquet conversion.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..tables import load_table, side_table

_LINE_RE = r"^nation=(\d+)\|name=([^|]*)\|region=(\d+)$"


def nation_log_path(spark: SparkSession, sf_dir: str) -> str:
    def build(d: str) -> None:
        (
            load_table(spark, sf_dir, "nation")
            .orderBy("n_nationkey")
            .select(
                F.format_string(
                    "nation=%d|name=%s|region=%d",
                    F.col("n_nationkey"),
                    F.col("n_name"),
                    F.col("n_regionkey"),
                ).alias("value")
            )
            .coalesce(1)
            .write.mode("overwrite")
            .text(d)
        )

    return side_table(spark, sf_dir, ["nation"], "nation-log-text", build)


_ORACLE_TEXT = """
SELECT n_nationkey, n_name, n_regionkey
FROM nation
ORDER BY n_nationkey
"""


@query("q_scan_text", oracle=_ORACLE_TEXT)
def scan_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = nation_log_path(spark, sf_dir)
    lines = spark.read.text(path)
    return (
        lines.select(
            F.regexp_extract("value", _LINE_RE, 1).cast("int").alias("n_nationkey"),
            F.regexp_extract("value", _LINE_RE, 2).alias("n_name"),
            F.regexp_extract("value", _LINE_RE, 3).cast("int").alias("n_regionkey"),
        )
        .orderBy("n_nationkey")
    )
