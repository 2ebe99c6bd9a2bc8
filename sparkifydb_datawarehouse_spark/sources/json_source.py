"""JSON-lines source connector (B1) — the reference's native ingest
format (Redshift COPY FROM s3 JSON, /root/reference/sql_queries.py:102-114).

The Sparkify replica (pipelines/sparkify.py) already exercises
schema-mapped JSON ingest; this module proves the generic
write+read roundtrip: any warehouse table can be exported to
JSON-lines and re-ingested losslessly given an explicit schema.

Semantics that matter at 100 TB:
- ALWAYS pass an explicit schema on read. Schema inference runs a
  full extra pass over the data (doubling scan cost) and can differ
  between samples; the engine treats JSON schema the way the
  reference treats its JSONPaths file — declared, not guessed.
- JSON scans get column pruning but NO predicate pushdown (the codec
  is row-oriented text); filters run post-parse. JSON is therefore an
  ingest format here, never the house analytics format — convert to
  parquet on arrival, as `entry()` does.
- Timestamps roundtrip via ISO-8601 strings (`timestampFormat`
  default); cast back on read keeps microsecond precision.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..tables import load_table, side_table


def orders_json_dir(spark: SparkSession, sf_dir: str) -> str:
    def build(d: str) -> None:
        load_table(spark, sf_dir, "orders").write.mode("overwrite").json(d)

    return side_table(spark, sf_dir, ["orders"], "orders-json", build)


_ORACLE_JSON = """
SELECT o_orderkey, o_custkey, o_orderstatus,
       ROUND(o_totalprice, 2) AS total_price, o_orderdate
FROM orders
WHERE o_orderstatus = 'F'
ORDER BY o_orderkey
"""


@query("q_scan_json", oracle=_ORACLE_JSON)
def scan_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = orders_json_dir(spark, sf_dir)
    schema = load_table(spark, sf_dir, "orders").schema
    return (
        spark.read.schema(schema).json(d)
        .filter(F.col("o_orderstatus") == "F")
        .select(
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            F.round("o_totalprice", 2).alias("total_price"),
            "o_orderdate",
        )
        .orderBy("o_orderkey")
    )
