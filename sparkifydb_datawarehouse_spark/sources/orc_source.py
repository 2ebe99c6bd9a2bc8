"""ORC source connector (B1) — the second columnar warehouse format.

ORC and Parquet are interchangeable from the DataFrame API's point of
view (`spark.read.orc`); both get column pruning, predicate pushdown
into stripe/row-group statistics, and vectorized reads. The engine's
rule: Parquet is the house format; ORC support exists for ingesting
warehouses that standardized on it (classic Hive estates).

The registered query materializes the fixture supplier table to ORC
once per sf_dir, reads it back with a pushed-down filter, and is
oracle-checked against the ORIGINAL parquet — proving the roundtrip
loses nothing. A plan assertion in tests/test_sources.py verifies the
filter actually reaches the ORC scan (PushedFilters), not a
post-scan Filter-only plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..tables import load_table, side_table


def supplier_orc_dir(spark: SparkSession, sf_dir: str) -> str:
    def build(d: str) -> None:
        load_table(spark, sf_dir, "supplier").write.mode("overwrite").orc(d)

    return side_table(spark, sf_dir, ["supplier"], "supplier-orc", build)


_ORACLE_ORC = """
SELECT s_suppkey, s_name, s_nationkey, ROUND(s_acctbal, 2) AS acctbal
FROM supplier
WHERE s_acctbal > 0
ORDER BY s_suppkey
"""


@query("q_scan_orc", oracle=_ORACLE_ORC)
def scan_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = supplier_orc_dir(spark, sf_dir)
    return (
        spark.read.orc(d)
        .filter(F.col("s_acctbal") > 0)
        .select(
            "s_suppkey",
            "s_name",
            "s_nationkey",
            F.round("s_acctbal", 2).alias("acctbal"),
        )
        .orderBy("s_suppkey")
    )
