"""CSV source connector (B1) — explicit-schema CSV scans.

Same rule as JSON: never infer schema on production loads (inference
is an extra full pass). The registered query materializes the fixture
customer table to CSV once per source content (tables.side_table),
then reads it back — exercising write+read of the format end to end;
the oracle reads the same CSV file with DuckDB's read_csv.

Scale notes: CSV is splittable only without multi-line quoted fields;
it has no column pruning, no predicate pushdown, no statistics — the
engine treats it as an ingest format to be converted to Parquet at
the first opportunity, never a warehouse format.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..registry import query
from ..tables import load_table, side_table

CUSTOMER_CSV_SCHEMA = StructType(
    [
        StructField("c_custkey", LongType()),
        StructField("c_name", StringType()),
        StructField("c_nationkey", IntegerType()),
        StructField("c_acctbal", DoubleType()),
        StructField("c_mktsegment", StringType()),
    ]
)


def customer_csv_path(spark: SparkSession, sf_dir: str) -> str:
    """Materialize customer as a single CSV file (header, deterministic
    row order) once per source content; return the file path."""

    def build(d: str) -> None:
        (
            load_table(spark, sf_dir, "customer")
            .orderBy("c_custkey")
            .coalesce(1)
            .write.mode("overwrite")
            .option("header", True)
            .csv(d)
        )

    d = side_table(spark, sf_dir, ["customer"], "customer-csv", build)
    (part,) = [f for f in os.listdir(d) if f.startswith("part-") and f.endswith(".csv")]
    return os.path.join(d, part)


# The oracle is the ORIGINAL parquet table: a correct CSV write+read
# roundtrip must reproduce it exactly (Spark CSV emits shortest-
# roundtrip double representations, so values survive bit-for-bit).
_ORACLE_CSV = """
SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
FROM customer
ORDER BY c_custkey
"""


@query("q_scan_csv", oracle=_ORACLE_CSV)
def scan_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = customer_csv_path(spark, sf_dir)
    return (
        spark.read.schema(CUSTOMER_CSV_SCHEMA)
        .option("header", True)
        .csv(path)
        .orderBy("c_custkey")
    )
