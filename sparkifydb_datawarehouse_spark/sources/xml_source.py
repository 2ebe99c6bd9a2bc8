"""XML source connector (B1) — Spark 4's built-in XML data source
(the former spark-xml package, merged into core in 4.0; public API
`spark.read.format("xml").option("rowTag", ...)`).

XML is an INGEST format, not a house format: row-based, no column
pruning or predicate pushdown into the scan (unlike the Parquet/ORC
connectors next door), so the registered query's filter runs post-scan
by design — the point of this connector is correct typed ingestion of
XML estates (feeds, exports, SOAP-era dumps), after which you land
Parquet and never scan the XML again. That posture IS the 100 TB
design: a one-pass distributed parse (the XML reader splits multi-row
files per rowTag) into columnar storage.

The registered query materializes the fixture supplier table to XML
once per source content (tables.side_table), so a regenerated fixture
invalidates the copy — reads it back with the EXPLICIT original
schema (inference would widen ints and re-type doubles), and is
oracle-checked against the original parquet: typed
roundtrip loses nothing, including nulls (absent elements) and doubles
(Spark writes shortest-round-trip decimal strings).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..tables import load_table, side_table


def supplier_xml_dir(spark: SparkSession, sf_dir: str) -> str:
    def build(d: str) -> None:
        (
            load_table(spark, sf_dir, "supplier")
            .write.mode("overwrite")
            .format("xml")
            .option("rowTag", "supplier")
            .option("rootTag", "suppliers")
            .save(d)
        )

    return side_table(spark, sf_dir, ["supplier"], "supplier-xml", build)


_ORACLE_XML = """
SELECT s_suppkey, s_name, s_nationkey, ROUND(s_acctbal, 2) AS acctbal
FROM supplier
WHERE s_nationkey < 13
ORDER BY s_suppkey
"""


@query("q_scan_xml", oracle=_ORACLE_XML)
def scan_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = supplier_xml_dir(spark, sf_dir)
    schema = load_table(spark, sf_dir, "supplier").schema
    return (
        spark.read.format("xml")
        .option("rowTag", "supplier")
        .schema(schema)
        .load(d)
        .filter(F.col("s_nationkey") < 13)
        .select(
            "s_suppkey",
            "s_name",
            "s_nationkey",
            F.round("s_acctbal", 2).alias("acctbal"),
        )
        .orderBy("s_suppkey")
    )
