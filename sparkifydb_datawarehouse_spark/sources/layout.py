"""Data-layout helpers: z-order (Morton-curve) clustering for
multi-dimensional data skipping.

The reference's author explicitly opted out of physical tuning (no
DISTKEY/SORTKEY anywhere in /root/reference/sql_queries.py:19-97 —
Redshift AUTO). At 100 TB that choice is the difference between
scanning everything and scanning 1%: parquet readers prune row groups
whose min/max statistics exclude the predicate, but a single-column
sort only tightens ONE column's statistics. Interleaving the bits of
two (or more) key columns into a Morton code and range-partitioning +
sorting by it tightens min/max on ALL interleaved columns at once, so
filters on any of them skip row groups.

Everything here is plain DataFrame expressions (codegen-friendly
shifts/ORs) — no UDFs, no collect beyond one tiny min/max agg row.
"""

from __future__ import annotations

import os
import uuid
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..tables import load_table, side_table

DEFAULT_BITS = 16


def _scale_to_grid(col: Column, cmin: Column, cmax: Column, bits: int) -> Column:
    """Map a numeric column onto [0, 2^bits) by min/max scaling.

    Min/max scaling (vs exact rank) keeps this a one-pass, shuffle-free
    transform; heavy skew would want approx-quantile breakpoints
    instead, same interleave downstream.
    """
    span = F.when(cmax > cmin, cmax - cmin).otherwise(F.lit(1.0))
    frac = (col.cast("double") - cmin) / span
    cells = F.lit((1 << bits) - 1)
    return F.least(
        cells, F.greatest(F.lit(0), F.floor(frac * (1 << bits)).cast("long"))
    )


def morton_interleave(cols: list[Column], bits: int = DEFAULT_BITS) -> Column:
    """Bit-interleave pre-scaled integer columns into one Morton code.

    With k columns at b bits each the code is k*b bits; keep k*b <= 63.
    The expression is a flat OR of shifted single-bit extracts — wide
    but branch-free, and whole-stage codegen compiles it to straight
    JVM shifts.
    """
    if len(cols) * bits > 63:
        raise ValueError(f"{len(cols)} cols x {bits} bits exceeds a long")
    parts = []
    for i, c in enumerate(cols):
        for b in range(bits):
            # bit b of column i lands at position b*k + i
            parts.append(
                F.shiftleft(
                    F.shiftright(c, b).bitwiseAND(F.lit(1)), b * len(cols) + i
                )
            )
    return reduce(lambda a, x: a.bitwiseOR(x), parts)


def zorder_by(df: DataFrame, cols: list[str], bits: int = DEFAULT_BITS,
              num_partitions: int | None = None) -> DataFrame:
    """Return df re-laid-out along the z-curve of `cols`.

    One tiny agg collects global min/max per column (a scan with
    column pruning — at 100 TB this reads footer stats in practice),
    then a single range shuffle orders the data along the curve.
    Write the result with `.write.parquet(...)`: every row group's
    min/max is tight on every z-ordered column.
    """
    stats = df.agg(
        *[F.min(c).cast("double").alias(f"__min_{c}") for c in cols],
        *[F.max(c).cast("double").alias(f"__max_{c}") for c in cols],
    ).collect()[0]
    scaled = [
        _scale_to_grid(
            F.col(c),
            F.lit(float(stats[f"__min_{c}"])),
            F.lit(float(stats[f"__max_{c}"])),
            bits,
        )
        for c in cols
    ]
    z = df.withColumn("__z", morton_interleave(scaled, bits))
    parted = (
        z.repartitionByRange(num_partitions, "__z")
        if num_partitions
        else z.repartitionByRange("__z")
    )
    return parted.sortWithinPartitions("__z").drop("__z")


# ---------------------------------------------------------------------------
# Bucketed co-located join as a REGISTERED query (the infra is proven
# shuffle-free in tests/test_sinks.py; this surfaces it on the query
# registry with a value oracle): orders and lineitem bucketed+sorted
# on the order key join with ZERO exchanges — at 100 TB, bucketing is
# the difference between shuffling the fact table on every join and
# never shuffling it at all. Each bucketed copy is a tables.side_table
# (keyed by its source table's content); a bucketed scan needs the
# bucket spec from the catalog, so each session registers the
# published directory as an external table over it.
# ---------------------------------------------------------------------------

_BUCKETS_N = 8


def _bucketed_table(spark: SparkSession, sf_dir: str, table: str, key: str) -> str:
    """Catalog name of `table` bucketed and sorted by `key`."""
    spec = f"CLUSTERED BY ({key}) SORTED BY ({key}) INTO {_BUCKETS_N} BUCKETS"

    def build(d: str) -> None:
        # bucketBy writes only through saveAsTable; an external table's
        # DROP keeps its files
        name = f"bkt_build_{uuid.uuid4().hex}"
        try:
            load_table(spark, sf_dir, table).write.bucketBy(
                _BUCKETS_N, key
            ).sortBy(key).option("path", d).saveAsTable(name)
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {name}")

    d = side_table(spark, sf_dir, [table], f"{table}-{spec}", build)
    name = "bkt_" + os.path.basename(d)
    if not spark.catalog.tableExists(name):
        ddl = load_table(spark, sf_dir, table).schema.toDDL()
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {name} ({ddl}) USING parquet {spec} "
            f"LOCATION '{d}'"
        )
    return name


_ORACLE_BUCKETED_JOIN = """
SELECT o.o_orderkey AS order_key,
       o.o_orderstatus AS order_status,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       ROUND(SUM(l.l_extendedprice), 2) AS total_price
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
GROUP BY o.o_orderkey, o.o_orderstatus
ORDER BY order_key
"""


@query("q_join_bucketed", oracle=_ORACLE_BUCKETED_JOIN)
def join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join + per-order aggregate over the bucketed pair. The bucketed
    layout satisfies BOTH the join distribution and the groupBy
    distribution (group keys start with the bucket key), so the whole
    plan runs exchange-free up to the output sort — plan-gated in
    tests/test_plan_quality.py."""
    o = spark.table(_bucketed_table(spark, sf_dir, "orders", "o_orderkey"))
    li = spark.table(_bucketed_table(spark, sf_dir, "lineitem", "l_orderkey"))
    return (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy(
            F.col("o_orderkey").alias("order_key"),
            F.col("o_orderstatus").alias("order_status"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.sum("l_extendedprice"), 2).alias("total_price"),
        )
        .orderBy("order_key")
    )


# ---------------------------------------------------------------------------
# Dynamic partition pruning (round 4): the last §4-optimizer behavior
# without a registered demo. The fact side is written PARTITIONED BY
# its dim key; the dim filter is on an ATTRIBUTE (n_name), so the
# qualifying key set is only known at run time — Catalyst injects a
# dynamicpruningexpression subquery into the fact scan's
# PartitionFilters (reusing the broadcast), and the scan reads ONLY
# the matching partition directories. At 100 TB partition pruning is
# the difference between scanning 2 of 25 nation partitions and
# scanning the table; the plan gate in tests/test_plan_quality.py
# asserts the dynamicpruning subquery is actually in the scan. The
# partitioned copy is a tables.side_table read by path: partition
# discovery, not a catalog entry, is all DPP needs.
# ---------------------------------------------------------------------------


def _partitioned_customer(spark: SparkSession, sf_dir: str) -> str:
    """Directory of the customer table partitioned by c_nationkey."""

    def build(d: str) -> None:
        load_table(spark, sf_dir, "customer").write.partitionBy(
            "c_nationkey"
        ).parquet(d)

    return side_table(spark, sf_dir, ["customer"], "customer-by-nationkey", build)


_ORACLE_DPP = """
SELECT n.n_name AS nation_name,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       ROUND(SUM(c.c_acctbal), 2) AS total_balance
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE n.n_name IN ('NATION_7', 'NATION_19')
GROUP BY n.n_name
ORDER BY nation_name
"""


@query("q_join_partition_pruned", oracle=_ORACLE_DPP)
def join_partition_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the source schema keeps c_nationkey's type (partition discovery
    # would infer int), and an empty copy has no footer to infer from
    schema = load_table(spark, sf_dir, "customer").schema
    c = spark.read.schema(schema).parquet(_partitioned_customer(spark, sf_dir))
    n = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_7", "NATION_19")
    )
    return (
        c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy(F.col("n_name").alias("nation_name"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_balance"),
        )
        .orderBy("nation_name")
    )
