"""Composite analytics queries (TPC-H-shaped) — multi-operator plans
that exercise join + filter + agg + top-k together, the way real
workloads do. These are also bench headliners: their plans are where
broadcast choice, pushdown, and AQE interact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..tables import load_table

# ---------------------------------------------------------------------------
# Shipping-priority shape (TPC-H Q3): unshipped-revenue per order for
# one customer segment, top 10 by revenue. Revenue is summed as a
# DECIMAL(18,4) per line (TPC-H defines these columns as decimals), so
# the rounded sum does not depend on the order in which Spark or DuckDB
# adds the rows, as a sum of doubles does.
# ---------------------------------------------------------------------------

_ORACLE_Q3 = """
SELECT l.l_orderkey AS order_key,
       CAST(ROUND(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18, 4))), 2)
            AS DOUBLE) AS revenue,
       strftime(o.o_orderdate, '%Y-%m-%d') AS order_date,
       o.o_orderpriority AS order_priority
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-06-01'
  AND l.l_shipdate > TIMESTAMP '1998-06-01'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, order_key
LIMIT 10
"""


@query("q_tpch_q3_shipping_priority", oracle=_ORACLE_Q3)
def tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < "1998-06-01"
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > "1998-06-01"
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("l_orderkey").alias("order_key"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            F.col("o_orderpriority").alias("order_priority"),
        )
        .agg(
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(18,4)"
                    )
                ),
                2,
            )
            .cast("double")
            .alias("revenue")
        )
        .select("order_key", "revenue", "order_date", "order_priority")
        .orderBy(F.col("revenue").desc(), F.col("order_key"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Returned-item reporting shape (TPC-H Q10): revenue lost to returns
# per customer, top 20.
# ---------------------------------------------------------------------------

_ORACLE_Q10 = """
SELECT c.c_custkey AS cust_key,
       c.c_name AS cust_name,
       n.n_name AS nation_name,
       ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS lost_revenue,
       ROUND(MAX(c.c_acctbal), 2) AS acct_bal
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE l.l_returnflag = 'R'
GROUP BY c.c_custkey, c.c_name, n.n_name
ORDER BY lost_revenue DESC, cust_key
LIMIT 20
"""


@query("q_tpch_q10_returned_items", oracle=_ORACLE_Q10)
def tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(
            F.col("c_custkey").alias("cust_key"),
            F.col("c_name").alias("cust_name"),
            F.col("n_name").alias("nation_name"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("lost_revenue"),
            F.round(F.max("c_acctbal"), 2).alias("acct_bal"),
        )
        .orderBy(F.col("lost_revenue").desc(), F.col("cust_key"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Pricing-summary shape (TPC-H Q1): full-scan aggregation with derived
# measures. The canonical "is your scan + partial agg fast" benchmark:
# one wide parquet scan, map-side partial aggregation over a 6-value
# grouping key, tiny shuffle. At 100 TB this plan is bounded purely by
# scan throughput — the shuffle carries ~6 rows per input partition.
# ---------------------------------------------------------------------------

_ORACLE_Q1 = """
SELECT l_returnflag AS return_flag,
       l_linestatus AS line_status,
       ROUND(SUM(l_quantity), 2) AS sum_qty,
       ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       ROUND(AVG(l_quantity), 2) AS avg_qty,
       ROUND(AVG(l_extendedprice), 2) AS avg_price,
       ROUND(AVG(l_discount), 4) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2001-09-01'
GROUP BY l_returnflag, l_linestatus
ORDER BY return_flag, line_status
"""


@query("q_tpch_q1_pricing_summary", oracle=_ORACLE_Q1)
def tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= "2001-09-01"
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.groupBy(
            F.col("l_returnflag").alias("return_flag"),
            F.col("l_linestatus").alias("line_status"),
        )
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("return_flag", "line_status")
    )


# ---------------------------------------------------------------------------
# Local-supplier-volume shape (TPC-H Q5): 6-table star join where the
# supplier must sit in the customer's nation. Two big-fact joins
# (lineitem⋈orders⋈customer) + two broadcast dims (nation, region) +
# one co-location predicate (c_nationkey = s_nationkey) folded into
# the supplier join.
# ---------------------------------------------------------------------------

_ORACLE_Q5 = """
SELECT n.n_name AS nation_name,
       ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY n.n_name
ORDER BY revenue DESC, nation_name
"""


@query("q_tpch_q5_local_supplier", oracle=_ORACLE_Q5)
def tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        # supplier is a small dim: broadcast; the c_nationkey=s_nationkey
        # residual rides along in the same join condition.
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("n_name").alias("nation_name"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("nation_name"))
    )


# ---------------------------------------------------------------------------
# Forecast-revenue-change shape (TPC-H Q6): pure scan + filter + scalar
# aggregate. All three predicates push into the parquet reader
# (PushedFilters); no shuffle at all — partial sums combine into one row.
# ---------------------------------------------------------------------------

_ORACLE_Q6 = """
SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue,
       COUNT(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


@query("q_tpch_q6_forecast_revenue", oracle=_ORACLE_Q6)
def tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# ---------------------------------------------------------------------------
# Large-volume-customer shape (TPC-H Q18): aggregate-then-semijoin.
# The HAVING subquery runs FIRST over lineitem alone (map-side partial
# agg on l_orderkey), and only the few hundred qualifying orderkeys
# flow into the 3-table join — the anti-pattern would be joining
# everything first and filtering last.
# ---------------------------------------------------------------------------

_ORACLE_Q18 = """
SELECT c.c_name AS cust_name,
       c.c_custkey AS cust_key,
       o.o_orderkey AS order_key,
       strftime(o.o_orderdate, '%Y-%m-%d') AS order_date,
       ROUND(o.o_totalprice, 2) AS total_price,
       ROUND(SUM(l.l_quantity), 2) AS sum_qty
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE o.o_orderkey IN (
    SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 250
)
GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
ORDER BY total_price DESC, order_key
LIMIT 20
"""


@query("q_tpch_q18_large_customers", oracle=_ORACLE_Q18)
def tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    big_orders = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("__qty"))
        .filter(F.col("__qty") > 250)
        .select(F.col("l_orderkey").alias("__big_ok"))
    )
    return (
        li.join(big_orders, li.l_orderkey == F.col("__big_ok"), "left_semi")
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_name").alias("cust_name"),
            F.col("c_custkey").alias("cust_key"),
            F.col("o_orderkey").alias("order_key"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            F.round("o_totalprice", 2).alias("total_price"),
        )
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .orderBy(F.col("total_price").desc(), F.col("order_key"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Year-over-year revenue per brand — the TPC-DS-style "compare a
# period to its predecessor" shape: a self-JOIN OVER AGGREGATES
# (brand×year rows), never over facts. One fact scan + one hash agg;
# the YoY join touches only the dimensions-sized result — the same
# altitude rule as percent-of-total (C76). LAG over (brand ORDER BY
# year) would be equivalent here; the join form is kept because it
# generalizes to non-adjacent comparisons (same quarter last year).
# ---------------------------------------------------------------------------

_ORACLE_YOY = """
WITH rev AS (
    SELECT p.p_brand AS brand,
           CAST(year(l.l_shipdate) AS BIGINT) AS yr,
           SUM(l.l_extendedprice * (1 - l.l_discount)) AS revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY brand, yr
)
SELECT cur.brand, cur.yr,
       ROUND(cur.revenue, 2) AS revenue,
       ROUND(prev.revenue, 2) AS prev_revenue,
       ROUND(cur.revenue / prev.revenue - 1, 6) AS yoy_growth
FROM rev cur JOIN rev prev
  ON cur.brand = prev.brand AND cur.yr = prev.yr + 1
ORDER BY cur.brand, cur.yr
"""


@query("q_yoy_revenue", oracle=_ORACLE_YOY)
def yoy_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    rev = (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.year("l_shipdate").cast("long").alias("yr"),
        )
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
    )
    cur, prev = rev.alias("cur"), rev.alias("prev")
    return (
        cur.join(
            prev,
            (F.col("cur.brand") == F.col("prev.brand"))
            & (F.col("cur.yr") == F.col("prev.yr") + 1),
        )
        .select(
            F.col("cur.brand").alias("brand"),
            F.col("cur.yr").alias("yr"),
            F.round(F.col("cur.revenue"), 2).alias("revenue"),
            F.round(F.col("prev.revenue"), 2).alias("prev_revenue"),
            F.round(F.col("cur.revenue") / F.col("prev.revenue") - 1, 6).alias(
                "yoy_growth"
            ),
        )
        .orderBy("brand", "yr")
    )


_ORACLE_SCORECARD = """
WITH per_supp AS (
    SELECT l_suppkey,
           CAST(ROUND(SUM(l_extendedprice * (1 - l_discount)) * 100) AS BIGINT)
               AS rev_cents,
           COUNT(*) AS n_lines,
           COUNT(DISTINCT l_partkey) AS n_parts,
           COUNT(*) FILTER (WHERE l_returnflag = 'R') AS n_returned
    FROM lineitem
    GROUP BY l_suppkey
), tot AS (
    SELECT CAST(SUM(rev_cents) AS BIGINT) AS total_cents FROM per_supp
)
SELECT s.s_name AS supplier,
       ROUND(p.rev_cents / 100.0, 2) AS net_revenue,
       ROUND(p.rev_cents * 1.0 / t.total_cents, 6) AS revenue_share,
       CAST(p.n_parts AS BIGINT) AS n_distinct_parts,
       ROUND(p.n_returned * 1.0 / p.n_lines, 6) AS return_rate
FROM per_supp p
JOIN supplier s ON s.s_suppkey = p.l_suppkey
CROSS JOIN tot t
ORDER BY p.rev_cents DESC, supplier
LIMIT 10
"""


@query("q_supplier_scorecard", oracle=_ORACLE_SCORECARD)
def supplier_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vendor scorecard: top-10 suppliers by net revenue with share,
    assortment breadth, and return rate in ONE row each — the
    multi-metric composite every procurement dashboard leads with.
    All metrics ride a single fact aggregation (map-side combined);
    the supplier dim decorates via broadcast; share/rates are exact
    integer ratios. Ordering on exact cents, name tiebreak."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    per_supp = li.groupBy("l_suppkey").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))) * 100, 0)
        .cast("long")
        .alias("rev_cents"),
        F.count(F.lit(1)).alias("n_lines"),
        F.countDistinct("l_partkey").alias("n_parts"),
        F.count(F.when(F.col("l_returnflag") == "R", 1)).alias("n_returned"),
    ).localCheckpoint(eager=True)  # consumed by the report AND the grand total
    tot = per_supp.agg(F.sum("rev_cents").alias("total_cents"))
    return (
        per_supp.join(F.broadcast(supp), per_supp.l_suppkey == supp.s_suppkey)
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("s_name").alias("supplier"),
            F.round(F.col("rev_cents") / 100.0, 2).alias("net_revenue"),
            F.round(F.col("rev_cents") / F.col("total_cents"), 6).alias(
                "revenue_share"
            ),
            F.col("n_parts").cast("long").alias("n_distinct_parts"),
            F.round(F.col("n_returned") / F.col("n_lines"), 6).alias("return_rate"),
            "rev_cents",
        )
        .orderBy(F.col("rev_cents").desc(), "supplier")
        .limit(10)
        .drop("rev_cents")
    )
