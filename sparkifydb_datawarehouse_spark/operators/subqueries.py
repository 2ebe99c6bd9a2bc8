"""SQL-surface operators: cross join, correlated EXISTS, scalar
subquery, LATERAL, recursive CTE.

These run through spark.sql over the registered fixture views — the
surface a reference user (whose whole workload is SQL text,
/root/reference/sql_queries.py) would reach for first. Catalyst
rewrites each into the same physical operators the DataFrame API
produces: EXISTS → left-semi join, scalar subquery → single-row
broadcast, LATERAL with an aggregate → grouped join, recursive CTE →
iterative UnionLoop.

Scale notes: EXISTS/IN always compile to semi joins (never per-row
subquery execution); a correlated LATERAL with LIMIT is the SQL
spelling of top-k-per-group (same window/agg plan as q_topk_per_group
— use whichever reads better); recursive CTEs iterate driver-side
like connected components, so depth must be bounded (calendar fills,
org charts — not unbounded graph walks).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..registry import query
from ..tables import load_table, register_views

_CROSS = """
SELECT r.r_name AS region_name, n.n_name AS nation_name
FROM region r CROSS JOIN nation n
ORDER BY region_name, nation_name
"""


@query("q_join_cross", oracle=_CROSS)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, "region", "nation")
    return spark.sql(_CROSS)


_EXISTS = """
SELECT c_custkey, c_name
FROM customer c
WHERE EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000
)
ORDER BY c_custkey
"""


@query("q_subquery_exists", oracle=_EXISTS)
def subquery_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, "customer", "orders")
    return spark.sql(_EXISTS)


_SCALAR = """
SELECT o_orderkey, ROUND(o_totalprice, 2) AS total_price
FROM orders
WHERE o_totalprice > (SELECT AVG(o_totalprice) * 1.5 FROM orders)
ORDER BY o_orderkey
"""


@query("q_subquery_scalar", oracle=_SCALAR)
def subquery_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, "orders")
    return spark.sql(_SCALAR)


_LATERAL = """
SELECT r.r_name AS region_name, t.nation_name, t.n_customers
FROM region r,
LATERAL (
    SELECT n.n_name AS nation_name,
           CAST(COUNT(c.c_custkey) AS BIGINT) AS n_customers
    FROM nation n LEFT JOIN customer c ON c.c_nationkey = n.n_nationkey
    WHERE n.n_regionkey = r.r_regionkey
    GROUP BY n.n_name
    ORDER BY n_customers DESC, n.n_name
    LIMIT 2
) t
ORDER BY region_name, n_customers DESC, nation_name
"""


@query("q_lateral_topk", oracle=_LATERAL)
def lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, "region", "nation", "customer")
    return spark.sql(_LATERAL)


# Recursive CTE: calendar fill for January 1995 (zero-order days
# included). The recursion itself is dialect-identical; only the
# date arithmetic differs (Spark date_add vs DuckDB date + int).
_RECURSIVE_SPARK = """
WITH RECURSIVE cal(i) AS (
    SELECT 0
    UNION ALL
    SELECT i + 1 FROM cal WHERE i < 30
)
SELECT date_format(date_add(DATE '1995-01-01', i), 'yyyy-MM-dd') AS day,
       CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders
FROM cal LEFT JOIN orders o ON o.o_orderdate = date_add(DATE '1995-01-01', i)
GROUP BY 1
ORDER BY 1
"""

_RECURSIVE_DUCK = """
WITH RECURSIVE cal(i) AS (
    SELECT 0
    UNION ALL
    SELECT i + 1 FROM cal WHERE i < 30
)
SELECT strftime(DATE '1995-01-01' + i, '%Y-%m-%d') AS day,
       CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders
FROM cal LEFT JOIN orders o ON o.o_orderdate = DATE '1995-01-01' + i
GROUP BY 1
ORDER BY 1
"""


@query("q_recursive_cte", oracle=_RECURSIVE_DUCK)
def recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, "orders")
    return spark.sql(_RECURSIVE_SPARK)


# ---------------------------------------------------------------------------
# Relational division: "customers who have ordered under EVERY order
# priority" — the FOR ALL quantifier, the one classic join shape not
# otherwise in the registry (semi/anti/exists cover EXISTS; division
# is its universal dual). Standard scalable form: distinct pairs,
# per-customer distinct count, compare against the divisor count.
# ---------------------------------------------------------------------------

_ORACLE_DIVISION = """
WITH divisor AS (
    SELECT CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS n_all FROM orders
), per_cust AS (
    SELECT o_custkey AS cust_key,
           CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS n_prio,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders GROUP BY o_custkey
)
SELECT p.cust_key, p.n_prio, p.n_orders
FROM per_cust p CROSS JOIN divisor d
WHERE p.n_prio = d.n_all
ORDER BY p.cust_key
"""


@query("q_relational_division", oracle=_ORACLE_DIVISION)
def relational_division(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers whose order history covers ALL order priorities
    (relational division / universal quantification).

    One hash agg computes per-customer COUNT(DISTINCT priority) —
    distinct-by-key is map-side-combinable because priority
    cardinality is tiny — and the divisor cardinality is a 1-row
    broadcast. No join against the divisor set itself is needed:
    counting distinct matches against |divisor| is the textbook
    scalable division plan (an anti-join formulation would shuffle
    the pair set twice).
    """
    from pyspark.sql import functions as F

    o = load_table(spark, sf_dir, "orders")
    divisor = o.agg(F.count_distinct("o_orderpriority").alias("n_all"))
    per_cust = o.groupBy(F.col("o_custkey").alias("cust_key")).agg(
        F.count_distinct("o_orderpriority").alias("n_prio"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    return (
        per_cust.crossJoin(F.broadcast(divisor))
        .filter(F.col("n_prio") == F.col("n_all"))
        .select("cust_key", "n_prio", "n_orders")
        .orderBy("cust_key")
    )
