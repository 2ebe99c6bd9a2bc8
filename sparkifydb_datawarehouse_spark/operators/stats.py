"""Statistical aggregates: stddev/variance/correlation/covariance,
exact interpolated percentiles, grouping sets.

Scale notes:
- stddev/var/corr/covar are single-pass streaming moments (partial +
  final merge) — same shuffle shape as SUM.
- Exact percentile requires collecting the group's values (Spark
  `percentile` buffers per group) — fine for bounded groups; use
  approx_percentile (t-digest, streaming) for unbounded groups at
  100 TB. Both are exposed.
- GROUPING SETS compiles to Expand like rollup/cube but with exactly
  the requested sets — cheaper than cube when only a few sets matter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..tables import load_table

_ORACLE_STATS = """
SELECT l_returnflag AS return_flag,
       ROUND(STDDEV_SAMP(l_extendedprice), 4) AS std_price,
       ROUND(VAR_SAMP(l_extendedprice), 2) AS var_price,
       ROUND(CORR(l_quantity, l_extendedprice), 6) AS corr_qty_price,
       ROUND(COVAR_SAMP(l_quantity, l_extendedprice), 4) AS covar_qty_price
FROM lineitem
GROUP BY l_returnflag
ORDER BY return_flag
"""


@query("q_agg_stats", oracle=_ORACLE_STATS)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy(F.col("l_returnflag").alias("return_flag"))
        .agg(
            F.round(F.stddev_samp("l_extendedprice"), 4).alias("std_price"),
            F.round(F.var_samp("l_extendedprice"), 2).alias("var_price"),
            F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
            F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias(
                "covar_qty_price"
            ),
        )
        .orderBy("return_flag")
    )


_ORACLE_PERCENTILES = """
SELECT l_returnflag AS return_flag,
       ROUND(quantile_cont(l_quantity, 0.5), 4) AS median_qty,
       ROUND(quantile_cont(l_quantity, 0.25), 4) AS p25_qty,
       ROUND(quantile_cont(l_quantity, 0.95), 4) AS p95_qty
FROM lineitem
GROUP BY l_returnflag
ORDER BY return_flag
"""


@query("q_agg_percentiles", oracle=_ORACLE_PERCENTILES)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolation percentiles (Spark `percentile` ≡
    DuckDB `quantile_cont`)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy(F.col("l_returnflag").alias("return_flag"))
        .agg(
            F.round(F.percentile("l_quantity", F.lit(0.5)), 4).alias("median_qty"),
            F.round(F.percentile("l_quantity", F.lit(0.25)), 4).alias("p25_qty"),
            F.round(F.percentile("l_quantity", F.lit(0.95)), 4).alias("p95_qty"),
        )
        .orderBy("return_flag")
    )


# Contract-oracle (VERDICT r5 #2): the t-digest estimate itself is
# engine-specific, so the oracled VALUE is the accuracy CLAIM — exact
# quantile_cont anchors plus a within-rel-err flag per percentile.
# Spark's approx_percentile is deterministic for fixed data (GK/t-digest
# merge is order-insensitive at fixed accuracy), so the flag is stable;
# if the sketch ever drifts past the contract the driver's value-hash
# catches it. Same pattern as q_agg_approx_distinct_calibration.
# accuracy=10000 ⇒ rank error ≤ 1e-4; 0.5% relative VALUE tolerance is
# a wide-margin envelope over that on these price distributions.
_APPROX_PCT_TOL = 0.005

_ORACLE_APPROX_PERCENTILES = """
SELECT l_returnflag AS return_flag,
       ROUND(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.5), 4) AS exact_median_price,
       ROUND(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.95), 4) AS exact_p95_price,
       CAST(1 AS INTEGER) AS median_within_tol,
       CAST(1 AS INTEGER) AS p95_within_tol
FROM lineitem
GROUP BY l_returnflag
ORDER BY return_flag
"""


@query("q_agg_approx_percentiles", oracle=_ORACLE_APPROX_PERCENTILES)
def agg_approx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The unbounded-cardinality scale path for the ESTIMATE:
    approx_percentile streams a sketch instead of buffering group
    values. Since the r6 contract-oracle conversion this query ALSO
    computes exact F.percentile anchors (which do buffer each group) —
    that is the price of oracling the accuracy claim and is fine at
    fixture scale; at 100 TB the production call is approx_percentile
    alone, with this query serving as its accuracy audit on samples."""
    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "price_d", F.col("l_extendedprice").cast("double")
    )

    def _flag(approx_col: str, exact_col: str) -> F.Column:
        # try_divide: NULL (not a crash) on a degenerate slice where
        # the exact anchor is 0 — inert at oracle scale
        return (
            (
                F.try_divide(
                    F.abs(F.col(approx_col) - F.col(exact_col)), F.abs(F.col(exact_col))
                )
                <= F.lit(_APPROX_PCT_TOL)
            )
            .cast("int")
            .alias(approx_col.replace("approx_", "") + "_within_tol")
        )

    return (
        li.groupBy(F.col("l_returnflag").alias("return_flag"))
        .agg(
            F.percentile("price_d", F.lit(0.5)).alias("exact_median_raw"),
            F.percentile("price_d", F.lit(0.95)).alias("exact_p95_raw"),
            F.approx_percentile("price_d", F.lit(0.5), F.lit(10000)).alias(
                "approx_median"
            ),
            F.approx_percentile("price_d", F.lit(0.95), F.lit(10000)).alias(
                "approx_p95"
            ),
        )
        .select(
            "return_flag",
            # round to 4, not 2: prices carry 2 decimals, so the
            # interpolated quantile has <=4 — ROUND(x,2) sits exactly on
            # the half-cent boundary (ORACLES.md half-way divergence);
            # ROUND(x,4) only snaps fp noise, never a half-way digit
            F.round("exact_median_raw", 4).alias("exact_median_price"),
            F.round("exact_p95_raw", 4).alias("exact_p95_price"),
            _flag("approx_median", "exact_median_raw"),
            _flag("approx_p95", "exact_p95_raw"),
        )
        .orderBy("return_flag")
    )


_ORACLE_GROUPING_SETS = """
SELECT o_orderstatus AS order_status,
       o_orderpriority AS order_priority,
       ROUND(SUM(o_totalprice), 2) AS total_price
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
ORDER BY order_status NULLS FIRST, order_priority NULLS FIRST
"""


@query("q_agg_grouping_sets", oracle=_ORACLE_GROUPING_SETS)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    # DataFrame groupingSets API (Spark 4) — view-free (a shared
    # temp-view name could be redirected before collection)
    return (
        load_table(spark, sf_dir, "orders")
        .select(
            F.col("o_orderstatus").alias("order_status"),
            F.col("o_orderpriority").alias("order_priority"),
            "o_totalprice",
        )
        .groupingSets(
            [["order_status"], ["order_priority"], []],
            "order_status",
            "order_priority",
        )
        .agg(F.round(F.sum("o_totalprice"), 2).alias("total_price"))
        .orderBy(
            F.col("order_status").asc_nulls_first(),
            F.col("order_priority").asc_nulls_first(),
        )
    )


# ---------------------------------------------------------------------------
# Shannon entropy of a categorical column per group — the standard
# "how mixed is this partition" profiling statistic (feature selection,
# drift detection). Two-level aggregation: count per (group, category),
# then fold -p*log2(p) — both levels are hash aggs with map-side
# combine, so at 100 TB the shuffle carries one row per distinct
# (source, event-ish) pair, never raw rows.
# ---------------------------------------------------------------------------

_ORACLE_ENTROPY = """
SELECT source,
       ROUND(entropy(lang), 6) AS lang_entropy,
       COUNT(*) AS n_docs
FROM documents
GROUP BY source
ORDER BY source
"""


@query("q_agg_entropy", oracle=_ORACLE_ENTROPY)
def agg_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("n"))
    totals = counts.groupBy("source").agg(F.sum("n").alias("total"))
    p = counts.join(totals, "source").withColumn("p", F.col("n") / F.col("total"))
    # DuckDB's entropy() is log2-based
    return (
        p.groupBy("source")
        .agg(
            F.round(-F.sum(F.col("p") * F.log2("p")), 6).alias("lang_entropy"),
            F.sum("n").alias("n_docs"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Correlation / covariance matrix entries over numeric measures —
# single-pass co-moment aggregation (corr, covar_samp are streaming
# aggregates; one scan, one tiny shuffle, one output row).
# ---------------------------------------------------------------------------

_ORACLE_CORR = """
SELECT ROUND(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
       ROUND(corr(l_discount, l_extendedprice), 6) AS corr_disc_price,
       ROUND(covar_samp(l_quantity, l_extendedprice), 4) AS covar_qty_price,
       ROUND(regr_slope(l_extendedprice, l_quantity), 6) AS slope_price_on_qty,
       ROUND(regr_r2(l_extendedprice, l_quantity), 6) AS r2_price_on_qty
FROM lineitem
"""


@query("q_agg_corr", oracle=_ORACLE_CORR)
def agg_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
        F.round(F.corr("l_discount", "l_extendedprice"), 6).alias("corr_disc_price"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias(
            "covar_qty_price"
        ),
        F.round(F.regr_slope("l_extendedprice", "l_quantity"), 6).alias(
            "slope_price_on_qty"
        ),
        F.round(F.regr_r2("l_extendedprice", "l_quantity"), 6).alias(
            "r2_price_on_qty"
        ),
    )


# ---------------------------------------------------------------------------
# Discrete percentile (percentile_disc): the smallest actual VALUE
# whose cumulative share reaches p — always a real data point, unlike
# the interpolated percentile (q_agg_percentiles). Spark has no
# percentile_disc; the exact emulation is the definition itself:
# row_number over the ordered group, pick rank = ceil(p·n). One
# shuffle per group (window), same as any exact percentile.
# ---------------------------------------------------------------------------

_ORACLE_PCT_DISC = """
SELECT l_returnflag AS return_flag,
       quantile_disc(l_extendedprice, 0.50) AS p50_disc,
       quantile_disc(l_extendedprice, 0.95) AS p95_disc
FROM lineitem
GROUP BY l_returnflag
ORDER BY return_flag
"""


@query("q_agg_percentile_disc", oracle=_ORACLE_PCT_DISC)
def agg_percentile_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_returnflag").orderBy("l_extendedprice")
    ranked = li.select(
        "l_returnflag",
        "l_extendedprice",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("l_returnflag")).alias("n"),
    )

    def disc(p: float):
        # smallest value at cumulative rank >= ceil(p*n): DuckDB's
        # quantile_disc picks exactly this element
        return F.min(
            F.when(F.col("rn") >= F.ceil(F.lit(p) * F.col("n")), F.col("l_extendedprice"))
        )

    return (
        ranked.groupBy(F.col("l_returnflag").alias("return_flag"))
        .agg(disc(0.50).alias("p50_disc"), disc(0.95).alias("p95_disc"))
        .orderBy("return_flag")
    )


# ---------------------------------------------------------------------------
# Skewness / kurtosis via explicit power sums. Native skewness()/
# kurtosis() differ across engines (population vs sample corrections
# and internal update order), so BOTH sides spell the same algebra
# over exact integer power sums — bit-identical before rounding.
# ---------------------------------------------------------------------------

_ORACLE_SKEW_KURT = """
WITH s AS (
    SELECT l_returnflag AS return_flag,
           COUNT(*)            AS n,
           SUM(l_quantity)                                         AS s1,
           SUM(l_quantity * l_quantity)                            AS s2,
           SUM(l_quantity * l_quantity * l_quantity)               AS s3,
           SUM(l_quantity * l_quantity * l_quantity * l_quantity)  AS s4
    FROM lineitem
    GROUP BY l_returnflag
), m AS (
    SELECT return_flag, n,
           s1 / n AS m1,
           (s2 / n) - (s1 / n) * (s1 / n) AS m2,
           (s3 / n) - 3 * (s1 / n) * (s2 / n) + 2 * (s1 / n) * (s1 / n) * (s1 / n) AS m3,
           (s4 / n) - 4 * (s1 / n) * (s3 / n)
                    + 6 * (s1 / n) * (s1 / n) * (s2 / n)
                    - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n) AS m4
    FROM s
)
SELECT return_flag, n,
       ROUND(m1, 6) AS mean_qty,
       ROUND(m3 / SQRT(m2 * m2 * m2), 6) AS skewness_qty,
       ROUND(m4 / (m2 * m2) - 3, 6) AS excess_kurtosis_qty
FROM m
ORDER BY return_flag
"""


@query("q_agg_skew_kurt", oracle=_ORACLE_SKEW_KURT)
def agg_skew_kurt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population skewness and excess kurtosis per return flag from a
    single-pass power-sum aggregation.

    Why not F.skewness / DuckDB skewness(): Spark computes population
    moments, DuckDB applies the sample (bias-corrected) formula — the
    same data yields different numbers by definition. l_quantity is
    integral (1..50), so SUM(q^k) up to k=4 is exact in doubles
    (max ~50^4 x 6M rows << 2^53): both engines compute identical
    power sums regardless of partitioning/order, and the downstream
    ratio algebra (only IEEE-correctly-rounded + - * / sqrt, no pow)
    is spelled identically on both sides, making the comparison exact
    before the cosmetic ROUND.

    Scale design (100 TB): power sums are commutative monoids — full
    map-side partial aggregation; the shuffle carries 5 doubles per
    group. This is the general recipe for ANY moment-based statistic
    (stddev/corr already use it in q_agg_stats / q_agg_corr); it is
    also the mergeable-state form an incremental materialized view
    needs (operators/matview.py).
    """
    li = load_table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity")
    s = li.groupBy(F.col("l_returnflag").alias("return_flag")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(q).alias("s1"),
        F.sum(q * q).alias("s2"),
        F.sum(q * q * q).alias("s3"),
        F.sum(q * q * q * q).alias("s4"),
    )
    n = F.col("n")
    m1 = F.col("s1") / n
    m2 = (F.col("s2") / n) - m1 * m1
    m3 = (F.col("s3") / n) - F.lit(3) * m1 * (F.col("s2") / n) + F.lit(2) * m1 * m1 * m1
    m4 = (
        (F.col("s4") / n)
        - F.lit(4) * m1 * (F.col("s3") / n)
        + F.lit(6) * m1 * m1 * (F.col("s2") / n)
        - F.lit(3) * m1 * m1 * m1 * m1
    )
    return s.select(
        "return_flag",
        "n",
        F.round(m1, 6).alias("mean_qty"),
        # try_divide: zero variance (constant/single-row slice) has no
        # defined skew/kurtosis -> NULL, not an ANSI error
        F.round(F.try_divide(m3, F.sqrt(m2 * m2 * m2)), 6).alias("skewness_qty"),
        F.round(F.try_divide(m4, m2 * m2) - F.lit(3), 6).alias(
            "excess_kurtosis_qty"
        ),
    ).orderBy("return_flag")


# ---------------------------------------------------------------------------
# Robust statistics: weighted mean + median absolute deviation.
# MAD needs the group median joined back under the data — the
# two-pass "statistic of a statistic" shape.
# ---------------------------------------------------------------------------

_ORACLE_ROBUST = """
WITH med AS (
    SELECT l_returnflag AS return_flag,
           median(l_extendedprice) AS med_price
    FROM lineitem GROUP BY l_returnflag
)
SELECT li.l_returnflag AS return_flag,
       ROUND(SUM(li.l_extendedprice * li.l_quantity) / SUM(li.l_quantity), 4)
           AS weighted_mean_price,
       ROUND(ANY_VALUE(m.med_price), 4) AS median_price,
       ROUND(median(ABS(li.l_extendedprice - m.med_price)), 4) AS mad_price
FROM lineitem li JOIN med m ON li.l_returnflag = m.return_flag
GROUP BY li.l_returnflag
ORDER BY return_flag
"""


@query("q_agg_robust_stats", oracle=_ORACLE_ROBUST)
def agg_robust_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted mean price and median absolute deviation per
    return flag.

    MAD is the canonical robust spread measure (outlier-immune, unlike
    stddev) and is structurally interesting: a second aggregation over
    a value derived from the FIRST aggregation's result. The group
    medians are a groups-sized table broadcast back under the fact —
    the same model-vs-data split as TF-IDF/k-means — so the fact table
    is scanned twice but shuffled only on its group key. Spark's
    percentile(0.5) and DuckDB's median are both the interpolated
    quantile_cont on numerics, so the oracle matches exactly.

    This exact form is the CORRECTNESS REFERENCE only: Spark's exact
    percentile buffers every group value in one reducer, so it cannot
    scale past bounded groups. q_agg_robust_stats_approx below is the
    registered scale path (benched in HEADLINE); this query stays the
    sf0.01 oracle anchor the approx form is tested against.
    """
    li = load_table(spark, sf_dir, "lineitem")
    med = li.groupBy(F.col("l_returnflag").alias("return_flag")).agg(
        F.expr("percentile(l_extendedprice, 0.5)").alias("med_price")
    )
    return (
        li.join(
            F.broadcast(med), li["l_returnflag"] == med["return_flag"]
        )
        .groupBy("return_flag")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * F.col("l_quantity"))
                / F.sum("l_quantity"),
                4,
            ).alias("weighted_mean_price"),
            F.round(F.any_value("med_price"), 4).alias("median_price"),
            F.round(
                F.expr(
                    "percentile(abs(l_extendedprice - med_price), 0.5)"
                ),
                4,
            ).alias("mad_price"),
        )
        .orderBy("return_flag")
    )


# Contract-oracle (VERDICT r6 #5, the q_agg_approx_percentiles
# pattern): the t-digest estimates are engine-specific, so the oracled
# VALUES are the exact anchors (weighted mean, exact median, exact MAD
# — all DuckDB-replayable) plus within-rel-err flags for the approx
# median and approx MAD. The MAD tolerance is wider than the median's
# because the approx MAD is centered on the APPROX median — the center
# shift adds up to the median's own error on top of the sketch error
# (measured at sf0.01: 2e-4 / 4.6e-4 vs tolerances 5e-3 / 1e-2).
_ROBUST_MED_TOL = 0.005
_ROBUST_MAD_TOL = 0.01

_ORACLE_ROBUST_APPROX = """
WITH med AS (
    SELECT l_returnflag AS return_flag,
           median(CAST(l_extendedprice AS DOUBLE)) AS med_price
    FROM lineitem GROUP BY l_returnflag
)
SELECT li.l_returnflag AS return_flag,
       ROUND(SUM(li.l_extendedprice * li.l_quantity) / SUM(li.l_quantity), 4)
           AS weighted_mean_price,
       ROUND(ANY_VALUE(m.med_price), 4) AS exact_median_price,
       ROUND(median(ABS(CAST(li.l_extendedprice AS DOUBLE) - m.med_price)), 4)
           AS exact_mad_price,
       CAST(1 AS INTEGER) AS median_within_tol,
       CAST(1 AS INTEGER) AS mad_within_tol
FROM lineitem li JOIN med m ON li.l_returnflag = m.return_flag
GROUP BY li.l_returnflag
ORDER BY return_flag
"""


@query("q_agg_robust_stats_approx", oracle=_ORACLE_ROBUST_APPROX)
def agg_robust_stats_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB robust-stats path: same weighted-mean + MAD semantics
    as q_agg_robust_stats, with BOTH percentile passes replaced by
    approx_percentile (t-digest, accuracy 10000).

    Why this scales where the exact form does not: exact percentile is
    a holistic aggregate — Spark buffers every group value in a single
    reducer, so one hot group means one task holding the group's whole
    column. approx_percentile is a bounded-state mergeable sketch:
    map-side partials, O(accuracy) state per group, no value buffering.
    Still two passes (MAD is a statistic OF a statistic — the spread
    pass needs the center first), but each pass is now a plain
    streaming hash agg; the group medians stay a groups-sized
    broadcast, the fact table is never shuffled on anything but its
    group key.

    Since the r7 contract-oracle conversion the query ALSO computes the
    exact anchors (the price of oracling the accuracy claim — fine at
    fixture scale; at 100 TB the production call is the approx pair
    alone, this query serving as their accuracy audit on samples)."""
    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "price_d", F.col("l_extendedprice").cast("double")
    )
    med = li.groupBy(F.col("l_returnflag").alias("return_flag")).agg(
        F.percentile("price_d", F.lit(0.5)).alias("exact_med"),
        F.approx_percentile("price_d", F.lit(0.5), F.lit(10000)).alias(
            "approx_med"
        ),
    )

    def _flag(approx_col: str, exact_col: str, tol: float, name: str) -> F.Column:
        # NULL/zero exact anchor (degenerate slice): vacuously true,
        # matching the oracle's constant flag
        return (
            F.when(
                F.col(exact_col).isNull() | (F.col(exact_col) == 0), F.lit(1)
            )
            .otherwise(
                (
                    F.try_divide(
                        F.abs(F.col(approx_col) - F.col(exact_col)),
                        F.abs(F.col(exact_col)),
                    )
                    <= F.lit(tol)
                ).cast("int")
            )
            .alias(name)
        )

    return (
        li.join(F.broadcast(med), li["l_returnflag"] == med["return_flag"])
        .groupBy("return_flag")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * F.col("l_quantity"))
                / F.sum("l_quantity"),
                4,
            ).alias("weighted_mean_price"),
            F.any_value("exact_med").alias("exact_med_raw"),
            F.any_value("approx_med").alias("approx_med_raw"),
            F.percentile(
                F.abs(F.col("price_d") - F.col("exact_med")), F.lit(0.5)
            ).alias("exact_mad_raw"),
            F.approx_percentile(
                F.abs(F.col("price_d") - F.col("approx_med")),
                F.lit(0.5),
                F.lit(10000),
            ).alias("approx_mad_raw"),
        )
        .select(
            "return_flag",
            "weighted_mean_price",
            F.round("exact_med_raw", 4).alias("exact_median_price"),
            F.round("exact_mad_raw", 4).alias("exact_mad_price"),
            _flag(
                "approx_med_raw", "exact_med_raw", _ROBUST_MED_TOL,
                "median_within_tol",
            ),
            _flag(
                "approx_mad_raw", "exact_mad_raw", _ROBUST_MAD_TOL,
                "mad_within_tol",
            ),
        )
        .orderBy("return_flag")
    )


# ---------------------------------------------------------------------------
# Weighted median — the order statistic under a weight column (here:
# price level at which half the QUANTITY sits, per return flag). No
# native form in either engine, so both spell the definition: sort by
# value, running weight, first value whose cumulative weight reaches
# half the total. The window order carries a unique tiebreaker so the
# cumulative sums add in the SAME sequence on both engines; weights
# are integral quantities, so every partial sum is exact in doubles.
#
# Scale design (100 TB): one shuffle on the group key + per-group
# sort (same shape as any exact order statistic; for unbounded groups
# the t-digest path takes over — approx_percentile has no weighted
# form, so the documented approximation is duplicating rows by
# integer weight into the sketch, or a weighted t-digest UDAF).
# ---------------------------------------------------------------------------

_ORACLE_WEIGHTED_MEDIAN = """
WITH cum AS (
    SELECT l_returnflag AS return_flag, l_extendedprice, l_quantity,
           SUM(l_quantity) OVER (PARTITION BY l_returnflag
                                 ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS cumw,
           SUM(l_quantity) OVER (PARTITION BY l_returnflag) AS totw
    FROM lineitem
)
SELECT return_flag,
       MIN(l_extendedprice) AS weighted_median_price,
       CAST(ANY_VALUE(totw) AS BIGINT) AS total_weight
FROM cum
WHERE cumw >= totw / 2
GROUP BY return_flag
ORDER BY return_flag
"""


@query("q_agg_weighted_median", oracle=_ORACLE_WEIGHTED_MEDIAN)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    w_cum = Window.partitionBy("l_returnflag").orderBy(
        "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    w_all = Window.partitionBy("l_returnflag")
    cum = li.select(
        F.col("l_returnflag").alias("return_flag"),
        "l_extendedprice",
        F.sum("l_quantity").over(w_cum).alias("cumw"),
        F.sum("l_quantity").over(w_all).alias("totw"),
    )
    return (
        cum.filter(F.col("cumw") >= F.col("totw") / 2)
        .groupBy("return_flag")
        .agg(
            F.min("l_extendedprice").alias("weighted_median_price"),
            F.any_value("totw").cast("long").alias("total_weight"),
        )
        .orderBy("return_flag")
    )


# ---------------------------------------------------------------------------
# Chi-square contingency test — independence of two categoricals
# (lang x source), the profiling statistic behind "is this column
# correlated with that stratum" checks on a corpus. The full cell grid
# (including zero-observed cells, which still contribute their
# expectation) is the distinct-lang x distinct-source cross product —
# dimensions-sized, broadcast; the only data-sized pass is one
# (lang, source) hash agg whose shuffle carries distinct pairs.
# ---------------------------------------------------------------------------

_ORACLE_CHI2 = """
WITH obs AS (
    SELECT lang, source, COUNT(*) AS o FROM documents GROUP BY lang, source
), rt AS (SELECT lang, COUNT(*) AS row_tot FROM documents GROUP BY lang),
   ct AS (SELECT source, COUNT(*) AS col_tot FROM documents GROUP BY source),
   n AS (SELECT COUNT(*) AS total FROM documents),
   cells AS (
    SELECT rt.lang, ct.source, rt.row_tot, ct.col_tot, n.total,
           COALESCE(obs.o, 0) AS o,
           rt.row_tot * ct.col_tot * 1.0 / n.total AS e
    FROM rt CROSS JOIN ct CROSS JOIN n
    LEFT JOIN obs ON obs.lang = rt.lang AND obs.source = ct.source
)
SELECT CAST(ANY_VALUE(total) AS BIGINT) AS n_rows,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST((COUNT(DISTINCT lang) - 1) * (COUNT(DISTINCT source) - 1) AS BIGINT) AS dof,
       ROUND(SUM((o - e) * (o - e) / e), 4) AS chi2,
       ROUND(SQRT(SUM((o - e) * (o - e) / e)
             / (ANY_VALUE(total) * LEAST(COUNT(DISTINCT lang) - 1,
                                         COUNT(DISTINCT source) - 1))), 6) AS cramers_v
FROM cells
"""


@query("q_agg_chisquare", oracle=_ORACLE_CHI2)
def agg_chisquare(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    obs = docs.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("o"))
    rt = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("row_tot"))
    ct = docs.groupBy("source").agg(F.count(F.lit(1)).alias("col_tot"))
    n = docs.agg(F.count(F.lit(1)).alias("total"))
    cells = (
        rt.crossJoin(F.broadcast(ct))
        .crossJoin(F.broadcast(n))
        .join(obs, ["lang", "source"], "left")
        .select(
            "lang",
            "source",
            "total",
            F.coalesce("o", F.lit(0)).alias("o"),
            (F.col("row_tot") * F.col("col_tot") * F.lit(1.0) / F.col("total")).alias(
                "e"
            ),
        )
    )
    chi2 = F.sum((F.col("o") - F.col("e")) * (F.col("o") - F.col("e")) / F.col("e"))
    return cells.agg(
        F.any_value("total").alias("n_rows"),
        F.count(F.lit(1)).alias("n_cells"),
        (
            (F.countDistinct("lang") - 1) * (F.countDistinct("source") - 1)
        ).alias("dof"),
        F.round(chi2, 4).alias("chi2"),
        # try_divide: a 1x1 contingency table (single-row slice) has
        # min(r-1, c-1) = 0 -> Cramer's V undefined -> NULL
        F.round(
            F.sqrt(
                F.try_divide(
                    chi2,
                    F.any_value("total")
                    * F.least(
                        F.countDistinct("lang") - 1, F.countDistinct("source") - 1
                    ),
                )
            ),
            6,
        ).alias("cramers_v"),
    )


# ---------------------------------------------------------------------------
# Geometric mean — the multiplicative average (right-skewed money
# amounts, growth factors). exp(avg(ln x)) on both engines; the
# all-positive domain is asserted by the same filter on both sides.
# ---------------------------------------------------------------------------

_ORACLE_GEOMEAN = """
SELECT o_orderpriority AS priority,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(EXP(AVG(LN(o_totalprice))), 2) AS geomean_price,
       ROUND(AVG(o_totalprice), 2) AS mean_price
FROM orders
WHERE o_totalprice > 0
GROUP BY priority
ORDER BY priority
"""


@query("q_agg_geomean", oracle=_ORACLE_GEOMEAN)
def agg_geomean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometric vs arithmetic mean order value per priority — the
    gap between the two is the skewness read a finance dashboard
    actually uses.

    Single hash agg; AVG(LN(x)) is the mergeable form (sum of logs),
    so the shuffle carries one double per group. The x > 0 filter is
    the domain guard on BOTH engines (ln(0) diverges between them —
    the ORACLES.md Kaplan-Meier lesson)."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    return (
        o.groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.exp(F.avg(F.log("o_totalprice"))), 2).alias("geomean_price"),
            F.round(F.avg("o_totalprice"), 2).alias("mean_price"),
        )
        .orderBy("priority")
    )
