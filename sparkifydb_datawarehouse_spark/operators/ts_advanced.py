"""Advanced time-series diagnostics: autocorrelation, maximum
drawdown, lead-lag cross-correlation, and linear multi-touch
attribution.

These are the KPI-series questions a warehouse answers after the
basic resample/rollup layer exists (reference analog: the BI layer
over `sparkifydb`'s fact tables — /root/reference/sql_queries.py
builds the star schema; these are the reads it serves):

- "is weekly seasonality real?"            -> q_ts_acf
- "what was the worst slump vs peak?"      -> q_ts_drawdown
- "do clicks lead purchases, and by what?" -> q_ts_crosscorr
- "split revenue credit across touches"    -> q_multitouch_attribution

Scale design (100 TB): every query folds the raw fact down to a
per-(series, day) aggregate FIRST — calendar x series-count rows,
orders of magnitude below fact volume — so the window passes run on
thousands of rows regardless of input scale. The attribution query is
the exception (per-event windows) and uses one user-partitioned
bounded-range frame: a single shuffle by user_id, frame width fixed
at 7 days, no self-join and no range join.

Cross-engine determinism follows the repo's ORACLES.md discipline:
money is folded to integer cents before any window; drawdown is pure
BIGINT algebra; attribution credit is floor fixed-point
(FLOOR(cents*1e6*k/n) — integer on both engines); correlations are
the one double (CORR ratio, both engines Welford-stable) rounded to
6 decimals, the q_agg_corr precedent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query
from ..tables import load_table

_MAX_LAG = 10  # ACF horizon: catches the weekly (7) cycle with margin

_DAILY_CENTS_SQL = """
    SELECT CAST(o_orderdate AS DATE) AS day,
           CAST(ROUND(SUM(o_totalprice) * 100) AS BIGINT) AS cents
    FROM orders
    GROUP BY day
"""

_ORACLE_ACF = f"""
WITH daily AS ({_DAILY_CENTS_SQL}),
lagged AS (
    SELECT cents,
           {", ".join(f"LAG(cents, {k}) OVER (ORDER BY day) AS l{k}" for k in range(1, _MAX_LAG + 1))}
    FROM daily
),
pairs AS (
    {" UNION ALL ".join(f"SELECT {k} AS lag, cents, l{k} AS prev FROM lagged" for k in range(1, _MAX_LAG + 1))}
)
SELECT lag,
       CAST(COUNT(prev) AS BIGINT) AS n_pairs,
       ROUND(CORR(cents, prev), 6) AS acf
FROM pairs
WHERE prev IS NOT NULL
GROUP BY lag
ORDER BY lag
"""


@query("q_ts_acf", oracle=_ORACLE_ACF)
def ts_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of daily revenue at lags 1..10 (lagged-series
    Pearson correlation — the index-lag ACF variant, identical on
    both engines; a weekly cycle shows as a local max at lag 7).

    One pass: a single ordered window yields all 10 lag columns, a
    stack unpivots to (lag, x, prev), one hash agg computes CORR per
    lag. The unpartitioned window is safe by construction: it runs on
    the DAILY aggregate (calendar-length, thousands of rows at any
    SF), not on facts.
    """
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(F.round(F.sum("o_totalprice") * 100, 0).cast("long").alias("cents"))
    )
    w = Window.orderBy("day")
    lagged = daily.select(
        "cents", *[F.lag("cents", k).over(w).alias(f"l{k}") for k in range(1, _MAX_LAG + 1)]
    )
    stacked = lagged.select(
        F.expr(
            "stack("
            + str(_MAX_LAG)
            + ", "
            + ", ".join(f"{k}, l{k}" for k in range(1, _MAX_LAG + 1))
            + ") AS (lag, prev)"
        ),
        "cents",
    )
    return (
        stacked.filter(F.col("prev").isNotNull())
        .groupBy("lag")
        .agg(
            F.count("prev").alias("n_pairs"),
            F.round(F.corr("cents", "prev"), 6).alias("acf"),
        )
        .orderBy("lag")
    )


_ORACLE_DRAWDOWN = """
WITH daily AS (
    SELECT o_orderpriority AS series,
           CAST(o_orderdate AS DATE) AS day,
           CAST(ROUND(SUM(o_totalprice) * 100) AS BIGINT) AS cents
    FROM orders
    GROUP BY series, day
), dd AS (
    SELECT series, day, cents,
           MAX(cents) OVER (PARTITION BY series ORDER BY day
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - cents AS drawdown
    FROM daily
), peak AS (
    SELECT series, day, drawdown,
           MAX(drawdown) OVER (PARTITION BY series) AS max_dd
    FROM dd
)
SELECT series,
       max_dd AS max_drawdown_cents,
       MIN(day) AS trough_day
FROM peak
WHERE drawdown = max_dd
GROUP BY series, max_dd
ORDER BY series
"""


@query("q_ts_drawdown", oracle=_ORACLE_DRAWDOWN)
def ts_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of the daily-revenue series per order
    priority: the deepest drop below the running historical peak,
    with the (earliest) trough day. Pure BIGINT algebra end to end —
    running max, subtraction, max, argmin-by-day — so the result is
    bit-identical across engines.

    Both windows share the series partitioning, so the whole query is
    ONE shuffle over the daily aggregate.
    """
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_orderpriority").alias("series"),
            F.col("o_orderdate").cast("date").alias("day"),
        )
        .agg(F.round(F.sum("o_totalprice") * 100, 0).cast("long").alias("cents"))
    )
    w_run = (
        Window.partitionBy("series")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dd = daily.select(
        "series", "day", (F.max("cents").over(w_run) - F.col("cents")).alias("drawdown")
    )
    peak = dd.withColumn("max_dd", F.max("drawdown").over(Window.partitionBy("series")))
    return (
        peak.filter(F.col("drawdown") == F.col("max_dd"))
        .groupBy("series", F.col("max_dd").alias("max_drawdown_cents"))
        .agg(F.min("day").alias("trough_day"))
        .orderBy("series")
    )


_XLAG = 5  # cross-correlation horizon: +/- 5 days

_ORACLE_XCORR = f"""
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day,
           CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS clicks,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchases
    FROM events
    GROUP BY day
), shifted AS (
    SELECT clicks,
           {", ".join(
               f"LAG(purchases, {-k}) OVER (ORDER BY day) AS p_m{-k}" for k in range(-_XLAG, 0)
           )},
           purchases AS p_0,
           {", ".join(
               f"LEAD(purchases, {k}) OVER (ORDER BY day) AS p_{k}" for k in range(1, _XLAG + 1)
           )}
    FROM daily
),
pairs AS (
    {" UNION ALL ".join(
        f"SELECT {k} AS lag, clicks, p_m{-k} AS p FROM shifted" for k in range(-_XLAG, 0)
    )}
    UNION ALL SELECT 0 AS lag, clicks, p_0 AS p FROM shifted
    {"".join(
        f" UNION ALL SELECT {k} AS lag, clicks, p_{k} AS p FROM shifted"
        for k in range(1, _XLAG + 1)
    )}
)
SELECT lag,
       CAST(COUNT(p) AS BIGINT) AS n_pairs,
       ROUND(CORR(clicks, p), 6) AS xcorr
FROM pairs
WHERE p IS NOT NULL
GROUP BY lag
ORDER BY lag
"""


@query("q_ts_crosscorr", oracle=_ORACLE_XCORR)
def ts_crosscorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead-lag cross-correlation: corr(clicks_t, purchases_{t+k})
    for k in -5..+5. A positive peak at k>0 means clicks LEAD
    purchases by k days — the causal-direction smoke test before
    anyone fits an attribution model.

    Same shape as q_ts_acf: daily fold first, one ordered window
    produces all 11 shifted columns, stack + hash agg. The shifted
    column for lag k is lead(purchases, k) (negative k = lag), so
    every pair list is aligned without a self-join.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum((F.col("event_type") == "click").cast("long")).alias("clicks"),
        F.sum((F.col("event_type") == "purchase").cast("long")).alias("purchases"),
    )
    w = Window.orderBy("day")

    def shifted(k: int) -> F.Column:
        if k < 0:
            return F.lag("purchases", -k).over(w)
        if k == 0:
            return F.col("purchases")
        return F.lead("purchases", k).over(w)

    cols = [shifted(k).alias(f"s{k + _XLAG}") for k in range(-_XLAG, _XLAG + 1)]
    wide = daily.select("clicks", *cols)
    stacked = wide.select(
        F.expr(
            "stack("
            + str(2 * _XLAG + 1)
            + ", "
            + ", ".join(f"{k}, s{k + _XLAG}" for k in range(-_XLAG, _XLAG + 1))
            + ") AS (lag, p)"
        ),
        "clicks",
    )
    return (
        stacked.filter(F.col("p").isNotNull())
        .groupBy("lag")
        .agg(
            F.count("p").alias("n_pairs"),
            F.round(F.corr("clicks", "p"), 6).alias("xcorr"),
        )
        .orderBy("lag")
    )


_WINDOW_US = 7 * 86400 * 1_000_000  # 7-day attribution window, microseconds

_ORACLE_MULTITOUCH = f"""
WITH base AS (
    SELECT event_type, epoch_us(ts) AS us, user_id,
           CAST(ROUND(value * 100) AS BIGINT) AS cents
    FROM events
), counted AS (
    SELECT event_type, cents,
           SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) OVER w AS n_click,
           SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) OVER w AS n_view
    FROM base
    WINDOW w AS (PARTITION BY user_id ORDER BY us
                 RANGE BETWEEN {_WINDOW_US} PRECEDING AND 1 PRECEDING)
), purchases AS (
    SELECT cents,
           COALESCE(n_click, 0) AS n_click,
           COALESCE(n_view, 0) AS n_view,
           COALESCE(n_click, 0) + COALESCE(n_view, 0) AS n_touch
    FROM counted
    WHERE event_type = 'purchase'
), credited AS (
    SELECT 'click' AS channel,
           CASE WHEN n_touch > 0 THEN 1 ELSE 0 END AS hit,
           CASE WHEN n_touch > 0
                THEN CAST(FLOOR(cents * 1000000.0 * n_click / n_touch) AS BIGINT)
                ELSE 0 END AS micro
    FROM purchases
    UNION ALL
    SELECT 'view' AS channel,
           CASE WHEN n_touch > 0 THEN 1 ELSE 0 END AS hit,
           CASE WHEN n_touch > 0
                THEN CAST(FLOOR(cents * 1000000.0 * n_view / n_touch) AS BIGINT)
                ELSE 0 END AS micro
    FROM purchases
    UNION ALL
    SELECT 'direct' AS channel,
           CASE WHEN n_touch = 0 THEN 1 ELSE 0 END AS hit,
           CASE WHEN n_touch = 0 THEN cents * 1000000 ELSE 0 END AS micro
    FROM purchases
)
SELECT channel,
       CAST(SUM(hit) AS BIGINT) AS n_touched_purchases,
       ROUND(SUM(micro) / 100000000.0, 2) AS attributed_value
FROM credited
GROUP BY channel
ORDER BY channel
"""


@query("q_multitouch_attribution", oracle=_ORACLE_MULTITOUCH)
def multitouch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: each purchase's value is split
    across the click/view touches in the 7 days before it,
    proportional to touch counts; purchases with no prior touch fall
    to 'direct'. Complements q_last_touch_attribution (the
    winner-takes-all rule) with the equal-credit rule.

    Credit is floor fixed-point — FLOOR(cents*1e6*k/n) — so every
    per-purchase split is an exact integer on both engines (the
    ORACLES.md integer-ratio discipline); the only double is the final
    single division for display.

    Scale: one shuffle (by user_id) for the bounded 7-day RANGE frame
    over event time in microseconds; no self-join, no range join, and
    the frame never widens with data volume. The three-way credit
    expansion happens AFTER filtering to purchases only.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.unix_micros(F.col("ts")).alias("us"),
        "user_id",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(-_WINDOW_US, -1)
    )
    counted = ev.select(
        "event_type",
        "cents",
        F.coalesce(
            F.sum((F.col("event_type") == "click").cast("long")).over(w), F.lit(0)
        ).alias("n_click"),
        F.coalesce(
            F.sum((F.col("event_type") == "view").cast("long")).over(w), F.lit(0)
        ).alias("n_view"),
    )
    p = counted.filter(F.col("event_type") == "purchase").withColumn(
        "n_touch", F.col("n_click") + F.col("n_view")
    )
    # Three credit rows per purchase via stack() in ONE projection —
    # a union of three branches would re-derive the window per branch
    # (three user_id exchanges; the plan gate pins it to one).
    touched = F.col("n_touch") > 0

    def micro(k: F.Column) -> F.Column:
        return F.when(
            touched, F.floor(F.col("cents") * 1000000.0 * k / F.col("n_touch"))
        ).otherwise(F.lit(0))

    credits = p.select(
        F.expr("stack(3, 'click', 0, 'view', 1, 'direct', 2) AS (channel, slot)"),
        touched.alias("touched"),
        micro(F.col("n_click")).alias("m_click"),
        micro(F.col("n_view")).alias("m_view"),
        F.when(~touched, F.col("cents") * F.lit(1000000))
        .otherwise(F.lit(0))
        .alias("m_direct"),
    ).select(
        "channel",
        F.when(F.col("slot") == 2, (~F.col("touched")).cast("long"))
        .otherwise(F.col("touched").cast("long"))
        .alias("hit"),
        F.when(F.col("slot") == 0, F.col("m_click"))
        .when(F.col("slot") == 1, F.col("m_view"))
        .otherwise(F.col("m_direct"))
        .alias("micro"),
    )
    return (
        credits.groupBy("channel")
        .agg(
            F.sum("hit").alias("n_touched_purchases"),
            F.round(F.sum("micro") / 100000000.0, 2).alias("attributed_value"),
        )
        .orderBy("channel")
    )


_RATE_WINDOW_S = 60  # sliding rate window, seconds

_ORACLE_RATE_ANOMALY = f"""
WITH timed AS (
    SELECT user_id, epoch_us(ts) // 1000000 AS sec
    FROM events
), rated AS (
    SELECT user_id,
           COUNT(*) OVER (PARTITION BY user_id ORDER BY sec
                          RANGE BETWEEN {_RATE_WINDOW_S - 1} PRECEDING
                                    AND CURRENT ROW) AS burst
    FROM timed
)
SELECT user_id,
       CAST(MAX(burst) AS BIGINT) AS max_burst,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM rated
GROUP BY user_id
ORDER BY max_burst DESC, user_id
LIMIT 20
"""


@query("q_rate_anomaly", oracle=_ORACLE_RATE_ANOMALY)
def rate_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst detector: each user's maximum event count within any
    trailing 60-second window, top-20 — the bot/abuse screen that
    runs before events feed anything downstream.

    One user-partitioned RANGE frame over epoch seconds (integer
    floor division of microseconds, exact both engines) computes the
    per-event trailing burst; a per-user max + TakeOrdered finishes.
    Single shuffle by user_id; the frame is time-bounded so its cost
    is the user's 60-second event budget, not their history.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.floor(F.unix_micros(F.col("ts")) / 1_000_000).alias("sec")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("sec")
        .rangeBetween(-(_RATE_WINDOW_S - 1), 0)
    )
    rated = ev.select("user_id", F.count(F.lit(1)).over(w).alias("burst"))
    return (
        rated.groupBy("user_id")
        .agg(
            F.max("burst").alias("max_burst"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy(F.col("max_burst").desc(), "user_id")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Markov removal-effect attribution (round 4; Anderl et al. 2016,
# public literature) — the MODEL-BASED member of the attribution
# family (last-touch = heuristic, multi-touch = positional, this =
# counterfactual): build the first-order journey Markov chain
# (START → channel states → CONVERSION / NULL absorbers), compute the
# absorption probability P(conv), then for each channel the REMOVAL
# EFFECT 1 − P(conv | channel deleted) — "how much conversion
# disappears without this touchpoint" — and normalize effects into
# attribution shares.
#
# Scale shape: the distributed work is ONE per-user window pass +
# a transition-pair aggregation (states² ≤ dozens of rows at any
# corpus size); the chain solve is numpy on the driver over that
# constant-size matrix — the k-means/PCA bounded-driver-state rule.
#
# Contract-oracle as of round 7 (the kmeans/PCA pattern): the
# absorbing-chain SOLVE stays engine-specific (float64 linalg; a
# DuckDB fixpoint would differ in the last ulp at ROUND boundaries),
# so the registered query emits the DuckDB-verifiable anchors — exact
# per-channel TOUCH counts from the truncated journeys — plus the
# solve's invariant CLAIMS as flags (every removal effect in [0,1];
# raw attribution shares summing to 1, vacuously true when there are
# no conversions). The full effect/share detail stays available via
# markov_attribution_detail(); pytest pins its values and determinism.
# ---------------------------------------------------------------------------


def _markov_attribution_raw(
    spark: SparkSession, sf_dir: str
) -> list[tuple[str, int, float, float]]:
    """Removal-effect attribution over user journeys: journeys run
    through each user's events in time order up to the FIRST purchase
    (→ CONV) or their end (→ NULL); channels are the non-purchase
    event types. Returns UNROUNDED ``(channel, n_touches, effect,
    share)`` tuples — the contract query's invariant flags are computed
    from these, the detail DataFrame rounds them for display (ADVICE r7
    caught the flags being computed post-rounding)."""
    import numpy as np

    from pyspark.sql.window import Window

    # a NULL event_type has no channel to attribute — drop it up front
    # (inert at oracle scale: the fixture has no null types; the
    # registry-wide null-slice audit found the driver-side state sort
    # mixing None with str otherwise)
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # truncate each journey at its first purchase (inclusive)
    marked = ev.withColumn(
        "purchases_before",
        F.count(F.when(F.col("event_type") == "purchase", 1)).over(
            w.rowsBetween(Window.unboundedPreceding, -1)
        ),
    ).filter(F.col("purchases_before") == 0)
    nxt = F.lead("event_type").over(w)
    first = F.row_number().over(w)
    steps = marked.select(
        "user_id",
        F.col("event_type").alias("cur"),
        first.alias("rn"),
        F.coalesce(
            F.when(F.col("event_type") == "purchase", None).otherwise(nxt),
            F.when(F.col("event_type") == "purchase", F.lit("CONV")).otherwise(
                F.lit("NULL")
            ),
        ).alias("nxt_state"),
    )
    start_edges = steps.filter(F.col("rn") == 1).select(
        F.lit("START").alias("src"), F.col("cur").alias("dst")
    )
    walk_edges = steps.filter(F.col("cur") != "purchase").select(
        F.col("cur").alias("src"),
        F.when(F.col("nxt_state") == "purchase", "CONV")
        .otherwise(F.col("nxt_state"))
        .alias("dst"),
    )
    # START straight to purchase counts as a zero-channel conversion
    start_edges = start_edges.withColumn(
        "dst", F.when(F.col("dst") == "purchase", "CONV").otherwise(F.col("dst"))
    )
    counts = (
        start_edges.unionAll(walk_edges)
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )  # states² rows — bounded by event-type cardinality, never corpus

    states = sorted(
        {r["src"] for r in counts}
        | {r["dst"] for r in counts}
        | {"START", "CONV", "NULL"}  # absorbers exist even if unvisited
    )
    channels = sorted(s for s in states if s not in ("START", "CONV", "NULL"))
    idx = {s: i for i, s in enumerate(states)}
    n_states = len(states)
    mat = np.zeros((n_states, n_states))
    touch = {c: 0 for c in channels}
    for r in counts:
        mat[idx[r["src"]], idx[r["dst"]]] += r["n"]
        if r["src"] in touch:
            touch[r["src"]] += r["n"]

    def p_conv(drop: str | None) -> float:
        t = mat.copy()
        if drop is not None:
            d = idx[drop]
            t[d, :] = 0.0
            t[d, idx["NULL"]] = 1.0  # removed channel absorbs to NULL
        row_sums = t.sum(axis=1, keepdims=True)
        row_sums[row_sums == 0] = 1.0
        p = t / row_sums
        for absorber in ("CONV", "NULL"):
            a = idx[absorber]
            p[a, :] = 0.0
            p[a, a] = 1.0
        # absorption probabilities: x = P x + b with b = column CONV
        trans = [i for i, s in enumerate(states) if s not in ("CONV", "NULL")]
        q = p[np.ix_(trans, trans)]
        b = p[np.ix_(trans, [idx["CONV"]])]
        x = np.linalg.solve(np.eye(len(trans)) - q, b)
        return float(x[trans.index(idx["START"]), 0])

    base = p_conv(None)
    effects = {
        c: max(0.0, 1.0 - (p_conv(c) / base if base > 0 else 0.0)) for c in channels
    }
    total = sum(effects.values())
    return [
        (
            c,
            int(touch[c]),
            effects[c],
            effects[c] / total if total > 0 else 0.0,
        )
        for c in channels
    ]


def markov_attribution_detail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """6dp-rounded presentation of :func:`_markov_attribution_raw`;
    pytest pins its values and determinism."""
    rows = [
        (c, n, round(effect, 6), round(share, 6))
        for c, n, effect, share in _markov_attribution_raw(spark, sf_dir)
    ]
    return spark.createDataFrame(
        rows, "channel string, n_touches long, removal_effect double, attribution double"
    )


_ORACLE_MARKOV = """
WITH ev AS (
    SELECT user_id, ts, event_id, event_type
    FROM events WHERE event_type IS NOT NULL
),
marked AS (
    SELECT event_type,
           COUNT(*) FILTER (WHERE event_type = 'purchase') OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ) AS purchases_before
    FROM ev
)
SELECT event_type AS channel,
       CAST(COUNT(*) AS BIGINT) AS n_touches,
       CAST(1 AS INTEGER) AS effects_in_unit_range,
       CAST(1 AS INTEGER) AS attribution_normalized
FROM marked
WHERE purchases_before = 0 AND event_type <> 'purchase'
GROUP BY event_type
ORDER BY channel
"""


@query("q_markov_attribution", oracle=_ORACLE_MARKOV)
def markov_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract form (see module banner): exact per-channel touch
    anchors + the solve's invariant flags. Flags are computed from the
    UNROUNDED effects/shares on the driver; an attribution total of 0
    (no conversions anywhere) makes the normalization claim vacuously
    true, matching the oracle's constant."""
    # channels-sized, bounded by event-type cardinality
    rows = _markov_attribution_raw(spark, sf_dir)
    in_range = int(all(0.0 <= effect <= 1.0 for _, _, effect, _ in rows))
    share_sum = sum(share for _, _, _, share in rows)
    normalized = int(share_sum == 0.0 or abs(share_sum - 1.0) < 1e-4)
    out = [(c, int(n), in_range, normalized) for c, n, _, _ in rows]
    return spark.createDataFrame(
        sorted(out),
        "channel string, n_touches long, effects_in_unit_range int, "
        "attribution_normalized int",
    )
