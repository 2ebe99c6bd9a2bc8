"""B15/B16 — event-time windowed aggregation + dedup, batch and stream.

The reference is batch-only (SURVEY §2.10); streaming is an engine
extension. Design principle: each transformation is defined ONCE as a
function of a DataFrame and applied to either the static events table
or a readStream of the same schema — Structured Streaming's
unification means the logical plan is identical, so the batch run IS
the oracle for the streaming run (and the DuckDB oracle checks the
batch run).

Scale notes:
- Watermarks bound state: a 10-minute watermark on a tumbling window
  means state for at most (window + watermark) of event-time per key
  group; without it, state grows unboundedly at 100 TB/day rates.
- dropDuplicatesWithinWatermark keeps only in-horizon keys — the
  exactly-once ingest dedup pattern for at-least-once sources.
- Session windows are merged incrementally by the state store; skewed
  users (one user, millions of events) concentrate in one state
  partition — pre-filter bots or split identity upstream.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType
from pyspark.sql.window import Window

from ..registry import query
from ..tables import file_schema, load_table, normalize_event_ts, side_table, table_path

WATERMARK = "10 minutes"

def events_raw_schema(spark: SparkSession, sf_dir: str) -> StructType:
    """Explicit schema for the stream source (streaming reads must
    never infer): the events file schema from the session's table
    catalog, the same one `load_table` reads with. The first call per
    session and table version infers it from the parquet footer, later
    calls run no job. Fixture generations encode `ts` differently
    (nanos-as-long vs TIMESTAMP(MICROS) NTZ), so a hardcoded schema
    would corrupt one of them."""
    return file_schema(spark, [table_path(sf_dir, "events")])


def _stream_source_dir(spark: SparkSession, sf_dir: str) -> str:
    """The parquet file source streams a DIRECTORY (new files appear →
    new micro-batches); the fixture is a single file, so stage a copy
    into a side-table directory once per source content."""
    import shutil

    def build(d: str) -> None:
        os.makedirs(d)
        shutil.copy(table_path(sf_dir, "events"), os.path.join(d, "events.parquet"))

    return side_table(spark, sf_dir, ["events"], "events-stream-source", build)


def event_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events parquet (file source). Explicit
    schema — streaming sources must never infer — with the same
    NANOS→micros conversion the batch loader applies."""
    raw = spark.readStream.schema(events_raw_schema(spark, sf_dir)).parquet(
        _stream_source_dir(spark, sf_dir)
    )
    return raw.withColumn("ts", normalize_event_ts(raw))


# ---------------------------------------------------------------------------
# Transformations, written once for batch AND streaming inputs.
# ---------------------------------------------------------------------------


def tumbling_counts(events: DataFrame) -> DataFrame:
    """1-hour tumbling windows per event_type."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_counts(events: DataFrame) -> DataFrame:
    """1-hour windows sliding every 30 minutes (each event lands in 2)."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "n_events")
    )


def session_counts(events: DataFrame) -> DataFrame:
    """Per-user session windows with a 30-minute inactivity gap."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def dedup_stream(events: DataFrame) -> DataFrame:
    """Exactly-once ingest dedup on event_id within the watermark
    horizon (streaming); on a batch frame dropDuplicates is exact."""
    deduped = events.withWatermark("ts", WATERMARK)
    if events.isStreaming:
        return deduped.dropDuplicatesWithinWatermark(["event_id"])
    return deduped.dropDuplicates(["event_id"])


def run_stream_to_memory(
    spark: SparkSession, streaming_df: DataFrame, name: str
) -> DataFrame:
    """Execute a streaming query with availableNow (process everything
    then stop) into a memory sink; returns the result as a DataFrame.
    Complete mode because windowed aggs only emit finalized windows
    under append + watermark."""
    mode = "complete" if streaming_df.isStreaming and _has_agg(streaming_df) else "append"
    q = (
        streaming_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.sql(f"SELECT * FROM {name}")


def _has_agg(df: DataFrame) -> bool:
    return "Aggregate" in df._jdf.queryExecution().analyzed().toString()


def run_stream_with_progress(
    spark: SparkSession, streaming_df: DataFrame, name: str, mode: str = "append"
) -> tuple[DataFrame, list[dict]]:
    """Like run_stream_to_memory, but also returns the per-micro-batch
    StreamingQueryProgress records (as dicts) so tests can assert the
    OBSERVED late-data contract — `stateOperators[].
    numRowsDroppedByWatermark` and the `eventTime.watermark` line are
    the production evidence that a watermark actually dropped late
    rows, not just that the query ran (VERDICT r4 #8)."""
    import json

    q = (
        streaming_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    progress = [json.loads(p.json) for p in q.recentProgress]
    return spark.sql(f"SELECT * FROM {name}"), progress


def watermark_drop_counts(progress: list[dict]) -> tuple[int, list[str]]:
    """(total rows dropped by watermark, watermark timestamps per
    batch) pulled from StreamingQueryProgress dicts."""
    dropped = sum(
        op.get("numRowsDroppedByWatermark", 0)
        for p in progress
        for op in p.get("stateOperators", [])
    )
    marks = [
        p["eventTime"]["watermark"]
        for p in progress
        if "watermark" in p.get("eventTime", {})
    ]
    return dropped, marks


# ---------------------------------------------------------------------------
# Oracle-checked batch equivalents (the driver's correctness handle on
# the streaming semantics).
# ---------------------------------------------------------------------------

_ORACLE_TUMBLING = """
SELECT make_timestamp(CAST(FLOOR(epoch(ts) / 3600) * 3600 AS BIGINT) * 1000000)
           AS window_start,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(SUM(value), 4) AS sum_value
FROM events
GROUP BY 1, 2
ORDER BY window_start, event_type
"""


@query("q_stream_tumbling", oracle=_ORACLE_TUMBLING)
def stream_tumbling_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return tumbling_counts(ev).orderBy("window_start", "event_type")


_ORACLE_SLIDING = """
SELECT window_start, CAST(COUNT(*) AS BIGINT) AS n_events
FROM (
    SELECT make_timestamp(CAST(FLOOR(epoch(ts) / 1800) * 1800 - k * 1800 AS BIGINT)
                          * 1000000) AS window_start,
           ts
    FROM events, UNNEST([0, 1]) AS t(k)
)
WHERE ts >= window_start AND ts < window_start + INTERVAL 1 HOUR
GROUP BY window_start
ORDER BY window_start
"""


@query("q_stream_sliding", oracle=_ORACLE_SLIDING)
def stream_sliding_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return sliding_counts(ev).orderBy("window_start")


_ORACLE_SESSION = """
WITH marked AS (
    SELECT user_id, ts,
           CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                     > INTERVAL 30 MINUTE
                OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                THEN 1 ELSE 0 END AS new_session
    FROM events
),
sessions AS (
    SELECT user_id, ts,
           SUM(new_session) OVER (
               PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS session_no
    FROM marked
)
SELECT MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
       user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM sessions
GROUP BY user_id, session_no
ORDER BY user_id, session_start
"""


@query("q_stream_session", oracle=_ORACLE_SESSION)
def stream_session_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return session_counts(ev).orderBy("user_id", "session_start")


_ORACLE_DEDUP_EVENTS = """
SELECT event_id, user_id, event_type, value
FROM (
    SELECT event_id, user_id, event_type, value,
           ROW_NUMBER() OVER (PARTITION BY user_id, event_type, ts ORDER BY event_id)
               AS rn
    FROM events
)
WHERE rn = 1
ORDER BY event_id
"""


@query("q_dedup_events", oracle=_ORACLE_DEDUP_EVENTS)
def dedup_events_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic dedup on the natural key (user_id, event_type, ts):
    keep the lowest event_id — the batch-exact form of streaming ingest
    dedup (dropDuplicates picks an arbitrary row; row_number picks a
    defined one, so the result is oracle-comparable)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type", "ts").orderBy("event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_id", "user_id", "event_type", "value")
        .orderBy("event_id")
    )
