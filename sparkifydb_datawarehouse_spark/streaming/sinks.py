"""Streaming sinks beyond the built-ins: foreachBatch incremental
upsert — the standard "stream into a warehouse table" pattern.

writeStream's file sink is append-only; real pipelines need upsert
(late events replace earlier versions of the same key). foreachBatch
hands each micro-batch to arbitrary DataFrame code with exactly-once
bookkeeping from the checkpoint: if a batch is reprocessed after a
crash, the same batch_id is delivered again, so an idempotent merge
keeps the sink correct.

Scale notes: the merge below re-reads the current sink per batch —
fine for dimension-sized sinks, wrong for fact-scale ones (there the
sink is a Delta/Iceberg MERGE, which this function's body swaps to
one call; the orchestration shape is identical). Partitioning the
sink table by a time column keeps each micro-batch's rewrite to the
partitions it touches.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..tables import read_parquet, replace_dir


def upsert_batch(sink_dir: str, key_cols: list[str], order_col: str):
    """Returns a foreachBatch function that merges each micro-batch
    into a parquet dir, keeping the highest-`order_col` row per key.
    Idempotent: replaying a batch converges to the same sink state."""

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if os.path.exists(os.path.join(sink_dir, "_SUCCESS")):
            current = read_parquet(spark, [sink_dir])
            merged = current.unionByName(batch_df)
        else:
            merged = batch_df
        w = Window.partitionBy(*key_cols).orderBy(F.col(order_col).desc())
        winner = (
            merged.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        # the sink is also the read source: overwrite-while-reading is
        # undefined, so the merge is built aside and swapped in
        replace_dir(sink_dir, winner.write.parquet)

    return _merge


def run_upsert_stream(
    spark: SparkSession,
    source: DataFrame,
    sink_dir: str,
    checkpoint_dir: str,
    key_cols: list[str],
    order_col: str,
) -> None:
    """Drain a stream into the upsert sink with availableNow."""
    q = (
        source.writeStream.foreachBatch(upsert_batch(sink_dir, key_cols, order_col))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
