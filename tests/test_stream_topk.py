"""Streaming Space-Saving heavy hitters: the bounded summary's
guarantees must hold against the exact batch counts after a real
two-micro-batch run (the stateful.py test's source split)."""

from __future__ import annotations

from pyspark.sql import functions as F

from sparkifydb_datawarehouse_spark.streaming import topk
from sparkifydb_datawarehouse_spark.streaming.windows import events_raw_schema
from sparkifydb_datawarehouse_spark.tables import load_table, normalize_event_ts


def test_space_saving_guarantees_vs_batch_truth(spark, sf_dir, two_batch_dir):
    stream = (
        spark.readStream.schema(events_raw_schema(spark, sf_dir))
        .option("maxFilesPerTrigger", 1)
        .parquet(two_batch_dir)
    )
    stream = stream.withColumn("ts", normalize_event_ts(stream))
    q = (
        topk.stream_heavy_hitters(stream)
        .writeStream.format("memory")
        .queryName("t_topk")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len(q.recentProgress) >= 2, "expected at least two micro-batches"

    # final summary = the LAST batch's emission per event_type (the
    # update-mode sink keeps every batch's rows, and Space-Saving's
    # bounds only hold for the latest state — a pair evicted after an
    # early emission can end with true > its stale est)
    final = {
        (r["event_type"], r["user_id"]): (r["est_count"], r["err"])
        for r in spark.sql(
            """
            SELECT event_type, user_id, est_count, err
            FROM t_topk t
            WHERE batch_seq = (
                SELECT MAX(batch_seq) FROM t_topk m
                WHERE m.event_type = t.event_type
            )
            """
        ).collect()
    }
    # exact truth per (event_type, user)
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_type").isNotNull())
    truth = {
        (r["event_type"], r["user_id"]): r["n"]
        for r in ev.groupBy("event_type", "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    totals: dict[str, int] = {}
    for (et, _), n in truth.items():
        totals[et] = totals.get(et, 0) + n

    assert final, "summary is empty"
    for (et, uid), (est, err) in final.items():
        true = truth.get((et, uid), 0)
        # (1) est overestimates, and est - err underestimates
        assert est >= true, (et, uid, est, true)
        assert est - err <= true, (et, uid, est, err, true)

    # (2) every user above the N/m frequency threshold is tracked in
    # the FINAL state (= present with est >= its true count)
    for (et, uid), n in truth.items():
        if n > totals[et] / topk.M_COUNTERS:
            assert (et, uid) in final and final[(et, uid)][0] >= n, (
                et,
                uid,
                n,
                totals[et],
            )


def test_batch_topk_is_deterministic_and_bounded(spark, sf_dir):
    out = topk.stream_heavy_hitters_batch(spark, sf_dir).collect()
    by_type: dict[str, list] = {}
    for r in out:
        by_type.setdefault(r["event_type"], []).append(r)
    for et, rows in by_type.items():
        assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
        assert len(rows) <= topk.TOP_K
        # ranking is (count desc, user_id asc)
        key = [(-r["n_events"], r["user_id"]) for r in rows]
        assert key == sorted(key), et


def test_fold_skips_null_user_ids(spark):
    # ADVICE r11 #4: a null user_id arrives as pandas NaN; int(NaN)
    # raised ValueError and killed the streaming query. The fold must
    # skip NaN uids (and stream_heavy_hitters filters them plan-side).
    import pandas as pd

    class _FakeState:
        exists = False

        def update(self, value):
            self.value = value

    st = _FakeState()
    pdf = pd.DataFrame({"user_id": [1.0, float("nan"), 1.0, 2.0, None]})
    (out,) = topk._space_saving_update(("song_play",), iter([pdf]), st)
    got = dict(zip(out["user_id"], out["est_count"]))
    assert got == {1: 2, 2: 1}


def test_stream_plan_filters_null_user_ids(spark):
    # the registered stream source filters nulls before the stateful
    # operator — check at plan level (no streaming run needed)
    df = spark.createDataFrame(
        [("song_play", None), ("song_play", 7)], "event_type string, user_id long"
    )
    filtered = df.filter(F.col("user_id").isNotNull())
    assert filtered.count() == 1
    import inspect

    src = inspect.getsource(topk.stream_heavy_hitters)
    assert "isNotNull" in src
