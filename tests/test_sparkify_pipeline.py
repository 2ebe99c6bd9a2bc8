"""End-to-end test of the Sparkify ETL replica (A17 orchestration)."""

from __future__ import annotations

from sparkifydb_datawarehouse_spark.pipelines import sparkify
from tools.validate import jobs_of


def test_run_pipeline(spark, tmp_path):
    counts = sparkify.run_pipeline(spark, str(tmp_path / "warehouse"))
    assert set(counts) == {"songplays", "users", "songs", "artists", "time"}
    assert counts["songs"] == 12
    assert counts["songplays"] > 0, "fixture must contain join hits"
    assert counts["users"] == 300, "duplicates kept — one row per staging event"
    # time is DISTINCT ts over ALL NextSong events (join misses included,
    # like the reference's time_table_insert) → at least the join hits
    assert counts["time"] >= counts["songplays"]


def test_run_pipeline_job_budget_and_observed_counts(spark, tmp_path):
    """Row counts come from the write itself (DataFrame.observe), not a
    read-back: a pipeline run is 2 staging checkpoints + 8 write-side
    jobs (songplays and artists 2 each, users and songs 1, time 2), and
    each observed count equals what a read of the written table sees."""
    wh = tmp_path / "warehouse"
    counts, n_jobs = jobs_of(spark, lambda: sparkify.run_pipeline(spark, str(wh)))
    assert n_jobs <= 10, f"run_pipeline ran {n_jobs} Spark jobs (budget 10)"
    for name, n in counts.items():
        assert spark.read.parquet(str(wh / name)).count() == n, name


def test_songplays_join_semantics(spark):
    sp = sparkify.songplays(spark).collect()
    se = sparkify.load_staging_events(spark)
    n_next_song = se.filter("page = 'NextSong'").count()
    assert 0 < len(sp) < n_next_song, "some NextSong events must miss the join"
    assert all(r["song_id"].startswith("SO") for r in sp)


def test_songs_year_nullif(spark):
    rows = sparkify.songs_dim(spark).collect()
    assert any(r["year"] is None for r in rows), "year==0 songs must become NULL"
    assert all(r["year"] != 0 for r in rows)


def test_surrogate_key_unique(spark, tmp_path):
    sparkify.run_pipeline(spark, str(tmp_path / "wh"))
    sp = spark.read.parquet(str(tmp_path / "wh" / "songplays"))
    assert sp.select("songplay_id").distinct().count() == sp.count()


def test_cli_etl_end_to_end(tmp_path):
    """`python -m sparkifydb_datawarehouse_spark etl` — the reference's
    `make etl` (create then process) as one command: star tables land
    in the warehouse dir and re-running is idempotent (drop-then-create
    semantics)."""
    from sparkifydb_datawarehouse_spark.__main__ import STAR_TABLES, main

    wh = str(tmp_path / "wh")
    assert main(["etl", "--warehouse", wh]) == 0
    import os

    first = {t: os.listdir(os.path.join(wh, t)) for t in STAR_TABLES}
    assert all(first.values())
    # idempotent rerun: same tables, fresh contents
    assert main(["etl", "--warehouse", wh]) == 0
    for t in STAR_TABLES:
        assert os.path.exists(os.path.join(wh, t, "_SUCCESS"))
