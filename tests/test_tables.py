"""The session's table catalog (tables.file_schema): a fixture table's
or data file's schema is inferred from its parquet footer once per
session and file version, and every later `load_table` or
`read_parquet` reads with the cached schema and runs no Spark job.
"""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.types import TimestampType

from sparkifydb_datawarehouse_spark.tables import (
    load_table,
    normalize_event_ts,
    read_parquet,
    table_path,
)
from tools.validate import jobs_of

from conftest import SF_SMOKE


@pytest.fixture
def sf_copy(tmp_path) -> str:
    """A writable copy of the smoke fixture, new to every session's
    catalog (the originals are read-only)."""
    d = tmp_path / "sf"
    d.mkdir()
    for f in os.listdir(SF_SMOKE):
        shutil.copyfile(os.path.join(SF_SMOKE, f), d / f)
    return str(d)


def _load_jobs(spark, sf_dir: str, name: str):
    """load_table(spark, sf_dir, name) and the Spark jobs it ran."""
    return jobs_of(spark, lambda: load_table(spark, sf_dir, name))


def test_second_load_runs_no_job(spark, sf_copy):
    _, first = _load_jobs(spark, sf_copy, "lineitem")
    df, second = _load_jobs(spark, sf_copy, "lineitem")
    assert first == 1
    assert second == 0
    assert df.count() == pq.read_metadata(table_path(sf_copy, "lineitem")).num_rows


def test_rewritten_table_is_read_again(spark, sf_copy):
    """A table rewritten at the same path, with half its rows and one
    more column, is inferred again: the next load sees the new schema
    and the new row count."""
    before = load_table(spark, sf_copy, "orders")
    n_before = before.count()
    path = table_path(sf_copy, "orders")
    t = pq.read_table(path)
    half = t.slice(0, t.num_rows // 2)
    pq.write_table(half.append_column("o_extra", pa.array(range(half.num_rows))), path)
    after, jobs = _load_jobs(spark, sf_copy, "orders")
    assert jobs == 1
    assert after.columns == before.columns + ["o_extra"]
    assert after.count() == n_before // 2
    assert load_table(spark, sf_copy, "orders").schema == after.schema


def test_cached_events_keep_timestamp_ts(spark, sf_copy):
    load_table(spark, sf_copy, "events")
    cached, jobs = _load_jobs(spark, sf_copy, "events")
    assert jobs == 0
    assert isinstance(cached.schema["ts"].dataType, TimestampType)
    raw = spark.read.parquet(table_path(sf_copy, "events"))
    fresh = raw.withColumn("ts", normalize_event_ts(raw))
    assert cached.schema == fresh.schema
    key = ["event_id", "ts"]
    assert cached.select(key).orderBy(key).collect() == fresh.select(key).orderBy(key).collect()


def test_new_session_does_not_reuse_entries(spark, sf_copy):
    load_table(spark, sf_copy, "nation")
    other = spark.newSession()
    _, jobs = _load_jobs(other, sf_copy, "nation")
    assert jobs == 1
    _, jobs = _load_jobs(spark, sf_copy, "nation")
    assert jobs == 0


def test_file_rewritten_in_place_is_read_with_its_new_schema(spark, tmp_path):
    """A single data file replaced at the same name (a staged file moved
    over it, as a replayed stream batch commit does) and now carrying
    one more column is read back with the new schema; a second read of
    the unchanged file runs no job."""
    path = str(tmp_path / "batch-0000000000.parquet")
    pq.write_table(pa.table({"k": [1, 2]}), path)
    assert read_parquet(spark, [path]).columns == ["k"]
    staged = str(tmp_path / "_stage_batch")
    pq.write_table(pa.table({"k": [3], "v": ["c"]}), staged)
    os.replace(staged, path)
    after, jobs = jobs_of(spark, lambda: read_parquet(spark, [path]))
    assert jobs == 1
    assert after.columns == ["k", "v"]
    again, jobs = jobs_of(spark, lambda: read_parquet(spark, [path]))
    assert jobs == 0
    assert [tuple(r) for r in again.collect()] == [(3, "c")]
