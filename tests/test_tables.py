"""The session's table catalog: a fixture table or data file is
resolved (file listing and a schema inferred from its parquet footer)
once per session and file version, and every later `load_table` or
`read_parquet` puts a new DataFrame over the kept relation in one JVM
call and runs no Spark job.
"""

from __future__ import annotations

import os
import shutil

import re

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import SparkSession
from pyspark.sql.types import TimestampType

from sparkifydb_datawarehouse_spark.tables import (
    load_table,
    normalize_event_ts,
    read_parquet,
    table_path,
)
from tools.validate import jobs_of, roundtrips_of

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


def test_warm_load_sends_few_round_trips(spark, sf_copy):
    """A warm load of a one-file table fingerprints the file and puts a
    DataFrame over the kept relation: at most 15 py4j round trips, none
    of them reflection (a DataFrameReader read took 30)."""
    load_table(spark, sf_copy, "lineitem")
    _, trips = roundtrips_of(spark, lambda: load_table(spark, sf_copy, "lineitem"))
    assert sum(trips.values()) <= 15, dict(trips)
    assert trips["reflection"] == 0, dict(trips)


def test_second_read_reuses_the_resolved_relation(spark, sf_copy, monkeypatch):
    """A second read of an unchanged path runs no job and no
    DataFrameReader, and reads the same relation object."""
    path = table_path(sf_copy, "supplier")
    first = read_parquet(spark, [path])

    def no_reader(self):
        raise AssertionError("read_parquet used a DataFrameReader")

    monkeypatch.setattr(SparkSession, "read", property(no_reader))
    again, jobs = jobs_of(spark, lambda: read_parquet(spark, [path]))
    assert jobs == 0
    identity = getattr(spark._jvm, "java.lang.System").identityHashCode
    relations = [df._jdf.queryExecution().analyzed().relation() for df in (first, again)]
    assert identity(relations[0]) == identity(relations[1])
    assert again.count() == pq.read_metadata(path).num_rows


def test_two_loads_self_join(spark):
    """Two loads of one table in one query have disjoint attribute ids,
    so their self-join resolves each side and counts what DuckDB does."""
    a = load_table(spark, SF_SMOKE, "orders")
    b = load_table(spark, SF_SMOKE, "orders")

    def ids(df):
        output = df._jdf.queryExecution().analyzed().output().mkString(",")
        return set(re.findall(r"#(\d+)", output))

    assert ids(a) and not ids(a) & ids(b)
    n = a.join(b, a.o_custkey == b.o_custkey).count()
    path = table_path(SF_SMOKE, "orders")
    [(want,)] = duckdb.sql(
        f"SELECT COUNT(*) FROM read_parquet('{path}') x "
        f"JOIN read_parquet('{path}') y ON x.o_custkey = y.o_custkey"
    ).fetchall()
    assert n == want
