"""tables.side_table: the one way to materialise a side table.

(a) The helper's contract, with plain-Python builds: a published
directory is reused, a failed build publishes nothing (also for the
snapshot MERGE copy), a lost publish race returns the winner, a
source rewritten at the same path keys a new directory, and the copy
that directory supersedes is removed.

(b) Every registered query that reads a side table is re-run after its
source table is rewritten at the same path (half its rows kept), and
must match its DuckDB oracle over the rewritten data — a side table
keyed only by the path string serves the stale copy instead.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

import pyarrow.parquet as pq
import pytest

from sparkifydb_datawarehouse_spark import registry
from sparkifydb_datawarehouse_spark.sources import layout
from sparkifydb_datawarehouse_spark.streaming import windows as sw
from sparkifydb_datawarehouse_spark.tables import side_table, table_path
from tools.validate import compare, duck_connection, jobs_of

from conftest import SF_SMOKE

registry.load_all_modules()


@pytest.fixture
def sf_copy(tmp_path, monkeypatch) -> str:
    """A writable copy of the smoke fixture (the originals are
    read-only); side tables land under tmp_path too."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    d = tmp_path / "sf"
    d.mkdir()
    for f in os.listdir(SF_SMOKE):
        shutil.copyfile(os.path.join(SF_SMOKE, f), d / f)
    return str(d)


def _keep_half(sf_dir: str, table: str) -> None:
    """Rewrite a source table at the same path with its first half of
    rows (pyarrow keeps the column types; pandas would re-type
    timestamps to NANOS)."""
    path = table_path(sf_dir, table)
    t = pq.read_table(path)
    pq.write_table(t.slice(0, t.num_rows // 2), path)


def _recording_build(calls: list):
    def build(d: str) -> None:
        calls.append(d)
        os.makedirs(d)
        with open(os.path.join(d, "data.txt"), "w") as fh:
            fh.write("built")

    return build


def _leftover_tmp(d: str) -> list[str]:
    prefix = os.path.basename(d) + ".tmp-"
    return [p for p in os.listdir(os.path.dirname(d)) if p.startswith(prefix)]


def test_second_call_does_not_rebuild(spark, sf_copy):
    calls = []
    d1 = side_table(spark, sf_copy, ["nation"], "t-once", _recording_build(calls))
    d2 = side_table(spark, sf_copy, ["nation"], "t-once", _recording_build(calls))
    assert d1 == d2
    assert len(calls) == 1
    assert os.listdir(d1) == ["data.txt"]
    assert not _leftover_tmp(d1)


def test_failed_build_publishes_nothing(spark, sf_copy):
    def crashing(d: str) -> None:
        os.makedirs(d)
        open(os.path.join(d, "partial.txt"), "w").close()
        raise RuntimeError("build crashed")

    with pytest.raises(RuntimeError, match="build crashed"):
        side_table(spark, sf_copy, ["nation"], "t-crash", crashing)
    calls = []
    d = side_table(spark, sf_copy, ["nation"], "t-crash", _recording_build(calls))
    assert len(calls) == 1
    assert os.listdir(d) == ["data.txt"]
    assert not _leftover_tmp(d)


def test_lost_publish_race_returns_winner(spark, sf_copy):
    def racing(tmp: str) -> None:
        # a concurrent build publishes the final directory first
        winner = tmp.rsplit(".tmp-", 1)[0]
        os.makedirs(winner)
        open(os.path.join(winner, "winner.txt"), "w").close()
        _recording_build([])(tmp)

    d = side_table(spark, sf_copy, ["nation"], "t-race", racing)
    assert os.listdir(d) == ["winner.txt"]
    assert not _leftover_tmp(d)


def test_rewritten_source_keys_new_directory(spark, sf_copy):
    calls = []
    d1 = side_table(spark, sf_copy, ["nation"], "t-fp", _recording_build(calls))
    _keep_half(sf_copy, "nation")
    d2 = side_table(spark, sf_copy, ["nation"], "t-fp", _recording_build(calls))
    assert d1 != d2
    assert len(calls) == 2
    # the same name over another source table is another side table
    d3 = side_table(spark, sf_copy, ["region"], "t-fp", _recording_build(calls))
    assert d3 not in (d1, d2)


def test_superseded_copy_is_evicted(spark, sf_copy):
    """Publishing the copy of a rewritten source removes the copy it
    supersedes; a copy with another name on the same sf_dir stays."""
    d_old = side_table(spark, sf_copy, ["nation"], "t-evict", _recording_build([]))
    d_other = side_table(spark, sf_copy, ["nation"], "t-keep", _recording_build([]))
    _keep_half(sf_copy, "nation")
    d_new = side_table(spark, sf_copy, ["nation"], "t-evict", _recording_build([]))
    assert d_new != d_old
    assert not os.path.exists(d_old)
    assert os.listdir(d_new) == ["data.txt"]
    assert os.listdir(d_other) == ["data.txt"]


def test_crashed_merge_is_not_published(spark, sf_copy, monkeypatch):
    """The merged snapshot copy is built before it is published: a
    MERGE that crashes leaves no HEAD.json-bearing copy behind for the
    next call to serve unmerged."""
    from sparkifydb_datawarehouse_spark.sources import snapshots as snap

    def crash(*_args, **_kwargs):
        raise RuntimeError("merge crashed")

    with monkeypatch.context() as m:
        m.setattr(snap, "merge_upsert", crash)
        with pytest.raises(RuntimeError, match="merge crashed"):
            snap.snapshot_merge_upsert(spark, sf_copy)
    merged = snap.snapshot_merge_upsert(spark, sf_copy)
    assert merged.filter(merged["source"] == snap._MERGE_SOURCE).count() > 0


def test_snapshot_table_refuses_keys_past_the_append_offset(spark, sf_copy, tmp_path):
    """An events table whose keys reach the append offset is refused
    after the v1 bucket writes observe its key maximum, and the
    half-built snapshot table is never published."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from sparkifydb_datawarehouse_spark.sources import snapshots as snap

    path = table_path(sf_copy, "events")
    t = pq.read_table(path)
    i = t.schema.get_field_index("event_id")
    shifted = pc.add(t.column(i), pa.scalar(snap._APPEND_OFFSET, t.schema.field(i).type))
    pq.write_table(t.set_column(i, t.schema.field(i), shifted), path)
    with pytest.raises(ValueError, match="append offset"):
        snap.events_snapshot_table(spark, sf_copy)
    assert not [p for p in os.listdir(tmp_path) if p.startswith("sparkifydb_side_")]


def _stream_tumbling(spark, sf_dir: str):
    """q_stream_tumbling's transformation over the file-source stream,
    which reads the events table through a side-table copy."""
    name = f"t_side_tumbling_{uuid.uuid4().hex[:8]}"
    return sw.run_stream_to_memory(
        spark, sw.tumbling_counts(sw.event_stream(spark, sf_dir)), name
    )


# case → the source table its side table copies; "stream:" runs the
# query's transformation over the file-source stream instead
_SIDE_TABLE_QUERIES = {
    "q_scan_csv": "customer",
    "q_scan_json": "orders",
    "q_scan_orc": "supplier",
    "q_scan_text": "nation",
    "q_scan_xml": "supplier",
    "q_scan_avro": "supplier",
    "q_stream_tumbling": "events",
    "stream:q_stream_tumbling": "events",
    "q_join_bucketed": "orders",
    "q_join_partition_pruned": "customer",
}


def _run(spark, case: str, sf_dir: str):
    if case.startswith("stream:"):
        return _stream_tumbling(spark, sf_dir).toPandas()
    return registry.QUERIES[case](spark, sf_dir).toPandas()


@pytest.mark.parametrize("case", sorted(_SIDE_TABLE_QUERIES))
def test_rewritten_source_is_read_again(spark, sf_copy, case):
    qid = case.removeprefix("stream:")
    before = _run(spark, case, sf_copy)
    _keep_half(sf_copy, _SIDE_TABLE_QUERIES[case])
    after = _run(spark, case, sf_copy)
    with duck_connection(sf_copy) as con:
        oracle = con.sql(registry.ORACLE[qid]).df()
    problems = compare(qid, after, oracle)
    assert not problems, f"{case} after rewrite ({len(before)} rows before): " + (
        "; ".join(problems)
    )


def _mtimes(d: str) -> dict[str, int]:
    return {
        os.path.join(root, f): os.stat(os.path.join(root, f)).st_mtime_ns
        for root, dirs, files in os.walk(d)
        for f in dirs + files
    }


def test_layout_copies_stay_out_of_the_warehouse(spark, sf_copy):
    """The bucketed and partitioned copies behind q_join_bucketed and
    q_join_partition_pruned are side tables: running both queries
    writes nothing under the session's warehouse dir, and asking for
    the copies again runs no Spark job."""
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    before = _mtimes(wh)
    for qid in ("q_join_bucketed", "q_join_partition_pruned"):
        registry.QUERIES[qid](spark, sf_copy).collect()
    assert _mtimes(wh) == before

    def copies():
        layout._bucketed_table(spark, sf_copy, "orders", "o_orderkey")
        layout._bucketed_table(spark, sf_copy, "lineitem", "l_orderkey")
        layout._partitioned_customer(spark, sf_copy)

    assert jobs_of(spark, copies)[1] == 0
