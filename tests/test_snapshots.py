"""Snapshot-versioned table mechanics (round 12): immutable shared
data files, copy-on-write scope, manifest/HEAD planning metadata,
time-travel equality, and the file-pruned diff."""

from __future__ import annotations

import json
import os

import pytest

from pyspark.sql import functions as F

from sparkifydb_datawarehouse_spark.sources import snapshots as snap
from sparkifydb_datawarehouse_spark.tables import load_table


@pytest.fixture(scope="module")
def table_dir(spark, sf_dir):
    return snap.events_snapshot_table(spark, sf_dir)


def test_manifests_share_untouched_buckets(table_dir):
    m1 = snap.snapshot_manifest(table_dir, 1)
    m2 = snap.snapshot_manifest(table_dir, 2)
    shared = set(m1["files"]) & set(m2["files"])
    # COW scope: exactly buckets 1-3 are shared BY REFERENCE; bucket 0
    # was rewritten and one append file added
    assert shared == {"b1-v1.parquet", "b2-v1.parquet", "b3-v1.parquet"}
    assert set(m2["files"]) - shared == {"b0-v2.parquet", "append-v2.parquet"}
    assert m1["op"] == "create" and m1["parent"] is None
    assert m2["op"] == "merge" and m2["parent"] == 1
    head = json.load(open(os.path.join(table_dir, "HEAD.json")))
    assert head == {"current": 7}  # v7 = the z-order compaction
    # every referenced file exists (data + delete sidecars); no
    # staging leftovers
    referenced = set()
    for v in snap.live_versions(table_dir):
        m = snap.snapshot_manifest(table_dir, v)
        referenced |= set(m["files"]) | set(m.get("deletes", []))
    for f in referenced:
        assert os.path.exists(os.path.join(table_dir, f))
    assert not [f for f in os.listdir(table_dir) if f.startswith("_stage_")]


def test_time_travel_v1_equals_base_table(spark, sf_dir, table_dir):
    base = load_table(spark, sf_dir, "events").select(*snap._COLS)
    v1 = snap.read_snapshot(spark, table_dir, 1).select(*snap._COLS)
    assert v1.exceptAll(base).count() == 0 and base.exceptAll(v1).count() == 0


def test_head_read_reflects_merge(spark, sf_dir, table_dir):
    cur = snap.read_snapshot(spark, table_dir).select(*snap._COLS)
    base = load_table(spark, sf_dir, "events")
    n_base = base.count()
    n_appended = base.filter(F.col("event_id") < snap._APPEND_KEY_LIMIT).count()
    quarter = snap.snapshot_manifest(table_dir, 3)["properties"]["quarter"]
    n_deleted = base.filter(
        (F.col("event_id") % snap._DELETE_MOD == snap._DELETE_DIGIT)
        & (F.col("event_id") <= 2 * quarter - 1)
    ).count()
    n_evolved = base.filter(F.col("event_id") < snap._EVOLVE_KEY_LIMIT).count()
    assert cur.count() == n_base + n_appended - n_deleted + n_evolved
    # ends-in-7 deleted keys are odd, %4==0 merge keys even: the
    # modified-key probe below is provably delete-proof
    # modified keys carry the +100; a probe key from an untouched
    # bucket is byte-identical to v1
    mod = cur.filter(F.col("event_id") % snap._N_BUCKETS == 0)
    v1_mod = (
        snap.read_snapshot(spark, table_dir, 1)
        .filter(F.col("event_id") % snap._N_BUCKETS == 0)
        .select(*snap._COLS)
    )
    joined = mod.alias("c").join(v1_mod.alias("o"), "event_id").select(
        (F.col("c.value") - F.col("o.value")).alias("d")
    )
    assert joined.filter(F.abs(F.col("d") - 100) > 1e-9).count() == 0


def _scanned_files(df) -> set[str]:
    """The names of the data files the scans of ``df`` read. Spark cuts
    each scan's Location in the plan string at 100 characters, so the
    plan text cannot tell which files a scan reads."""
    return {os.path.basename(f) for f in df.inputFiles()}


def test_diff_reads_only_nonshared_files(spark, sf_dir, table_dir):
    # the diff reads exactly the 3 non-shared files: v2's 2 new files
    # and the 1 file v1 retired
    df = snap.snapshot_diff(spark, sf_dir)
    assert _scanned_files(df) == {"b0-v2.parquet", "append-v2.parquet", "b0-v1.parquet"}


def test_pruned_read_scans_only_intersecting_file(spark, sf_dir, table_dir):
    df = snap.snapshot_pruned_read(spark, sf_dir)
    assert _scanned_files(df) == {"r0-v3.parquet"}
    # and the compaction preserved the merge's logical content
    cur = snap.read_snapshot(spark, table_dir, 3).select(*snap._COLS)
    v2 = snap.read_snapshot(spark, table_dir, 2).select(*snap._COLS)
    assert cur.exceptAll(v2).count() == 0 and v2.exceptAll(cur).count() == 0


def test_v3_stats_cover_ranges(table_dir):
    m = snap.snapshot_manifest(table_dir, 3)
    assert m["op"] == "compact" and m["parent"] == 2
    quarter = m["properties"]["quarter"]
    st = m["stats"]
    # range files are disjoint and ordered; the top file holds the
    # appended offset keys
    assert st["r0-v3.parquet"]["min_event_id"] >= 0
    assert st["r0-v3.parquet"]["max_event_id"] <= quarter - 1
    assert st["r3-v3.parquet"]["max_event_id"] >= snap._APPEND_OFFSET
    for a, b in (("r0-v3.parquet", "r1-v3.parquet"),
                 ("r1-v3.parquet", "r2-v3.parquet"),
                 ("r2-v3.parquet", "r3-v3.parquet")):
        assert st[a]["max_event_id"] < st[b]["min_event_id"]


def test_changes_feed_ops_and_pruning(spark, sf_dir, table_dir):
    df = snap.snapshot_changes(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    for shared in ("b1-v1", "b2-v1", "b3-v1", "r0-v3"):
        assert shared not in plan, f"change feed scanned {shared}"
    ops = dict(
        df.groupBy("op").count().collect() and
        [(r["op"], r["count"]) for r in df.groupBy("op").count().collect()]
    )
    base = load_table(spark, sf_dir, "events")
    n_ins = base.filter(F.col("event_id") < snap._APPEND_KEY_LIMIT).count()
    n_upd = base.filter(
        (F.col("event_id") % snap._N_BUCKETS == 0)
        & F.col("value").isNotNull()
    ).count()
    assert ops.get("insert", 0) == n_ins and ops.get("update", 0) == n_upd


def test_expire_and_vacuum_lifecycle(spark, sf_dir, table_dir, tmp_path):
    # work on a throwaway COPY — the cached fixture keeps all versions
    import shutil

    d = str(tmp_path / "table_copy")
    shutil.copytree(table_dir, d)
    assert snap.live_versions(d) == [1, 2, 3, 4, 5, 6, 7]
    # the main ref (HEAD) is protected
    with pytest.raises(ValueError, match="main"):
        snap.expire_snapshot(d, 7)
    # nothing is orphaned while all manifests live — including the
    # v4 delete SIDECAR, which vacuum must treat as referenced data
    assert snap.vacuum(d) == []
    # expire v1: its exclusive bucket-0 file becomes garbage, the
    # shared b1-b3 stay referenced by v2
    snap.expire_snapshot(d, 1)
    assert snap.vacuum(d) == ["b0-v1.parquet"]
    assert os.path.exists(os.path.join(d, "b0-v1.parquet")), "dry run deleted"
    # expire v2: the rest of the v1/v2 estate goes
    snap.expire_snapshot(d, 2)
    assert snap.vacuum(d) == sorted(
        ["b0-v1.parquet", "b0-v2.parquet", "append-v2.parquet",
         "b1-v1.parquet", "b2-v1.parquet", "b3-v1.parquet"]
    )
    # expire v4 (the merge-on-read delete): ONLY its key sidecar is
    # newly orphaned — its data files are v3's, still referenced
    snap.expire_snapshot(d, 4)
    assert "delete-v4-keys.parquet" in snap.vacuum(d)
    assert "r0-v3.parquet" not in snap.vacuum(d)
    # expire v3: r0/r1 orphan; r2/r3 stay shared with v5/v6
    snap.expire_snapshot(d, 3)
    after_v3 = snap.vacuum(d)
    assert {"r0-v3.parquet", "r1-v3.parquet"} <= set(after_v3)
    assert {"r2-v3.parquet", "r3-v3.parquet"}.isdisjoint(after_v3)
    # expire v5 + v6: everything except the z-order estate goes
    snap.expire_snapshot(d, 5)
    snap.expire_snapshot(d, 6)
    orphans = snap.vacuum(d, dry_run=False)
    assert {"r2-v3.parquet", "r3-v3.parquet", "evolve-v6.parquet",
            "r0a-v5.parquet", "r0b-v5.parquet", "r1-v5.parquet"} <= set(orphans)
    for f in orphans:
        assert not os.path.exists(os.path.join(d, f))
    # the surviving snapshot still reads whole
    cur = snap.read_snapshot(spark, d).select(*snap._COLS_V6)
    v7 = snap.read_snapshot(spark, table_dir, 7).select(*snap._COLS_V6)
    assert cur.exceptAll(v7).count() == 0 and v7.exceptAll(cur).count() == 0


# ---------------------------------------------------------------------------
# round 13: DELETE (merge-on-read vs copy-on-write), schema evolution,
# z-order 2-dim skipping, pruned-read edge branches, exactly-once
# streaming commits.
# ---------------------------------------------------------------------------


def test_delete_mor_equals_cow(spark, sf_dir, table_dir):
    v4 = snap.read_snapshot(spark, table_dir, 4).select(*snap._COLS)
    v5 = snap.read_snapshot(spark, table_dir, 5).select(*snap._COLS)
    assert v4.exceptAll(v5).count() == 0 and v5.exceptAll(v4).count() == 0
    # and both genuinely deleted something
    v3 = snap.read_snapshot(spark, table_dir, 3)
    assert v4.count() < v3.count()
    # MOR plan: the sidecar rides a broadcast anti-join
    plan = v4._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan[:800]
    # COW scope: r2/r3 shared by reference, r0 split into TWO files
    m3 = snap.snapshot_manifest(table_dir, 3)
    m5 = snap.snapshot_manifest(table_dir, 5)
    assert set(m3["files"]) & set(m5["files"]) == {
        "r2-v3.parquet", "r3-v3.parquet"
    }
    assert {"r0a-v5.parquet", "r0b-v5.parquet"} <= set(m5["files"])
    assert "deletes" not in m5  # COW read is sidecar-free
    # the sidecar holds exactly the deleted keys
    sidecar = spark.read.parquet(
        os.path.join(table_dir, "delete-v4-keys.parquet")
    )
    gone = v3.join(sidecar, "event_id", "left_semi")
    assert sidecar.count() == gone.count() > 0
    assert v4.join(sidecar, "event_id", "left_semi").count() == 0


def test_schema_evolution_null_fill_and_scan_grouping(spark, table_dir):
    v6 = snap.read_snapshot(spark, table_dir, 6)
    assert v6.columns == list(snap._COLS_V6)
    old = v6.filter(F.col("event_id") < snap._EVOLVE_OFFSET)
    new = v6.filter(F.col("event_id") >= snap._EVOLVE_OFFSET)
    assert old.filter(F.col("source").isNotNull()).count() == 0
    assert new.filter(F.col("source") != snap._EVOLVE_SOURCE).count() == 0
    assert new.count() > 0
    # one scan PER SCHEMA GROUP (2 groups), not per file (6 files)
    plan = v6._jdf.queryExecution().executedPlan().toString()
    n_scans = plan.count("Scan parquet")
    assert n_scans == 2, f"expected 2 schema-group scans, saw {n_scans}"


def test_zorder_stats_skip_on_both_dims(spark, sf_dir, table_dir):
    m = snap.snapshot_manifest(table_dir, 7)
    quarter = m["properties"]["quarter"]
    u_hi = m["properties"]["base_max_user_id"] // 4
    e_hi = quarter - 1
    st = m["stats"]
    event_skipped = [
        f for f in m["files"]
        if st[f]["min_event_id"] > e_hi and st[f]["min_user_id"] <= u_hi
    ]
    user_skipped = [
        f for f in m["files"]
        if st[f]["min_user_id"] > u_hi and st[f]["min_event_id"] <= e_hi
    ]
    scanned = [
        f for f in m["files"]
        if st[f]["min_event_id"] <= e_hi and st[f]["min_user_id"] <= u_hi
    ]
    # the multi-dim contract: EACH dimension alone prunes at least one
    # file the other could not (a 1-dim sort can never do this)
    assert event_skipped, "no file skipped by the event dimension alone"
    assert user_skipped, "no file skipped by the user dimension alone"
    assert scanned and len(scanned) < len(m["files"])
    # the query reads exactly the intersecting files
    df = snap.snapshot_zorder_read(spark, sf_dir)
    assert _scanned_files(df) == set(scanned)
    # z-order compaction preserved v6's logical content exactly
    v6 = snap.read_snapshot(spark, table_dir, 6)
    v7 = snap.read_snapshot(spark, table_dir, 7)
    assert v6.exceptAll(v7).count() == 0 and v7.exceptAll(v6).count() == 0


def test_pruned_read_stats_missing_and_empty_branches(
    spark, sf_dir, table_dir, tmp_path, monkeypatch
):
    """VERDICT r12 nit #2: exercise the null-stats file skip (must be
    SAFE: such a file is empty or all-null-keyed, so a key predicate
    cannot match it) and the nothing-intersects branch (schema-only
    empty frame)."""
    import shutil

    d = str(tmp_path / "edge_table")
    shutil.copytree(table_dir, d)
    # graft an all-null-keyed file into v3 with the null stats a
    # writer would collect for it
    nulls = spark.createDataFrame(
        [(None, 1, "nullkey", 1.0, None)],
        "event_id long, user_id long, event_type string, value double,"
        " ts timestamp",
    )
    snap._write_one_file(nulls, d, "nullstats-v3.parquet")
    m3 = json.load(open(os.path.join(d, "manifest-v3.json")))
    m3["files"].append("nullstats-v3.parquet")
    m3["stats"]["nullstats-v3.parquet"] = {
        "min_event_id": None, "max_event_id": None,
    }
    json.dump(m3, open(os.path.join(d, "manifest-v3.json"), "w"))
    monkeypatch.setattr(snap, "events_snapshot_table", lambda *_: d)
    pruned = snap.snapshot_pruned_read(spark, sf_dir)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "nullstats-v3" not in plan, "null-stats file was scanned"
    # safety: skipping it loses nothing a key predicate could match —
    # the pruned read equals the full-scan-and-filter reference
    quarter = m3["properties"]["quarter"]
    ref = (
        snap.read_snapshot(spark, d, 3)
        .select(*snap._COLS)
        .filter(F.col("event_id") <= quarter - 1)
    )
    assert pruned.exceptAll(ref).count() == 0
    assert ref.exceptAll(pruned).count() == 0
    # nothing-intersects branch: push every file's min above the bound
    for f in m3["files"]:
        m3["stats"][f] = {
            "min_event_id": 10 * quarter, "max_event_id": 11 * quarter,
        }
    json.dump(m3, open(os.path.join(d, "manifest-v3.json"), "w"))
    empty = snap.snapshot_pruned_read(spark, sf_dir)
    assert empty.columns == list(snap._COLS)
    assert empty.count() == 0


def test_stream_commit_protocol_matrix(spark, tmp_path):
    """Every crash interleaving of the exactly-once commit converges:
    replay after success is a no-op, file-without-manifest is
    rewritten, manifest-without-HEAD rolls forward, and a stale
    replay can never rewind HEAD."""
    d = str(tmp_path / "stream_table")
    mk = lambda *rows: spark.createDataFrame(list(rows), "k long, v string")

    # batches 0..2 commit normally → versions 1..3
    assert snap.commit_stream_batch(mk((1, "a")), 0, d) == 1
    assert snap.commit_stream_batch(mk((2, "b")), 1, d) == 2
    assert snap.commit_stream_batch(mk((3, "c")), 2, d) == 3
    head = json.load(open(os.path.join(d, "HEAD.json")))["current"]
    assert head == 3
    before = sorted(snap.read_snapshot(spark, d).collect())

    # replay of an already-committed batch: same version, no new
    # files, identical content
    assert snap.commit_stream_batch(mk((2, "b")), 1, d) == 2
    assert snap.live_versions(d) == [1, 2, 3]
    assert sorted(snap.read_snapshot(spark, d).collect()) == before

    # crash between file write and manifest: the orphan file exists,
    # no manifest names it; the replay rewrites and commits
    snap._write_one_file(mk((4, "d")), d, "batch-0000000003.parquet")
    assert snap.vacuum(d) == ["batch-0000000003.parquet"]  # orphan
    assert snap.commit_stream_batch(mk((4, "d")), 3, d) == 4
    assert snap.vacuum(d) == []
    assert json.load(open(os.path.join(d, "HEAD.json")))["current"] == 4

    # crash between manifest and HEAD: write v5's manifest by hand,
    # leave HEAD at 4 — the replay only rolls HEAD forward
    snap._write_one_file(mk((5, "e")), d, "batch-0000000004.parquet")
    snap._manifest(
        d, version=5,
        files=snap.snapshot_manifest(d, 4)["files"] + ["batch-0000000004.parquet"],
        parent=4, op="stream-append", properties={"batch_id": 4},
    )
    assert json.load(open(os.path.join(d, "HEAD.json")))["current"] == 4
    assert snap.commit_stream_batch(mk((5, "e")), 4, d) == 5
    assert json.load(open(os.path.join(d, "HEAD.json")))["current"] == 5
    assert snap.live_versions(d) == [1, 2, 3, 4, 5]

    # a stale replay never rewinds HEAD
    assert snap.commit_stream_batch(mk((1, "a")), 0, d) == 1
    assert json.load(open(os.path.join(d, "HEAD.json")))["current"] == 5

    rows = {(r["k"], r["v"]) for r in snap.read_snapshot(spark, d).collect()}
    assert rows == {(1, "a"), (2, "b"), (3, "c"), (4, "d"), (5, "e")}


def test_stream_exactly_once_crash_restart_into_snapshot_table(
    spark, sf_dir, tmp_path
):
    """End-to-end: a real Structured Streaming query committing into
    the snapshot table via foreachBatch, killed in the nastiest window
    (data file landed, manifest NOT committed), restarted from the
    same checkpoint — must equal the uninterrupted run exactly, with
    one snapshot per batch and no duplicate rows."""
    import pyspark.sql.utils as _u

    from sparkifydb_datawarehouse_spark.tables import load_table

    landing = str(tmp_path / "landing")
    table = str(tmp_path / "snap_table")
    table_ref = str(tmp_path / "snap_table_ref")
    ckpt = str(tmp_path / "ckpt")
    ckpt_ref = str(tmp_path / "ckpt_ref")

    ev = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "user_id", "ts", "value")
        .limit(400)
        .localCheckpoint(eager=True)
    )
    for i in range(4):
        ev.filter(F.col("event_id") % 4 == i).coalesce(1).write.mode(
            "append"
        ).parquet(landing)
    schema = spark.read.parquet(landing).schema

    def source():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(landing)
        )

    crashed = {"done": False}

    def crashy(batch_df, batch_id):
        if batch_id == 2 and not crashed["done"]:
            crashed["done"] = True
            # data file lands, manifest never commits — the window
            # a plain file sink turns into duplicates
            snap._write_one_file(
                batch_df, table, f"batch-{int(batch_id):010d}.parquet"
            )
            raise RuntimeError("injected crash between write and commit")
        snap.commit_stream_batch(batch_df, batch_id, table)

    q = (
        source()
        .writeStream.foreachBatch(crashy)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
        raise AssertionError("injected crash did not surface")
    except (_u.StreamingQueryException, Exception) as e:  # noqa: BLE001
        assert "injected crash" in str(e), e
    assert crashed["done"], "stream never reached the crash batch"

    q2 = (
        source()
        .writeStream.foreachBatch(
            lambda df, bid: snap.commit_stream_batch(df, bid, table)
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination()

    # uninterrupted reference run
    q3 = (
        source()
        .writeStream.foreachBatch(
            lambda df, bid: snap.commit_stream_batch(df, bid, table_ref)
        )
        .option("checkpointLocation", ckpt_ref)
        .trigger(availableNow=True)
        .start()
    )
    q3.awaitTermination()

    got = snap.read_snapshot(spark, table)
    want = snap.read_snapshot(spark, table_ref)
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    assert got.count() == 400, "dropped or duplicated rows"
    # one snapshot per micro-batch, batch ids unique, no orphans
    assert snap.live_versions(table) == snap.live_versions(table_ref)
    bids = [
        snap.snapshot_manifest(table, v)["properties"]["batch_id"]
        for v in snap.live_versions(table)
    ]
    assert sorted(bids) == bids and len(set(bids)) == len(bids)
    assert snap.vacuum(table) == []


def test_optimistic_commit_rebase_and_conflict(spark, tmp_path, monkeypatch):
    """Iceberg-style optimistic concurrency on the manifest claim:
    a writer that loses the race to the next version REBASES a pure
    append onto the new head automatically, but an operation whose
    required files were rewritten by the winner refuses with
    CommitConflict instead of silently resurrecting retired data."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path / "occ_table")
    os.makedirs(d)
    for name in ("a.parquet", "b.parquet", "c.parquet", "comp.parquet"):
        pq.write_table(pa.table({"k": [1]}), os.path.join(d, name))
    assert snap.commit_optimistic(d, add_files=["a.parquet"], op="create") == 1

    # inject a competitor that claims the SAME version between the
    # writer's head read and its claim — the loser must rebase
    orig = snap._commit_exclusive
    raced = {"n": 0}

    def racy(table_dir, version, manifest):
        if raced["n"] == 0:
            raced["n"] += 1
            base = snap.snapshot_manifest(table_dir, version - 1)
            orig(
                table_dir, version,
                {"version": version, "files": base["files"] + ["comp.parquet"],
                 "parent": version - 1, "op": "append"},
            )
        return orig(table_dir, version, manifest)

    monkeypatch.setattr(snap, "_commit_exclusive", racy)
    v = snap.commit_optimistic(d, add_files=["b.parquet"])
    monkeypatch.setattr(snap, "_commit_exclusive", orig)
    assert v == 3, "loser should land one version after the competitor"
    files = snap.snapshot_manifest(d, 3)["files"]
    assert set(files) == {"a.parquet", "comp.parquet", "b.parquet"}
    assert raced["n"] == 1

    # conflict: a remove of a file another commit already retired
    snap.commit_optimistic(d, remove_files=["comp.parquet"], op="delete")
    with pytest.raises(snap.CommitConflict, match="comp.parquet"):
        snap.commit_optimistic(d, remove_files=["comp.parquet"], op="delete")
    # and required_files guards reads the same way (a compaction that
    # planned against comp.parquet must re-plan)
    with pytest.raises(snap.CommitConflict, match="comp.parquet"):
        snap.commit_optimistic(
            d, add_files=["c.parquet"], required_files=["comp.parquet"],
            op="compact",
        )
    # version numbering stayed linear throughout
    assert snap.live_versions(d) == [1, 2, 3, 4]


def test_optimistic_commit_many_concurrent_writers(tmp_path):
    """N genuinely concurrent threads appending through the CAS loop:
    every commit lands, versions come out contiguous, the final
    manifest carries all files, and no claim temp files leak."""
    from concurrent.futures import ThreadPoolExecutor

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path / "mw_table")
    os.makedirs(d)
    n = 12
    for i in range(n):
        pq.write_table(pa.table({"k": [i]}), os.path.join(d, f"w{i}.parquet"))
    snap.commit_optimistic(d, add_files=["w0.parquet"], op="create")

    def writer(i):
        return snap.commit_optimistic(
            d, add_files=[f"w{i}.parquet"], max_attempts=100
        )

    with ThreadPoolExecutor(max_workers=8) as ex:
        versions = list(ex.map(writer, range(1, n)))
    assert sorted(versions) == list(range(2, n + 1)), versions
    assert snap.live_versions(d) == list(range(1, n + 1))
    final = snap.snapshot_manifest(d, n)["files"]
    assert set(final) == {f"w{i}.parquet" for i in range(n)}
    assert not [f for f in os.listdir(d) if f.endswith(".tmp")]
    # HEAD converged to the maximum committed version
    assert json.load(open(os.path.join(d, "HEAD.json")))["current"] == n


def test_stream_commit_survives_concurrent_maintenance(spark, tmp_path):
    """The streaming append rides the same CAS, so a maintenance
    commit landing between two micro-batches costs the stream a
    rebase, never a lost snapshot — and vice versa."""
    mk = lambda *rows: spark.createDataFrame(list(rows), "k long, v string")
    d = str(tmp_path / "sm_table")
    snap.commit_stream_batch(mk((1, "a")), 0, d)
    snap.commit_stream_batch(mk((2, "b")), 1, d)
    # maintenance: compact the two batch files into one (rewrite),
    # claiming the next version through the same protocol
    merged = snap.read_snapshot(spark, d)
    snap._write_one_file(merged, d, "compact-1.parquet")
    old = snap.snapshot_manifest(d, 2)["files"]
    v = snap.commit_optimistic(
        d, add_files=["compact-1.parquet"], remove_files=old,
        required_files=old, op="compact",
    )
    assert v == 3
    # the stream keeps appending on top of the compaction
    snap.commit_stream_batch(mk((3, "c")), 2, d)
    rows = {(r["k"], r["v"]) for r in snap.read_snapshot(spark, d).collect()}
    assert rows == {(1, "a"), (2, "b"), (3, "c")}
    assert snap.snapshot_manifest(d, 4)["files"] == [
        "compact-1.parquet", "batch-0000000002.parquet"
    ]
    # the replaced batch files are vacuumable once v1/v2 expire
    snap.expire_snapshot(d, 1)
    snap.expire_snapshot(d, 2)
    assert snap.vacuum(d) == [
        "batch-0000000000.parquet", "batch-0000000001.parquet"
    ]


def test_zorder_compact_live_op_and_as_of_travel(spark, sf_dir, table_dir, tmp_path):
    """OPTIMIZE ZORDER as a maintenance op on a live table: commits
    v8 through the optimistic protocol with 2-dim stats, preserves
    content exactly, and retires the old layout; TIMESTAMP AS OF
    resolves the deterministic per-version stamps."""
    import shutil

    d = str(tmp_path / "opt_table")
    shutil.copytree(table_dir, d)
    v = snap.zorder_compact(spark, d)
    assert v == 8
    m = snap.snapshot_manifest(d, 8)
    assert m["op"] == "zorder" and len(m["files"]) == 4
    assert m.get("schema") == list(snap._COLS_V6)
    assert "deletes" not in m and not m.get("file_schemas")
    for f in m["files"]:
        assert {
            "min_event_id", "max_event_id", "min_user_id", "max_user_id"
        } <= set(m["stats"][f])
    v8 = snap.read_snapshot(spark, d, 8)
    v7 = snap.read_snapshot(spark, table_dir, 7)
    assert v8.exceptAll(v7).count() == 0 and v7.exceptAll(v8).count() == 0
    # a commit that still depends on the retired layout conflicts
    with pytest.raises(snap.CommitConflict, match="z0-v7"):
        snap.commit_optimistic(d, remove_files=["z0-v7.parquet"], op="delete")
    # the unstamped v8 maintenance commit is invisible to AS-OF
    # (reachable by version only) while stamped history resolves
    latest = snap.read_snapshot_as_of(spark, d, "2030-01-01T00:00:00Z")
    assert latest.exceptAll(v7).count() == 0, "unstamped v8 leaked into AS-OF"
    # old z files become vacuumable once their snapshots expire
    for old_v in range(1, 8):
        snap.expire_snapshot(d, old_v)
    orphans = snap.vacuum(d)
    assert {"z0-v7.parquet", "delete-v4-keys.parquet"} <= set(orphans)
    assert not set(m["files"]) & set(orphans)

    # AS-OF: between the v3 and v4 stamps resolves v3 (pre-delete);
    # at the v7 stamp resolves v7; before v1 raises; the unstamped v8
    # maintenance commit is invisible to timestamp travel
    asof3 = snap.read_snapshot_as_of(spark, table_dir, "2024-01-03T12:00:00Z")
    want3 = snap.read_snapshot(spark, table_dir, 3)
    assert asof3.exceptAll(want3).count() == 0
    assert want3.exceptAll(asof3).count() == 0
    asof7 = snap.read_snapshot_as_of(spark, table_dir, "2024-01-07T00:00:00Z")
    assert asof7.exceptAll(v7).count() == 0
    with pytest.raises(ValueError, match="committed at or before"):
        snap.read_snapshot_as_of(spark, table_dir, "2023-12-31T00:00:00Z")


def test_merge_upsert_stats_pruned_cow_scope(spark, sf_dir):
    """MERGE INTO on the live table: only the z-order files whose
    key-range stats overlap the update keys are rewritten (each
    keeping its own clustering), unmatched rows land in one append
    file, untouched files stay shared by reference, and the new
    files carry recomputed 2-dim stats so later reads keep pruning."""
    from sparkifydb_datawarehouse_spark import registry

    registry.load_all_modules()
    df = registry.QUERIES["q_snapshot_merge_upsert"](spark, sf_dir)
    rows = {r["event_id"]: r for r in df.collect()}
    # UPDATE path: key 8 existed in v7 (merged value +100) — the
    # upsert REPLACES it with base value + 1000 and the source tag
    base = load_table(spark, sf_dir, "events")
    b8 = base.filter(F.col("event_id") == 8).first()
    assert abs(rows[8]["value"] - (b8["value"] + 1000)) < 1e-9
    assert rows[8]["source"] == snap._MERGE_SOURCE
    # INSERT path: key 7 was deleted in v5 and comes back via upsert
    assert rows[7]["source"] == snap._MERGE_SOURCE
    # untouched rows keep their v7 state: key 13 (odd, not %4==0, not
    # in the update range) is byte-identical to base with null source
    b13 = base.filter(F.col("event_id") == 13).first()
    assert rows[13]["source"] is None and rows[13]["value"] == b13["value"]
    # and key 12 (%4==0, outside the update range) keeps its v2 merge
    b12 = base.filter(F.col("event_id") == 12).first()
    assert rows[12]["source"] is None
    assert abs(rows[12]["value"] - (b12["value"] + 100)) < 1e-9

    d = snap.events_merged_snapshot_table(spark, sf_dir)
    m7 = snap.snapshot_manifest(d, 7)
    m8 = snap.snapshot_manifest(d, 8)
    assert m8["op"] == "merge"
    touched = [f for f in m7["files"] if f not in m8["files"]]
    shared = [f for f in m7["files"] if f in m8["files"]]
    assert touched and shared, (touched, shared)
    # stats-pruned scope: every untouched file's key range excludes
    # the update keys; every touched file's range overlaps them
    for f in shared:
        assert m7["stats"][f]["min_event_id"] > snap._MERGE_KEY_LIMIT - 1
    for f in touched:
        assert m7["stats"][f]["min_event_id"] <= snap._MERGE_KEY_LIMIT - 1
    # rewritten + upsert files carry recomputed stats on BOTH dims
    for f in m8["files"]:
        assert {"min_event_id", "min_user_id"} <= set(m8["stats"][f])
    assert f"merge8-upserts.parquet" in m8["files"]
    # matched keys are gone from every rewritten file (no duplicates)
    assert df.groupBy("event_id").count().filter(F.col("count") > 1).count() == 0


def test_write_audit_publish_flow(spark, tmp_path):
    """WAP: a data drop commits to an audit ref (main never moves),
    validation reads the audit branch, a FAILING drop is dropped +
    expired + vacuumed without main ever exposing it, and a passing
    drop publishes as a pure-metadata fast-forward of main."""
    mk = lambda *rows: spark.createDataFrame(list(rows), "k long, v string")
    d = str(tmp_path / "wap_table")
    snap.commit_stream_batch(mk((1, "a")), 0, d)
    snap.commit_stream_batch(mk((2, "b")), 1, d)
    assert snap.table_refs(d) == {"main": 2}

    # stage a BAD drop on the audit ref: main must not move
    snap._write_one_file(mk((None, "bad")), d, "drop-bad.parquet")
    v_bad = snap.commit_optimistic(
        d, add_files=["drop-bad.parquet"], op="stage", ref="audit"
    )
    assert v_bad == 3
    assert snap.table_refs(d) == {"main": 2, "audit": 3}
    assert snap.read_snapshot(spark, d).count() == 2, "main leaked the drop"
    audit = snap.read_ref(spark, d, "audit")
    # validation: null keys → refuse to publish
    assert audit.filter(F.col("k").isNull()).count() == 1
    # a ref'd snapshot cannot be expired out from under the audit
    with pytest.raises(ValueError, match="audit"):
        snap.expire_snapshot(d, 3)
    snap.drop_ref(d, "audit")
    snap.expire_snapshot(d, 3)
    assert snap.vacuum(d, dry_run=False) == ["drop-bad.parquet"]

    # stage a GOOD drop and publish
    snap._write_one_file(mk((3, "c")), d, "drop-good.parquet")
    snap.commit_optimistic(
        d, add_files=["drop-good.parquet"], op="stage", ref="audit"
    )
    audit = snap.read_ref(spark, d, "audit")
    assert audit.filter(F.col("k").isNull()).count() == 0
    published = snap.publish_ref(d, "audit")
    assert published == 4 and snap.table_refs(d)["main"] == 4
    rows = {(r["k"], r["v"]) for r in snap.read_snapshot(spark, d).collect()}
    assert rows == {(1, "a"), (2, "b"), (3, "c")}
    # publish is fast-forward-only
    snap.create_ref(d, "old", version=1)
    with pytest.raises(ValueError, match="backward"):
        snap.publish_ref(d, "old")
    # main is protected; unknown refs error loudly
    with pytest.raises(ValueError, match="main"):
        snap.drop_ref(d, "main")
    with pytest.raises(ValueError, match="nope"):
        snap.read_ref(spark, d, "nope")
