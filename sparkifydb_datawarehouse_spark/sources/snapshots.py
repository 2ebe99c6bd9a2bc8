"""Snapshot-versioned table layout (round 12): the table-format
mechanics an Iceberg/Delta-class lakehouse table is made of — an
immutable-data-file + manifest-list design (both formats' specs are
public: iceberg.apache.org/spec, the Delta PROTOCOL.md), re-expressed
minimally over plain parquet:

- data files are IMMUTABLE parquet files bucketed by key
  (``pmod(event_id, 4)``);
- a SNAPSHOT is a JSON manifest naming the exact data files visible
  at that version (plus parent pointer and the operation that made
  it); ``HEAD.json`` names the current version;
- an UPDATE is COPY-ON-WRITE: only the bucket files containing
  modified keys are rewritten, untouched buckets are SHARED between
  snapshots by reference;
- time travel = read an old manifest; diff = read only the files the
  two manifests DON'T share.

Scale shape (100 TB): manifests are metadata (file lists — KB per
snapshot, driver-side like every table format's planning phase);
data reads are ``tables.read_parquet`` over exactly the files the
snapshot names — splittable columnar scans, so time travel costs
the same as a current read, and the snapshot diff below reads 2 of 5
files instead of both full table versions. The COW update rewrites
1 of 4 buckets — the fraction a real partition-aligned MERGE touches.

Fixture history (deterministic, so DuckDB recomputes every version
from the base ``events`` parquet):
- v1: CREATE — 4 bucket files of the events table.
- v2: MERGE — bucket 0 rewritten with ``value + 100`` for rows whose
  ``event_id % 4 = 0`` (exactly bucket 0's non-null keys), plus an
  appended file of new rows (``event_id < 50`` clones offset by
  1e9 — clear of any fixture's key domain up to a billion keys,
  guarded loudly in the builder). Null-keyed rows live in bucket 0 (coalesced) and pass
  through unmodified.
- v3: COMPACT — the same logical content re-CLUSTERED into 4
  event_id RANGE files (fixed quarter boundaries off the base key
  max; appended offset keys land in the top file, null keys in the
  bottom), with per-file min/max key STATS in the manifest. A
  predicate read consults the stats and scans only intersecting
  files — Iceberg/Delta data-skipping, demonstrated by a plan test.
- v4: DELETE, merge-on-read — the data files are UNTOUCHED; the
  manifest adds a ``deletes`` sidecar (the Iceberg positional-delete
  / Delta deletion-vector shape) holding the deleted keys
  (``event_id % 10 = 7`` within the first two key quarters).
  ``read_snapshot`` applies it as a BROADCAST anti-join — the
  sidecar is KB-MB metadata even when the table is 100 TB.
- v5: REWRITE, copy-on-write — the same delete materialized: only
  the two range files containing deleted keys are rewritten (r2/r3
  stay shared by reference), and the first bucket's rewrite is
  SPLIT INTO TWO files so the manifest genuinely exercises
  multiple data files per logical bucket (a real bucket is k files,
  not one). v4 and v5 reads must agree — pinned by query + pytest.
- v6: SCHEMA EVOLUTION — an appended file carries a NEW column
  (``source``); the manifest records the evolved table schema and
  per-file column lists, and ``read_snapshot`` null-fills old files
  through ``unionByName(allowMissingColumns=True)``. A real
  estate's files NEVER share one schema.
- v7 (HEAD): Z-ORDER COMPACT — v6's logical content re-clustered
  along a Morton interleave of (event_id, user_id) into 4 files
  whose manifest stats carry min/max on BOTH dimensions, so a
  2-dim predicate skips files on either column (OPTIMIZE ZORDER BY).

Exactly-once streaming commits: ``commit_stream_batch`` is a
``foreachBatch`` sink that lands each micro-batch as an immutable
file + an atomic manifest/HEAD swap keyed by ``batch_id`` —
idempotent under replay and crash-safe at every interleaving
(file-written-no-manifest → rewrite; manifest-written-no-HEAD →
roll forward). See tests/test_snapshots.py.

Concurrent writers: ``commit_optimistic`` is the multi-writer story —
an Iceberg-style optimistic commit whose CAS is an exclusive atomic
hardlink onto the next manifest name. Losers rebase pure appends onto
the new head automatically; operations that read or rewrote files
(deletes, compactions) declare them required and refuse with
``CommitConflict`` when a concurrent commit retired them. The
streaming sink rides the same CAS, so streams and maintenance ops
interleave safely (thread-pool and injected-race pytests). Expiry
TOMBSTONES manifests rather than deleting them — version numbers are
never reused, which is load-bearing for the CAS (see expire_snapshot).

Branch refs + write-audit-publish: HEAD.json carries named refs;
``commit_optimistic(..., ref="audit")`` stages a drop without moving
main, validation reads ``read_ref``, ``publish_ref`` fast-forwards
main as pure metadata — the WAP guard a training-data pipeline puts
in front of every corpus drop. Ref moves are advisory read-modify-
write (forward-only, manifests stay the truth); data commits race
safely through the manifest CAS, ref ADMINISTRATION (create/drop/
publish) assumes one coordinator, as catalog-level operations do.
"""

from __future__ import annotations

import json
import operator
import os
import shutil
import uuid
from collections.abc import Sequence
from functools import reduce

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..tables import load_table, read_parquet, side_table

_N_BUCKETS = 4
_APPEND_KEY_LIMIT = 50
_APPEND_OFFSET = 1_000_000_000
# v4/v5 delete: keys ending in _DELETE_DIGIT within the first two
# key quarters (so exactly 2 of the 4 range files are touched — the
# COW scope the manifests demonstrate). Ends-in-7 keys are odd, so
# the deleted set is provably disjoint from the %4==0 merge keys.
_DELETE_MOD = 10
_DELETE_DIGIT = 7
# v6 schema evolution: appended clones carrying the new column
_EVOLVE_OFFSET = 2_000_000_000
_EVOLVE_KEY_LIMIT = 20
_EVOLVE_SOURCE = "v6-backfill"

_COLS = ("event_id", "user_id", "event_type", "value", "ts")
_COLS_V6 = _COLS + ("source",)


def _write_one_file(
    df: DataFrame, table_dir: str, name: str, stats: Sequence[str] = ()
) -> dict:
    """One deterministic parquet data file (immutable once written).
    Returns ``min_<c>``/``max_<c>`` of each column in ``stats``
    (None where it holds no non-null value), observed by the write
    itself, so file stats cost no second pass."""
    aggs = {
        f"{p}_{c}": agg(c) for c in stats for p, agg in (("min", F.min), ("max", F.max))
    }
    if aggs:
        obs = Observation()
        df = df.observe(obs, *(a.alias(n) for n, a in aggs.items()))
    staging = os.path.join(table_dir, f"_stage_{name}")
    df.coalesce(1).write.mode("overwrite").parquet(staging)
    part = next(
        f for f in os.listdir(staging) if f.endswith(".parquet")
    )
    os.replace(os.path.join(staging, part), os.path.join(table_dir, name))
    shutil.rmtree(staging)
    observed = obs.get if aggs else {}
    return {n: observed[n] for n in aggs}


def _write_json(path: str, doc: dict) -> None:
    """Replace the JSON document at ``path`` atomically: a reader sees
    the old or the new document whole."""
    tmp = f"{path}.{uuid.uuid4().hex}.tmp"
    with open(tmp, "w") as fh:
        json.dump(doc, fh)
    os.replace(tmp, path)


def events_snapshot_table(spark: SparkSession, sf_dir: str) -> str:
    """Build (once, cached by source content — tables.side_table) the
    seven-snapshot events table described in the module docstring."""
    return side_table(
        spark,
        sf_dir,
        ["events"],
        "events-snapshots-v6",
        lambda d: _build_events_snapshots(spark, sf_dir, d),
    )


def _build_events_snapshots(spark: SparkSession, sf_dir: str, d: str) -> None:
    os.makedirs(d)

    def commit(version: int, files: list, op: str, properties=None, **kw) -> None:
        # deterministic commit timestamps (one synthetic day per
        # version) for TIMESTAMP-AS-OF time travel; real tables would
        # stamp wall time at commit, the fixture must stay reproducible
        stamp = {"committed_at": f"2024-01-{version:02d}T00:00:00Z"}
        _manifest(
            d, version=version, files=files, parent=version - 1 or None, op=op,
            properties={**(properties or {}), **stamp}, **kw,
        )

    ev = load_table(spark, sf_dir, "events").select(*_COLS)
    bucket = F.coalesce(F.pmod(F.col("event_id"), F.lit(_N_BUCKETS)), F.lit(0))
    ev = ev.withColumn("_b", bucket).localCheckpoint()
    v1_files, v1_stats = [], []
    for b in range(_N_BUCKETS):
        name = f"b{b}-v1.parquet"
        part = ev.filter(F.col("_b") == b).drop("_b")
        v1_stats.append(_write_one_file(part, d, name, ("event_id", "user_id")))
        v1_files.append(name)
    # the buckets partition the table: its key maxima are theirs
    base_max, max_user = (
        max((st[c] for st in v1_stats if st[c] is not None), default=None)
        for c in ("max_event_id", "max_user_id")
    )
    # ADVICE r12 #1: the offsets assume they clear the base key
    # domain. A fixture whose keys reach the append offset would
    # collide appended clones with base keys (and, past ~4x, leak
    # them into the pruned-read oracle) — refuse loudly instead of
    # letting a bigger fixture produce an unexplained oracle
    # divergence (the half-built table is never published). The
    # offsets are static because every DuckDB oracle bakes them in;
    # deriving them per-fixture would desynchronize the two sides.
    if base_max is not None and int(base_max) >= _APPEND_OFFSET:
        raise ValueError(
            f"events max key {base_max} >= append offset "
            f"{_APPEND_OFFSET}: appended clone keys would collide with "
            "base keys and diverge from the static oracles — raise "
            "_APPEND_OFFSET/_EVOLVE_OFFSET (and the oracle SQL) together"
        )
    commit(1, v1_files, "create")
    # v2: COW-rewrite bucket 0 (value + 100 on its non-null keys) ...
    b0 = ev.filter(F.col("_b") == 0).drop("_b")
    b0_new = b0.withColumn(
        "value",
        F.when(F.col("event_id") % _N_BUCKETS == 0, F.col("value") + 100).otherwise(
            F.col("value")
        ),
    )
    _write_one_file(b0_new, d, "b0-v2.parquet")
    # ... plus an append file of cloned rows with offset keys
    appended = (
        ev.drop("_b")
        .filter(F.col("event_id") < _APPEND_KEY_LIMIT)
        .withColumn("event_id", F.col("event_id") + _APPEND_OFFSET)
    )
    _write_one_file(appended, d, "append-v2.parquet")
    commit(2, ["b0-v2.parquet"] + v1_files[1:] + ["append-v2.parquet"], "merge")
    # v3: compaction — v2's logical content re-clustered into key-RANGE
    # files with min/max stats (the data-skipping layout)
    v2_full = b0_new.unionByName(
        ev.filter(F.col("_b") != 0).drop("_b")
    ).unionByName(appended)
    quarter = (int(base_max) + _N_BUCKETS) // _N_BUCKETS if base_max is not None else 1
    stats = {}
    for k in range(_N_BUCKETS):
        lo = k * quarter
        hi = (k + 1) * quarter - 1
        if k == 0:
            part = v2_full.filter(
                F.col("event_id").isNull() | (F.col("event_id") <= hi)
            )
        elif k == _N_BUCKETS - 1:
            part = v2_full.filter(F.col("event_id") >= lo)  # incl. appended
        else:
            part = v2_full.filter(F.col("event_id").between(lo, hi))
        stats[f"r{k}-v3.parquet"] = _write_one_file(part, d, f"r{k}-v3.parquet", ("event_id",))
    v3_files = list(stats)
    commit(
        3, v3_files, "compact", stats=stats,
        properties={
            "base_max_event_id": None if base_max is None else int(base_max),
            "quarter": quarter,
        },
    )
    # v4: DELETE, merge-on-read — data files untouched; the deleted
    # keys land in a parquet sidecar the read applies as a broadcast
    # anti-join (deletion-vector / positional-delete shape).
    del_bound = 2 * quarter - 1
    del_pred = (F.col("event_id") % _DELETE_MOD == _DELETE_DIGIT) & (
        F.col("event_id") <= del_bound
    )
    del_keys = v2_full.filter(del_pred).select("event_id").distinct()
    _write_one_file(del_keys, d, "delete-v4-keys.parquet")
    commit(
        4, v3_files, "delete", stats=stats, deletes=["delete-v4-keys.parquet"],
        properties={"delete_mode": "merge-on-read", "delete_key": "event_id",
                    "quarter": quarter},
    )
    # v5: the same delete materialized copy-on-write. Deleted keys
    # live only in the first two quarters, so exactly r0/r1 are
    # rewritten and r2/r3 stay SHARED by reference; r0's rewrite is
    # split into two files (a logical bucket is k files, not one).
    v5_full = v2_full.filter(~F.coalesce(del_pred, F.lit(False)))
    half = quarter // 2
    v5_new = {
        "r0a-v5.parquet": v5_full.filter(
            F.col("event_id").isNull() | (F.col("event_id") <= half - 1)
        ),
        "r0b-v5.parquet": v5_full.filter(
            F.col("event_id").between(half, quarter - 1)
        ),
        "r1-v5.parquet": v5_full.filter(
            F.col("event_id").between(quarter, 2 * quarter - 1)
        ),
    }
    v5_stats = {k: stats[k] for k in ("r2-v3.parquet", "r3-v3.parquet")}
    for name, part in v5_new.items():
        v5_stats[name] = _write_one_file(part, d, name, ("event_id",))
    v5_files = list(v5_new) + ["r2-v3.parquet", "r3-v3.parquet"]
    commit(
        5, v5_files, "rewrite", stats=v5_stats,
        properties={"delete_mode": "copy-on-write", "quarter": quarter},
    )
    # v6: SCHEMA EVOLUTION — append a file carrying a NEW column;
    # the manifest records the evolved table schema and, for files
    # that predate it, their own column lists (Iceberg's
    # schema-id-per-file, minimally).
    evolve = (
        ev.drop("_b")
        .filter(F.col("event_id") < _EVOLVE_KEY_LIMIT)
        .withColumn("event_id", F.col("event_id") + _EVOLVE_OFFSET)
        .withColumn("source", F.lit(_EVOLVE_SOURCE))
    )
    _write_one_file(evolve, d, "evolve-v6.parquet")
    commit(
        6, v5_files + ["evolve-v6.parquet"], "append", stats=v5_stats,
        schema=list(_COLS_V6), file_schemas={f: list(_COLS) for f in v5_files},
        properties={"schema_change": "add column source string",
                    "quarter": quarter},
    )
    # v7: Z-ORDER COMPACT — v6's content re-clustered along a Morton
    # interleave of (event_id, user_id); per-file stats carry min/max
    # on BOTH dims so 2-dim predicates skip files on either column.
    v7_files, v7_stats = _write_zorder_files(spark, d, read_snapshot(spark, d, 6))
    commit(
        7, v7_files, "zorder", stats=v7_stats, schema=list(_COLS_V6),
        properties={
            "zorder_by": ["event_id", "user_id"],
            "quarter": quarter,
            "base_max_user_id": None if max_user is None else int(max_user),
        },
    )
    _write_json(os.path.join(d, "HEAD.json"), {"current": 7})


def _write_zorder_files(
    spark: SparkSession,
    table_dir: str,
    df: DataFrame,
    n_files: int = _N_BUCKETS,
    name_fmt: str = "z{i}-v7.parquet",
) -> tuple[list[str], dict]:
    """Cluster ``df`` by Morton(event_id, user_id) into ``n_files``
    equal-count files with min/max stats on both interleaved dims.

    Grid cells come from PERCENT RANK, not min/max scaling: the
    appended offset keys (1e9/2e9) would otherwise squash the base
    key range into a handful of cells and leave the event dimension's
    per-file stats too wide to skip anything — exactly the skew case
    layout.py's docstring prescribes quantile breakpoints for. The
    deterministic fixture splits by exact ntile over the Morton code
    (unique non-null event_id breaks ties); at estate scale the same
    clustering is ``layout.zorder_by`` — approx-quantile grid +
    repartitionByRange on the code. Each file's stats are observed by
    its write.
    """
    from pyspark.sql import Window

    from .layout import morton_interleave

    cells = (1 << 16) - 1
    ce = F.floor(F.percent_rank().over(Window.orderBy("event_id")) * cells).cast(
        "long"
    )
    cu = F.floor(F.percent_rank().over(Window.orderBy("user_id")) * cells).cast(
        "long"
    )
    # bind the ranked cells as columns BEFORE the interleave: the bit
    # extracts reference each cell 16 times, and a bound attribute
    # keeps that one window evaluation, not sixteen
    ranked = df.withColumn("__ce", ce).withColumn("__cu", cu)
    z = morton_interleave([F.col("__ce"), F.col("__cu")], 16)
    tiled = ranked.withColumn("__z", z).withColumn(
        "__t", F.ntile(n_files).over(Window.orderBy("__z", "event_id"))
    )
    tiled = tiled.localCheckpoint()
    stats = {}
    for t in range(1, n_files + 1):
        name = name_fmt.format(i=t - 1)
        part = tiled.filter(F.col("__t") == t).drop("__ce", "__cu", "__z", "__t")
        stats[name] = _write_one_file(part, table_dir, name, ("event_id", "user_id"))
    return list(stats), stats


def _manifest(
    table_dir: str,
    version: int,
    files,
    parent,
    op: str,
    stats: dict | None = None,
    properties: dict | None = None,
    deletes: list | None = None,
    schema: list | None = None,
    file_schemas: dict | None = None,
) -> None:
    m = {"version": version, "files": files, "parent": parent, "op": op}
    optional = {
        "stats": stats,
        "properties": properties,
        "deletes": deletes,
        "schema": schema,
        "file_schemas": file_schemas,
    }
    m.update((k, v) for k, v in optional.items() if v is not None)
    _write_json(os.path.join(table_dir, f"manifest-v{version}.json"), m)


def snapshot_manifest(table_dir: str, version: int | None = None) -> dict:
    """Planning-phase metadata read (driver-side, KB-sized — the same
    split every table format makes)."""
    if version is None:
        with open(os.path.join(table_dir, "HEAD.json")) as fh:
            doc = json.load(fh)
        version = (doc.get("refs") or {}).get("main", doc.get("current", 0))
        if not version:
            raise ValueError(
                f"{table_dir} has no published main snapshot (unpublished "
                "branch commits are read via read_ref)"
            )
    if os.path.exists(
        os.path.join(table_dir, f"manifest-v{version}.json.expired")
    ):
        raise ValueError(f"snapshot v{version} is expired")
    with open(os.path.join(table_dir, f"manifest-v{version}.json")) as fh:
        return json.load(fh)


def read_snapshot(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> DataFrame:
    """Time-travel read: exactly the files the snapshot names.

    Format semantics applied at read, all manifest-driven:
    - mixed-schema estates (``file_schemas``): files are grouped by
      their recorded column list — ONE scan per schema group, not
      per file — and null-filled into the table schema via
      ``unionByName(allowMissingColumns=True)``;
    - merge-on-read deletes (``deletes``): each sidecar's keys are
      applied as a BROADCAST anti-join (the sidecar is KB-MB
      metadata regardless of table size, the deletion-vector scale).
    """
    m = snapshot_manifest(table_dir, version)
    if not m["files"]:
        raise ValueError(
            f"snapshot v{m['version']} of {table_dir} names no data files"
        )
    df = _read_files(spark, table_dir, m["files"], m.get("file_schemas"), m.get("schema"))
    for sidecar in m.get("deletes", []):
        keys = _read_files(spark, table_dir, [sidecar])
        key_col = (m.get("properties") or {}).get("delete_key", keys.columns[0])
        df = df.join(F.broadcast(keys), on=key_col, how="left_anti")
    return df


def _read_files(
    spark: SparkSession,
    table_dir: str,
    files: list,
    file_schemas: dict | None = None,
    schema: list | None = None,
) -> DataFrame:
    """The one data-file read of a snapshot table: one scan PER SCHEMA
    GROUP (the column list ``file_schemas`` records per file, not one
    scan per file), each through the session catalog
    (``tables.read_parquet``), null-filled into the table ``schema``
    via ``unionByName(allowMissingColumns=True)``."""
    groups: dict[tuple, list[str]] = {}
    for f in files:
        key = tuple((file_schemas or {}).get(f) or ())
        groups.setdefault(key, []).append(os.path.join(table_dir, f))
    frames = [
        read_parquet(spark, paths).select(*cols) if cols else read_parquet(spark, paths)
        for cols, paths in groups.items()
    ]
    df = reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), frames)
    return df.select(*schema) if schema else df


def _skipping_read(
    spark: SparkSession, table_dir: str, m: dict, bounds: dict[str, int | None]
) -> DataFrame:
    """Data-skipping read of the snapshot of manifest ``m``: the rows
    whose every column in ``bounds`` is at most its bound, scanning only
    the files whose manifest min stats admit such a row. A file whose
    stats are null is empty or all-null-keyed; the predicate cannot
    match it, so skipping is safe. An unknown bound or no intersecting
    file gives the schema-only empty frame."""
    files = [] if None in bounds.values() else [
        f
        for f in m["files"]
        if all(
            (lo := m["stats"].get(f, {}).get(f"min_{c}")) is not None and lo <= b
            for c, b in bounds.items()
        )
    ]
    if not files:
        empty = read_snapshot(spark, table_dir, m["version"]).filter(F.lit(False))
        return empty.select(*_COLS)
    keep = reduce(operator.and_, (F.col(c) <= b for c, b in bounds.items()))
    return _read_files(spark, table_dir, files).select(*_COLS).filter(keep)


_ORACLE_SNAP_V1 = """
SELECT event_id, user_id, event_type, value, ts
FROM events
ORDER BY event_id
"""


@query("q_snapshot_read_v1", oracle=_ORACLE_SNAP_V1)
def snapshot_read_v1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel: read snapshot v1 of the versioned events table —
    the pre-merge state, served from the ORIGINAL immutable bucket
    files even though HEAD has moved on. Value-identical to the base
    table (the create snapshot)."""
    d = events_snapshot_table(spark, sf_dir)
    return read_snapshot(spark, d, version=1).select(*_COLS).orderBy("event_id")


# the merged-then-deleted five-column content every post-v2 snapshot
# agrees on logically (shared CTE body of the v4+ oracles)
_SQL_V5_CONTENT = f"""
q AS (SELECT (MAX(event_id) + {_N_BUCKETS}) // {_N_BUCKETS} AS quarter
      FROM events),
v2 AS (
  SELECT event_id, user_id, event_type,
         CASE WHEN event_id % {_N_BUCKETS} = 0 THEN value + 100 ELSE value END
             AS value,
         ts
  FROM events
  UNION ALL
  SELECT event_id + {_APPEND_OFFSET}, user_id, event_type, value, ts
  FROM events WHERE event_id < {_APPEND_KEY_LIMIT}
),
v5 AS (
  SELECT v2.event_id, v2.user_id, v2.event_type, v2.value, v2.ts
  FROM v2, q
  WHERE NOT (v2.event_id % {_DELETE_MOD} = {_DELETE_DIGIT}
             AND v2.event_id <= 2 * q.quarter - 1)
)
"""

_ORACLE_SNAP_CURRENT = f"""
WITH {_SQL_V5_CONTENT}
SELECT event_id, user_id, event_type, value, ts,
       CAST(NULL AS VARCHAR) AS source
FROM v5
UNION ALL
SELECT event_id + {_EVOLVE_OFFSET}, user_id, event_type, value, ts,
       '{_EVOLVE_SOURCE}' AS source
FROM events WHERE event_id < {_EVOLVE_KEY_LIMIT}
ORDER BY event_id
"""


@query("q_snapshot_read_current", oracle=_ORACLE_SNAP_CURRENT)
def snapshot_read_current(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HEAD read of the versioned events table: the full lifecycle's
    effects — copy-on-write merge (bucket-0 values bumped, appended
    clones), the v4/v5 delete, and the v6 schema evolution (old rows
    null-filled on ``source``) — are visible through whatever layout
    HEAD points at (the v7 z-order compaction here, logically
    identical to v6 — pinned by pytest). Time travel to any older
    version still serves untouched files shared by reference."""
    d = events_snapshot_table(spark, sf_dir)
    return read_snapshot(spark, d).select(*_COLS_V6).orderBy("event_id")


_ORACLE_SNAP_DIFF = f"""
SELECT event_id, user_id, event_type, value + 100 AS value, ts
FROM events
WHERE event_id % {_N_BUCKETS} = 0 AND value IS NOT NULL
UNION ALL
SELECT event_id + {_APPEND_OFFSET}, user_id, event_type, value, ts
FROM events WHERE event_id < {_APPEND_KEY_LIMIT}
ORDER BY event_id
"""


@query("q_snapshot_diff", oracle=_ORACLE_SNAP_DIFF)
def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental snapshot diff (rows in v2 that are not in v1),
    computed the table-format way: compare the two MANIFESTS and read
    only the files they don't share — here 2 new files against 1
    retired file, never the two full table versions. exceptAll does
    the multiset difference on that pruned slice. Null-keyed rows
    pass through the merge unmodified and cancel out exactly; so do
    null-VALUED modified keys (null + 100 is null), which is why the
    oracle's update branch carries the same ``value IS NOT NULL``
    guard as the change feed's (ADVICE r12 #2)."""
    d = events_snapshot_table(spark, sf_dir)
    m1 = snapshot_manifest(d, 1)
    m2 = snapshot_manifest(d, 2)
    added = [f for f in m2["files"] if f not in m1["files"]]
    retired = [f for f in m1["files"] if f not in m2["files"]]
    new_rows = _read_files(spark, d, added).select(*_COLS)
    old_rows = _read_files(spark, d, retired).select(*_COLS)
    return new_rows.exceptAll(old_rows).orderBy("event_id")


_ORACLE_SNAP_PRUNED = f"""
WITH q AS (SELECT (MAX(event_id) + {_N_BUCKETS}) // {_N_BUCKETS} AS quarter
           FROM events)
SELECT event_id, user_id, event_type,
       CASE WHEN event_id % {_N_BUCKETS} = 0 THEN value + 100 ELSE value END
           AS value,
       ts
FROM events, q
WHERE event_id <= q.quarter - 1
ORDER BY event_id
"""


@query("q_snapshot_pruned_read", oracle=_ORACLE_SNAP_PRUNED)
def snapshot_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-skipping read of the compacted v3 snapshot: the predicate
    (first key quarter) is resolved against the manifest's per-file
    min/max stats at PLANNING time, so only the intersecting range
    file(s) are scanned — 1 of 4 here (the plan test pins it). A file
    whose stats are null is empty or all-null-keyed; a key predicate
    cannot match it, so skipping is safe. The appended offset keys and
    the untouched quarters never enter the plan."""
    d = events_snapshot_table(spark, sf_dir)
    m = snapshot_manifest(d, 3)
    quarter = (m.get("properties") or {}).get("quarter")
    bound = None if quarter is None else int(quarter) - 1
    return _skipping_read(spark, d, m, {"event_id": bound}).orderBy("event_id")


_ORACLE_SNAP_CHANGES = f"""
SELECT 'insert' AS op, event_id + {_APPEND_OFFSET} AS event_id, user_id,
       event_type, value, ts
FROM events WHERE event_id < {_APPEND_KEY_LIMIT}
UNION ALL
SELECT 'update' AS op, event_id, user_id, event_type, value + 100 AS value, ts
FROM events
WHERE event_id % {_N_BUCKETS} = 0 AND value IS NOT NULL
ORDER BY op, event_id
"""


@query("q_snapshot_changes", oracle=_ORACLE_SNAP_CHANGES)
def snapshot_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style change feed between snapshots v1 → v2 (the Delta
    ``table_changes`` / Iceberg incremental-read shape): op-tagged
    post-image rows, derived the table-format way — INSERTS are the
    append file read whole (no comparison needed: a file new to the
    manifest with no retired counterpart is pure insert), UPDATES are
    the multiset difference of the one rewritten bucket against its
    retired predecessor. Null-valued modified rows cancel in the
    difference (null + 100 is null), so the oracle carries the same
    value IS NOT NULL guard. Never reads the 3 shared bucket files."""
    d = events_snapshot_table(spark, sf_dir)

    def read(name: str) -> DataFrame:
        return _read_files(spark, d, [name]).select(*_COLS)

    inserts = read("append-v2.parquet").withColumn("op", F.lit("insert"))
    updates = (
        read("b0-v2.parquet")
        .exceptAll(read("b0-v1.parquet"))
        .withColumn("op", F.lit("update"))
    )
    return (
        inserts.unionByName(updates)
        .select("op", *_COLS)
        .orderBy("op", "event_id")
    )


# ---------------------------------------------------------------------------
# lifecycle: snapshot expiration + vacuum (round 12, second half) —
# the retention half of every table format. Expiration deletes
# MANIFESTS only (metadata operation); vacuum then removes data files
# no live manifest references. Two-step by design: a file shared with
# any surviving snapshot is untouchable, and vacuum defaults to a
# dry run listing what WOULD go.
# ---------------------------------------------------------------------------


def _all_versions(table_dir: str) -> list[int]:
    """Every version number ever claimed, expired or not — the
    append-only number space optimistic commits allocate from."""
    out = []
    for f in os.listdir(table_dir):
        if f.startswith("manifest-v") and f.endswith(".json"):
            out.append(int(f[len("manifest-v") : -len(".json")]))
    return sorted(out)


def live_versions(table_dir: str) -> list[int]:
    """Non-expired versions (expiry leaves a ``.expired`` marker and
    keeps the manifest file, so the number is never reused)."""
    return [
        v
        for v in _all_versions(table_dir)
        if not os.path.exists(
            os.path.join(table_dir, f"manifest-v{v}.json.expired")
        )
    ]


def expire_snapshot(table_dir: str, version: int) -> None:
    """Drop one snapshot's manifest (metadata-only; data files stay
    until vacuum). Refuses to expire HEAD."""
    doc = _head_doc(table_dir)
    holders = sorted(r for r, v in doc["refs"].items() if v == version)
    if version == doc.get("current") or holders:
        label = ",".join(holders) or "HEAD"
        raise ValueError(f"cannot expire snapshot v{version}: ref {label}")
    path = os.path.join(table_dir, f"manifest-v{version}.json")
    if not os.path.exists(path):
        raise FileNotFoundError(f"no manifest-v{version}.json")
    # tombstone, don't delete: the manifest file keeps its version
    # number claimed forever, so optimistic commits can never hand the
    # number to a new history (stale readers + time travel stay sane)
    with open(path + ".expired", "w") as fh:
        fh.write("")


def vacuum(table_dir: str, dry_run: bool = True) -> list[str]:
    """Data files referenced by NO live manifest, sorted. With
    dry_run=False they are deleted; the default only reports."""
    referenced: set[str] = set()
    for v in live_versions(table_dir):
        m = snapshot_manifest(table_dir, v)
        referenced.update(m["files"])
        referenced.update(m.get("deletes", []))  # sidecars are data too
    orphans = sorted(
        f
        for f in os.listdir(table_dir)
        if f.endswith(".parquet") and f not in referenced
    )
    if not dry_run:
        for f in orphans:
            os.remove(os.path.join(table_dir, f))
    return orphans


# ---------------------------------------------------------------------------
# round 13: DELETE both ways (merge-on-read sidecar vs copy-on-write
# rewrite), schema evolution, and the z-order-compacted 2-dim pruned
# read — the manifest protocol's remaining lifecycle ops.
# ---------------------------------------------------------------------------


_ORACLE_SNAP_DELETE = f"""
WITH {_SQL_V5_CONTENT}
SELECT event_id, user_id, event_type, value, ts
FROM v5
ORDER BY event_id
"""


@query("q_snapshot_delete_mor", oracle=_ORACLE_SNAP_DELETE)
def snapshot_delete_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read DELETE (snapshot v4): the data files are the
    UNCHANGED v3 range files — the delete exists only as a key
    sidecar in the manifest (Iceberg positional-delete / Delta
    deletion-vector shape), applied by ``read_snapshot`` as a
    broadcast anti-join. This is the lakehouse form of GDPR erasure
    (`q_gdpr_erasure`): O(KB) write cost now, reconciled at the next
    copy-on-write rewrite (v5 — same oracle, different physical
    plan). At 100 TB the sidecar broadcasts to every executor while
    the 4-file scan never reshuffles."""
    d = events_snapshot_table(spark, sf_dir)
    return read_snapshot(spark, d, 4).select(*_COLS).orderBy("event_id")


@query("q_snapshot_delete_cow", oracle=_ORACLE_SNAP_DELETE)
def snapshot_delete_cow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write DELETE materialization (snapshot v5): the same
    logical delete as v4, now baked into rewritten data files — only
    the 2 range files containing deleted keys were rewritten (r0
    split into two files: a logical bucket is k files, not one), r2
    and r3 are SHARED with v3/v4 by reference. Reads are
    sidecar-free; a pytest pins v4 == v5 row-for-row."""
    d = events_snapshot_table(spark, sf_dir)
    return read_snapshot(spark, d, 5).select(*_COLS).orderBy("event_id")


_ORACLE_SNAP_EVOLVE = f"""
WITH {_SQL_V5_CONTENT},
v6 AS (
  SELECT event_id, CAST(NULL AS VARCHAR) AS source FROM v5
  UNION ALL
  SELECT event_id + {_EVOLVE_OFFSET}, '{_EVOLVE_SOURCE}'
  FROM events WHERE event_id < {_EVOLVE_KEY_LIMIT}
)
SELECT COALESCE(source, '<pre-evolution>') AS source,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       MIN(event_id) AS min_key,
       MAX(event_id) AS max_key
FROM v6
GROUP BY COALESCE(source, '<pre-evolution>')
ORDER BY source
"""


@query("q_snapshot_schema_evolution", oracle=_ORACLE_SNAP_EVOLVE)
def snapshot_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution (snapshot v6): an appended file carries the
    NEW ``source`` column; the five older data files do not. The
    manifest records the evolved table schema plus per-file column
    lists, and the read groups files BY SCHEMA (one scan per schema
    group, not per file) then null-fills through
    ``unionByName(allowMissingColumns=True)``. The aggregate pins
    the null-fill: every pre-evolution row lands in the
    '<pre-evolution>' bucket, every evolved row carries its source
    tag, and the key ranges prove neither group leaked into the
    other."""
    d = events_snapshot_table(spark, sf_dir)
    v6 = read_snapshot(spark, d, 6)
    return (
        v6.groupBy(
            F.coalesce(F.col("source"), F.lit("<pre-evolution>")).alias("source")
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("event_id").alias("min_key"),
            F.max("event_id").alias("max_key"),
        )
        .orderBy("source")
    )


_ORACLE_SNAP_ZORDER = f"""
WITH {_SQL_V5_CONTENT},
u AS (SELECT MAX(user_id) // 4 AS u_hi FROM events)
SELECT v5.event_id, v5.user_id, v5.event_type, v5.value, v5.ts
FROM v5, q, u
WHERE v5.event_id <= q.quarter - 1 AND v5.user_id <= u.u_hi
ORDER BY v5.event_id
"""


@query("q_snapshot_zorder_read", oracle=_ORACLE_SNAP_ZORDER)
def snapshot_zorder_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-dimensional data-skipping read of the z-order-compacted v7
    snapshot (OPTIMIZE ZORDER BY (event_id, user_id)): the Morton
    clustering makes every file a rough rectangle in (event, user)
    space, so its manifest min/max stats are TIGHT ON BOTH columns
    and a conjunctive 2-dim predicate skips files on either one — a
    single-column sort could only ever skip on its own column. The
    pytest pins that both dimensions individually skip at least one
    file. Files whose stats are null are empty or all-null-keyed; a
    key predicate cannot match them, so skipping is safe."""
    d = events_snapshot_table(spark, sf_dir)
    m = snapshot_manifest(d, 7)
    props = m.get("properties") or {}
    quarter, max_user = props.get("quarter"), props.get("base_max_user_id")
    bounds = {
        "event_id": None if quarter is None else int(quarter) - 1,
        "user_id": None if max_user is None else int(max_user) // 4,
    }
    return _skipping_read(spark, d, m, bounds).orderBy("event_id")


# ---------------------------------------------------------------------------
# Exactly-once streaming commits INTO the snapshot table: foreachBatch
# lands each micro-batch as an immutable data file, then commits an
# atomic manifest + HEAD swap KEYED BY batch_id. Replays are detected
# by key and reduced to at most a HEAD roll-forward, so every crash
# interleaving converges to the uninterrupted history:
#   - crash after file write, before manifest: the replay rewrites the
#     same file name via staging + os.replace (Spark's source-replay
#     contract guarantees the same batch content) and commits;
#   - crash after manifest, before HEAD: the replay finds the batch's
#     manifest and only rolls HEAD forward;
#   - replay after full commit: pure no-op.
# Single-writer by design (one streaming query owns the table), which
# is Structured Streaming's own sink model. tests/test_snapshots.py
# drives the kill-and-restart matrix.
# ---------------------------------------------------------------------------


def commit_stream_batch(batch_df: DataFrame, batch_id: int, table_dir: str) -> int:
    """``foreachBatch(lambda df, bid: commit_stream_batch(df, bid, d))``
    sink body. Returns the snapshot version serving the batch."""
    os.makedirs(table_dir, exist_ok=True)
    versions = live_versions(table_dir)
    for v in versions:
        m = snapshot_manifest(table_dir, v)
        if (m.get("properties") or {}).get("batch_id") == batch_id:
            # replayed batch whose manifest already committed: the only
            # possibly-missing piece is the HEAD swap — roll forward
            _set_head_at_least(table_dir, v)
            return v
    name = f"batch-{int(batch_id):010d}.parquet"
    _write_one_file(batch_df, table_dir, name)
    # the append itself rides the optimistic-concurrency commit, so a
    # concurrent maintenance op (compaction, delete rewrite) racing
    # the stream costs the loser a rebase, never a lost snapshot
    return commit_optimistic(
        table_dir,
        add_files=[name],
        op="stream-append",
        properties={"batch_id": int(batch_id)},
    )


def _head_doc(table_dir: str) -> dict:
    """HEAD.json as a refs document. Back-compat: a bare
    ``{"current": N}`` (pre-branch format) reads as refs {main: N};
    ``current`` always mirrors the main ref for old readers."""
    head_path = os.path.join(table_dir, "HEAD.json")
    if not os.path.exists(head_path):
        return {"current": 0, "refs": {}}
    with open(head_path) as fh:
        doc = json.load(fh)
    doc.setdefault("refs", {})
    if "main" not in doc["refs"] and doc.get("current"):
        doc["refs"]["main"] = doc["current"]
    return doc


def _write_head_doc(table_dir: str, doc: dict) -> None:
    doc = dict(doc)
    doc["current"] = doc.get("refs", {}).get("main", doc.get("current", 0))
    _write_json(os.path.join(table_dir, "HEAD.json"), doc)


def _advance_ref(table_dir: str, name: str, version: int) -> None:
    """Forward-only ref move (idempotent under replay; a stale replay
    can never rewind a newer commit). Refs are read-side convenience
    pointers — the manifests themselves are the committed truth
    (multi-writer races resolve on the manifest claim, and a reader
    that needs the absolute latest uses live_versions)."""
    doc = _head_doc(table_dir)
    if doc["refs"].get(name, 0) < version:
        doc["refs"][name] = version
        _write_head_doc(table_dir, doc)


def _set_head_at_least(table_dir: str, version: int) -> None:
    _advance_ref(table_dir, "main", version)


# ---------------------------------------------------------------------------
# Optimistic concurrency (round 13): the multi-writer story. Iceberg
# commits through an atomic CAS on the catalog pointer; on a plain
# filesystem the equivalent arbiter is an EXCLUSIVE atomic create of
# the next manifest — os.link of a fully-written temp file onto
# manifest-v{N+1}.json either claims version N+1 or fails with
# FileExistsError because another writer already did. Losers re-read
# the new head and REBASE: pure appends always rebase; an operation
# that read or rewrote existing files (a delete, a compaction)
# declares them as required_files and refuses with CommitConflict if
# any left the table — the Iceberg validation rule, minimally.
# ---------------------------------------------------------------------------


class CommitConflict(RuntimeError):
    """An optimistic commit could not be rebased: a file the operation
    read or rewrote is no longer live at the current head (or the
    writer lost every retry)."""


def current_head(table_dir: str) -> int:
    with open(os.path.join(table_dir, "HEAD.json")) as fh:
        return int(json.load(fh)["current"])


def _commit_exclusive(table_dir: str, version: int, manifest: dict) -> None:
    """Claim ``manifest-v{version}.json`` atomically and exclusively:
    the manifest is fully written to a temp name first (readers never
    see a partial file), then hardlinked into place — os.link fails
    with FileExistsError if another writer claimed the version."""
    final = os.path.join(table_dir, f"manifest-v{version}.json")
    tmp = os.path.join(table_dir, f"_claim-{uuid.uuid4().hex}.json.tmp")
    with open(tmp, "w") as fh:
        json.dump(manifest, fh)
    try:
        os.link(tmp, final)
    finally:
        os.unlink(tmp)


def commit_optimistic(
    table_dir: str,
    add_files: list | tuple = (),
    remove_files: list | tuple = (),
    op: str = "append",
    required_files: list | tuple = (),
    properties: dict | None = None,
    stats: dict | None = None,
    schema: list | None = None,
    file_schemas: dict | None = None,
    deletes: list | None = None,
    max_attempts: int = 10,
    ref: str = "main",
) -> int:
    """Commit ``add_files``/``remove_files`` against whatever the head
    is WHEN THE CLAIM LANDS. Data files must already be fully written
    (immutable-file-first, commit-last — same order as the streaming
    protocol). Files in ``remove_files`` are implicitly required: you
    cannot retire content another writer already rewrote. Returns the
    committed version; raises CommitConflict when rebase is unsound
    or every attempt lost its race."""
    if not os.path.exists(os.path.join(table_dir, "HEAD.json")):
        # bootstrap: claim v1 of an empty table
        try:
            _commit_exclusive(
                table_dir, 1,
                {"version": 1, "files": list(add_files), "parent": None,
                 "op": op,
                 **({"properties": properties} if properties else {}),
                 **({"stats": stats} if stats else {}),
                 **({"schema": schema} if schema else {}),
                 **({"file_schemas": file_schemas} if file_schemas else {})},
            )
            _advance_ref(table_dir, ref, 1)
            return 1
        except FileExistsError:
            pass  # someone else bootstrapped; fall through to CAS loop
    required = set(required_files) | set(remove_files)
    for _ in range(max_attempts):
        # ONE directory snapshot per attempt: numbering consumes from
        # ALL versions ever claimed (expiry tombstones a manifest but
        # never frees its number), and the base is the latest LIVE
        # version of the SAME listing. That pairing is what keeps the
        # CAS sound — my claim of nxt succeeding proves no live commit
        # landed after the base I read; a second listing (or a freed
        # number) would let a racing writer land between base and
        # claim and be silently dropped from my file list.
        all_vs = _all_versions(table_dir)
        live = [
            v
            for v in all_vs
            if not os.path.exists(
                os.path.join(table_dir, f"manifest-v{v}.json.expired")
            )
        ]
        head = max(live)
        nxt = max(all_vs) + 1
        base = snapshot_manifest(table_dir, head)
        missing = sorted(required - set(base["files"]))
        if missing:
            raise CommitConflict(
                f"files {missing} are no longer live at v{head}: a "
                "concurrent commit rewrote or retired them — re-plan "
                "the operation against the current snapshot"
            )
        files = [f for f in base["files"] if f not in set(remove_files)]
        files += [f for f in add_files if f not in files]
        m = {"version": nxt, "files": files, "parent": head, "op": op}
        if properties is not None:
            m["properties"] = properties
        if stats is not None:
            m["stats"] = stats
        # schema / file_schemas / deletes carry over from the base so
        # a rebased append never silently drops evolution metadata
        if schema is not None:
            m["schema"] = schema
        elif base.get("schema"):
            m["schema"] = base["schema"]
        if file_schemas is not None:
            m["file_schemas"] = file_schemas
        elif base.get("file_schemas"):
            m["file_schemas"] = {
                f: c for f, c in base["file_schemas"].items() if f in files
            }
        if deletes is not None:
            if deletes:  # empty list = clear (a rewrite materialized them)
                m["deletes"] = list(deletes)
        elif base.get("deletes"):
            m["deletes"] = base["deletes"]
        try:
            _commit_exclusive(table_dir, nxt, m)
        except FileExistsError:
            continue  # lost the race — rebase onto the new head
        _advance_ref(table_dir, ref, nxt)
        return nxt
    raise CommitConflict(f"lost {max_attempts} commit races on {table_dir}")


def zorder_compact(spark: SparkSession, table_dir: str, n_files: int = _N_BUCKETS) -> int:
    """OPTIMIZE ZORDER as a first-class maintenance op on a LIVE
    events-schema snapshot table (VERDICT r12 #5): recluster the
    current snapshot's content along Morton(event_id, user_id) into
    ``n_files`` files with min/max stats on both dims, committed
    through the optimistic protocol — every file the op read is
    ``required``, so a concurrent rewrite of any of them turns this
    commit into a CommitConflict instead of silently resurrecting
    retired rows. Returns the committed version."""
    head = max(live_versions(table_dir))
    base = snapshot_manifest(table_dir, head)
    df = read_snapshot(spark, table_dir, head)
    files, stats = _write_zorder_files(
        spark, table_dir, df, n_files, name_fmt=f"zopt{head}-{{i}}.parquet"
    )
    props = dict(base.get("properties") or {})
    props["zorder_by"] = ["event_id", "user_id"]
    # a maintenance commit gets its own stamp (or none): inheriting
    # the base's committed_at would alias two versions in AS-OF reads
    props.pop("committed_at", None)
    return commit_optimistic(
        table_dir,
        add_files=files,
        remove_files=base["files"],
        required_files=base["files"],
        op="zorder",
        stats=stats,
        properties=props,
        # compaction materializes the base's MOR deletes and null-fills
        # its schema groups into one layout: the child carries neither
        schema=base.get("schema"),
        file_schemas={},
        deletes=[],
    )


def read_snapshot_as_of(
    spark: SparkSession, table_dir: str, ts: str
) -> DataFrame:
    """Timestamp time travel (Delta ``TIMESTAMP AS OF``): serve the
    LATEST snapshot whose ``committed_at`` property is <= ``ts``
    (ISO-8601 strings compare lexicographically). Versions without a
    stamp are invisible to timestamp travel (still reachable by
    version); raises when nothing was committed by ``ts``."""
    best = None
    for v in live_versions(table_dir):
        m = snapshot_manifest(table_dir, v)
        committed = (m.get("properties") or {}).get("committed_at")
        if committed is not None and committed <= ts:
            best = v
    if best is None:
        raise ValueError(f"no snapshot of {table_dir} committed at or before {ts}")
    return read_snapshot(spark, table_dir, best)


_ORACLE_SNAP_HISTORY = """
SELECT CAST(version AS BIGINT) AS version, op,
       CAST(parent AS BIGINT) AS parent,
       CAST(n_files AS BIGINT) AS n_files,
       CAST(n_deletes AS BIGINT) AS n_deletes,
       committed_at
FROM (VALUES
  (1, 'create',  0, 4, 0, '2024-01-01T00:00:00Z'),
  (2, 'merge',   1, 5, 0, '2024-01-02T00:00:00Z'),
  (3, 'compact', 2, 4, 0, '2024-01-03T00:00:00Z'),
  (4, 'delete',  3, 4, 1, '2024-01-04T00:00:00Z'),
  (5, 'rewrite', 4, 5, 0, '2024-01-05T00:00:00Z'),
  (6, 'append',  5, 6, 0, '2024-01-06T00:00:00Z'),
  (7, 'zorder',  6, 4, 0, '2024-01-07T00:00:00Z')
) AS t(version, op, parent, n_files, n_deletes, committed_at)
ORDER BY version
"""


@query("q_snapshot_history", oracle=_ORACLE_SNAP_HISTORY)
def snapshot_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-history METADATA TABLE (the Iceberg ``table.snapshots``
    / Delta ``DESCRIBE HISTORY`` shape): one row per live snapshot
    with its operation, parent, file/delete-sidecar counts, and commit
    timestamp — served entirely from the KB-sized manifests on the
    driver, the same planning-phase split every table format makes
    (no data file is opened). The history is a fixed contract of the
    builder protocol, independent of data scale, so the oracle pins
    it as constants: any drift in the protocol (an op renamed, a
    bucket count changed, a sidecar dropped) breaks the value-hash.
    ``parent`` 0 = none (the create snapshot)."""
    d = events_snapshot_table(spark, sf_dir)
    rows = []
    for v in live_versions(d):
        m = snapshot_manifest(d, v)
        rows.append(
            (
                v,
                m["op"],
                m["parent"] or 0,
                len(m["files"]),
                len(m.get("deletes", [])),
                (m.get("properties") or {}).get("committed_at"),
            )
        )
    return spark.createDataFrame(
        rows,
        "version long, op string, parent long, n_files long,"
        " n_deletes long, committed_at string",
    ).orderBy("version")


# ---------------------------------------------------------------------------
# MERGE INTO (upsert) as a live op: the write-path companion to
# zorder_compact. COW scope is STATS-PRUNED — only data files whose
# key-range stats overlap the update keys are rewritten (each
# preserving its own clustering and schema), unmatched update rows
# land in one append file, and the commit rides the optimistic
# protocol with the touched files required. This is the
# partition/file-pruned MERGE every lakehouse engine plans; at 100 TB
# the rewrite cost is the overlapping fraction, never the table.
# ---------------------------------------------------------------------------


def merge_upsert(
    spark: SparkSession, table_dir: str, updates: DataFrame, key: str = "event_id"
) -> int:
    """Upsert ``updates`` (matched keys replaced, new keys inserted)
    into the current snapshot. Update rows must carry the table
    schema. Returns the committed version."""
    head = max(live_versions(table_dir))
    base = snapshot_manifest(table_dir, head)
    if base.get("deletes"):
        raise ValueError(
            "merge_upsert requires materialized deletes — run a "
            "rewrite/compact of the MOR snapshot first"
        )
    stats = base.get("stats") or {}
    # which stat columns the base tracks, so new files stay prunable
    stat_cols = sorted(
        {
            c[len("min_") :]
            for st in stats.values()
            for c in st
            if c.startswith("min_")
        }
    )
    target_schema = base.get("schema")
    ups = updates.select(*target_schema) if target_schema else updates
    # the upsert file lands first: its observed key range picks the
    # files to rewrite, and its keys are the ones they drop
    upsert_name = f"merge{head + 1}-upserts.parquet"
    ups_stats = _write_one_file(ups, table_dir, upsert_name, sorted({*stat_cols, key}))
    kmin, kmax = ups_stats[f"min_{key}"], ups_stats[f"max_{key}"]
    if kmin is None:
        os.remove(os.path.join(table_dir, upsert_name))
        raise ValueError("updates carry no non-null keys")

    def may_overlap(f: str) -> bool:
        st = stats.get(f) or {}
        lo, hi = st.get(f"min_{key}"), st.get(f"max_{key}")
        if lo is None or hi is None:
            return True  # no stats: must assume the file may match
        return not (hi < kmin or lo > kmax)

    touched = [f for f in base["files"] if may_overlap(f)]
    file_schemas = dict(base.get("file_schemas") or {})
    upd_keys = _read_files(spark, table_dir, [upsert_name]).select(key).distinct()
    new_stats = {f: st for f, st in stats.items() if f not in touched}
    add_files = []
    # rewrite each touched file in place-shape: its own clustering and
    # column list survive, only matched keys leave
    for f in touched:
        cols = file_schemas.pop(f, None)
        kept = _read_files(spark, table_dir, [f], schema=cols)
        kept = kept.join(F.broadcast(upd_keys), on=key, how="left_anti")
        name = f"merge{head + 1}-{f}"
        new_stats[name] = _write_one_file(kept, table_dir, name, stat_cols)
        if cols:
            file_schemas[name] = cols
        add_files.append(name)
    new_stats[upsert_name] = {
        k: v for k, v in ups_stats.items() if k[len("min_") :] in stat_cols
    }
    add_files.append(upsert_name)
    props = dict(base.get("properties") or {})
    props.pop("committed_at", None)
    props["merge_key"] = key
    return commit_optimistic(
        table_dir,
        add_files=add_files,
        remove_files=touched,
        required_files=touched,
        op="merge",
        stats=new_stats if stats else None,
        properties=props,
        schema=target_schema,
        file_schemas=file_schemas,
    )


_MERGE_KEY_LIMIT = 10
_MERGE_BUMP = 1000
_MERGE_SOURCE = "upsert"

_ORACLE_SNAP_MERGE = f"""
WITH {_SQL_V5_CONTENT},
v6 AS (
  SELECT event_id, user_id, event_type, value, ts,
         CAST(NULL AS VARCHAR) AS source
  FROM v5
  UNION ALL
  SELECT event_id + {_EVOLVE_OFFSET}, user_id, event_type, value, ts,
         '{_EVOLVE_SOURCE}'
  FROM events WHERE event_id < {_EVOLVE_KEY_LIMIT}
),
upd AS (
  SELECT event_id, user_id, event_type, value + {_MERGE_BUMP} AS value, ts,
         '{_MERGE_SOURCE}' AS source
  FROM events WHERE event_id < {_MERGE_KEY_LIMIT}
)
SELECT event_id, user_id, event_type, value, ts, source FROM (
  SELECT * FROM v6
  WHERE event_id NOT IN (SELECT event_id FROM upd)
  UNION ALL
  SELECT * FROM upd
)
ORDER BY event_id
"""


@query("q_snapshot_merge_upsert", oracle=_ORACLE_SNAP_MERGE)
def snapshot_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO (upsert) on the live snapshot table: base keys < 10
    get value + 1000 and an 'upsert' source tag — key 7 was DELETED in
    v5, so the same statement exercises the UPDATE path (keys present
    in v7) and the INSERT path (key 7 re-inserted) at once. The op
    runs on a cached COPY of the fixture table (a registered query
    must never mutate shared state); only the z-order files whose
    key-range stats overlap [0, 10) are rewritten, each preserving
    its own clustering — the plan pytest pins the untouched files.
    Read back through the ordinary HEAD read."""
    d = events_merged_snapshot_table(spark, sf_dir)
    return read_snapshot(spark, d).select(*_COLS_V6).orderBy("event_id")


def events_merged_snapshot_table(spark: SparkSession, sf_dir: str) -> str:
    """The snapshot table after the q_snapshot_merge_upsert MERGE: a
    copy of events_snapshot_table, merged before it is published."""

    def build(d: str) -> None:
        shutil.copytree(events_snapshot_table(spark, sf_dir), d)
        updates = (
            load_table(spark, sf_dir, "events")
            .filter(F.col("event_id") < _MERGE_KEY_LIMIT)
            .select(*_COLS)
            .withColumn("value", F.col("value") + _MERGE_BUMP)
            .withColumn("source", F.lit(_MERGE_SOURCE))
        )
        if updates.limit(1).count():  # degenerate fixtures: no keys, no-op
            merge_upsert(spark, d, updates)

    return side_table(
        spark, sf_dir, ["events"], "events-snapshots-v6-merged-v1", build
    )


# ---------------------------------------------------------------------------
# Branch refs + write-audit-publish (round 13): the production guard
# for training-data drops. A new batch commits to an AUDIT ref (main
# never moves), validation queries run against read_ref("audit"), and
# only a passing drop is PUBLISHED — a fast-forward of main to the
# audited snapshot, pure metadata. A failing drop is dropped + expired
# + vacuumed without main ever having exposed it. Iceberg branches /
# the WAP pattern, minimally.
# ---------------------------------------------------------------------------


def table_refs(table_dir: str) -> dict:
    """Name → snapshot version for every ref (main included)."""
    return dict(_head_doc(table_dir)["refs"])


def create_ref(table_dir: str, name: str, version: int | None = None) -> None:
    """Point a new ref at ``version`` (default: main's snapshot)."""
    doc = _head_doc(table_dir)
    if name in doc["refs"]:
        raise ValueError(f"ref {name!r} already exists")
    if version is None:
        version = doc["refs"].get("main")
    if not version or version not in live_versions(table_dir):
        raise ValueError(f"no live snapshot v{version} to point {name!r} at")
    doc["refs"][name] = version
    _write_head_doc(table_dir, doc)


def drop_ref(table_dir: str, name: str) -> None:
    """Remove a ref (its snapshots become expirable). main is
    protected — a table always has a published line."""
    if name == "main":
        raise ValueError("cannot drop the main ref")
    doc = _head_doc(table_dir)
    if name not in doc["refs"]:
        raise ValueError(f"no ref {name!r}")
    del doc["refs"][name]
    _write_head_doc(table_dir, doc)


def publish_ref(table_dir: str, from_ref: str, to_ref: str = "main") -> int:
    """Fast-forward ``to_ref`` to ``from_ref``'s snapshot (the WAP
    publish step — pure metadata, no data file moves). Refuses a
    backward move: publishing can only expose NEWER audited state."""
    doc = _head_doc(table_dir)
    src = doc["refs"].get(from_ref)
    if src is None:
        raise ValueError(f"no ref {from_ref!r}")
    dst = doc["refs"].get(to_ref, 0)
    if src < dst:
        raise ValueError(
            f"cannot fast-forward {to_ref!r} backward (v{dst} -> v{src})"
        )
    doc["refs"][to_ref] = src
    _write_head_doc(table_dir, doc)
    return src


def read_ref(spark: SparkSession, table_dir: str, name: str) -> DataFrame:
    """Read the snapshot a ref points at (audit-side validation reads
    run here while main stays untouched)."""
    version = _head_doc(table_dir)["refs"].get(name)
    if version is None:
        raise ValueError(f"no ref {name!r}")
    return read_snapshot(spark, table_dir, version)
