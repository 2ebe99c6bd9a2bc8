"""Fixture-table catalog.

The harness corpus (TESTDATA.md / FIXTURES.md §A) is ten parquet
tables per scale factor. This module is the single place that knows
how to load them and expose them as temp views, mirroring the
reference's fixed-table catalog (create_tables.py drives DDL for 7
named tables; here the "DDL" is the parquet footer schema).

Scale note: `spark.read.parquet` on a directory of files gives
splittable columnar scans with predicate pushdown and column pruning
for free; at 100 TB the same call reads a partitioned layout
(`.../table/date=.../part-*.parquet`) and Catalyst prunes partitions
from WHERE clauses — no code change.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile
import uuid
from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def source_fingerprint(sf_dir: str, table: str) -> str:
    """mtime+size fingerprint of a source parquet (file or directory):
    a table rewritten at the same path gets a new fingerprint, so every
    copy keyed by it is rebuilt instead of served stale."""
    path = table_path(sf_dir, table)
    st = os.stat(path)
    fp = f"{st.st_mtime_ns}:{st.st_size}"
    if os.path.isdir(path):
        fp += "".join(
            f":{p}={os.stat(os.path.join(path, p)).st_mtime_ns}"
            for p in sorted(os.listdir(path))
        )
    return fp


def side_table(
    spark: SparkSession,
    sf_dir: str,
    sources: Iterable[str],
    name: str,
    build: Callable[[str], None],
) -> str:
    """The one way to materialise a side table (a format copy or
    derived table of fixture tables) and return its directory.

    The directory name is a stable prefix, hashing sf_dir, the session
    timezone (naive timestamps written under one zone read back shifted
    under another) and ``name``, plus a content suffix hashing the
    fingerprint of each source table. The directory is published by
    ``publish_dir``, so it is complete by construction. Publishing a
    new copy removes the copies with the same prefix that it
    supersedes, so a rewritten source leaves no stale copy behind."""
    tz = spark.conf.get("spark.sql.session.timeZone")
    prefix = "sparkifydb_side_" + _digest(sf_dir, tz, name) + "_"
    content = _digest(*(source_fingerprint(sf_dir, t) for t in sources))
    tmpdir = tempfile.gettempdir()
    d = os.path.join(tmpdir, prefix + content)
    if not os.path.exists(d):
        publish_dir(d, build)
        # the superseded copies; `.tmp-` siblings belong to builds
        # still running
        for entry in os.listdir(tmpdir):
            if entry.startswith(prefix) and "." not in entry and entry != prefix + content:
                shutil.rmtree(os.path.join(tmpdir, entry), ignore_errors=True)
    return d


def _digest(*parts: str) -> str:
    return hashlib.sha256("|".join(parts).encode()).hexdigest()[:16]


def publish_dir(d: str, build: Callable[[str], None]) -> None:
    """Publish a new directory at ``d``: ``build`` writes a fresh
    sibling temp directory, which one ``os.replace`` moves to ``d``. A
    failed build publishes nothing; a lost publish race keeps the
    winner's directory."""
    tmp = _build_sibling(d, build)
    try:
        os.replace(tmp, d)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)
        if not os.path.isdir(d):
            raise


def replace_dir(path: str, build: Callable[[str], None]) -> None:
    """The one way to rewrite a live directory in place (compaction, a
    view's merged state, an upsert sink).

    ``build`` writes the new contents into a fresh sibling temp
    directory and may read ``path`` while doing so: the live directory
    is not touched until ``build`` returns. A failed build leaves
    ``path`` as it was and no sibling behind. Two renames then swap the
    result in (live → ``<path>.old-<uuid>``, temp → ``path``) and the
    old contents are removed, so a reader sees the old or the new
    directory whole, never a mix; between the two renames ``path`` is
    briefly absent."""
    path = path.rstrip("/")
    tmp = _build_sibling(path, build)
    old = f"{path}.old-{uuid.uuid4().hex}"
    live = os.path.exists(path)
    if live:
        os.rename(path, old)
    os.rename(tmp, path)
    if live:
        shutil.rmtree(old)


def _build_sibling(d: str, build: Callable[[str], None]) -> str:
    """Run ``build`` into a fresh ``<d>.tmp-<uuid>`` sibling and return
    it; a raising build removes the sibling and re-raises."""
    tmp = f"{d}.tmp-{uuid.uuid4().hex}"
    try:
        build(tmp)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    return tmp


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table. Schema comes from the parquet footer —
    the analog of the reference's CREATE TABLE DDL
    (/root/reference/sql_queries.py:19-97)."""
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown fixture table {name!r}; have {TABLE_NAMES}")
    if name == "events":
        # Fixture generations differ in how events.ts is encoded:
        # TIMESTAMP(NANOS) (read as long: the session sets
        # spark.sql.legacy.parquet.nanosAsLong, see session.get_spark)
        # or plain TIMESTAMP(MICROS). Normalize both to TimestampType
        # so every downstream query and oracle sees one semantic.
        df = spark.read.parquet(table_path(sf_dir, name))
        return df.withColumn("ts", normalize_event_ts(df))
    return spark.read.parquet(table_path(sf_dir, name))


def normalize_event_ts(df: DataFrame, col: str = "ts"):
    """TimestampType `ts` from whichever physical type the fixture
    used: nanos-as-long → integer-div to micros (integer `div`, NOT
    `/1000` — float division loses precision at 1e18 ns, and
    truncation matches DuckDB's ns→us cast); TIMESTAMP_NTZ (parquet
    isAdjustedToUTC=false, the pandas writer default) → cast, which
    under the UTC session timezone is value-preserving."""
    from pyspark.sql.types import LongType

    dt = df.schema[col].dataType
    if isinstance(dt, LongType):
        return F.timestamp_micros(F.expr(f"{col} div 1000"))
    return F.col(col).cast("timestamp")


def register_views(
    spark: SparkSession, sf_dir: str, *names: str
) -> dict[str, DataFrame]:
    """Register the named fixture tables as temp views so `spark.sql`
    queries see the same catalog names DuckDB's oracle does. Only the
    named tables load: each load infers its schema in a Spark job."""
    dfs = {name: load_table(spark, sf_dir, name) for name in names}
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
