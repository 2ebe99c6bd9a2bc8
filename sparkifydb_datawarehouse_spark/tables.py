"""The session's table catalog.

The harness corpus (TESTDATA.md / FIXTURES.md §A) is ten parquet
tables per scale factor. This module is the single place that knows
how to load them and expose them as temp views, mirroring the
reference's fixed-table catalog (create_tables.py drives DDL for 7
named tables; here the "DDL" is the parquet footer schema, read once
per session and table version).

It is also the one parquet read path of the engine: `read_parquet`
reads any list of parquet files or directories (a fixture table, a
snapshot table's data files, a compacted dataset, a view's state).
The session keeps one catalog entry per path list: the
`source_fingerprint` of the files, the `HadoopFsRelation` Spark
resolved them to (file listing and schema) and the schema. The
reference resolves its tables once through Redshift's catalog and its
INSERT ... SELECTs only name them; here the first read of a file
version resolves them, inferring the schema in a Spark job, and every
later read is one JVM call that puts a new DataFrame over the kept
relation: no DataFrameReader, no listing, no job. A file rewritten at
the same path has a new fingerprint and is resolved again.

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
import weakref
from collections.abc import Callable, Iterable, Sequence

from py4j.java_gateway import JavaObject
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

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


def source_fingerprint(spark: SparkSession, paths: Sequence[str]) -> str:
    """Name, modification time and length of each file of each path (a
    parquet file or a directory of them), listed through the Hadoop
    FileSystem that Spark reads it with, so a local path, a file: URI
    and an object-store URI all work: a file rewritten at the same path
    gets a new fingerprint, so every copy or schema keyed by it is
    rebuilt instead of served stale. A missing path fingerprints as
    empty, and the read that follows reports it (PATH_NOT_FOUND)."""
    conf = spark._jsc.hadoopConfiguration()
    hadoop_path = getattr(spark._jvm, "org.apache.hadoop.fs.Path")
    parts = []
    for p in paths:
        path = hadoop_path(p)
        fs = path.getFileSystem(conf)
        parts.append(
            "".join(
                f":{st.getPath().getName()}={st.getModificationTime()}/{st.getLen()}"
                for st in fs.listStatus(path)
            )
            if fs.exists(path)
            else ""
        )
    return "|".join(parts)


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
    content = _digest(
        *(source_fingerprint(spark, [table_path(sf_dir, t)]) for t in sources)
    )
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


# session -> parquet paths -> (source_fingerprint, resolved relation,
# file schema)
_RELATIONS: weakref.WeakKeyDictionary[
    SparkSession, dict[tuple[str, ...], tuple[str, JavaObject, StructType]]
] = weakref.WeakKeyDictionary()


def _resolved(
    spark: SparkSession, paths: Sequence[str]
) -> tuple[str, JavaObject, StructType]:
    """The catalog entry of ``paths`` in this session: their
    `source_fingerprint`, the `HadoopFsRelation` that
    `spark.read.parquet(*paths)` resolves (file listing and inferred
    schema) and that schema. The first call per session, path list and
    fingerprint resolves them, inferring the schema from a parquet
    footer in a Spark job; later calls return the entry and run none. A
    file rewritten at the same path has a new fingerprint and is
    resolved again. Entries never cross sessions: session config such
    as `spark.sql.legacy.parquet.nanosAsLong` changes the inferred
    types."""
    key = tuple(paths)
    fp = source_fingerprint(spark, key)
    entries = _RELATIONS.setdefault(spark, {})
    entry = entries.get(key)
    if entry is None or entry[0] != fp:
        df = spark.read.parquet(*key)
        relation = df._jdf.queryExecution().analyzed().relation()
        entry = entries[key] = (fp, relation, df.schema)
    return entry


def file_schema(spark: SparkSession, paths: Sequence[str]) -> StructType:
    """The schema this session reads the parquet files at ``paths``
    with: the one `spark.read.parquet(*paths)` infers (the fixture's
    `events.ts` before it is normalized), kept in the same catalog
    entry as the resolved relation."""
    return _resolved(spark, paths)[2]


def read_parquet(spark: SparkSession, paths: Sequence[str]) -> DataFrame:
    """The one parquet read: the files or directories at ``paths`` as a
    DataFrame over their resolved relation, so only the first read of a
    file version lists files or runs a Spark job. Every call gets fresh
    attribute ids, so two reads of one path self-join like two
    `spark.read.parquet` calls."""
    relation = _resolved(spark, paths)[1]
    return DataFrame(spark._jsparkSession.baseRelationToDataFrame(relation), spark)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table. Its schema is the parquet footer's — the
    analog of the reference's CREATE TABLE DDL (its
    sql_queries.py:19-97) — resolved once per session and table
    version by `read_parquet`, so only the first load of a table infers
    it in a Spark job and later loads reuse the resolved relation."""
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown fixture table {name!r}; have {TABLE_NAMES}")
    df = read_parquet(spark, [table_path(sf_dir, name)])
    if name == "events":
        # Fixture generations differ in how events.ts is encoded:
        # TIMESTAMP(NANOS) (read as long: the session sets
        # spark.sql.legacy.parquet.nanosAsLong, see session.get_spark)
        # or plain TIMESTAMP(MICROS). Normalize both to TimestampType
        # so every downstream query and oracle sees one semantic.
        return df.withColumn("ts", normalize_event_ts(df))
    return df


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
    named tables load; a table's first load in a session infers its
    schema in a Spark job, later loads run none (`read_parquet`)."""
    dfs = {name: load_table(spark, sf_dir, name) for name in names}
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
