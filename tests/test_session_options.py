"""Session options: the repo's code-cache size is a default that a
caller's $SPARK_GRAFT_DRIVER_JAVA_OPTS can override, never the
reverse; the default driver memory fits the host and
$SPARK_GRAFT_DRIVER_MEM overrides it; Python UDF workers import the
package from any working directory and re-read a zip archive only
when it changed; PySpark captures no call site per Column call; the
session resolves each JVM class and static method once; and the
session is configured once, so loading a table never mutates session
config."""

from __future__ import annotations

import importlib.util
import os
import subprocess
import sys
import warnings
import zipfile
import zipimport

import pytest

from pyspark.sql.conf import RuntimeConfig

from sparkifydb_datawarehouse_spark import pydaemon, session
from sparkifydb_datawarehouse_spark.session import driver_java_options, driver_memory
from sparkifydb_datawarehouse_spark.tables import TABLE_NAMES, load_table
from tools.validate import roundtrips_of

from conftest import REPO_ROOT, SF_SMOKE


def test_code_cache_default_appended_to_caller_options():
    assert driver_java_options("") == "-XX:ReservedCodeCacheSize=512m"
    assert (
        driver_java_options("-Xms2g -XX:+AlwaysPreTouch")
        == "-Xms2g -XX:+AlwaysPreTouch -XX:ReservedCodeCacheSize=512m"
    )


def test_caller_code_cache_size_wins():
    opts = "-Xms2g -XX:ReservedCodeCacheSize=256m -Dfoo=bar"
    assert driver_java_options(opts) == opts
    assert driver_java_options(opts).count("ReservedCodeCacheSize") == 1


@pytest.mark.parametrize(
    "phys_gib, want", [(15, "7g"), (4, "2g"), (1, "1g"), (64, "24g"), (256, "24g")]
)
def test_default_driver_memory_is_half_the_host(monkeypatch, phys_gib, want):
    pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": phys_gib * 2**30 // 4096}
    monkeypatch.setattr(os, "sysconf", pages.__getitem__)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    assert driver_memory() == want
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "2g")
    assert driver_memory() == "2g"


def test_loading_tables_sets_no_session_config(spark, sf_dir, monkeypatch):
    assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
    calls = []
    monkeypatch.setattr(RuntimeConfig, "set", lambda self, *args: calls.append(args))
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).schema
    assert calls == []


def test_udf_workers_import_the_package_from_any_cwd(tmp_path):
    """A driver that puts the repo on sys.path and runs elsewhere, with
    no PYTHONPATH, still runs a Python data source query: the session
    hands the package's location to its Python workers."""
    script = (
        f"import sys; sys.path.insert(0, {str(REPO_ROOT)!r})\n"
        "from sparkifydb_datawarehouse_spark import registry\n"
        "from sparkifydb_datawarehouse_spark.session import get_spark\n"
        "registry.load_all_modules()\n"
        f"df = registry.QUERIES['q_scan_pysource'](get_spark('cwd'), {SF_SMOKE!r})\n"
        "print('rows', len(df.collect()))\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "rows " in out.stdout


def _write_zip(path, members):
    with zipfile.ZipFile(path, "w") as z:
        for name in members:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


def test_unchanged_zip_is_not_read_again(tmp_path, monkeypatch):
    """pydaemon.invalidate_caches re-reads an archive's directory only
    when its (mtime, size) changed, and then finds the new member."""
    archive = tmp_path / "mods.zip"
    _write_zip(archive, ["zmod_a"])
    importer = zipimport.zipimporter(str(archive))
    reads = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(
        zipimport,
        "_read_directory",
        lambda path: reads.append(path) or read_directory(path),
    )
    monkeypatch.setattr(pydaemon, "_reads", {})
    pydaemon.invalidate_caches(importer)
    n_first = len(reads)
    pydaemon.invalidate_caches(importer)
    assert len(reads) == n_first
    assert importer.find_spec("zmod_b") is None

    _write_zip(archive, ["zmod_a", "zmod_b"])
    pydaemon.invalidate_caches(importer)
    assert len(reads) == n_first + 1
    spec = importer.find_spec("zmod_b")
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    assert module.NAME == "zmod_b"


def test_lazy_zip_python_keeps_the_stdlib_method(monkeypatch):
    """Where CPython reads zip directories lazily (3.13+), the daemon
    changes nothing."""
    monkeypatch.setattr(pydaemon, "_LAZY_ZIP_CACHE", True)
    stdlib = zipimport.zipimporter.invalidate_caches
    assert pydaemon.install() is False
    assert zipimport.zipimporter.invalidate_caches is stdlib


def test_udf_workers_do_not_reread_unchanged_zips(spark):
    """The session's Python workers fork from pydaemon: after a task's
    own cache invalidation, another invalidation reads no zip directory
    (pyspark.zip had about 16 importers, each re-read per task)."""
    module = "sparkifydb_datawarehouse_spark.pydaemon"
    assert spark.sparkContext.getConf().get("spark.python.daemon.module") == module

    def count_reads(batches):
        import importlib
        import zipimport

        import pandas as pd

        reads = []
        read_directory = zipimport._read_directory
        zipimport._read_directory = lambda p: reads.append(p) or read_directory(p)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        for _ in batches:
            pass
        yield pd.DataFrame({"reads": [len(reads)]})

    df = spark.range(0, 400, numPartitions=4)
    for _ in range(2):
        rows = df.mapInPandas(count_reads, "reads long").collect()
        assert [r.reads for r in rows] == [0, 0, 0, 0]


def test_no_call_site_capture_and_errors_keep_their_class(spark):
    """dataFrameDebugging is off for the session, and a missing column
    and an ANSI division by zero still raise with their error class."""
    from pyspark.errors import AnalysisException, ArithmeticException
    from pyspark.errors.utils import is_debugging_enabled
    from pyspark.sql import functions as F

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert is_debugging_enabled() is False
    with pytest.raises(AnalysisException) as missing:
        spark.range(1).select(F.col("no_such_column")).collect()
    assert missing.value.getCondition() == "UNRESOLVED_COLUMN.WITH_SUGGESTION"
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    with pytest.raises(ArithmeticException) as div:
        spark.range(1).select(F.expr("(id + 1) div 0")).collect()
    assert div.value.getCondition() == "DIVIDE_BY_ZERO"


def test_jvm_view_keeps_classes_and_static_methods(spark):
    """The session's JVM view resolves each class once, and each class
    each of its static methods and nested classes once; a static field
    and a package are looked up on every access."""
    jvm = spark.sparkContext._jvm

    def touch():
        abstract_map = getattr(jvm, "java.util.AbstractMap")
        assert abstract_map.SimpleEntry("k", 1).getKey() == "k"
        assert getattr(jvm, "java.lang.Integer").valueOf("7") == 7
        assert getattr(jvm, "java.lang.Integer").MAX_VALUE == 2**31 - 1
        jvm.java.lang

    roundtrips_of(spark, touch)
    _, trips = roundtrips_of(spark, touch)
    # MAX_VALUE (a field) and java, java.lang (packages)
    assert trips["reflection"] == 3
    # SimpleEntry(...), getKey(), valueOf(...)
    assert trips["constructor"] + trips["call"] == 3


def test_attaching_warns_about_every_static_setting(monkeypatch):
    """get_spark attached to a session created elsewhere names each
    static setting that did not apply."""

    class Attached:
        """Builder, session, conf and SparkContext at once, of a session
        created elsewhere without any of the settings."""

        def __getattr__(self, name):
            return lambda *args: self

        def get(self, key, default=None):
            return default

        conf = property(lambda self: self)
        sparkContext = property(lambda self: self)

    class FakeSession:
        builder = Attached()

    monkeypatch.setattr(session, "SparkSession", FakeSession)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        session.get_spark("attached")
    [warning] = caught
    wanted = {**session.STATIC_SQL_SETTINGS, **session.CONTEXT_SETTINGS}
    assert len(wanted) == 3
    for key, value in wanted.items():
        assert f"{key}=<unset> (wanted {value})" in str(warning.message)
