"""Session options: the repo's code-cache size is a default that a
caller's $SPARK_GRAFT_DRIVER_JAVA_OPTS can override, never the
reverse; the default driver memory fits the host and
$SPARK_GRAFT_DRIVER_MEM overrides it; Python UDF workers import the
package from any working directory; and the session is configured
once, so loading a table never mutates session config."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

from pyspark.sql.conf import RuntimeConfig

from sparkifydb_datawarehouse_spark.session import driver_java_options, driver_memory
from sparkifydb_datawarehouse_spark.tables import TABLE_NAMES, load_table

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
