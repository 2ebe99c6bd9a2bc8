"""driver_java_options: the repo's code-cache size is a default that a
caller's $SPARK_GRAFT_DRIVER_JAVA_OPTS can override, never the reverse."""

from __future__ import annotations

from sparkifydb_datawarehouse_spark.session import driver_java_options


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
