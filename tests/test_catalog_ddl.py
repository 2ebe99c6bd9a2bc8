"""A3/A4 parity — table lifecycle: the reference's create_tables.py
drops all 7 tables then creates them (IF EXISTS / IF NOT EXISTS,
/root/reference/create_tables.py:12-44 over sql_queries.py:9-97).
Spark analog: catalog tables over parquet, same idempotence contract.
"""

from __future__ import annotations

import shutil

from sparkifydb_datawarehouse_spark.tables import TABLE_NAMES, load_table

STAR_TABLES = ("songplays", "users", "songs", "artists", "time")


def _cleanup(spark):
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in STAR_TABLES:
        spark.sql(f"DROP TABLE IF EXISTS ddl_{t}")
        shutil.rmtree(f"{wh}/ddl_{t}", ignore_errors=True)


def test_drop_then_create_lifecycle(spark, sf_dir, tmp_path):
    from sparkifydb_datawarehouse_spark.pipelines import sparkify

    _cleanup(spark)
    # DROP TABLE IF EXISTS on absent tables: no error (reference :9-15)
    for t in STAR_TABLES:
        spark.sql(f"DROP TABLE IF EXISTS ddl_{t}")

    # create: materialize the replica star schema as catalog tables
    frames = {
        "songplays": sparkify.songplays(spark),
        "users": sparkify.users(spark),
        "songs": sparkify.songs_dim(spark),
        "artists": sparkify.artists_dim(spark),
        "time": sparkify.time_dim(spark),
    }
    for name, df in frames.items():
        df.write.mode("overwrite").saveAsTable(f"ddl_{name}")

    tables = {t.name for t in spark.catalog.listTables()}
    assert {f"ddl_{t}" for t in STAR_TABLES} <= tables

    # CREATE TABLE IF NOT EXISTS semantics: a second 'ignore' write is a no-op
    before = spark.table("ddl_users").count()
    frames["users"].limit(1).write.mode("ignore").saveAsTable("ddl_users")
    assert spark.table("ddl_users").count() == before

    # queryable via SQL like any warehouse table
    n = spark.sql("SELECT COUNT(*) AS n FROM ddl_songplays").collect()[0]["n"]
    assert n > 0

    # drop: catalog entries gone (reference drops before every run)
    for t in STAR_TABLES:
        spark.sql(f"DROP TABLE IF EXISTS ddl_{t}")
    tables_after = {t.name for t in spark.catalog.listTables()}
    assert not ({f"ddl_{t}" for t in STAR_TABLES} & tables_after)


def test_fixture_views_registration(spark, sf_dir):
    from sparkifydb_datawarehouse_spark.tables import register_views

    dfs = register_views(spark, sf_dir, *TABLE_NAMES)
    assert set(dfs) == set(TABLE_NAMES)
    got = spark.sql("SELECT COUNT(*) AS n FROM lineitem").collect()[0]["n"]
    assert got == load_table(spark, sf_dir, "lineitem").count()
