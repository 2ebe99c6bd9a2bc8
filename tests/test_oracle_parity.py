"""Local mirror of the driver's t2 gate: every registered query with an
oracle is run on Spark and on DuckDB over the same parquet, and
compared row-count + schema-names + values (rows sorted, columns
sorted by name) — the same shape as the driver's order-insensitive
value-hash, but with readable diffs. The comparison is
``tools.validate.compare``, dtype-strict like the driver's hash (an
int-vs-float class mismatch on a non-null column fails)."""

from __future__ import annotations

import pytest

from sparkifydb_datawarehouse_spark import registry
from tools.validate import compare, duck_connection

from conftest import SF_SMOKE

registry.load_all_modules()

ORACLE_QUERY_IDS = sorted(registry.ORACLE)


@pytest.mark.parametrize("query_id", ORACLE_QUERY_IDS)
def test_oracle_parity(spark, query_id):
    sf_dir = SF_SMOKE
    spark_df = registry.QUERIES[query_id](spark, sf_dir).toPandas()
    with duck_connection(sf_dir) as con:
        duck_df = con.sql(registry.ORACLE[query_id]).df()
    problems = compare(query_id, spark_df, duck_df)
    assert not problems, f"{query_id}: " + "; ".join(problems)
