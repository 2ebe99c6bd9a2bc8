"""Regression tests for the dtype-strict oracle compare (VERDICT r8 #2).

Round 8 shipped three driver hash failures behind a locally-green
"0/343" banner because the local harness float-normalized int-vs-float
drift the real driver rejects: DuckDB returns an un-cast ``SUM()`` over
integers as HUGEINT, pandas materializes it float64 (``123.0``), Spark
returns int64 (``123``), and the driver's value-hash is dtype-sensitive.
These tests plant exactly that oracle shape and assert the strict
compare in ``tools/validate.py`` now FAILS it, while the cast spelling
and the genuine nullable-int-as-float artifact still pass. The last
test pins how ``tools/validate.py`` resolves a generated input.
"""

from __future__ import annotations

import os
import tempfile

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from tools.validate import compare, resolve_input


def _duck(sql: str) -> pd.DataFrame:
    with duckdb.connect() as con:
        return con.sql(sql).df()


def test_uncast_sum_oracle_fails_strict_compare():
    # DuckDB SUM over integers → HUGEINT → pandas float64
    oracle = _duck("SELECT SUM(x) AS s FROM (VALUES (100), (23)) t(x)")
    assert oracle["s"].dtype == np.float64, "precondition: HUGEINT→float64"
    spark_side = pd.DataFrame({"s": np.array([123], dtype=np.int64)})
    problems = compare("planted_uncast_sum", spark_side, oracle)
    assert problems, "un-cast SUM oracle must fail the strict compare"
    assert "dtype-class mismatch" in problems[0]


def test_cast_bigint_sum_oracle_passes():
    oracle = _duck(
        "SELECT CAST(SUM(x) AS BIGINT) AS s FROM (VALUES (100), (23)) t(x)"
    )
    assert oracle["s"].dtype == np.int64
    spark_side = pd.DataFrame({"s": np.array([123], dtype=np.int64)})
    assert compare("planted_cast_sum", spark_side, oracle) == []


def test_nullable_int_as_float_artifact_still_passes():
    # A nullable int column materializes float64 under the driver's
    # pandas path on BOTH sides; the strict check only fires on fully
    # non-null columns, so this stays a pass.
    oracle = _duck(
        "SELECT CAST(s AS BIGINT) AS s FROM (VALUES (123), (NULL)) t(s)"
    )
    spark_side = pd.DataFrame({"s": [123.0, np.nan]})
    assert compare("planted_nullable", spark_side, oracle) == []


def test_both_float_still_normalized():
    oracle = _duck("SELECT AVG(x) AS a FROM (VALUES (1), (2)) t(x)")
    spark_side = pd.DataFrame({"a": [1.5 + 1e-12]})
    assert compare("planted_float", spark_side, oracle) == []


def test_gen_input_is_generated_once(tmp_path, monkeypatch):
    """``gen:<sf>:<seed>`` resolves to perfbench's seeded tables at the
    fixtures' counts; a second resolve reuses the dir untouched."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    d = resolve_input("gen:0.01:1")
    rows = {
        t: pq.ParquetFile(os.path.join(d, f"{t}.parquet")).metadata.num_rows
        for t in ("documents", "embeddings", "lineitem")
    }
    assert rows == {"documents": 500, "embeddings": 500, "lineitem": 60_000}
    mtimes = {f: os.stat(os.path.join(d, f)).st_mtime_ns for f in os.listdir(d)}
    assert resolve_input("gen:0.01:1") == d
    assert {f: os.stat(os.path.join(d, f)).st_mtime_ns for f in os.listdir(d)} == mtimes
    assert os.listdir(tmp_path) == [os.path.basename(d)]
