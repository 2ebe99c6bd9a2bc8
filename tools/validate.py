#!/usr/bin/env python
"""Full value-level validation of every oracle-checked query — the
strict local mirror of the driver's t2 gate (row count + column names
+ exact values after row/column sort), runnable at any scale factor:

    python tools/validate.py [sf_dir]      # default /root/testdata/sf0.01

Exit code 0 iff everything matches. Differences print per query with
the first mismatching values.
"""

from __future__ import annotations

import datetime
import os
import sys

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sparkifydb_datawarehouse_spark import registry
from sparkifydb_datawarehouse_spark.session import get_spark
from sparkifydb_datawarehouse_spark.tables import TABLE_NAMES, table_path


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB with every fixture table of sf_dir as a view: the oracle side."""
    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{table_path(sf_dir, name)}')"
        )
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            sample = df[c].dropna()
            if len(sample) and isinstance(sample.iloc[0], (datetime.date, datetime.datetime)):
                df[c] = pd.to_datetime(df[c])
        if isinstance(df[c].dtype, pd.DatetimeTZDtype):
            df[c] = df[c].dt.tz_convert("UTC").dt.tz_localize(None)
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[ns]").astype("int64")
    return df.sort_values(by=list(df.columns), ignore_index=True)


def compare(qid: str, s: pd.DataFrame, d: pd.DataFrame) -> list[str]:
    problems = []
    if sorted(s.columns) != sorted(d.columns):
        return [f"columns {sorted(s.columns)} vs {sorted(d.columns)}"]
    if len(s) != len(d):
        return [f"rows {len(s)} vs {len(d)}"]
    s, d = normalize(s), normalize(d)
    for col in s.columns:
        sv, dv = s[col].to_numpy(), d[col].to_numpy()
        s_flt = np.issubdtype(sv.dtype, np.floating)
        d_flt = np.issubdtype(dv.dtype, np.floating)
        s_int = np.issubdtype(sv.dtype, np.integer)
        d_int = np.issubdtype(dv.dtype, np.integer)
        # The real driver's value-hash is dtype-sensitive (int64 123 vs
        # float64 123.0 mismatch — CORRECTNESS_r08's three decode rows).
        # A class mismatch on a fully non-null column is therefore a
        # FAIL here too; float normalization only applies when the
        # float-ness is a nullable-int artifact or both sides are float.
        if (s_int and d_flt) or (s_flt and d_int):
            if s[col].notna().all() and d[col].notna().all():
                problems.append(
                    f"{col}: dtype-class mismatch on non-null column: "
                    f"spark {sv.dtype} vs oracle {dv.dtype} "
                    f"(driver hash is dtype-sensitive - CAST the oracle)"
                )
                continue
            sv, dv = sv.astype(float), dv.astype(float)
            ok = np.isclose(sv, dv, rtol=1e-9, atol=1e-9) | (np.isnan(sv) & np.isnan(dv))
        elif s_flt and d_flt:
            sv, dv = sv.astype(float), dv.astype(float)
            ok = np.isclose(sv, dv, rtol=1e-9, atol=1e-9) | (np.isnan(sv) & np.isnan(dv))
        elif s_flt or d_flt:
            # float vs non-numeric (object decimals etc.): coerce both,
            # still value-close but flag nothing — classes matched above
            sv, dv = sv.astype(float), dv.astype(float)
            ok = np.isclose(sv, dv, rtol=1e-9, atol=1e-9) | (np.isnan(sv) & np.isnan(dv))
        else:
            ok = ~((sv != dv) & ~(pd.isna(s[col]).to_numpy() & pd.isna(d[col]).to_numpy()))
        if not ok.all():
            i = int(np.argmin(ok))
            problems.append(f"{col}: row {i}: {sv[i]!r} vs {dv[i]!r}")
    return problems


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    registry.load_all_modules()
    spark = get_spark("validate")
    spark.sparkContext.setLogLevel("ERROR")
    con = duck_connection(sf_dir)
    failures = 0
    for qid in sorted(registry.QUERIES):
        try:
            s = registry.QUERIES[qid](spark, sf_dir).toPandas()
        except Exception as exc:  # noqa: BLE001
            print(f"ERROR  {qid}: spark side: {exc}")
            failures += 1
            continue
        if qid not in registry.ORACLE:
            print(f"ROWS   {qid}: {len(s)} rows (no oracle)")
            continue
        try:
            d = con.sql(registry.ORACLE[qid]).df()
        except Exception as exc:  # noqa: BLE001
            print(f"ERROR  {qid}: oracle side: {exc}")
            failures += 1
            continue
        problems = compare(qid, s, d)
        if problems:
            failures += 1
            print(f"FAIL   {qid}: " + "; ".join(problems[:3]))
        else:
            print(f"OK     {qid}: {len(s)} rows")
    print(f"\n{'PASS' if failures == 0 else 'FAIL'}: {failures} failures, sf={sf_dir}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
