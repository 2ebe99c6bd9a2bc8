"""Untimed output checks: registry queries against their DuckDB oracle
SQL, and the Sparkify star-table row counts against DuckDB over the
same generated JSON.

The comparison is dtype-strict in the way the repository's validator
is: same column names, same row count, then values after sorting rows
and columns; an integer column against a float column that has no
nulls is a mismatch, floats compare to 1e-9.
"""

from __future__ import annotations

import datetime
import os

import duckdb
import numpy as np
import pandas as pd

from gen_tables import TABLES


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            sample = df[c].dropna()
            if len(sample) and isinstance(
                sample.iloc[0], (datetime.date, datetime.datetime)
            ):
                df[c] = pd.to_datetime(df[c])
        if isinstance(df[c].dtype, pd.DatetimeTZDtype):
            df[c] = df[c].dt.tz_convert("UTC").dt.tz_localize(None)
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[ns]").astype("int64")
        elif df[c].dtype == object:
            df[c] = df[c].map(lambda v: v if v is None or np.isscalar(v) else repr(v))
    return df.sort_values(by=list(df.columns), ignore_index=True)


def compare(spark_df: pd.DataFrame, oracle_df: pd.DataFrame) -> str | None:
    """None when the two results agree, else the first difference."""
    if sorted(spark_df.columns) != sorted(oracle_df.columns):
        return f"columns {sorted(spark_df.columns)} vs {sorted(oracle_df.columns)}"
    if len(spark_df) != len(oracle_df):
        return f"rows {len(spark_df)} vs {len(oracle_df)}"
    s, d = _normalize(spark_df), _normalize(oracle_df)
    for col in s.columns:
        sv, dv = s[col].to_numpy(), d[col].to_numpy()
        s_int, d_int = np.issubdtype(sv.dtype, np.integer), np.issubdtype(dv.dtype, np.integer)
        s_flt, d_flt = np.issubdtype(sv.dtype, np.floating), np.issubdtype(dv.dtype, np.floating)
        if (s_int and d_flt) or (s_flt and d_int):
            if s[col].notna().all() and d[col].notna().all():
                return f"{col}: dtype class {sv.dtype} vs {dv.dtype}"
        if s_flt or d_flt:
            sv, dv = sv.astype(float), dv.astype(float)
            ok = np.isclose(sv, dv, rtol=1e-9, atol=1e-9) | (np.isnan(sv) & np.isnan(dv))
        else:
            both_null = pd.isna(s[col]).to_numpy() & pd.isna(d[col]).to_numpy()
            ok = (sv == dv) | both_null
        if not np.all(ok):
            i = int(np.argmin(ok))
            return f"{col}: row {i} spark {sv[i]!r} vs oracle {dv[i]!r}"
    return None


def oracle_frames(sf_dir: str, oracles: dict[str, str]) -> dict[str, pd.DataFrame]:
    """Run each oracle SQL in DuckDB over the generated tables."""
    con = duckdb.connect()
    try:
        for t in TABLES:
            path = os.path.join(sf_dir, f"{t}.parquet")
            if os.path.exists(path):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        return {name: con.execute(sql).fetchdf() for name, sql in oracles.items()}
    finally:
        con.close()


def star_row_counts(log_dir: str, song_dir: str) -> dict[str, int]:
    """Expected star-table row counts of the Sparkify pipeline, computed
    by DuckDB with the reference's five INSERT…SELECT statements."""
    events = f"read_json('{log_dir}/*.json', format='newline_delimited', columns={{'artist': 'VARCHAR', 'firstName': 'VARCHAR', 'gender': 'VARCHAR', 'lastName': 'VARCHAR', 'length': 'DOUBLE', 'level': 'VARCHAR', 'page': 'VARCHAR', 'song': 'VARCHAR', 'ts': 'BIGINT', 'userId': 'VARCHAR'}})"
    songs = f"read_json('{song_dir}/*.json', format='newline_delimited', columns={{'artist_id': 'VARCHAR', 'artist_name': 'VARCHAR', 'song_id': 'VARCHAR', 'title': 'VARCHAR', 'duration': 'DOUBLE'}})"
    sql = {
        "songplays": f"SELECT COUNT(*) FROM {events} e JOIN {songs} s ON e.song = s.title AND e.artist = s.artist_name AND e.length = s.duration WHERE e.page = 'NextSong'",
        "users": f"SELECT COUNT(*) FROM {events}",
        "songs": f"SELECT COUNT(*) FROM {songs}",
        "artists": f"SELECT COUNT(*) FROM {events} e JOIN {songs} s ON e.song = s.title AND e.artist = s.artist_name WHERE e.page = 'NextSong'",
        "time": f"SELECT COUNT(DISTINCT ts) FROM {events} WHERE page = 'NextSong'",
    }
    con = duckdb.connect()
    try:
        return {name: int(con.execute(q).fetchone()[0]) for name, q in sql.items()}
    finally:
        con.close()
