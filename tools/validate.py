#!/usr/bin/env python
"""The one diagnostic sweep: run registry queries over fixture or
seeded generated inputs, check each against its DuckDB ORACLE (the
strict local mirror of the driver's gate: row count + column names +
exact values after row/column sort) and report rows, wall seconds and
Spark jobs per query and input, the jobs split into those run while
building the query and those run while collecting it, and the py4j
round trips the build sent (with how many were reflection lookups).

    python tools/validate.py [INPUT ...] [-q QID ...]

An INPUT is a fixture dir (default: the sf0.01 fixture) or
``gen:<sf>:<seed>``: the tables ``perfbench/gen_tables.py`` writes for
that scale factor and seed, generated once into
``$TMPDIR/sparkifydb_gen_<sf>_<seed>`` and reused afterwards. ``-q``
limits the run to the named queries; without it the whole registry
runs.

The loop is query-major: each query gets one untimed warm-up run on
the first input, so no timed wall includes JVM or codegen warm-up,
then one timed run per input. With two or more inputs, a closing
table gives each query's wall and job growth between consecutive
inputs. Walls are single runs, so read them as diagnostics;
perfbench is the gated timing.

    python tools/validate.py gen:0.02:1 gen:0.2:1 -q q_window_rank
    python tools/validate.py gen:0.01:1 gen:0.01:2 -q q_dedup_simhash

Exit code 0 iff nothing failed. Differences print per query with the
first mismatching values.
"""

from __future__ import annotations

import argparse
import datetime
import os
import sys
import tempfile
import threading
import time
import uuid
from collections import Counter
from collections.abc import Callable
from typing import TypeVar

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sparkifydb_datawarehouse_spark import registry
from sparkifydb_datawarehouse_spark.session import get_spark
from sparkifydb_datawarehouse_spark.tables import (
    DEFAULT_SF_DIR,
    TABLE_NAMES,
    publish_dir,
    table_path,
)

T = TypeVar("T")

# the sf0.01 fixture, beside the default sf0.001 one
DEFAULT_INPUT = os.path.join(os.path.dirname(DEFAULT_SF_DIR), "sf0.01")


def resolve_input(spec: str) -> str:
    """The dir of an INPUT: a fixture dir as given, or for
    ``gen:<sf>:<seed>`` the generated tables, written on first use.
    The generator is byte-deterministic per seed, and reusing the dir
    keeps its mtimes, so side tables keyed on it stay valid."""
    if not spec.startswith("gen:"):
        return spec
    try:
        _, sf_s, seed_s = spec.split(":")
        sf, seed = float(sf_s), int(seed_s)
    except ValueError:
        raise ValueError(f"{spec!r}: a generated input is gen:<sf>:<seed>") from None
    d = os.path.join(tempfile.gettempdir(), f"sparkifydb_gen_{sf:g}_{seed}")
    if not os.path.isdir(d):
        from perfbench import gen_tables

        # the fixtures' (and perfbench's) document and embedding counts
        n_doc, n_emb = max(500, round(50_000 * sf)), max(500, round(20_000 * sf))
        publish_dir(d, lambda tmp: gen_tables.write(tmp, sf, seed, n_doc, n_emb))
    return d


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


def jobs_of(spark, fn: Callable[[], T], label: str = "jobs_of") -> tuple[T, int]:
    """``fn()`` and the number of Spark jobs it ran, counted under a job
    group of its own."""
    sc = spark.sparkContext
    group = f"{label}-{uuid.uuid4().hex}"
    sc.setJobGroup(group, label)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


# py4j command kinds by the command's first line (py4j.protocol)
_COMMAND_KINDS = {
    "c": "call",
    "i": "constructor",
    "f": "field",
    "r": "reflection",
    "l": "list",
    "a": "array",
    "m": "memory",
    "d": "dir",
    "h": "help",
    "j": "jvmview",
    "p": "exception",
    "S": "stream",
}


def roundtrips_of(spark, fn: Callable[[], T]) -> tuple[T, Counter[str]]:
    """``fn()`` and the py4j commands the calling thread sent while it
    ran, counted by kind ("call", "reflection", "constructor", ...).
    Every command is one round trip to the driver JVM; commands other
    threads send meanwhile are not counted."""
    client = spark.sparkContext._gateway._gateway_client
    caller = threading.get_ident()
    counts: Counter[str] = Counter()
    shadowed = client.__dict__.get("send_command")
    send = client.send_command

    def counting(command, *args, **kwargs):
        if threading.get_ident() == caller:
            counts[_COMMAND_KINDS.get(command[:1], command[:1])] += 1
        return send(command, *args, **kwargs)

    client.send_command = counting
    try:
        out = fn()
    finally:
        if shadowed is None:
            del client.send_command
        else:
            client.send_command = shadowed
    return out, counts


def run_once(spark, qid: str, sf_dir: str) -> tuple[pd.DataFrame, float, int, int, Counter[str]]:
    """Build and collect one query: its result, wall seconds, the Spark
    jobs it ran while being built and while being collected, and the
    py4j round trips its build sent, by kind."""
    t0 = time.perf_counter()
    (query, trips), build = jobs_of(
        spark,
        lambda: roundtrips_of(spark, lambda: registry.QUERIES[qid](spark, sf_dir)),
        f"build {qid} @ {sf_dir}",
    )
    df, execute = jobs_of(spark, query.toPandas, f"execute {qid} @ {sf_dir}")
    return df, time.perf_counter() - t0, build, execute, trips


def check(qid: str, s: pd.DataFrame, con: duckdb.DuckDBPyConnection) -> tuple[str, str]:
    """Verdict and detail of one Spark result against its ORACLE."""
    if qid not in registry.ORACLE:
        return "ROWS", "(no oracle)"
    try:
        d = con.sql(registry.ORACLE[qid]).df()
    except Exception as exc:  # noqa: BLE001
        return "ERROR", f"oracle side: {exc}"
    problems = compare(qid, s, d)
    return ("FAIL", "; ".join(problems[:3])) if problems else ("OK", "")


def growth(a: tuple[float, int] | None, b: tuple[float, int] | None) -> str:
    """Wall and job ratios of run b over run a; "-" where undefined."""
    if not (a and b):
        return "-"
    return ", ".join(f"{y / x:.1f}" if x else "-" for x, y in zip(a, b))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("inputs", nargs="*", metavar="INPUT", default=[DEFAULT_INPUT])
    ap.add_argument("-q", dest="queries", nargs="+", metavar="QID")
    args = ap.parse_args(argv)

    registry.load_all_modules()
    qids = args.queries or sorted(registry.QUERIES)
    if unknown := [q for q in qids if q not in registry.QUERIES]:
        ap.error(f"unknown queries: {unknown}")
    try:
        dirs = [resolve_input(spec) for spec in args.inputs]
    except ValueError as exc:
        ap.error(str(exc))
    if missing := [d for d in dirs if not os.path.isdir(d)]:
        ap.error(f"no such input dir: {missing}")
    multi = len(dirs) > 1
    spark = get_spark("validate")
    spark.sparkContext.setLogLevel("ERROR")
    cons = [duck_connection(d) for d in dirs]

    failures = 0
    measured: dict[str, list[tuple[float, int] | None]] = {}
    for qid in qids:
        try:
            registry.QUERIES[qid](spark, dirs[0]).toPandas()
        except Exception:  # noqa: BLE001 — the timed run reports it
            pass
        measured[qid] = []
        for spec, sf_dir, con in zip(args.inputs, dirs, cons):
            where = f" @{spec}" if multi else ""
            try:
                s, wall, build, execute, trips = run_once(spark, qid, sf_dir)
            except Exception as exc:  # noqa: BLE001
                print(f"ERROR  {qid}{where}: spark side: {exc}", flush=True)
                failures += 1
                measured[qid].append(None)
                continue
            jobs = build + execute
            measured[qid].append((wall, jobs))
            verdict, detail = check(qid, s, con)
            failures += verdict in ("FAIL", "ERROR")
            print(
                f"{verdict:<6} {qid}{where}: {len(s)} rows, {wall:.2f} s, "
                f"{jobs} jobs ({build} build + {execute} exec), "
                f"build {sum(trips.values())} py4j ({trips['reflection']} reflection)"
                + (f"; {detail}" if detail else ""),
                flush=True,
            )

    if multi:
        steps = [f"{b}/{a}" for a, b in zip(args.inputs, args.inputs[1:])]
        heads = [f"{x} s, jobs" for x in args.inputs] + [f"{x} wall, jobs" for x in steps]
        print("\n| query | " + " | ".join(heads) + " |")
        print("|---" * (1 + len(heads)) + "|")
        for qid, runs in measured.items():
            cells = [f"{r[0]:.2f}, {r[1]}" if r else "ERROR" for r in runs]
            cells += [growth(a, b) for a, b in zip(runs, runs[1:])]
            print(f"| {qid} | " + " | ".join(cells) + " |")
    print(
        f"\n{'PASS' if failures == 0 else 'FAIL'}: {failures} failures, "
        f"{len(qids)} queries, inputs={' '.join(args.inputs)}"
    )
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
