#!/usr/bin/env python3
"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 10 --trace 0

Run from the repository root. Generates the workload's inputs from the
seed (untimed), then starts worker.py in a fresh process with its own
TMPDIR, SPARK_LOCAL_DIRS and working directory under
perfbench/_work/, PYTHONPATH set to the repository, and the session on
local[<cores>] with a fixed driver memory. Waits for the worker, stops
every process it started, and prints two lines: a JSON summary (tail
percentile, sample count, fail ratio, wall times and stolen CPU shares,
settings, failures), then the
result: {"correct", "attempted", "failed", "metrics"} with every
end-to-end metric of BENCHMARK.json (--trace 0) or every per-layer
metric (--trace 1). Exits non-zero, printing no result, when the
repository or the worker's result is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "sparkifydb_datawarehouse_spark"
DRIVER_MEMORY = "2g"  # the session default (24g) exceeds a 15 GB host
DEADLINE_S = 160  # the worker's deadline, from the start of the run

sys.path.insert(0, HERE)

from collectors import mark  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def prepare_inputs(spec: dict, seed: int, run_dir: str) -> dict:
    """Generate the workload's inputs and describe them for the worker."""
    inputs_dir = os.path.join(run_dir, "inputs")
    if spec["kind"] == "etl":
        import check
        import gen_sparkify

        log_dir, song_dir, nbytes = gen_sparkify.write(
            inputs_dir, spec["events"], seed, spec["files"]
        )
        return {
            "log_dir": log_dir,
            "song_dir": song_dir,
            "events": spec["events"],
            "input_bytes": nbytes,
            "expected_counts": check.star_row_counts(log_dir, song_dir),
            "warehouse": os.path.join(run_dir, "cwd", "warehouse"),
        }
    import gen_tables

    stats = gen_tables.write(inputs_dir, spec["sf"], seed, spec["docs"], spec["embeddings"])
    return {
        "sf_dir": inputs_dir,
        "input_rows": stats["rows"],
        "stored_per_raw_byte": stats["parquet_bytes"] / stats["raw_bytes"],
    }


def stop_group(proc: subprocess.Popen) -> None:
    """Terminate, then kill, the worker's process group, and wait until
    none of its processes is left."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + 5
        while time.monotonic() < deadline:
            proc.poll()  # reap the worker itself
            try:
                os.killpg(proc.pid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.05)


def main() -> int:
    ap = argparse.ArgumentParser(description="Sparkify engine benchmark (one run)")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.monotonic()

    bench_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)) or not os.path.isfile(bench_file):
        print(f"error: {PACKAGE}/ and BENCHMARK.json must sit beside perfbench/", file=sys.stderr)
        return 2
    with open(bench_file) as f:
        bench = json.load(f)
    wanted = bench["per_layer" if args.trace else "end_to_end"]

    spec = WORKLOADS[args.workload]
    run_dir = os.path.join(HERE, "_work", f"{args.workload}-seed{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "spark-local", "cwd"):
        os.makedirs(os.path.join(run_dir, sub))
    inputs = prepare_inputs(spec, args.seed, run_dir)
    with open(os.path.join(run_dir, "inputs.json"), "w") as f:
        json.dump(inputs, f)

    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(run_dir, "tmp")
    env = dict(
        os.environ,
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        PYTHONPATH=ROOT,
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEMORY,
        # a fixed-size heap (Xms = Xmx), resident from the start, so that
        # peak RSS follows neither the collector's heap resizing nor which
        # heap pages it happened to touch; JVM temp files and perf data
        # stay inside the run directory
        SPARK_GRAFT_DRIVER_JAVA_OPTS=(
            f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch -XX:-UsePerfData"
            f" -Djava.io.tmpdir={tmp}"
        ),
        SPARK_LAUNCHER_OPTS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    )
    out = os.path.join(run_dir, "result.json")
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--cores", str(cores), "--inputs", os.path.join(run_dir, "inputs.json"),
        "--spans", os.path.join(run_dir, "spans.jsonl"), "--out", out,
    ]
    log_path = os.path.join(run_dir, "worker.log")
    with open(log_path, "w") as log:
        spawned = mark()
        proc = subprocess.Popen(
            cmd + ["--spawned", json.dumps(spawned)],
            cwd=os.path.join(run_dir, "cwd"), env=env,
            stdin=subprocess.DEVNULL, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            rc = proc.wait(timeout=max(1.0, DEADLINE_S - (spawned[0] - started)))
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            stop_group(proc)
            proc.wait()
    for sub in ("inputs", "tmp", "spark-local", "cwd"):
        shutil.rmtree(os.path.join(run_dir, sub), ignore_errors=True)

    if rc != 0 or not os.path.exists(out):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        print(f"error: worker exited with {rc}; log in {log_path}", file=sys.stderr)
        return 1
    with open(out) as f:
        result = json.load(f)

    measured = result["layers"] if args.trace else result["metrics"]
    metrics = {m["name"]: {"value": measured[m["name"]], "unit": m["unit"]} for m in wanted}
    print(json.dumps({
        "workload": args.workload,
        "seed": args.seed,
        "query_tail_percentile": result["tail_percentile"],
        "query_samples": result["samples"],
        "passes": result["passes"],
        **{k: result[k] for k in (
            "setup_wall_s", "setup_steal_share", "warmup_pass_wall_s", "cold_op_wall_s",
            "timed_pass_s", "timed_pass_wall_s", "timed_pass_steal_share",
        )},
        "fail_ratio": result["failed"] / max(1, result["attempted"]),
        "settings": {"master": f"local[{cores}]", "driver_memory": DRIVER_MEMORY, **spec},
        "failures": result["failures"],
        "run_dir": os.path.relpath(run_dir, ROOT),
    }))
    print(json.dumps({
        "correct": result["correct"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
