"""One benchmark run of one workload, in a fresh process.

Started by run.py with the inputs already generated. Times set-up
(session, registry import, warm-up), then runs one closed-loop client
for a fixed amount of work sized by `--seconds` (traced runs add as
many traced passes, interleaved), then checks the outputs untimed and
writes one JSON result file. Every reported time is an `elapsed`
between two `mark`s: wall time with the CPU time the hypervisor stole
taken out.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import statistics
import time
import traceback

from collectors import (
    SPARK_COUNTERS, ProcessTree, SparkCounters, Tracer, elapsed, jvm_memory_mb, mark,
    steal_share,
)
from workloads import WORKLOADS

STAR_TABLES = ("songplays", "users", "songs", "artists", "time")
ETL_STAGES = (
    ("copy_staging_events", "sources"),
    ("copy_staging_songs", "sources"),
    ("insert_songplays", "pipelines"),
    ("insert_users", "pipelines"),
    ("insert_songs", "pipelines"),
    ("insert_artists", "pipelines"),
    ("insert_time", "pipelines"),
)
TRACE_LAYERS = ("bench", "main", "sources", "pipelines", "operators", "llm", "spark")


def tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile that has at least
    ten samples above it, never below the median."""
    xs = sorted(samples)
    k = max(len(xs) - 11, len(xs) // 2)
    return xs[k], 100.0 * k / max(1, len(xs) - 1)


class Phase:
    """What one timed loop observed."""

    def __init__(self):
        self.latencies: list[float] = []
        self.build: dict[str, list[float]] = {}
        self.exec: dict[str, list[float]] = {}
        self.passes: list[float] = []  # each pool pass / pipeline run, steal taken out
        self.pass_walls: list[float] = []  # the same, as wall time
        self.steal: list[float] = []  # stolen share of each pass
        self.ratios: list[float] = []  # bytes stored per input byte, per pipeline run
        self.stages: dict[str, list[float]] = {}
        self.layer_cpu: dict[str, list[float]] = {}  # "<layer>.<role>" -> per-op CPU s
        self.counters = dict.fromkeys(SPARK_COUNTERS, 0.0)
        self.ops = 0
        self.attempted = 0
        self.failed = 0
        self.wall = 0.0
        self.cpu: dict[str, float] = {}
        self.roots: list[int] = []  # the traced pass spans
        self.last_counts: dict[str, int] = {}

    def add_counters(self, c: dict[str, float]) -> None:
        for k, v in c.items():
            self.counters[k] += v


class Run:
    """One workload in this process: set-up, timed loop, checks."""

    def __init__(self, args):
        self.args = args
        self.spec = WORKLOADS[args.workload]
        with open(args.inputs) as f:
            self.inputs = json.load(f)
        self.tracer = Tracer(bool(args.trace))
        self.tree = ProcessTree()
        self.failures: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.cold_op_s: dict[str, float] = {}

    # ------------------------------------------------------------ set-up
    def setup(self) -> None:
        tr = self.tracer
        with tr.span("setup", "bench"):
            t0 = mark()
            with tr.span("session.get_spark", "session"):
                from sparkifydb_datawarehouse_spark.session import get_spark

                self.spark = get_spark("perfbench")
                self.spark.sparkContext.setLogLevel("ERROR")
            t1 = mark()
            with tr.span("registry.load_all_modules", "registry"):
                from sparkifydb_datawarehouse_spark import registry

                registry.load_all_modules()
                self.registry = registry
            t2 = mark()
            with tr.span("warmup", "bench"):
                if self.spec["kind"] == "etl":
                    self.warmup_etl()
                else:
                    self.warmup_pool()
            t3 = mark()
        spawned = tuple(self.args.spawned)
        self.setup_s = elapsed(spawned, t3)
        self.setup_wall = (t3[0] - spawned[0], steal_share(spawned, t3))
        self.setup_parts = {
            "session.get_spark_s": elapsed(t0, t1),
            "registry.load_all_modules_s": elapsed(t1, t2),
            "warmup_s": elapsed(t2, t3),
        }

    def warmup_pool(self) -> None:
        # pass 0 collects every result for the output check; later
        # passes run exactly what the timed loop runs
        self.results = {}
        t = time.monotonic()
        for q in self.spec["pool"]:
            t_op = time.monotonic()
            try:
                self.results[q] = self.build(q).toPandas()
            except Exception:
                self.results[q] = traceback.format_exc(limit=3)
            self.cold_op_s[q] = time.monotonic() - t_op
        self.warmup_passes = [time.monotonic() - t]
        for _ in range(self.spec["warmup_passes"] - 1):
            t = time.monotonic()
            for q in self.spec["pool"]:
                try:
                    self.execute(self.build(q))
                except Exception:
                    pass  # reported by the check of pass 0 and the timed loop
            self.warmup_passes.append(time.monotonic() - t)

    def warmup_etl(self) -> None:
        from sparkifydb_datawarehouse_spark.__main__ import create
        from sparkifydb_datawarehouse_spark.pipelines.sparkify import run_pipeline

        self.create, self.run_pipeline = create, run_pipeline
        self.warmup_passes = []
        for _ in range(self.spec["warmup_passes"]):
            t = time.monotonic()
            try:
                self.create(self.inputs["warehouse"])
                self.run_pipeline(
                    self.spark, self.inputs["warehouse"],
                    log_dir=self.inputs["log_dir"], song_dir=self.inputs["song_dir"],
                )
            except Exception:
                pass  # the timed loop counts and reports failures
            self.warmup_passes.append(time.monotonic() - t)

    # ------------------------------------------------------------ ops
    def build(self, q: str):
        return self.registry.QUERIES[q](self.spark, self.inputs["sf_dir"])

    @staticmethod
    def execute(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    # ------------------------------------------------------------ timed loops
    def timed(self) -> list[Phase]:
        """The closed loop: a fixed amount of work per --seconds,
        independent of the host's pace (whole pipeline runs, or whole
        passes over the pool, each pass in a seeded order). A traced run
        does twice the passes, alternating untraced and traced ones so
        that both see the same warm-up drift; returns [untraced, traced]."""
        phases = [Phase() for _ in range(1 + self.args.trace)]
        counters = SparkCounters(self.spark) if self.args.trace else None
        off = Tracer(False)
        rng = random.Random(self.args.seed)
        passes = max(2, round(self.args.seconds / self.spec["seconds_per_pass"]))
        with self.tracer.span("workload", "bench"):
            for n in range(passes * len(phases)):
                ph = phases[n % len(phases)]
                traced = ph is not phases[0]
                tr, ctr = (self.tracer, counters) if traced else (off, None)
                cpu0 = self.tree.cpu_by_role() if traced else {}
                t0 = mark()
                with tr.span("pass", "bench") as sid:
                    if self.spec["kind"] == "etl":
                        self.etl_op(ph, tr, ctr, n)
                    else:
                        order = list(self.spec["pool"])
                        rng.shuffle(order)
                        for i, q in enumerate(order):
                            self.pool_op(ph, tr, ctr, q, f"{n}-{i}")
                t1 = mark()
                ph.passes.append(elapsed(t0, t1))
                ph.pass_walls.append(t1[0] - t0[0])
                ph.steal.append(steal_share(t0, t1))
                ph.wall += t1[0] - t0[0]
                if traced:
                    ph.roots.append(sid)
                    for role, v in self.tree.cpu_by_role().items():
                        ph.cpu[role] = ph.cpu.get(role, 0.0) + v - cpu0[role]
        for ph in phases:
            self.attempted += ph.attempted
            self.failed += ph.failed
        return phases

    def pool_op(self, ph: Phase, tr: Tracer, counters, q: str, tag: str) -> None:
        layer = "llm" if ".llm." in self.registry.QUERIES[q].__module__ else "operators"
        ph.attempted += 1
        with tr.span(q, "bench"):
            if counters:
                counters.begin(f"op-{tag}")
                cpu0 = self.tree.cpu_by_role()
            try:
                a = mark()
                with tr.span("build", layer):
                    df = self.build(q)
                b = mark()
                with tr.span("exec", "spark"):
                    self.execute(df)
                c = mark()
            except Exception:
                ph.failed += 1
                self.failures.append(f"{q}: {traceback.format_exc(limit=3)}")
                return
            finally:
                if counters:
                    ph.add_counters(counters.end(f"op-{tag}"))
                    cpu1 = self.tree.cpu_by_role()
                    for role in ("jvm", "pyworker"):
                        ph.layer_cpu.setdefault(f"{layer}.{role}", []).append(
                            cpu1[role] - cpu0[role]
                        )
        ph.ops += 1
        ph.latencies.append(elapsed(a, c))
        ph.build.setdefault(layer, []).append(elapsed(a, b))
        ph.exec.setdefault(layer, []).append(elapsed(b, c))

    def etl_op(self, ph: Phase, tr: Tracer, counters, tag: int) -> None:
        ph.attempted += len(ETL_STAGES)
        timings: dict[str, float] = {}
        with tr.span("pipeline_run", "bench"):
            if counters:
                counters.begin(f"etl-{tag}")
            try:
                a = mark()
                with tr.span("create", "main"):
                    self.create(self.inputs["warehouse"])
                b = mark()
                with tr.span("run_pipeline", "pipelines") as rp:
                    counts = self.run_pipeline(
                        self.spark, self.inputs["warehouse"], timings=timings,
                        log_dir=self.inputs["log_dir"], song_dir=self.inputs["song_dir"],
                    )
                c = mark()
            except Exception:
                ph.failed += len(ETL_STAGES)
                self.failures.append(f"pipeline: {traceback.format_exc(limit=3)}")
                return
            finally:
                if counters:
                    ph.add_counters(counters.end(f"etl-{tag}"))
            # the pipeline runs its stages back to back: lay their
            # spans end to end from the start of run_pipeline
            t = b[0]
            for name, layer in ETL_STAGES:
                tr.add(name, layer, t, t + timings[name], rp)
                t += timings[name]
        wrong = [t for t in STAR_TABLES if counts.get(t) != self.expected_counts[t]]
        if wrong:
            ph.failed += len(wrong)
            self.failures.append(f"row counts differ from DuckDB for {wrong}: {counts}")
        # run_pipeline times its stages itself; each keeps the share of
        # the whole run that was not stolen
        kept = 1.0 - steal_share(b, c)
        ph.ops += len(ETL_STAGES)
        ph.latencies.extend(timings[name] * kept for name, _ in ETL_STAGES)
        ph.stages.setdefault("create", []).append(elapsed(a, b))
        for name, _ in ETL_STAGES:
            ph.stages.setdefault(name, []).append(timings[name] * kept)
        stored = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(self.inputs["warehouse"])
            for f in fs
            if f.endswith(".parquet")
        )
        ph.ratios.append(stored / self.inputs["input_bytes"])
        ph.last_counts = counts

    # ------------------------------------------------------------ checks
    def check(self) -> None:
        import check

        if self.spec["kind"] == "etl":
            return  # every timed pipeline run was checked against expected_counts
        pool = self.spec["pool"]
        oracles = check.oracle_frames(
            self.inputs["sf_dir"], {q: self.registry.ORACLE[q] for q in pool}
        )
        for q in pool:
            self.attempted += 1
            got = self.results[q]
            problem = got if isinstance(got, str) else check.compare(got, oracles[q])
            if problem:
                self.failed += 1
                self.failures.append(f"{q} differs from its oracle: {problem}")

    # ------------------------------------------------------------ metrics
    def end_to_end(self, ph: Phase, peak_rss_mb: float) -> dict[str, float]:
        # an all-failed run still reports numbers; success_ratio shows why
        lat = ph.latencies or [0.0]
        pass_s = statistics.median(ph.passes) if ph.passes else math.inf
        if self.spec["kind"] == "etl":
            per_pass = len(ETL_STAGES)
            events_per_s = self.inputs["events"] / pass_s
            ratio = statistics.median(ph.ratios) if ph.ratios else 0.0
        else:
            per_pass = len(self.spec["pool"])
            events_per_s = self.inputs["input_rows"] / pass_s
            ratio = self.inputs["stored_per_raw_byte"]
        return {
            "setup_s": self.setup_s,
            "queries_per_s": per_pass / pass_s,
            "query_p50_s": statistics.median(lat),
            "query_tail_s": tail(lat)[0],
            "etl_events_per_s": events_per_s,
            "bytes_stored_per_input_byte": ratio,
            "peak_rss_mb": peak_rss_mb,
            "success_ratio": 1.0 - self.failed / max(1, self.attempted),
        }

    def per_layer(self, ph: Phase, e2e_untraced: dict, e2e_traced: dict) -> dict[str, float]:
        ops = max(1, ph.ops)
        out = dict(self.setup_parts)
        for layer in ("operators", "llm"):
            out[f"{layer}.build_s"] = statistics.fmean(ph.build.get(layer, [0.0]))
            out[f"{layer}.exec_s"] = statistics.fmean(ph.exec.get(layer, [0.0]))
            for role in ("jvm", "pyworker"):
                cpu = ph.layer_cpu.get(f"{layer}.{role}", [0.0])
                out[f"{layer}.{role}_cpu_s"] = statistics.fmean(cpu)
        for k, v in ph.counters.items():
            out[f"spark.{k}"] = v if k == "failed_tasks" else v / ops
        for role in ("jvm", "pyworker", "driver"):
            out[f"{role}.cpu_s"] = ph.cpu.get(role, 0.0) / ops
        out["cpu_util"] = sum(ph.cpu.values()) / (ph.wall * self.args.cores)
        out["host.steal_share"] = statistics.fmean(ph.steal)
        for name, layer in (("create", "main"), *ETL_STAGES):
            out[f"{layer}.{name}_s"] = statistics.fmean(ph.stages.get(name, [0.0]))
        for t in STAR_TABLES:
            files = []
            if self.spec["kind"] == "etl":
                d = os.path.join(self.inputs["warehouse"], t)
                files = [os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")]
            out[f"pipelines.rows_{t}"] = ph.last_counts.get(t, 0)
            out[f"pipelines.bytes_{t}"] = sum(os.path.getsize(f) for f in files)
            out[f"pipelines.files_{t}"] = len(files)
        self_time = self.tracer.self_time_by_layer(ph.roots)
        for layer in TRACE_LAYERS:
            out[f"self.{layer}_share"] = self_time.get(layer, 0.0) / ph.wall
        for k in ("queries_per_s", "query_p50_s", "query_tail_s", "etl_events_per_s"):
            out[f"overhead.{k}"] = e2e_traced[k] - e2e_untraced[k]
        return out

    # ------------------------------------------------------------ main
    def main(self) -> dict:
        self.expected_counts = self.inputs.get("expected_counts", {})
        self.setup()
        phases = self.timed()
        rss = self.tree.peak_rss_mb()
        self.check()
        e2e = self.end_to_end(phases[0], sum(rss.values()))
        result = {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": e2e,
            "tail_percentile": tail(phases[0].latencies or [0.0])[1],
            "samples": len(phases[0].latencies),
            "passes": len(phases[0].passes),
            "setup_wall_s": self.setup_wall[0],
            "setup_steal_share": self.setup_wall[1],
            "warmup_pass_wall_s": self.warmup_passes,
            "cold_op_wall_s": self.cold_op_s,
            "timed_pass_s": phases[0].passes,
            "timed_pass_wall_s": phases[0].pass_walls,
            "timed_pass_steal_share": phases[0].steal,
            "failures": self.failures[:20],
        }
        if self.args.trace:
            layers = self.per_layer(phases[1], e2e, self.end_to_end(phases[1], e2e["peak_rss_mb"]))
            for role, mb in rss.items():
                layers[f"{role}.peak_rss_mb"] = mb
            for k, mb in jvm_memory_mb(self.spark).items():
                layers[f"jvm.{k}_mb"] = mb
            result["layers"] = layers
            self.tracer.write(self.args.spans)
        self.spark.stop()
        return result


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument(
        "--spawned", type=json.loads, required=True, help="collectors.mark() at spawn, as JSON"
    )
    ap.add_argument("--inputs", required=True, help="JSON description of the generated inputs")
    ap.add_argument("--spans", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    result = Run(args).main()
    with open(args.out, "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main()
