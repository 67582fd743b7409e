"""One leg of a benchmark run: one workload in one fresh Spark session.

    python3 perfbench/leg.py --workload W --seed N --seconds S --trace 0|1 \
        --work DIR --out FILE

Writes the leg's result as JSON to FILE. ``run.py`` starts legs as child
processes so that each leg gets its own JVM and the parent can measure the
process tree's memory from outside.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from common import MIN_OPS, ROOT, Recorder, Span, mean, median  # noqa: E402

WORKLOADS = ("admission", "crawl_loop", "rag_serve", "corpus_jobs")


class Leg:
    """What a workload reads (session, seed, run length) and fills in
    (set-up times, operations, checks, metrics)."""

    def __init__(self, spark, seed: int, seconds: float, trace: bool, work: str) -> None:
        self.spark, self.seed, self.seconds, self.trace, self.work = spark, seed, seconds, trace, work
        self.rec = Recorder()
        self.setup_s: list[float] = []
        self.ops: list[Span] = []
        self.failed_ops = 0
        self.checks: list[dict] = []
        self.primary_op = ""
        self.throughput: float | None = None
        self.cpu_ms_per_item: float | None = None
        self.metrics: dict[str, dict] = {}
        self.layers: dict[str, dict] = {}

    def another(self, done: int, start: float) -> bool:
        """Whether to time one more operation, done of them having run since
        start (perf_counter). A traced leg times exactly MIN_OPS, so its
        per-operation layers cover the same operations on every run and its
        cost does not grow on a faster box."""
        if self.trace:
            return done < MIN_OPS
        return done < MIN_OPS or time.perf_counter() - start < self.seconds

    def measure(self, window: list[Span], items: int) -> None:
        """The run's rates over its timed operations (window): items per
        wall second, and CPU milliseconds of the leg's process tree per item
        (session_cpu_s). A sum over whole operations, so CPU time the JIT
        compiler spends in one operation for the next stays counted."""
        self.throughput = items / sum(s.wall_s for s in window)
        self.cpu_ms_per_item = 1000.0 * sum(s.cpu_s for s in window) / items

    def op(self, span: Span, ok: bool) -> None:
        """Record one measured operation; a failed output check fails it."""
        span.attrs["ok"] = ok
        self.ops.append(span)
        self.failed_ops += not ok

    def primary(self) -> list[Span]:
        """The operations the end-to-end latency and the per-op layers are
        taken over (a workload may also run secondary operations)."""
        return [s for s in self.ops if s.name == self.primary_op]

    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        self.checks.append({"name": name, "ok": bool(ok), "detail": detail})
        return ok

    def report(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = {"value": float(value), "unit": unit}

    def layer(self, name: str, value: float, unit: str) -> None:
        self.layers[name] = {"value": float(value), "unit": unit}


def op_layers(leg: Leg, fold, codegen) -> None:
    """The Spark accounting of one measured operation, as means over the
    leg's operations so that job_busy_s + driver_gap_s = op wall time."""
    folds = [fold(s) for s in leg.primary()]
    for key, unit in (
        ("jobs", "count"), ("tasks", "count"), ("job_busy_s", "s"), ("driver_gap_s", "s"),
        ("executor_run_s", "s"), ("shuffle_write_mb", "MB"), ("jobs_unattributed", "count"),
    ):
        leg.layer(f"op.{key}", mean([f[key] for f in folds]), unit)
    leg.layer("op.cpu_s", mean([s.cpu_s for s in leg.primary()]), "s")
    leg.layer("codegen.fallbacks_per_op", mean([codegen(s) for s in leg.primary()]), "count")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    import importlib

    import fold as foldmod
    from common import make_spark

    mod = importlib.import_module(args.workload)
    t0 = time.perf_counter()
    spark = make_spark(args.work, bool(args.trace))
    session_s = time.perf_counter() - t0
    leg = Leg(spark, args.seed, args.seconds, bool(args.trace), args.work)
    try:
        mod.run(leg)
    finally:
        spark.stop()

    if leg.trace:
        t = time.perf_counter()
        log = foldmod.read_event_log(foldmod.find_event_log(os.path.join(args.work, "eventlog")))
        failures = foldmod.codegen_failure_times(os.path.join(args.work, "spark.log"))

        def fold(span: Span) -> dict:
            return foldmod.fold_span(log, span.t0_ms, span.t1_ms)

        def codegen(span: Span) -> int:
            return foldmod.count_in_window(failures, span.t0_ms, span.t1_ms)

        op_layers(leg, fold, codegen)
        mod.layers(leg, fold, codegen)
        leg.layer("trace.fold_s", time.perf_counter() - t, "s")

    result = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "params": mod.PARAMS,
        "session_start_s": session_s,
        "setup_s": leg.setup_s,
        "ops": [{"name": s.name, "wall_s": s.wall_s, "cpu_s": s.cpu_s, "ok": s.attrs["ok"]} for s in leg.ops],
        "attempted": len(leg.ops),
        "failed": leg.failed_ops,
        "checks": leg.checks,
        "primary_op": leg.primary_op,
        "throughput_per_s": leg.throughput,
        "cpu_ms_per_item": leg.cpu_ms_per_item,
        "op_s_p50": median([s.wall_s for s in leg.primary()]),
        "metrics": leg.metrics,
        "layers": leg.layers,
        "spans": [[s.name, s.t0_ms, s.t1_ms, s.cpu_s] for s in leg.rec.spans],
    }
    with open(args.out, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    os.chdir(ROOT)
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
