"""The repo's benchmark: one command per workload run.

    python3 perfbench/run.py --workload {admission,crawl_loop,rag_serve,corpus_jobs}
                             --seed N --seconds S --trace {0,1}

``--trace 0`` runs one untraced leg and prints the end-to-end metrics.
``--trace 1`` runs an untraced leg and then a traced leg (Spark event log on,
folded into the benchmark's spans) on the same inputs, and prints the
per-layer metrics; the paired difference of the two legs' operation times is
``trace.overhead_s``. Each leg is a child process with its own JVM, so the
peak memory of the leg's whole process tree is read here from /proc.

Every line before the last is a human-readable ``name value unit`` report;
the last line is the JSON result. Results are also kept, with the box
identity, under .perfbench_out/results/ for ``perfbench/compare.py``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from common import OUT_DIR, ROOT, box_identity, median  # noqa: E402
from leg import WORKLOADS  # noqa: E402

# a run of a workload BENCHMARK.json names must end within 180 s, so it stops
# its legs at 170 s; a traced run of an ungated workload (corpus_jobs: two
# legs of 85-150 s) may take longer
GATED_DEADLINE_S = 170.0
UNGATED_DEADLINE_S = 600.0
E2E = ("setup_s", "cpu_ms_per_item")
PER_LAYER = (
    "op.jobs", "op.tasks", "op.job_busy_s", "op.driver_gap_s", "op.executor_run_s",
    "op.shuffle_write_mb", "op.jobs_unattributed", "op.cpu_s", "codegen.fallbacks_per_op",
    "trace.overhead_s",
)
UNITS = {
    "setup_s": "s", "peak_rss_mb": "MB", "throughput_per_s": "1/s", "cpu_ms_per_item": "ms", "op_s_p50": "s",
}
PAGE = os.sysconf("SC_PAGE_SIZE")


def session_pids(sid: int) -> list[int]:
    """Every live process in session sid: a leg, its JVM and the JVM's
    Python workers (they change process group, never session). Zombies are
    dead already and wait only to be reaped, so they are left out."""
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if fields[0] != "Z" and int(fields[3]) == sid:  # fields 3 and 6 of stat: state, session id
            out.append(int(name))
    return out


def rss_mb(pids: list[int]) -> float:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1])
        except OSError:
            continue
    return total * PAGE / 1e6


def stop_session(sid: int) -> None:
    """Kill whatever the leg left running and wait until it has ended."""
    deadline = time.monotonic() + 20
    while True:
        pids = session_pids(sid)
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        if time.monotonic() > deadline:
            raise RuntimeError(f"processes {pids} survived SIGKILL")
        time.sleep(0.1)


def run_leg(workload: str, seed: int, seconds: float, trace: int, work: str, timeout: float) -> dict:
    os.makedirs(work, exist_ok=True)
    out = os.path.join(work, "leg.json")
    env = dict(os.environ)
    env.update(
        {
            # the JVM's Python workers import the package from the checkout
            "PYTHONPATH": ROOT + os.pathsep + env.get("PYTHONPATH", ""),
            "TMPDIR": os.path.join(work, "tmp"),
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        }
    )
    os.makedirs(env["TMPDIR"], exist_ok=True)
    cmd = [
        sys.executable, os.path.join(ROOT, "perfbench", "leg.py"),
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", str(trace), "--work", work, "--out", out,
    ]
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=sys.stderr, start_new_session=True)
    peak = {"rss_mb": 0.0, "processes": 0}
    done = threading.Event()

    def sample() -> None:
        while not done.wait(0.2):
            pids = session_pids(proc.pid)
            peak["rss_mb"] = max(peak["rss_mb"], rss_mb(pids))
            peak["processes"] = max(peak["processes"], len(pids))

    sampler = threading.Thread(target=sample, daemon=True)
    sampler.start()
    try:
        code = proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        code = None
    finally:
        done.set()
        sampler.join()
        stop_session(proc.pid)
        proc.wait()
    if code != 0:
        raise RuntimeError(f"{workload} leg (trace={trace}) failed: exit {code}")
    with open(out) as f:
        res = json.load(f)
    res["peak_rss_mb"] = peak["rss_mb"]
    res["peak_processes"] = peak["processes"]
    return res


def paired_overhead(untraced: dict, traced: dict) -> float:
    """Median over the operations both legs ran, in order, of traced minus
    untraced wall time. The legs ran back to back on the same seed, so the
    i-th operation of each did the same work."""
    a = [o["wall_s"] for o in untraced["ops"] if o["name"] == untraced["primary_op"]]
    b = [o["wall_s"] for o in traced["ops"] if o["name"] == traced["primary_op"]]
    n = min(len(a), len(b))
    return median([b[i] - a[i] for i in range(n)])


def run_deadline_s(workload: str) -> float:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        gated = {w["name"] for w in json.load(f)["workloads"]}
    return GATED_DEADLINE_S if workload in gated else UNGATED_DEADLINE_S


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    for need in ("mcp_crawl4ai_rag_spark", "__spark_entry__.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from a full checkout", file=sys.stderr)
            return 2

    start = time.monotonic()
    deadline_s = run_deadline_s(args.workload)
    identity = box_identity()
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    work = os.path.join(OUT_DIR, "work", tag)
    legs = []
    try:
        for trace in range(args.trace + 1):
            left = deadline_s - (time.monotonic() - start)
            legs.append(
                run_leg(args.workload, args.seed, args.seconds, trace, os.path.join(work, f"leg{trace}"), left)
            )
    finally:
        shutil.rmtree(work, ignore_errors=True)

    e2e_leg = legs[0]
    attempted = sum(leg["attempted"] for leg in legs)
    failed = sum(leg["failed"] for leg in legs)
    correct = failed == 0 and all(c["ok"] for leg in legs for c in leg["checks"])

    e2e = {
        "setup_s": median(e2e_leg["setup_s"]),
        "peak_rss_mb": e2e_leg["peak_rss_mb"],
        "throughput_per_s": e2e_leg["throughput_per_s"],
        "cpu_ms_per_item": e2e_leg["cpu_ms_per_item"],
        "op_s_p50": e2e_leg["op_s_p50"],
    }
    report = {k: {"value": v, "unit": UNITS[k]} for k, v in e2e.items()}
    report["error_rate"] = {"value": failed / attempted if attempted else 1.0, "unit": f"of {attempted}"}
    report["session_start_s"] = {"value": e2e_leg["session_start_s"], "unit": "s"}
    report["peak_processes"] = {"value": e2e_leg["peak_processes"], "unit": "count"}
    report.update(e2e_leg["metrics"])
    if args.trace:
        traced = legs[1]
        layers = dict(traced["layers"])
        layers["trace.overhead_s"] = {"value": paired_overhead(e2e_leg, traced), "unit": "s"}
        report.update(layers)
        metrics = {k: layers[k] for k in PER_LAYER}
    else:
        metrics = {k: report[k] for k in E2E}

    for c in (c for leg in legs for c in leg["checks"] if not c["ok"]):
        print(f"CHECK FAILED {c['name']} {c['detail']}")
    for name, m in report.items():
        print(f"{name} {m['value']:.6g} {m['unit']}")
    print("identity " + json.dumps(identity, sort_keys=True))

    result = {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}
    os.makedirs(os.path.join(OUT_DIR, "results"), exist_ok=True)
    with open(os.path.join(OUT_DIR, "results", f"{tag}.json"), "w") as f:
        json.dump(
            {
                "identity": identity,
                "params": {
                    "workload": args.workload, "seconds": args.seconds, "trace": args.trace,
                    **legs[-1]["params"],
                },
                "seed": args.seed,
                "result": result,
                "report": report,
                "legs": legs,
            },
            f,
        )
    print(json.dumps(result))
    return 0


def _terminate(signum, frame):
    # unwinds through run_leg's finally, which stops the leg's processes
    sys.exit(128 + signum)


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, _terminate)
    sys.exit(main())
