"""Shared pieces of the benchmark: statistics, box identity, the Spark
session every workload runs in, and the span recorder."""

from __future__ import annotations

import hashlib
import os
import platform
import statistics
import subprocess
import time
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH_DIR = os.path.join(ROOT, "perfbench")
OUT_DIR = os.path.join(ROOT, ".perfbench_out")

# the percentiles a tail is reported at, highest first
TAIL_PERCENTILES = (99, 95, 90, 75)
# an untraced leg times operations for the run length and at least MIN_OPS
# of them; a traced leg times exactly MIN_OPS (Leg.another)
MIN_OPS = 2
# set-ups per untraced leg; setup_s is their median
SETUP_REPS = 3


def median(values: list[float]) -> float:
    return statistics.median(values)


def mean(values: list[float]) -> float:
    return sum(values) / len(values) if values else 0.0


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default rule)."""
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int) -> int | None:
    """Highest reportable percentile for n samples: the one that leaves at
    least ten samples beyond it. None below 40 samples (not even p75)."""
    for p in TAIL_PERCENTILES:
        if n * (100 - p) / 100.0 >= 10:
            return p
    return None


def round_half_up(x: float, digits: int) -> float:
    """Spark's ``round``: HALF_UP on the exact binary value of a double."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(x).quantize(Decimal(1).scaleb(-digits), rounding=ROUND_HALF_UP))


def spread(values: list[float]) -> float:
    """Interquartile distance as a share of the median (the steadiness rule
    the benchmark is accepted by)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


# -- box identity ------------------------------------------------------------

def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def driver_heap_mb() -> int:
    """Driver heap for one local JVM on a shared box: a quarter of memory,
    at most 3 GiB, at least 1 GiB."""
    return max(1024, min(3072, mem_total_mb() // 4))


def source_digest() -> str:
    """sha256 over the program's sources and the benchmark, so results from
    different code never pass as like for like when git is absent."""
    h = hashlib.sha256()
    for top in ("mcp_crawl4ai_rag_spark", "perfbench"):
        for d, dirs, files in os.walk(os.path.join(ROOT, top)):
            dirs[:] = sorted(x for x in dirs if x != "__pycache__")
            for name in sorted(files):
                if name.endswith((".py", ".properties")):
                    p = os.path.join(d, name)
                    h.update(os.path.relpath(p, ROOT).encode())
                    with open(p, "rb") as f:
                        h.update(f.read())
    with open(os.path.join(ROOT, "__spark_entry__.py"), "rb") as f:
        h.update(f.read())
    return h.hexdigest()[:16]


def git_sha() -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    if out.returncode != 0:
        return None
    return out.stdout.strip() or None


def box_identity() -> dict:
    import pyspark

    return {
        "nproc": cpu_count(),
        "mem_total_mb": mem_total_mb(),
        "driver_heap_mb": driver_heap_mb(),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "machine": platform.machine(),
        "git_sha": git_sha(),
        "source_sha256": source_digest(),
    }


# -- Spark session -------------------------------------------------------------

def make_spark(work: str, trace: bool):
    """One ``local[nproc]`` session, every file it writes kept under work.

    Tracing turns on Spark's event log, uncompressed and unrolled so the fold
    can read it as one JSON-lines file. Both modes capture the JVM log with
    millisecond stamps (perfbench/log4j2.properties)."""
    from mcp_crawl4ai_rag_spark.session import get_spark

    n = cpu_count()
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    java_opts = " ".join(
        [
            f"-Djava.io.tmpdir={tmp}",
            "-XX:-UsePerfData",
            f"-Dlog4j2.configurationFile=file:{os.path.join(BENCH_DIR, 'log4j2.properties')}",
            f"-Dperfbench.logfile={os.path.join(work, 'spark.log')}",
        ]
    )
    conf = {
        "spark.driver.memory": f"{driver_heap_mb()}m",
        "spark.local.dir": local,
        "spark.driver.extraJavaOptions": java_opts,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "true" if trace else "false",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.dir": log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return get_spark(
        app_name="perfbench", master=f"local[{n}]", shuffle_partitions=2 * n, extra_conf=conf
    )


# -- spans -------------------------------------------------------------------

def now_ms() -> float:
    return time.time() * 1000.0


_TICK = os.sysconf("SC_CLK_TCK")


def session_cpu_s() -> float:
    """CPU seconds used so far by every process in this process's session:
    the leg, its JVM and the JVM's Python workers (run.py starts each leg in
    a session of its own), plus the exited children they have reaped. Time
    the hypervisor gave to other guests is steal time, counted by no
    process, so this moves less than wall time with the host's load."""
    sid = os.getsid(0)
    ticks = 0
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields 3 and 11-14 after the command: session, utime, stime, cutime, cstime
        if int(fields[3]) == sid:
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / _TICK


@dataclass
class Span:
    name: str
    t0_ms: float
    t1_ms: float
    attrs: dict = field(default_factory=dict)
    cpu_s: float = 0.0

    @property
    def wall_s(self) -> float:
        return (self.t1_ms - self.t0_ms) / 1000.0


class Recorder:
    """Spans around the benchmark's calls into each layer, kept in memory and
    written out when the leg ends. Recording costs two clock reads inside the
    span and two reads of /proc (session_cpu_s, a few ms) outside it, so the
    untraced leg records the same spans; only the event log differs."""

    def __init__(self) -> None:
        self.spans: list[Span] = []

    def span(self, name: str, **attrs):
        return _SpanCtx(self, name, attrs)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]


class _SpanCtx:
    def __init__(self, rec: Recorder, name: str, attrs: dict) -> None:
        self.rec, self.name, self.attrs = rec, name, attrs

    def __enter__(self) -> Span:
        # the CPU readings lie outside the timed window
        self.cpu0 = session_cpu_s()
        self.span = Span(self.name, now_ms(), 0.0, dict(self.attrs))
        return self.span

    def __exit__(self, *exc) -> None:
        self.span.t1_ms = now_ms()
        self.span.cpu_s = session_cpu_s() - self.cpu0
        self.rec.spans.append(self.span)


def dir_files(path: str) -> dict[str, int]:
    """Every regular file under path with its size."""
    out = {}
    for d, _, files in os.walk(path):
        for name in files:
            p = os.path.join(d, name)
            try:
                out[p] = os.path.getsize(p)
            except FileNotFoundError:  # expired by a concurrent snapshot expiry
                pass
    return out
