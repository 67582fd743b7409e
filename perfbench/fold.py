"""Fold Spark's JSON event log and the JVM's captured log into spans.

A span is a wall-clock interval recorded by the benchmark around one call
into a layer (epoch milliseconds, the clock Spark's listener events use).
Jobs and stages are attributed to the span whose window holds their
submission time; a job's call site is Spark's ``callSite.short`` property.
Jobs without one are counted as unattributed, never guessed.

No Spark import: the fold reads finished files, so it is unit-tested with a
small fixture log (``perfbench/test_perfbench.py``).
"""

from __future__ import annotations

import json
import os
import re
from collections import Counter
from dataclasses import dataclass, field

CODEGEN_FAILURE = "Failed to compile the generated Java code"
_EVENTS = ("SparkListenerJobStart", "SparkListenerJobEnd", "SparkListenerStageCompleted")


@dataclass
class Job:
    job_id: int
    submit_ms: int
    end_ms: int | None = None
    callsite: str | None = None


@dataclass
class Stage:
    stage_id: int
    submit_ms: int
    tasks: int
    executor_run_ms: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


@dataclass
class EventLog:
    jobs: list[Job] = field(default_factory=list)
    stages: list[Stage] = field(default_factory=list)


def find_event_log(log_dir: str) -> str:
    """The single uncompressed application log Spark wrote into log_dir."""
    names = sorted(n for n in os.listdir(log_dir) if not n.startswith("."))
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
    return os.path.join(log_dir, names[0])


def read_event_log(path: str) -> EventLog:
    jobs: dict[int, Job] = {}
    stages: list[Stage] = []
    with open(path, encoding="utf-8") as f:
        for line in f:
            # the log is dominated by SQL plan events; parse only what we fold
            if not any(e in line[:80] for e in _EVENTS):
                continue
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = Job(
                    ev["Job ID"], ev["Submission Time"], callsite=props.get("callSite.short")
                )
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].end_ms = ev["Completion Time"]
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                acc = {
                    a["Name"]: a.get("Value", 0)
                    for a in info.get("Accumulables", [])
                    if a.get("Name", "").startswith("internal.metrics.")
                }
                stages.append(
                    Stage(
                        info["Stage ID"],
                        info.get("Submission Time") or info.get("Completion Time") or 0,
                        info.get("Number of Tasks", 0),
                        int(acc.get("internal.metrics.executorRunTime", 0)),
                        int(acc.get("internal.metrics.shuffle.write.bytesWritten", 0)),
                        int(acc.get("internal.metrics.memoryBytesSpilled", 0))
                        + int(acc.get("internal.metrics.diskBytesSpilled", 0)),
                    )
                )
    return EventLog(sorted(jobs.values(), key=lambda j: j.submit_ms), stages)


def union_ms(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping [start, end] intervals."""
    total, cur_start, cur_end = 0.0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def callsite_key(short: str | None) -> str | None:
    """'collect at /a/b/operators/dedup.py:157' -> 'dedup.py:157'; None when
    Spark recorded no call site."""
    if not short:
        return None
    where = short.rsplit(" at ", 1)[-1]
    return os.path.basename(where)


def fold_span(log: EventLog, t0_ms: float, t1_ms: float) -> dict:
    """Spark work attributed to one span [t0_ms, t1_ms].

    ``job_busy_s`` is the union of the span's job intervals (clipped to the
    span); ``driver_gap_s`` is the rest of the span's wall time, so the two
    add up to the wall time exactly."""
    jobs = [j for j in log.jobs if t0_ms <= j.submit_ms <= t1_ms]
    stages = [s for s in log.stages if t0_ms <= s.submit_ms <= t1_ms]
    busy = union_ms(
        [(max(j.submit_ms, t0_ms), min(j.end_ms or t1_ms, t1_ms)) for j in jobs]
    )
    wall = t1_ms - t0_ms
    sites = Counter(callsite_key(j.callsite) for j in jobs)
    unattributed = sites.pop(None, 0)
    return {
        "wall_s": wall / 1000.0,
        "jobs": len(jobs),
        "tasks": sum(s.tasks for s in stages),
        "executor_run_s": sum(s.executor_run_ms for s in stages) / 1000.0,
        "shuffle_write_mb": sum(s.shuffle_write_bytes for s in stages) / 1e6,
        "spill_mb": sum(s.spill_bytes for s in stages) / 1e6,
        "job_busy_s": busy / 1000.0,
        "driver_gap_s": (wall - busy) / 1000.0,
        "jobs_unattributed": unattributed,
        "jobs_by_callsite": dict(sites),
    }


_LOG_TS = re.compile(r"^(\d+) ")


def codegen_failure_times(log_path: str) -> list[int]:
    """Epoch-ms stamps of every codegen compile failure in the captured JVM
    log (the log4j2 layout in perfbench/log4j2.properties starts each
    record with UNIX_MILLIS). After such a failure Spark runs the plan
    without whole-stage codegen."""
    out = []
    if not os.path.exists(log_path):
        return out
    with open(log_path, encoding="utf-8", errors="replace") as f:
        for line in f:
            if CODEGEN_FAILURE in line:
                m = _LOG_TS.match(line)
                if m:
                    out.append(int(m.group(1)))
    return out


def count_in_window(times: list[int], t0_ms: float, t1_ms: float) -> int:
    return sum(1 for t in times if t0_ms <= t <= t1_ms)
