"""Unit tests for the benchmark's own arithmetic: the event-log fold, the
job-interval union behind driver_gap_s, the percentile rule, how many
operations a leg times, the gated rates and the CPU reading.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import fold  # noqa: E402
from common import MIN_OPS, Span, percentile, session_cpu_s, spread, tail_percentile  # noqa: E402
from leg import Leg  # noqa: E402

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")


@pytest.fixture(scope="module")
def log():
    return fold.read_event_log(os.path.join(FIXTURES, "eventlog.jsonl"))


@pytest.mark.parametrize(
    "intervals, covered",
    [
        ([], 0),
        ([(0, 10)], 10),
        ([(0, 10), (5, 15)], 15),  # overlap
        ([(0, 10), (2, 3)], 10),  # nested
        ([(0, 10), (20, 25)], 15),  # disjoint
        ([(20, 25), (0, 10), (10, 12)], 17),  # unsorted, touching
        ([(5, 5), (7, 6)], 0),  # empty and inverted
    ],
)
def test_union(intervals, covered):
    assert fold.union_ms(intervals) == covered


def test_read_event_log_keeps_only_jobs_and_stages(log):
    assert [j.job_id for j in log.jobs] == [0, 1, 2, 3]
    assert [j.end_ms for j in log.jobs] == [1400, 1600, 3300, 4100]
    assert [s.stage_id for s in log.stages] == [0, 1, 2, 3, 4]
    assert log.stages[1].spill_bytes == 1_500_000


def test_fold_span_attributes_by_submission_time(log):
    a = fold.fold_span(log, 1000, 2000)
    assert a["jobs"] == 2
    assert a["tasks"] == 4 + 2 + 1
    assert a["executor_run_s"] == pytest.approx(1.2)
    assert a["shuffle_write_mb"] == pytest.approx(2.0)
    assert a["spill_mb"] == pytest.approx(1.5)
    # jobs 0 and 1 overlap: busy is the union 1100-1600
    assert a["job_busy_s"] == pytest.approx(0.5)
    assert a["driver_gap_s"] == pytest.approx(0.5)
    assert a["jobs_by_callsite"] == {"dedup.py:157": 1}
    assert a["jobs_unattributed"] == 1


def test_fold_span_clips_jobs_to_the_span(log):
    b = fold.fold_span(log, 3000, 4000)
    assert b["jobs"] == 2
    assert b["jobs_by_callsite"] == {"thread.py:58": 1, "dedup.py:157": 1}
    assert b["jobs_unattributed"] == 0
    # job 3 runs past the span's end and is clipped: 100 + 100 ms busy
    assert b["job_busy_s"] == pytest.approx(0.2)
    assert b["job_busy_s"] + b["driver_gap_s"] == pytest.approx(b["wall_s"])


def test_fold_span_outside_any_job(log):
    c = fold.fold_span(log, 2000, 3000)
    assert (c["jobs"], c["tasks"], c["job_busy_s"], c["driver_gap_s"]) == (0, 0, 0.0, 1.0)


def test_callsite_key():
    assert fold.callsite_key(None) is None
    assert fold.callsite_key("") is None
    assert fold.callsite_key("collect at /a/b/politeness.py:323") == "politeness.py:323"
    assert fold.callsite_key("count at NativeMethodAccessorImpl.java:0") == "NativeMethodAccessorImpl.java:0"


def test_codegen_failures_by_window():
    times = fold.codegen_failure_times(os.path.join(FIXTURES, "spark.log"))
    assert times == [1700, 3500]
    assert fold.count_in_window(times, 1000, 2000) == 1
    assert fold.count_in_window(times, 2000, 3000) == 0
    assert fold.codegen_failure_times(os.path.join(FIXTURES, "missing.log")) == []


def test_find_event_log_wants_exactly_one(tmp_path):
    with pytest.raises(RuntimeError):
        fold.find_event_log(str(tmp_path))
    (tmp_path / "local-1").write_text("")
    assert fold.find_event_log(str(tmp_path)).endswith("local-1")


@pytest.mark.parametrize(
    "n, p",
    [(10, None), (39, None), (40, 75), (99, 75), (100, 90), (199, 90), (200, 95), (1000, 99)],
)
def test_tail_percentile_leaves_ten_samples_beyond(n, p):
    assert tail_percentile(n) == p
    if p:
        assert n * (100 - p) / 100 >= 10


def test_percentile_interpolates():
    xs = [float(i) for i in range(1, 101)]
    assert percentile(xs, 50) == pytest.approx(50.5)
    assert percentile(xs, 90) == pytest.approx(90.1)
    assert percentile([3.0], 90) == 3.0


def test_spread_is_iqr_over_median():
    assert spread([1.0] * 10) == 0.0
    assert spread([9.0, 10.0, 10.0, 10.0, 11.0]) == pytest.approx(0.1)


def test_untraced_leg_times_for_the_run_length_and_at_least_min_ops():
    short = Leg(None, 1, seconds=0.0, trace=False, work="")
    assert short.another(MIN_OPS - 1, time.perf_counter())
    assert not short.another(MIN_OPS, time.perf_counter())
    long = Leg(None, 1, seconds=3600.0, trace=False, work="")
    assert long.another(MIN_OPS + 5, time.perf_counter())


def test_traced_leg_times_exactly_min_ops():
    traced = Leg(None, 1, seconds=3600.0, trace=True, work="")
    assert traced.another(MIN_OPS - 1, time.perf_counter())
    assert not traced.another(MIN_OPS, time.perf_counter())


def test_measure_takes_rates_over_the_whole_window():
    leg = Leg(None, 1, seconds=0.0, trace=False, work="")
    leg.measure([Span("a", 0.0, 2000.0, cpu_s=3.0), Span("b", 5000.0, 6000.0, cpu_s=1.0)], 6)
    assert leg.throughput == pytest.approx(2.0)  # 6 items in 3 s of spans
    assert leg.cpu_ms_per_item == pytest.approx(4000.0 / 6)


def test_session_cpu_counts_reaped_children():
    burn = "import time\nwhile time.process_time() < 0.3: pass"
    before = session_cpu_s()
    subprocess.run([sys.executable, "-c", burn], check=True)
    assert session_cpu_s() - before >= 0.25
