"""Workload `admission`: bulk frontier admission.

Seeded raw candidates against a seen set, through the staged pipeline the
engine uses (canonicalize -> malformed filter -> host/path -> robots ->
exact anti-join -> budgeted pop of 10k), each phase landing in parquet like
the engine's snapshot tables. One operation is one pass over all
candidates. `functions.urls` and the Arrow UDF boundary dominate here; there
are no snapshot commits, no bloom filter and few jobs.
"""

from __future__ import annotations

import gc
import os
import shutil
import time

import numpy as np
import pyarrow.parquet as pq

import inputs
from common import SETUP_REPS, Span, median

CANDIDATES = 250_000
SEEN = CANDIDATES // 2
POP = 10_000
SALT = 16
# checked sample: ids whose seeded hash is 0 mod SAMPLE_MOD (~1%)
SAMPLE_MOD = 100
# the layers in pipeline order, each timed as the prefix ending with it
PARAMS = {"candidates": CANDIDATES, "seen": SEEN, "pop": POP, "salt_buckets": SALT}
PREFIXES = (
    "urls.canonicalize", "urls.malformed", "politeness.host_path",
    "politeness.robots", "dedup.anti_join", "politeness.pop",
)


def _setup(leg):
    from pyspark.sql import functions as F

    spark, seed = leg.spark, leg.seed
    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # pre-partitioned and sorted on the join key, like the engine's
    # url-bucketed seen table: each pass shuffles only the candidate side
    seen = (
        inputs.seen_urls(spark, seed, SEEN).select("url")
        .repartition(parts, "url").sortWithinPartitions("url").cache()
    )
    seen.count()
    robots = spark.createDataFrame(
        inputs.admission_robots(seed),
        "host string, rule_type string, path_prefix string, crawl_delay double",
    )
    hosts = spark.createDataFrame(
        [("hot.example.com", 100_000.0, 100_000.0)],
        "host string, capacity double, refill_rate double",
    ).withColumn("tokens", F.col("capacity"))
    return seen, robots, hosts


def _admit(cands, robots):
    """Canonicalize, malformed filter, host/path, robots: the canon phase's
    cumulative prefixes."""
    from pyspark.sql import functions as F

    from mcp_crawl4ai_rag_spark.functions.urls import canonicalize_url, is_malformed
    from mcp_crawl4ai_rag_spark.operators.politeness import robots_allowed, with_host_and_path

    canon = cands.withColumn("url", canonicalize_url(F.col("href"))).drop("href")
    wellformed = canon.where(~is_malformed(F.col("url")))
    located = with_host_and_path(wellformed)
    return [canon, wellformed, located, robots_allowed(located, robots)]


def _fresh(allowed, seen):
    from pyspark.sql import functions as F

    from mcp_crawl4ai_rag_spark.operators.dedup import new_urls

    return new_urls(allowed, seen).select(
        "url", "host", F.lit(0).alias("priority"), F.col("id").alias("seq")
    )


def _stages(cands, seen, robots, hosts):
    """The whole pipeline as cumulative prefixes, in PREFIXES order."""
    from mcp_crawl4ai_rag_spark.operators.politeness import budgeted_pop

    admitted = _admit(cands, robots)
    fresh = _fresh(admitted[-1], seen)
    return admitted + [fresh, budgeted_pop(fresh, hosts, POP, salt_buckets=SALT)]


def _one_pass(leg, state, n: int, stage_dir: str) -> tuple[Span, np.ndarray]:
    from mcp_crawl4ai_rag_spark.operators.politeness import budgeted_pop

    spark, rec = leg.spark, leg.rec
    seen, robots, hosts = state
    with rec.span("admission.pass", n=n) as op:
        with rec.span("admission.canon_phase"):
            cands = inputs.candidates(spark, leg.seed, n, first_id=SEEN // 2)
            _admit(cands, robots)[-1].write.mode("overwrite").parquet(f"{stage_dir}/candidates")
        with rec.span("admission.dedup_phase"):
            stored = spark.read.parquet(f"{stage_dir}/candidates")
            _fresh(stored, seen).write.mode("overwrite").parquet(f"{stage_dir}/admitted")
        with rec.span("admission.pop_phase"):
            pending = spark.read.parquet(f"{stage_dir}/admitted")
            popped = budgeted_pop(pending, hosts, POP, salt_buckets=SALT).select("seq").toArrow()
    return op, popped.column("seq").to_numpy()


def _drain(spark) -> None:
    """Shuffle files of finished passes are freed only when the Spark
    driver collects garbage; left live they slow later shuffles (bench.py measured
    it). Untimed, between passes."""
    spark.sparkContext._jvm.System.gc()
    gc.collect()
    time.sleep(0.3)


def _expected_sample(leg, robots_rows):
    """Reference admission for the checked sample, from the `*_py` kernels."""
    from pyspark.sql import functions as F

    from mcp_crawl4ai_rag_spark.functions.urls import (
        canonicalize_url_py,
        host_of_py,
        is_malformed_py,
    )
    from mcp_crawl4ai_rag_spark.oracle.simulator import robots_allows

    spark, seed = leg.spark, leg.seed
    pick = F.pmod(F.xxhash64("id", F.lit(seed + 1)), F.lit(SAMPLE_MOD)) == 0
    cands = inputs.candidates(spark, seed, CANDIDATES, first_id=SEEN // 2).where(pick).toArrow()
    seen = {
        r["id"]: r["url"]
        for r in inputs.seen_urls(spark, seed, SEEN).where(pick).toArrow().to_pylist()
    }
    want, malformed = {}, 0
    for r in cands.to_pylist():
        url = canonicalize_url_py(r["href"])
        if is_malformed_py(url):
            malformed += 1
        elif robots_allows(robots_rows, url) and seen.get(r["id"]) != url:
            want[r["id"]] = (url, host_of_py(url))
    ids = np.asarray(cands.column("id").to_numpy())
    return ids, want, malformed


def _check_pass(leg, stage_dir, popped, sample_ids, want, n_admitted_first):
    adm = pq.read_table(f"{stage_dir}/admitted", columns=["url", "host", "seq"])
    seqs = adm.column("seq").to_numpy()
    # every host is under its token budget, so the pop is the POP smallest seqs
    want_pop = np.sort(seqs)[:POP]
    ok_pop = len(popped) == len(want_pop) and np.array_equal(np.sort(popped), want_pop)
    in_sample = np.isin(seqs, sample_ids)
    got = {
        r["seq"]: (r["url"], r["host"])
        for r in adm.filter(in_sample).to_pylist()
    }
    ok_sample = got == want
    ok_count = n_admitted_first is None or len(seqs) == n_admitted_first
    leg.check("admission.pop_is_smallest_seqs", ok_pop)
    leg.check(
        "admission.sample_matches_py_kernels", ok_sample,
        f"{len(set(got) ^ set(want))} ids differ of {len(want)}" if not ok_sample else "",
    )
    leg.check("admission.admitted_count_stable", ok_count)
    return ok_pop and ok_sample and ok_count, len(seqs)


def _setup_timed(leg, old):
    old[0].unpersist(blocking=True)
    with leg.rec.span("admission.setup") as s:
        state = _setup(leg)
    leg.setup_s.append(s.wall_s)
    return state


def run(leg) -> None:
    spark, rec = leg.spark, leg.rec
    leg.primary_op = "admission.pass"
    robots_rows = inputs.admission_robots(leg.seed)
    # an untimed set-up and pass compile the plans and spawn the workers
    state = _setup(leg)
    warm = os.path.join(leg.work, "stage-warm")
    _one_pass(leg, state, CANDIDATES, warm)
    shutil.rmtree(warm, ignore_errors=True)
    sample_ids, want, malformed = _expected_sample(leg, robots_rows)
    _drain(spark)

    n_admitted, start, i = None, time.perf_counter(), 0
    while leg.another(i, start):
        stage_dir = os.path.join(leg.work, f"stage-{i}")
        op, popped = _one_pass(leg, state, CANDIDATES, stage_dir)
        ok, n = _check_pass(leg, stage_dir, popped, sample_ids, want, n_admitted)
        n_admitted = n_admitted or n
        leg.op(op, ok)
        shutil.rmtree(stage_dir, ignore_errors=True)
        _drain(spark)
        i += 1
    # timed once the passes have warmed the session; a traced leg reports
    # no set-up time
    for _ in range(0 if leg.trace else SETUP_REPS):
        state = _setup_timed(leg, state)

    if leg.trace:
        cands = inputs.candidates(spark, leg.seed, CANDIDATES, first_id=SEEN // 2)
        for name, df in zip(PREFIXES, _stages(cands, *state)):
            with rec.span(f"admission.prefix.{name}"):
                df.write.format("noop").mode("overwrite").save()

    pass_s = median([s.wall_s for s in leg.ops])
    leg.measure(leg.ops, CANDIDATES * len(leg.ops))
    leg.report("urls_per_s", leg.throughput, "1/s")
    leg.report("admission.candidates", CANDIDATES, "count")
    leg.report("admission.seen", SEEN, "count")
    leg.report("admission.pass_s_p50", pass_s, "s")
    for phase in ("canon", "dedup", "pop"):
        leg.report(
            f"admission.{phase}_phase_s_p50",
            median([s.wall_s for s in rec.named(f"admission.{phase}_phase")][1:]),
            "s",
        )
    leg.report("admission.admitted_ratio", (n_admitted or 0) / CANDIDATES, f"of {CANDIDATES}")
    leg.report("admission.malformed_ratio", malformed / len(sample_ids), f"of {len(sample_ids)}")


def layers(leg, fold, codegen) -> None:
    """Per-layer split, timed as cumulative prefixes like the ROADMAP canon
    split: `<layer>_s` is the wall time of the pipeline up to and including
    that layer, so a layer's own cost is its step over the previous one."""
    for name in PREFIXES:
        (span,) = leg.rec.named(f"admission.prefix.{name}")
        f = fold(span)
        leg.layer(f"{name}_s", f["wall_s"], "s")
        for key, unit in (
            ("jobs", "count"), ("tasks", "count"), ("executor_run_s", "s"),
            ("shuffle_write_mb", "MB"), ("spill_mb", "MB"),
        ):
            leg.layer(f"{name}.{key}", f[key], unit)
