"""Workload `corpus_jobs`: passes over six batch jobs of `__spark_entry__`.

`link_pagerank`, `dedup_components`, `training_pipeline_neardup`,
`dedup_winnow`, `seq_packing` and `recrawl_priorities` from
`__spark_entry__.queries()`, over a generated corpus of the sf0.1 documents
table's shape. They run `operators.graph`, near-dup `operators.dedup`,
`operators.packing` and `operators.freshness`, which no other workload
reaches. One operation is one job; the primary operation is one pass.

Checks: each job's output against its `oracle_sql()` twin in DuckDB. The
pagerank and near-dup oracles are too slow to run on every pass, so they
run once, in a thread that overlaps the untimed warm-up; the near-dup oracle
(all-pairs Jaccard) runs on a 400-document sample that the warm-up also
feeds to Spark, and each measured near-dup output must equal the first.
`dedup_winnow` has no SQL twin and is checked against `winnow_fingerprints_py`.
"""

from __future__ import annotations

import os
import time
from collections import Counter
from concurrent.futures import ThreadPoolExecutor

import inputs
from common import SETUP_REPS, mean, median, round_half_up

JOBS = (
    ("link_pagerank", "graph.pagerank"),
    ("dedup_components", "graph.components"),
    ("training_pipeline_neardup", "dedup.neardup_pipeline"),
    ("dedup_winnow", "dedup.winnow"),
    ("seq_packing", "packing.seq_packing"),
    ("recrawl_priorities", "freshness.recrawl"),
)
SAMPLE_DOCS = 400
PARAMS = {"docs": inputs.N_DOCS, "orders": inputs.N_ORDERS, "sample_docs": SAMPLE_DOCS}


def _write_inputs(seed: int, path: str, n_docs: int = inputs.N_DOCS) -> None:
    os.makedirs(path, exist_ok=True)
    inputs.documents(seed, n_docs).to_parquet(os.path.join(path, "documents.parquet"))
    inputs.orders(seed).to_parquet(os.path.join(path, "orders.parquet"))


def _norm(v):
    return round(v, 9) if isinstance(v, float) else v


def _rows(tbl) -> list[tuple]:
    return sorted(tuple(_norm(v) for v in r.values()) for r in tbl.to_pylist())


def _oracle(data_dir: str, names) -> dict:
    import duckdb

    import __spark_entry__ as entry

    sql = entry.oracle_sql()
    con = duckdb.connect()
    try:
        for t in ("documents", "orders"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        return {n: (_rows(tbl), tbl.column_names) for n in names for tbl in [con.execute(sql[n]).arrow()]}
    finally:
        con.close()


def _winnow_reference(data_dir: str) -> list[tuple]:
    """`dedup_winnow` recomputed in Python: the same mutant fixture,
    winnowing fingerprints, boilerplate guard (max_df=20), pair threshold
    (min_shared=3) and overlap filter (>= 0.5)."""
    import re

    import pandas as pd

    from mcp_crawl4ai_rag_spark.functions.text import winnow_fingerprints_py

    d = pd.read_parquet(os.path.join(data_dir, "documents.parquet"))
    d = d[d.doc_id % 7 == 0]
    docs = list(zip(d.doc_id, d.text)) + [
        (i + 1_000_000, re.sub(r"^(\S+)", "MUTATED", t, count=1)) for i, t in zip(d.doc_id, d.text)
    ]
    fps = {i: set(winnow_fingerprints_py(t, 8, 6)) for i, t in docs}
    df = Counter(fp for s in fps.values() for fp in s)
    fps = {i: {fp for fp in s if df[fp] <= 20} for i, s in fps.items()}
    posting: dict[int, list[int]] = {}
    for i, s in fps.items():
        for fp in s:
            posting.setdefault(fp, []).append(i)
    shared = Counter()
    for ids in posting.values():
        ids.sort()
        for a in range(len(ids)):
            for b in range(a + 1, len(ids)):
                shared[(ids[a], ids[b])] += 1
    out = []
    for (a, b), n in shared.items():
        if n >= 3:
            overlap = round_half_up(n / min(len(fps[a]), len(fps[b])), 6)
            if overlap >= 0.5:
                out.append((a, b, n, _norm(overlap)))
    return sorted(out)


def _run_job(leg, fn, name: str, data_dir: str):
    with leg.rec.span(f"corpus.{name}") as span:
        tbl = fn(leg.spark, data_dir).toArrow()
    leg.spark.catalog.clearCache()
    return span, tbl


def run(leg) -> None:
    import __spark_entry__ as entry

    queries = entry.queries()
    leg.primary_op = "corpus.pass"
    data = os.path.join(leg.work, "data")
    for _ in range(SETUP_REPS):
        with leg.rec.span("corpus.setup") as s:
            _write_inputs(leg.seed, data)
        leg.setup_s.append(s.wall_s)
    sample = os.path.join(leg.work, "sample")
    _write_inputs(leg.seed, sample, SAMPLE_DOCS)

    with ThreadPoolExecutor(1) as pool:
        slow = pool.submit(_oracle, data, ["link_pagerank"])
        slow_sample = pool.submit(_oracle, sample, ["training_pipeline_neardup"])
        # untimed warm-up: every job once on the sample
        warm = {n: _run_job(leg, queries[n], n, sample)[1] for n, _ in JOBS}
        want = slow.result() | _oracle(data, ["dedup_components", "seq_packing", "recrawl_priorities"])
        neardup_sample = slow_sample.result()["training_pipeline_neardup"]
    neardup_ok = leg.check(
        "corpus.training_pipeline_neardup.sample_matches_oracle",
        (_rows(warm["training_pipeline_neardup"]), warm["training_pipeline_neardup"].column_names)
        == neardup_sample,
    )
    want["dedup_winnow"] = (_winnow_reference(data), ["id_a", "id_b", "shared", "overlap"])

    passes, start = [], time.perf_counter()
    while time.perf_counter() - start < leg.seconds:
        with leg.rec.span("corpus.pass") as pass_span:
            outs = [(n, *_run_job(leg, queries[n], n, data)) for n, _ in JOBS]
        ok_pass = True
        for n, span, tbl in outs:
            got = (_rows(tbl), tbl.column_names)
            if n == "training_pipeline_neardup":
                # the sample pinned the code; full-size passes must agree
                want.setdefault(n, got if neardup_ok else None)
            ok = leg.check(f"corpus.{n}.matches_reference", got == want[n])
            leg.op(span, ok)
            ok_pass &= ok
        leg.op(pass_span, ok_pass)
        passes.append(pass_span)

    pass_s = median([s.wall_s for s in passes])
    leg.measure(passes, inputs.N_DOCS * len(passes))
    leg.report("corpus_pass_s", pass_s, "s")
    leg.report("corpus.passes", len(passes), "count")
    for n, layer in JOBS:
        leg.report(f"{layer}_s", median([s.wall_s for s in leg.ops if s.name == f"corpus.{n}"]), "s")


def layers(leg, fold, codegen) -> None:
    for n, layer in JOBS:
        folds = [fold(s) for s in leg.ops if s.name == f"corpus.{n}"]
        for key, unit in (("jobs", "count"), ("shuffle_write_mb", "MB"), ("executor_run_s", "s")):
            leg.layer(f"{layer}.{key}", mean([f[key] for f in folds]), unit)
