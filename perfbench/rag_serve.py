"""Workload `rag_serve`: writes beside reads on one chunk store.

Writes: the 5,000 generated documents arrive in seeded micro-batches and go
through `ChunkStore.process_round` (chunk, embed, append). Reads: after each
batch, seeded two-term `rag_query` calls over the growing store, alternating
the `ilike` and `bm25` keyword tiers, `embed_dim=64`. One client, closed
loop: the fixed plan (every batch with its queries) always runs; further
queries over the full store fill the rest of the run. The primary operation
is one query; ingest batches are operations too.
"""

from __future__ import annotations

import math
import os
import re
import time
from collections import Counter
import numpy as np

import inputs
from common import SETUP_REPS, mean, median, percentile, round_half_up, tail_percentile

BATCHES = 5
QUERIES_PER_BATCH = 1
K = 5
DIM = 64
TIERS = ("ilike", "bm25")
PARAMS = {"docs": inputs.N_DOCS, "batches": BATCHES, "queries_per_batch": QUERIES_PER_BATCH, "k": K, "embed_dim": DIM}
_WS = re.compile(r"[ \t\n\r\f]+")


def _doc_frames(spark, seed: int):
    docs = inputs.documents(seed)
    docs["url"] = "https://docs.example.com/" + docs["source"] + "/" + docs["doc_id"].astype(str)
    order = np.random.default_rng([seed, 5]).permutation(len(docs))
    frames, batch_of = [], {}
    sizes = []
    for b, idx in enumerate(np.array_split(order, BATCHES)):
        part = docs.iloc[idx].reset_index(drop=True)
        part = part.assign(fetch_round=b, seq_in_round=np.arange(len(part), dtype=np.int32))
        frames.append(
            spark.createDataFrame(
                part[["url", "text", "fetch_round", "seq_in_round"]].rename(columns={"text": "content"}),
                "url string, content string, fetch_round int, seq_in_round int",
            )
        )
        batch_of.update({u: b for u in part["url"]})
        sizes.append(len(part))
    return frames, sizes, batch_of


def _chunks(store):
    from pyspark.sql import functions as F

    return store.read().withColumn("id", F.xxhash64(F.col("url"), F.col("chunk_index")))


def _query(leg, store, q: str, tier: str, batches_done: int):
    from mcp_crawl4ai_rag_spark.operators.search import rag_query

    with leg.rec.span("rag.query", tier=tier, q=q, batches=batches_done) as span:
        rows = rag_query(_chunks(store), q, k=K, hybrid=True, embed_dim=DIM, keyword_ranker=tier).collect()
    span.attrs["rows"] = [(r["id"], r["tier"], r["similarity"]) for r in rows]
    return span


# -- reference: numpy cosine plus ILIKE / BM25, merged like hybrid_merge ------

def _reference(store_rows: list[dict], emb: np.ndarray, toks: list[list[str]], q: str, tier: str):
    from mcp_crawl4ai_rag_spark.functions.embedding import embed_query_py

    ids = np.array([r["id"] for r in store_rows], dtype=np.int64)
    qv = np.asarray(embed_query_py(q.strip(), DIM), dtype=np.float32).astype(np.float64)
    # left-to-right folds, the same double arithmetic as the engine's cosine
    dot = np.cumsum(emb * qv, axis=1)[:, -1]
    nx = np.sqrt(np.cumsum(emb * emb, axis=1)[:, -1])
    ny = math.sqrt(np.cumsum(qv * qv)[-1])
    sim = dot / (nx * ny)
    v_order = sorted(range(len(ids)), key=lambda i: (-sim[i], ids[i]))[: 2 * K]
    v = {int(ids[i]): (rank, float(sim[i])) for rank, i in enumerate(v_order, 1)}

    if tier == "ilike":
        hits = [i for i, r in enumerate(store_rows) if q.lower() in r["content"].lower()]
        hits.sort(key=lambda i: ids[i])
        hits.sort(key=lambda i: store_rows[i]["url"], reverse=True)
    else:
        qtf = Counter(t.lower() for t in q.split())
        n_docs, avgdl = len(toks), sum(len(t) for t in toks) / len(toks)
        tfs = [Counter(t for t in doc if t in qtf) for doc in toks]
        df = {t: sum(1 for tf in tfs if tf[t]) for t in qtf}
        score = {}
        for i, tf in enumerate(tfs):
            if not tf:
                continue
            s = 0.0
            for t, c in tf.items():
                idf = math.log(1.0 + (n_docs - df[t] + 0.5) / (df[t] + 0.5))
                s += float(qtf[t]) * idf * (c * 2.2) / (c + 1.2 * (0.25 + 0.75 * len(toks[i]) / avgdl))
            score[i] = round_half_up(s, 6)
        hits = sorted(score, key=lambda i: (-score[i], ids[i]))
    kw = {int(ids[i]): rank for rank, i in enumerate(hits[: 2 * K], 1)}

    merged = []
    for i in set(v) | set(kw):
        if i in v and i in kw:
            merged.append((0, kw[i], i, min(1.0, v[i][1] * 1.2)))
        elif i in v:
            merged.append((1, v[i][0], i, v[i][1]))
        else:
            merged.append((2, kw[i], i, 0.5))
    return [(i, tier_, s) for tier_, _, i, s in sorted(merged)[:K]]


def _check(leg, store, batch_of: dict, ingests: list, queries: list) -> tuple[list, list]:
    from mcp_crawl4ai_rag_spark.functions.embedding import hash_embed_py

    rows = _chunks(store).select("id", "url", "chunk_index", "content", "chunk_json", "embedding").collect()
    store_rows = [r.asDict() for r in rows]
    batch = np.array([batch_of[r["url"]] for r in store_rows])
    emb = np.array([r["embedding"] for r in store_rows], dtype=np.float32).astype(np.float64)
    toks = [_WS.split(r["content"].lower()) for r in store_rows]

    ingest_ok = []
    for b, span in enumerate(ingests):
        mine = [i for i in range(len(store_rows)) if batch[i] == b]
        n_ok = len(mine) == span.attrs["chunks"]
        emb_ok = all(
            np.array_equal(
                np.asarray(hash_embed_py(store_rows[i]["chunk_json"], DIM), dtype=np.float32),
                emb[i].astype(np.float32),
            )
            for i in mine
        )
        ingest_ok.append(leg.check(f"rag.ingest{b}.chunks_and_embeddings", n_ok and emb_ok))

    query_ok = []
    for span in queries:
        keep = np.flatnonzero(batch < span.attrs["batches"])
        want = _reference(
            [store_rows[i] for i in keep], emb[keep], [toks[i] for i in keep],
            span.attrs["q"], span.attrs["tier"],
        )
        got = span.attrs["rows"]
        ok = [(i, t) for i, t, _ in got] == [(i, t) for i, t, _ in want] and all(
            abs(a[2] - b[2]) <= 1e-9 for a, b in zip(got, want)
        )
        query_ok.append(ok)
    bad = query_ok.count(False)
    leg.check("rag.queries_match_reference", bad == 0, f"{bad} of {len(query_ok)} differ" if bad else "")
    return ingest_ok, query_ok


def run(leg) -> None:
    from mcp_crawl4ai_rag_spark.operators.processor import ChunkStore

    spark, rec = leg.spark, leg.rec
    leg.primary_op = "rag.query"
    frames, sizes, batch_of = _doc_frames(spark, leg.seed)
    terms = inputs.query_terms(leg.seed, 1000)

    # untimed warm-up on a throwaway store: compiles the plans, starts workers
    warm = ChunkStore(spark, os.path.join(leg.work, "store-warm"))
    warm.process_round(frames[0].limit(50), embed_dim=DIM)
    for tier in TIERS:
        _query(leg, warm, terms[-1], tier, 0)

    for i in range(SETUP_REPS):
        with rec.span("rag.setup") as s:
            store = ChunkStore(spark, os.path.join(leg.work, f"store-{i}"))
        leg.setup_s.append(s.wall_s)

    ingests, queries, qi = [], [], 0
    start = time.perf_counter()
    for b, (frame, n_docs) in enumerate(zip(frames, sizes)):
        with rec.span("rag.ingest", docs=n_docs) as span:
            span.attrs["chunks"] = store.process_round(frame, embed_dim=DIM)
        ingests.append(span)
        for _ in range(QUERIES_PER_BATCH):
            queries.append(_query(leg, store, terms[qi], TIERS[qi % 2], b + 1))
            qi += 1
    while time.perf_counter() - start < leg.seconds:
        queries.append(_query(leg, store, terms[qi], TIERS[qi % 2], BATCHES))
        qi += 1

    ingest_ok, query_ok = _check(leg, store, batch_of, ingests, queries)
    for span, ok in zip(ingests, ingest_ok):
        leg.op(span, ok)
    for span, ok in zip(queries, query_ok):
        leg.op(span, ok)

    n_docs = sum(s.attrs["docs"] for s in ingests)
    leg.measure(ingests, n_docs)
    q_s = [s.wall_s for s in queries]
    leg.report("rag_query_s_p50", median(q_s), "s")
    p = tail_percentile(len(q_s))
    if p:
        leg.report(f"rag_query_s_p{p}", percentile(q_s, p), "s")
    leg.report("rag_query.samples", len(q_s), "count")
    leg.report("ingest_docs_per_s", leg.throughput, "1/s")
    for tier in TIERS:
        leg.report(
            f"search.{tier}_query_s_p50",
            median([s.wall_s for s in queries if s.attrs["tier"] == tier]), "s",
        )
    leg.report("chunking.chunks_per_doc", sum(s.attrs["chunks"] for s in ingests) / n_docs, f"of {n_docs}")
    leg.report("snapshots.chunk_files", _data_files(store.tbl.dir), "count")


def _data_files(path: str) -> int:
    return sum(1 for _, _, files in os.walk(path) for f in files if f.endswith(".parquet"))


def layers(leg, fold, codegen) -> None:
    ingests = [s for s in leg.ops if s.name == "rag.ingest"]
    folds = [fold(s) for s in ingests]
    leg.layer("processor.batch_s", mean([s.wall_s for s in ingests]), "s")
    leg.layer("processor.jobs_per_batch", mean([f["jobs"] for f in folds]), "count")
    qf = [fold(s) for s in leg.primary()]
    leg.layer("search.jobs_per_query", mean([f["jobs"] for f in qf]), "count")
    leg.layer("search.driver_gap_s", mean([f["driver_gap_s"] for f in qf]), "s")
