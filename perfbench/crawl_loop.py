"""Workload `crawl_loop`: the BFS crawl engine, seed then round after round.

The web is `generate_web(seed, n_hosts=24, n_pages=2000, n_seeds=6)` with a
batch of 100 and the default `compact_every=8`. One operation is one
`CrawlEngine.round()`. Rounds are bound by Spark job latency: the round's
orchestration in `operators.crawl`, the snapshot commits and checkpoint in
`plans.snapshots` and the bloom build. Canonicalization sees only a few
thousand links per round. The first compaction (round 8) lies beyond the
timed rounds unless a round takes under about 1.3 s.

The seed and the early rounds are timed and checked, but the gated rates
are taken over full-batch rounds only, from the first round that pops a
whole batch on. The early rounds (usually two, three when seeds are dead
or blocked) pop as many URLs as the seed's links give, ~5 and ~30, at
about a full round's cost, and carry most of the JVM's compiling, so their
cost per URL varies from seed to seed and run to run many times more than
a full-batch round's.
"""

from __future__ import annotations

import os
import time

from common import SETUP_REPS, dir_files, mean, median

WEB = {"n_hosts": 24, "n_pages": 2000, "n_seeds": 6}
BATCH = 100
COMPACT_EVERY = 8
PARAMS = {**WEB, "batch": BATCH, "compact_every": COMPACT_EVERY}


def _engine(leg, web, corpus, workdir: str):
    from mcp_crawl4ai_rag_spark.operators.crawl import CrawlEngine

    spark = leg.spark
    return CrawlEngine(
        spark, corpus, web.robots_df(spark), web.hosts_df(spark), workdir,
        batch_size=BATCH, compact_every=COMPACT_EVERY,
    )


def _check(leg, web, eng, rounds: list[dict]) -> dict[int, bool]:
    """Crawl order, per round, bit for bit against the sequential simulator
    run for the same number of rounds."""
    from mcp_crawl4ai_rag_spark.oracle.simulator import CrawlSimulator

    sim = CrawlSimulator(
        web.corpus, web.seeds, robots=web.robots,
        host_budgets={h: (c, r) for h, c, r in web.hosts},
        batch_size=BATCH, max_attempts=3, max_rounds=len(rounds),
    ).run()
    want: dict[int, set] = {}
    for url, rnd, seq in sim.crawl_order:
        if url in sim.documents:
            want.setdefault(rnd, set()).add((url, seq))
    got: dict[int, set] = {}
    for r in eng.crawl_order().collect():
        got.setdefault(r["fetch_round"], set()).add((r["url"], r["seq_in_round"]))
    ok = {}
    for m, sm in zip(rounds, sim.metrics):
        rnd = m["round"]
        same_order = got.get(rnd, set()) == want.get(rnd, set())
        same_counts = all(m[k] == sm[k] for k in ("popped", "fetched", "links_seen", "links_inserted"))
        ok[rnd] = leg.check(
            f"crawl.round{rnd}.matches_simulator", same_order and same_counts,
            "" if same_order and same_counts else f"order={same_order} counts={same_counts}",
        )
    return ok


def run(leg) -> None:
    from mcp_crawl4ai_rag_spark.sources.synthetic_web import generate_web

    leg.primary_op = "crawl.round"
    web = generate_web(seed=leg.seed, **WEB)
    # the fetch source, as in scripts/crawl_bench.py; not part of set-up
    corpus = web.corpus_df(leg.spark).cache()
    corpus.count()
    workdir = os.path.join(leg.work, "crawl")
    eng = _engine(leg, web, corpus, workdir)

    rounds, spans, full = [], [], []
    with leg.rec.span("crawl.seed") as seed:
        eng.seed(web.seeds)
    files, start = dir_files(workdir), time.perf_counter()
    while not full or leg.another(len(full), start):
        with leg.rec.span("crawl.early_round") as span:
            m = eng.round()
        if m["popped"] == 0:
            break
        if full or m["popped"] == BATCH:
            span.name = "crawl.round"
            full.append(m)
        rounds.append(m)
        spans.append(span)
        if leg.trace:
            now = dir_files(workdir)
            new = {p: b for p, b in now.items() if p not in files}
            span.attrs.update(files_written=len(new), bytes_written=sum(new.values()))
            files = now

    # set-up is building an engine on a fresh workdir (its robots rules are
    # aggregated, cached and compiled); timed once the session is warm, so
    # every build compiles the same plans; seeding is the crawl's first step.
    # A traced leg reports no set-up time.
    for i in range(0 if leg.trace else SETUP_REPS):
        with leg.rec.span("crawl.setup") as s:
            _engine(leg, web, corpus, os.path.join(leg.work, f"setup-{i}"))
        leg.setup_s.append(s.wall_s)

    ok = _check(leg, web, eng, rounds)
    for m, span in zip(rounds, spans):
        leg.op(span, ok[m["round"]])

    fetched = sum(m["fetched"] for m in rounds)
    # URLs crawled (popped and fetched, live or dead) per second of the
    # full-batch rounds: unlike pages_per_s it varies little with how many
    # of a seed's pages are dead
    leg.measure(leg.primary(), sum(m["popped"] for m in full))
    leg.report("urls_crawled_per_s", leg.throughput, "1/s")
    leg.report("pages_per_s", fetched / sum(s.wall_s for s in [seed] + spans), "1/s")
    leg.report("round_s_p50", median([s.wall_s for s in leg.primary()]), "s")
    leg.report("crawl.rounds", len(rounds), "count")
    leg.report("crawl.pages_fetched", fetched, "count")
    leg.report("crawl.seed_s", seed.wall_s, "s")
    seen = sum(m["links_seen"] for m in rounds)
    leg.report("crawl.admitted_ratio", sum(m["links_inserted"] for m in rounds) / max(seen, 1), f"of {seen}")


def layers(leg, fold, codegen) -> None:
    rounds = leg.primary()
    folds = [fold(s) for s in rounds]
    for key, unit in (
        ("jobs", "count"), ("job_busy_s", "s"), ("driver_gap_s", "s"), ("executor_run_s", "s"),
        ("jobs_unattributed", "count"),
    ):
        leg.layer(f"crawl.round.{key}", mean([f[key] for f in folds]), unit)
    sites = sorted({site for f in folds for site in f["jobs_by_callsite"]})
    for site in sites:
        name = site.replace(":", "_")
        leg.layer(
            f"crawl.round.jobs_by_callsite.{name}",
            mean([f["jobs_by_callsite"].get(site, 0) for f in folds]), "count",
        )
    (seed,) = leg.rec.named("crawl.seed")
    leg.layer("crawl.seed.jobs", fold(seed)["jobs"], "count")
    leg.layer("crawl.plain_round_s", median([s.wall_s for s in rounds]), "s")
    leg.layer("snapshots.bytes_written_per_round", mean([s.attrs["bytes_written"] for s in rounds]), "B")
    leg.layer("snapshots.files_per_round", mean([s.attrs["files_written"] for s in rounds]), "count")
    leg.layer("codegen.fallbacks_per_round", mean([codegen(s) for s in rounds]), "count")
