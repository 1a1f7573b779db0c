"""The benchmark's workloads.

Each is a closed loop with one client: one process at ``local[4]``
runs one crawl at a time. A run repeats set-up plus timed crawl work
until the next repetition would end past ``--seconds`` (at least
once), and checks the output of every repetition.

- ``steady_round``: one steady-state round over the 40-host bench web
  on the memory store. Set-up is one bootstrap and an untimed warm-up
  round; the timed work is the same round on a fresh engine.
- ``durable_resume``: a ``DURABLE_ROUNDS``-round crawl of the fixture
  web plus a small bench web through the parquet store. Set-up is the
  first leg, which stops after ``DURABLE_STOP`` rounds; the timed work
  is ``CrawlEngine.resume`` finishing the crawl from the checkpoint.

With ``trace`` set, the same work runs with Spark job snapshots at
every store call, then one captured round is replayed layer by layer
(``spans.replay_round``) and the extract functions are timed in
process; that gives the per-layer metrics.
"""

from __future__ import annotations

import collections
import os
import random
import statistics
import sys
import time
from dataclasses import dataclass

import pandas as pd
import pyarrow.parquet as pq

from crawlbench import procfs, spans, webs
from goto_eater_crawler_spark.functions.textnorm import normalize_items_pdf
from goto_eater_crawler_spark.operators.dedup import BloomParams
from goto_eater_crawler_spark.plans.crawl import SEEN_SCHEMA, CrawlConfig, CrawlEngine
from goto_eater_crawler_spark.plans.store import ParquetManifestStore
from goto_eater_crawler_spark.schema import (
    BLOOM_BLOCK_SCHEMA,
    FEED_EXPORT_FIELDS,
    FETCH_LOG_SCHEMA,
    FRONTIER_SCHEMA,
)
from goto_eater_crawler_spark.sources import webgen
from goto_eater_crawler_spark.sources.families import label_table
from tests.oracle import crawl_oracle

# bench.py's 1x steady-round configuration at four cores
STEADY_CFG = CrawlConfig(
    round_budget=1e9,
    max_rounds=1,
    bloom=BloomParams(n_blocks=16, m_bits=1 << 23, k=5),
    assign_fetch_seq=False,
    quota_salts=8,
    fetch_strategy="broadcast",
)

# the first leg of the durable crawl stops after this round, and the
# resumed leg after DURABLE_ROUNDS; the quota cuts both resumed rounds
DURABLE_STOP = 1
DURABLE_ROUNDS = 3
# counts of the durable crawl, the same for every seed
DURABLE_PINNED = {"rounds": 3, "fetch_log": 204, "records": 446, "seen": 246}


@dataclass
class Rep:
    """One repetition: its set-up, then its timed crawl work."""

    setup: float
    wall: float
    cpu: float
    fetched: int
    rounds: list  # spans.Round of the timed work
    ok: bool
    resume: float = 0.0
    ckpt_dir: str | None = None


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


class Ctx:
    """What one benchmark run shares across its repetitions."""

    def __init__(self, spark, work_dir, cache_dir, seed, seconds, trace, session_s):
        self.spark = spark
        self.work_dir = work_dir
        self.cache_dir = cache_dir
        self.rng = random.Random(seed)
        self.seconds = seconds
        self.trace = trace
        self.session_s = session_s
        self.tracer = spans.Tracer(spark.sparkContext if trace else None)
        self.Engine = spans.engine_class(self.tracer)
        self.attempted = 0
        self.failed = 0

    def repeat(self, step) -> list[Rep]:
        """Call ``step(i)`` until the next call would end past
        ``seconds``; count attempts and failures."""
        reps: list[Rep] = []
        start = time.perf_counter()
        while True:
            t = time.perf_counter()
            i = self.attempted
            self.attempted += 1
            try:
                rep = step(i)
            except Exception as e:  # a failed operation, counted
                log(f"repetition {i} failed: {e!r}")
                rep = None
            if rep is None or not rep.ok:
                self.failed += 1
            else:
                reps.append(rep)
                log(f"repetition {i}: set-up {rep.setup:.2f} s, timed {rep.wall:.2f} s")
            last = time.perf_counter() - t
            if time.perf_counter() - start + last > self.seconds:
                break
        if not reps:
            raise RuntimeError("no repetition succeeded")
        return reps


def _end_to_end(reps: list[Rep], setup_once: float) -> dict:
    fetched = sum(r.fetched for r in reps)
    wall = sum(r.wall for r in reps)
    return {
        "setup_s": setup_once + statistics.median(r.setup for r in reps),
        "crawl.wall_s": statistics.median(r.wall for r in reps),
        "crawl.urls_per_s": fetched / wall,
        "cpu_s_per_kurl": sum(r.cpu for r in reps) / (fetched / 1000),
        "peak_rss_mb": procfs.peak_rss_mb(),
    }


# -- steady_round -----------------------------------------------------


def steady_round(ctx: Ctx) -> dict:
    spark, web = ctx.spark, webs.STEADY_WEB
    path = webs.steady_pages(spark, ctx.cache_dir)
    # every list page, half the details; the lists re-emit every
    # detail link, so the other half are new
    want = {
        "fetched": web.list_pages + web.detail_pages // 2,
        "records": web.detail_pages // 2,
        "new_urls": web.detail_pages // 2,
    }
    assert want == {"fetched": 24_990, "records": 24_500, "new_urls": 24_500}

    t = time.perf_counter()
    pages = spark.read.parquet(path)
    robots = webgen.robots_df(spark, webs.bench_robots(web, ctx.rng))
    # the round-0 state is materialized once and every round starts
    # from it; the first round, on its own engine, is the warm-up
    state = CrawlEngine(spark, pages, robots, STEADY_CFG).bootstrap(
        web.steady_frontier(spark)
    )
    CrawlEngine(spark, pages, robots, STEADY_CFG).run_rounds(*state)
    setup_once = ctx.session_s + time.perf_counter() - t
    log(f"session {ctx.session_s:.2f} s, set-up once {setup_once:.2f} s")

    def step(i: int) -> Rep:
        t0 = time.perf_counter()
        eng = ctx.Engine(spark, pages, robots, STEADY_CFG)
        ctx.tracer.leg(f"round{i}")
        c0, t1 = procfs.cpu_s(), time.perf_counter()
        res = eng.run_rounds(*state)
        wall, cpu = time.perf_counter() - t1, procfs.cpu_s() - c0
        m = res.metrics[0]
        got = {k: m[k] for k in want}
        if got != want:
            log(f"steady round counts {got} != {want}")
        rounds = [r for r in ctx.tracer.rounds() if r.end > t1]
        return Rep(t1 - t0, wall, cpu, m["fetched"], rounds, got == want)

    reps = ctx.repeat(step)
    out = _end_to_end(reps, setup_once)
    if ctx.trace:
        replay = spans.replay_round(
            *state, pages, robots.localCheckpoint(eager=True), STEADY_CFG
        )
        out.update(_layers(ctx, reps, replay, reps[-1].rounds[0], path))
        # the memory store writes no files and nothing resumes
        out.update(_store_files(None, 0))
        out.update({"store.resume_read_s": 0.0, "store.resume_s": 0.0})
    return out


# -- durable_resume ---------------------------------------------------


def _durable_cfg(ckpt: str, max_rounds: int) -> CrawlConfig:
    return CrawlConfig(
        round_budget=webs.DURABLE_BUDGET, max_rounds=max_rounds, checkpoint_dir=ckpt
    )


def _oracle_state(o: dict) -> dict:
    fetched = [(l["round"], l["url"]) for l in o["log"] if l["status"] == "fetched"]
    return {
        "records": {
            (r["url"], r["item_index"]): tuple(r[f] for f in FEED_EXPORT_FIELDS)
            for r in o["records"]
        },
        "fetch_log": [(seq, u, rnd) for seq, (rnd, u) in enumerate(fetched, 1)],
        "other_log": collections.Counter(
            (l["round"], l["status"], l["url"])
            for l in o["log"]
            if l["status"] != "fetched"
        ),
        "seen": set(o["seen"]),
        "rounds": list(range(1, max(l["round"] for l in o["log"]) + 1)),
    }


def _engine_state(spark, ckpt: str, res) -> dict:
    """The crawl as a driver reads it back: every committed round's
    records and fetch log, plus the resumed seen set and metrics."""
    store = ParquetManifestStore(spark, ckpt)
    done = store.committed_rounds()[1:]
    records = store.read_many(done, "records", res.records.schema).collect()
    log = store.read_many(done, "fetch_log", FETCH_LOG_SCHEMA).collect()
    return {
        "records": {
            (r["url"], r["item_index"]): tuple(r[f] for f in FEED_EXPORT_FIELDS)
            for r in records
        },
        "fetch_log": sorted(
            (r["fetch_seq"], r["canonical_url"], r["round"])
            for r in log
            if r["status"] == "fetched"
        ),
        "other_log": collections.Counter(
            (r["round"], r["status"], r["canonical_url"])
            for r in log
            if r["status"] in ("robots_dropped", "retry", "dead")
        ),
        "seen": {r["canonical_url"] for r in res.seen.collect()},
        "rounds": [m["round"] for m in res.metrics],
    }


def durable_resume(ctx: Ctx) -> dict:
    spark = ctx.spark
    path = webs.durable_pages(spark, ctx.cache_dir)
    seeds, robot_rows = webs.durable_tables(ctx.rng)
    t = time.perf_counter()
    pages = spark.read.parquet(path)
    robots = webgen.robots_df(spark, robot_rows)
    setup_once = ctx.session_s + time.perf_counter() - t

    # the uninterrupted crawl, as the single-threaded reference
    want = _oracle_state(
        crawl_oracle(
            webs.read_pages_local(path),
            seeds,
            robot_rows,
            round_budget=webs.DURABLE_BUDGET,
            max_rounds=DURABLE_ROUNDS,
        )
    )
    counts = {k: len(want[k]) for k in DURABLE_PINNED}
    assert counts == DURABLE_PINNED, counts

    def step(i: int) -> Rep:
        ckpt = os.path.join(ctx.work_dir, f"ckpt{i}")
        t0 = time.perf_counter()
        part = ctx.Engine(spark, pages, robots, _durable_cfg(ckpt, DURABLE_STOP)).run(
            seeds
        )
        ctx.tracer.leg(f"resume{i}")
        c0, t1 = procfs.cpu_s(), time.perf_counter()
        res = ctx.Engine.resume(
            spark, pages, robots, _durable_cfg(ckpt, DURABLE_ROUNDS)
        )
        wall, cpu = time.perf_counter() - t1, procfs.cpu_s() - c0
        got = _engine_state(spark, ckpt, res)
        bad = [k for k in want if got[k] != want[k]]
        if len(part.metrics) != DURABLE_STOP:
            bad.append("stop")
        if bad:
            log(f"durable crawl differs from the oracle on {bad}")
        first_commit = min(
            s.end for s in ctx.tracer.spans if s.kind == "commit" and s.start >= t1
        )
        return Rep(
            t1 - t0,
            wall,
            cpu,
            sum(m["fetched"] for m in res.metrics[DURABLE_STOP:]),
            [r for r in ctx.tracer.rounds() if r.end > t1],
            not bad,
            resume=first_commit - t1,
            ckpt_dir=ckpt,
        )

    reps = ctx.repeat(step)
    out = _end_to_end(reps, setup_once)
    if ctx.trace:
        rep = reps[-1]
        store = ParquetManifestStore(spark, rep.ckpt_dir)
        # replay round 2: the first round of the resumed leg, and one
        # the quota cuts
        replay = spans.replay_round(
            store.read(1, "frontier", FRONTIER_SCHEMA),
            store.read_many([0, 1], "seen_delta", SEEN_SCHEMA),
            store.read(1, "blocks", BLOOM_BLOCK_SCHEMA),
            pages,
            robots.localCheckpoint(eager=True),
            _durable_cfg(rep.ckpt_dir, DURABLE_ROUNDS),
        )
        round2 = [r for r in rep.rounds if r.round_no == 2][0]
        out.update(_layers(ctx, reps, replay, round2, path))
        out.update(_store_files(rep.ckpt_dir, DURABLE_PINNED["fetch_log"]))
        t_res = ctx.tracer.legs()[-1].end
        first_write = min(
            s.start for s in ctx.tracer.spans if s.kind == "write" and s.start >= t_res
        )
        out["store.resume_read_s"] = sum(
            s.end - s.start
            for s in ctx.tracer.spans
            if s.kind in spans.READS and s.start >= t_res and s.end <= first_write
        )
        out["store.resume_s"] = rep.resume
    return out


# -- per-layer helpers ------------------------------------------------


def _store_files(ckpt: str | None, fetched: int) -> dict:
    if ckpt is None:
        return {
            "store.bytes_written": 0,
            "store.manifest_bytes": 0,
            "store.ckpt_bytes_per_url": 0.0,
        }
    total = spans.dir_bytes(ckpt)
    manifests = spans.dir_bytes(ckpt, "manifest.json")
    return {
        "store.bytes_written": total - manifests,
        "store.manifest_bytes": manifests,
        "store.ckpt_bytes_per_url": total / fetched,
    }


#: replayed layers that make up the round's first store write
#: (``new_rows``), which runs the whole select -> seen-split chain
NEW_ROWS_LAYERS = ("select", "fetch", "extract", "links", "seen_split")


def _layers(ctx: Ctx, reps: list[Rep], replay: dict, rnd: spans.Round, pages_path: str) -> dict:
    """Per-layer metrics from the traced rounds of the timed work, the
    replay of round ``rnd`` and the in-process extract rates.

    Coverage counts, for round ``rnd``, the replayed layers in place of
    its ``new_rows`` write plus the time inside its other store calls;
    the rest of the round wall (driver work between Spark jobs) is
    reported as unattributed."""
    rounds = [x for r in reps for x in r.rounds]
    out = {k: v for k, v in replay.items() if k != "times"}
    out["crawl.round_s_p50"] = statistics.median(x.wall for x in rounds)
    out.update(spans.crawl_layer(ctx.spark.sparkContext, rounds))
    out.update(spans.store_layer(rounds))
    out.update(extract_rates(pages_path))
    covered = sum(replay["times"][k] for k in NEW_ROWS_LAYERS) + spans.union_s(
        [s for s in rnd.spans if not (s.kind == "write" and s.name == "new_rows")]
    )
    out["trace.coverage"] = covered / rnd.wall
    out["trace.unattributed_s"] = rnd.wall - covered
    traced = sum(r.wall for r in reps)
    out["trace.overhead"] = traced / (traced - ctx.tracer.snapshot_s)
    return out


def _bench_batch(pages_path: str, n: int = 4096) -> pd.DataFrame:
    """Up to ``n`` bench pages of a cached web as an extract batch."""
    files = sorted(f for f in os.listdir(pages_path) if f.endswith(".parquet"))
    rows = {"url": [], "html": []}
    for f in files:
        t = pq.read_table(os.path.join(pages_path, f), columns=["url", "html"])
        for url, html in zip(t.column("url").to_pylist(), t.column("html").to_pylist()):
            if "//bench-" in url:
                rows["url"].append(url)
                rows["html"].append(html)
        if len(rows["url"]) >= n:
            break
    pdf = pd.DataFrame({k: v[:n] for k, v in rows.items()})
    pdf["source"] = "bench"
    pdf["depth"] = 1
    return pdf


def _rate(fn, items: int, min_s: float = 0.5) -> float:
    """Items per second of ``fn()``, repeated for at least ``min_s``."""
    n, spent = 0, 0.0
    while spent < min_s:
        t = time.perf_counter()
        fn()
        spent += time.perf_counter() - t
        n += 1
    return n * items / spent


def extract_rates(pages_path: str) -> dict:
    """One-core rates of the family parse and the item normalize."""
    pdf = _bench_batch(pages_path)
    recs, _ = label_table.extract_batch(pdf)
    items = pd.DataFrame(recs)
    for col in FEED_EXPORT_FIELDS:
        if col not in items:
            items[col] = None
    # normalizing is idempotent, so repeating it on one frame does the
    # same work each time
    return {
        "extract.parse_pages_per_s": _rate(
            lambda: label_table.extract_batch(pdf), len(pdf)
        ),
        "extract.normalize_rows_per_s": _rate(
            lambda: normalize_items_pdf(items), len(items)
        ),
    }


WORKLOADS = {"steady_round": steady_round, "durable_resume": durable_resume}
