"""Seen-snapshot freeze (CrawlEngine.freeze_seen_snapshot) — the
immutable xor-filter tier wired through the crawl loop.

Contracts pinned here:
- freezing mid-crawl and resuming yields byte-identical final state to
  an uninterrupted run (the T6 parity oracle, now through the tier),
  and every manifest from the freeze on points at the snapshot;
- after a freeze the bloom is empty, yet pre-freeze seen URLs are
  still dropped: the snapshot's probe positives join the bloom's
  maybe-set and the one exact confirm drops them;
- retraction after a freeze needs no snapshot rebuild: the retracted
  URL's lingering xor fingerprint degrades into an ordinary false
  positive that the exact confirm rescues, so it is re-fetched.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

import goto_eater_crawler_spark.schema as S
from goto_eater_crawler_spark.plans.crawl import CrawlConfig, CrawlEngine
from goto_eater_crawler_spark.plans.store import ParquetManifestStore
from goto_eater_crawler_spark.sources import webgen

from conftest import BUDGET, crawl_state

HOST = "list-a.example.jp"


def _all_zero(blocks):
    return not any(
        np.frombuffer(r["bits"], dtype=np.uint8).any() for r in blocks.collect()
    )


def test_freeze_midcrawl_resume_equals_uninterrupted(
    spark, small_web, full_run, tmp_path_factory
):
    pages, seeds, robots = small_web
    pages_df = webgen.pages_df(spark, pages)
    robots_df = webgen.robots_df(spark, robots)
    _, full_state = full_run

    cut_dir = str(tmp_path_factory.mktemp("xcut"))
    eng = CrawlEngine(
        spark,
        pages_df,
        robots_df,
        CrawlConfig(round_budget=BUDGET, max_rounds=2, checkpoint_dir=cut_dir),
    )
    partial = eng.run(seeds)
    assert len(partial.metrics) == 2  # genuinely mid-crawl

    # maintenance window: freeze the seen set into the xor tier
    blocks2, filters = eng.freeze_seen_snapshot(partial.seen)
    assert filters.count() > 0
    assert _all_zero(blocks2)  # the mutable arm was RESET

    resumed = CrawlEngine.resume(
        spark,
        pages_df,
        robots_df,
        CrawlConfig(round_budget=BUDGET, max_rounds=32, checkpoint_dir=cut_dir),
    )
    # resume reattached the tier: every manifest from the freeze on
    # carries the snapshot pointer forward
    store = ParquetManifestStore(spark, cut_dir)
    frozen = [r for r in store.committed_rounds() if r >= 2]
    assert len(frozen) > 1
    assert all(store.round_info(r)["xor_snapshot_round"] == 2 for r in frozen)

    all_records = spark.read.schema(resumed.records.schema).parquet(
        f"{cut_dir}/rounds/round=*/records"
    )
    all_log = spark.read.schema(S.FETCH_LOG_SCHEMA).parquet(
        f"{cut_dir}/rounds/round=*/fetch_log"
    )

    class R:
        records = all_records
        seen = resumed.seen
        fetch_log = all_log

    got = crawl_state(R)
    assert got[0] == full_state[0]  # records byte-identical
    assert got[1] == full_state[1]  # seen set identical
    assert got[2] == full_state[2]  # global crawl order identical


@pytest.fixture(scope="module")
def default_web():
    return webgen.build_fixture_web()


@pytest.fixture(scope="module")
def frozen_crawl(spark, default_web):
    """(engine, result, reset blocks) of a full default-web crawl on the
    memory store, frozen into the xor tier. Later run_rounds and
    retract calls on the memory store leave all three unchanged."""
    pages, seeds, robots = default_web
    eng = CrawlEngine(
        spark,
        webgen.pages_df(spark, pages),
        webgen.robots_df(spark, robots),
        CrawlConfig(round_budget=1e6, max_rounds=8),
    )
    res = eng.run(seeds)
    blocks, _ = eng.freeze_seen_snapshot(res.seen)
    return eng, res, blocks


def _list_host(default_web, res):
    """The list host's seed, and its fetched pages by depth."""
    seed = next(s for s in default_web[1] if HOST in s["url"])
    by_depth = {}
    for r in res.fetch_log.filter("status = 'fetched'").collect():
        if r["host"] == HOST:
            by_depth.setdefault(r["depth"], []).append(r["canonical_url"])
    return seed, {d: sorted(urls) for d, urls in by_depth.items()}


def test_snapshot_alone_drops_pre_freeze_seen(spark, default_web, frozen_crawl):
    """After a freeze the mutable arm is EMPTY — every pre-freeze seen
    URL that reappears as a link must be dropped through the snapshot
    tier (probe-positive + exact confirm), never re-fetched. The
    re-seed round also pins what the tier costs in Spark jobs."""
    eng, res1, blocks2 = frozen_crawl
    assert _all_zero(blocks2)
    seed, pages = _list_host(default_web, res1)
    (l_url,) = pages[0]
    status = spark.sparkContext.statusTracker()

    def reseed(engine, blocks):
        before = set(status.getJobIdsForGroup())
        res = engine.run_rounds(engine.seed_frontier([seed]), res1.seen, blocks)
        return res, len(set(status.getJobIdsForGroup()) - before)

    res2, jobs = reseed(eng, blocks2)
    fetched2 = {
        r["canonical_url"]
        for r in res2.fetch_log.filter("status = 'fetched'").collect()
    }
    assert fetched2 == {l_url}  # only the (seen-bypassing) seed
    assert sum(m["new_urls"] for m in res2.metrics) == 0

    # the same round on an engine without the snapshot, against the
    # unreset bloom: the tier may add only its probe's few jobs, not a
    # filter-then-confirm split of its own (~30 jobs)
    plain = CrawlEngine(spark, eng.pages, eng.robots, eng.cfg)
    res_plain, plain_jobs = reseed(plain, res1.blocks)
    assert jobs <= plain_jobs + 12, (jobs, plain_jobs)
    assert res_plain.metrics == res2.metrics


def test_retract_after_freeze_refetches_without_rebuild(default_web, frozen_crawl):
    """The immutable tier never blocks a retraction: the retracted
    URL leaves the exact table, so its xor fingerprint is rescued as
    a false positive by the confirm join and the URL is re-fetched."""
    eng, res1, _ = frozen_crawl
    seed, pages = _list_host(default_web, res1)
    (l_url,), d_url = pages[0], pages[1][0]

    seen2, blocks3, retracted = eng.retract(res1.seen, [d_url])
    assert [r["canonical_url"] for r in retracted.collect()] == [d_url]
    assert seen2.filter(F.col("canonical_url") == d_url).isEmpty()

    res2 = eng.run_rounds(eng.seed_frontier([seed]), seen2, blocks3)
    fetched2 = {
        r["canonical_url"]
        for r in res2.fetch_log.filter("status = 'fetched'").collect()
    }
    assert fetched2 == {l_url, d_url}
    # D came back through the seen split as a NEW url
    assert sum(m["new_urls"] for m in res2.metrics) == 1
    # the last round fetched only D, a detail page with no links: an
    # empty candidate set still passes the seen split
    assert res2.metrics[-1]["fetched"] == 1
    assert res2.metrics[-1]["new_urls"] == 0
