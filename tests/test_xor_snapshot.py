"""Seen-snapshot freeze (CrawlEngine.freeze_seen_snapshot) — the
immutable xor-filter tier wired through the crawl loop.

Contracts pinned here:
- freezing mid-crawl and resuming yields byte-identical final state to
  an uninterrupted run (the T6 parity oracle, now through the tier);
- after a freeze the MUTABLE arm is empty, yet pre-freeze seen URLs
  are still dropped — by the snapshot probe + exact confirm (tier-1),
  observable via the ``xor_snapshot_dropped`` round metric;
- retraction after a freeze needs no snapshot rebuild: the retracted
  URL's lingering xor fingerprint degrades into an ordinary false
  positive that the exact confirm rescues, so it is re-fetched.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from goto_eater_crawler_spark.plans.crawl import CrawlConfig, CrawlEngine
from goto_eater_crawler_spark.sources import webgen

SOURCES = [
    ("tochigi_like", "list_xpath", "list-a.example.jp", 3.0),
    ("hokkaido_like", "session_token", "token.example.jp", 4.0),
]
BUDGET = 12.0


@pytest.fixture(scope="module")
def small_web():
    return webgen.build_fixture_web(sources=SOURCES)


def _state(res):
    records = sorted(
        (r["url"], r["item_index"], r["shop_name"], r["address"], r["area_name"])
        for r in res.records.collect()
    )
    seen = {r["canonical_url"] for r in res.seen.collect()}
    order = [
        r["canonical_url"]
        for r in res.fetch_log.filter("status = 'fetched'")
        .orderBy("fetch_seq")
        .collect()
    ]
    return records, seen, order


def test_freeze_midcrawl_resume_equals_uninterrupted(
    spark, small_web, tmp_path_factory
):
    pages, seeds, robots = small_web
    pages_df = webgen.pages_df(spark, pages)
    robots_df = webgen.robots_df(spark, robots)

    full_dir = str(tmp_path_factory.mktemp("xfull"))
    full = CrawlEngine(
        spark,
        pages_df,
        robots_df,
        CrawlConfig(round_budget=BUDGET, max_rounds=32, checkpoint_dir=full_dir),
    ).run(seeds)
    full_state = _state(full)

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
    assert blocks2 is not None
    # the mutable arm was RESET: no block carries any set bit
    import numpy as np

    for r in blocks2.collect():
        assert not np.frombuffer(r["bits"], dtype=np.uint8).any()

    resumed = CrawlEngine.resume(
        spark,
        pages_df,
        robots_df,
        CrawlConfig(round_budget=BUDGET, max_rounds=32, checkpoint_dir=cut_dir),
    )
    # post-freeze rounds carry the tier's drop metric (tier attached)
    post = [m for m in resumed.metrics if m["round"] > 2]
    assert post and all("xor_snapshot_dropped" in m for m in post)
    # (this fixture's link graph is a forward tree — later rounds may
    # never re-link a pre-freeze URL, so the drop COUNT is asserted in
    # test_snapshot_alone_drops_pre_freeze_seen, which re-seeds a page
    # whose links are all pre-freeze seen)

    all_records = spark.read.schema(resumed.records.schema).parquet(
        f"{cut_dir}/rounds/round=*/records"
    )
    import goto_eater_crawler_spark.schema as S

    all_log = spark.read.schema(S.FETCH_LOG_SCHEMA).parquet(
        f"{cut_dir}/rounds/round=*/fetch_log"
    )

    class R:
        records = all_records
        seen = resumed.seen
        fetch_log = all_log

    got = _state(R)
    assert got[0] == full_state[0]  # records byte-identical
    assert got[1] == full_state[1]  # seen set identical
    assert got[2] == full_state[2]  # global crawl order identical


def test_snapshot_alone_drops_pre_freeze_seen(spark):
    """After a freeze the mutable arm is EMPTY — every pre-freeze seen
    URL that reappears as a link must be dropped by the snapshot tier
    alone (probe-positive + exact confirm), never re-fetched."""
    pages, seeds, robots = webgen.build_fixture_web()
    eng = CrawlEngine(
        spark,
        webgen.pages_df(spark, pages),
        webgen.robots_df(spark, robots),
        CrawlConfig(round_budget=1e6, max_rounds=8),
    )
    res1 = eng.run(seeds)
    blocks2, _ = eng.freeze_seen_snapshot(res1.seen)

    host = "list-a.example.jp"
    seed = next(s for s in seeds if host in s["url"])
    l_url = next(
        r["canonical_url"]
        for r in res1.fetch_log.filter("status = 'fetched'").collect()
        if r["host"] == host and r["depth"] == 0
    )
    res2 = eng.run_rounds(eng.seed_frontier([seed]), res1.seen, blocks2)
    fetched2 = {
        r["canonical_url"]
        for r in res2.fetch_log.filter("status = 'fetched'").collect()
    }
    assert fetched2 == {l_url}  # only the (seen-bypassing) seed
    assert sum(m["new_urls"] for m in res2.metrics) == 0
    assert sum(m.get("xor_snapshot_dropped", 0) for m in res2.metrics) > 0


def test_retract_after_freeze_refetches_without_rebuild(spark):
    """The immutable tier never blocks a retraction: the retracted
    URL leaves the exact table, so its xor fingerprint is rescued as
    a false positive by the confirm join and the URL is re-fetched."""
    pages, seeds, robots = webgen.build_fixture_web()
    eng = CrawlEngine(
        spark,
        webgen.pages_df(spark, pages),
        webgen.robots_df(spark, robots),
        CrawlConfig(round_budget=1e6, max_rounds=8),
    )
    res1 = eng.run(seeds)
    blocks2, _ = eng.freeze_seen_snapshot(res1.seen)

    host = "list-a.example.jp"
    seed = next(s for s in seeds if host in s["url"])
    fetched1 = res1.fetch_log.filter("status = 'fetched'").collect()
    d_url = min(
        r["canonical_url"]
        for r in fetched1
        if r["host"] == host and r["depth"] == 1
    )
    l_url = next(
        r["canonical_url"]
        for r in fetched1
        if r["host"] == host and r["depth"] == 0
    )

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
    # the last round fetched only D, a detail page with no links: AQE
    # folds the observed snapshot probe of that empty candidate set,
    # and the round must still record 0 drops
    assert res2.metrics[-1]["fetched"] == 1
    assert res2.metrics[-1]["new_urls"] == 0
    assert res2.metrics[-1]["xor_snapshot_dropped"] == 0
