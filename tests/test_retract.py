"""Frontier retraction through the crawl loop: retracted URLs leave the
exact seen table, the bloom blocks are rebuilt from what remains, and
a later round re-fetches exactly the retracted URLs. Covers the single
URL refetch, the robots-flip trigger and the persistent-store
rewrite that resume reads."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from goto_eater_crawler_spark.operators.dedup import split_new_urls
from goto_eater_crawler_spark.plans.crawl import SEEN_SCHEMA, CrawlConfig, CrawlEngine
from goto_eater_crawler_spark.schema import BLOOM_BLOCK_SCHEMA, FEED_EXPORT_FIELDS
from goto_eater_crawler_spark.sources import webgen

CFG = CrawlConfig(round_budget=1e6, max_rounds=8)


@pytest.fixture(scope="module")
def crawled(spark):
    """One memory-store fixture crawl shared by the tests that only
    read it: retract and run_rounds return new frames and leave the
    engine and ``res1`` untouched."""
    pages, seeds, robots = webgen.build_fixture_web()
    eng = CrawlEngine(
        spark, webgen.pages_df(spark, pages), webgen.robots_df(spark, robots), CFG
    )
    return pages, seeds, robots, eng, eng.run(seeds)


def test_crawl_retraction_refetches_only_retracted_url(crawled):
    """Crawl the fixture web, then model a mid-crawl policy change
    (robots flip / recrawl decision) by retracting ONE previously
    fetched URL D and re-seeding its list page L. The retracted URL
    must be re-fetched (rediscovered as a link of L, passing the
    rebuilt filter + exact table); every OTHER link of L stays seen
    and is NOT re-fetched; and D's re-extracted records are
    byte-identical to its first fetch (the parity oracle)."""
    _, seeds, _, eng, res1 = crawled
    assert res1.blocks is not None

    host = "list-a.example.jp"
    seed = next(s for s in seeds if host in s["url"])
    fetched1 = res1.fetch_log.filter("status = 'fetched'").collect()
    # D: any URL the seed page links to directly (depth 1, same host)
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

    # control: re-seeding L WITHOUT retraction refetches only L (seeds
    # bypass the seen check by design — dupefilter marks at enqueue)
    ctl = eng.run_rounds(
        eng.seed_frontier([seed]), res1.seen, res1.blocks
    )
    assert {
        r["canonical_url"]
        for r in ctl.fetch_log.filter("status = 'fetched'").collect()
    } == {l_url}

    # retract D, re-seed L: exactly {L, D} fetched
    seen2, blocks2, retracted = eng.retract(res1.seen, [d_url])
    assert [r["canonical_url"] for r in retracted.collect()] == [d_url]
    assert seen2.filter(F.col("canonical_url") == d_url).isEmpty()
    res2 = eng.run_rounds(eng.seed_frontier([seed]), seen2, blocks2)
    log2 = res2.fetch_log.filter("status = 'fetched'").collect()
    assert {r["canonical_url"] for r in log2} == {l_url, d_url}
    # the refetch came through the seen-split as a NEW url (the
    # rebuilt filter no longer holds D), not via seeding
    assert sum(m["new_urls"] for m in res2.metrics) == 1

    # parity: D's re-extracted records byte-equal the first crawl's
    key = lambda r: (r["url"], r["item_index"])  # noqa: E731
    first = {
        key(r): tuple(r[f] for f in FEED_EXPORT_FIELDS)
        for r in res1.records.filter(F.col("url") == d_url).collect()
    }
    second = {
        key(r): tuple(r[f] for f in FEED_EXPORT_FIELDS)
        for r in res2.records.filter(F.col("url") == d_url).collect()
    }
    assert first == second
    # seen set is restored exactly after the refetch
    assert {r["canonical_url"] for r in res2.seen.collect()} == {
        r["canonical_url"] for r in res1.seen.collect()
    }


def test_robots_change_retraction_with_rebuild(spark, crawled):
    """Production trigger for retraction: a robots rule FLIP (one host
    goes fully disallowed mid-crawl). retract_for_robots must retract
    exactly that host's seen URLs — computed with robots_split's own
    prefix semantics — and the filter is rebuilt from the surviving
    seen set: every retracted URL reads as new, every surviving URL
    still reads as seen, and a follow-up crawl under the new robots
    refuses to refetch the host."""
    pages, seeds, robots, eng, res1 = crawled
    host = "list-a.example.jp"
    host_urls = {
        r["canonical_url"]
        for r in res1.seen.collect()
        if f"//{host}/" in r["canonical_url"]
    }
    assert host_urls  # the host was crawled
    # blocked.example.jp is disallowed-all from round 0; its SEED is
    # in the seen set (dupefilter marks at enqueue) and is equally
    # disallowed under the new robots, so retraction covers it too
    expected = host_urls | {
        r["canonical_url"]
        for r in res1.seen.collect()
        if "//blocked.example.jp/" in r["canonical_url"]
    }

    # the rule flip: host fully disallowed
    new_robots = [
        dict(r, disallow_prefixes=["/"]) if r["host"] == host else dict(r)
        for r in robots
    ]
    seen2, blocks2, retracted = eng.retract_for_robots(
        res1.seen, webgen.robots_df(spark, new_robots)
    )
    assert {r["canonical_url"] for r in retracted.collect()} == expected
    survivors = {r["canonical_url"] for r in seen2.collect()}
    assert survivors == {
        r["canonical_url"] for r in res1.seen.collect()
    } - expected

    # rebuilt filter: retracted -> new, survivors -> seen (exact
    # end-to-end through the split)
    cand = res1.seen.select("canonical_url", "url_hash")
    new_rows, _, _ = split_new_urls(cand, blocks2, seen2, CFG.bloom)
    assert {
        r["canonical_url"] for r in new_rows.collect()
    } == expected

    # a recrawl under the new robots refuses the host entirely
    eng2 = CrawlEngine(
        spark,
        webgen.pages_df(spark, pages),
        webgen.robots_df(spark, new_robots),
        CFG,
    )
    seed = next(s for s in seeds if host in s["url"])
    res2 = eng2.run_rounds(eng2.seed_frontier([seed]), seen2, blocks2)
    assert res2.fetch_log.filter("status = 'fetched'").isEmpty()
    assert not res2.fetch_log.filter("status = 'robots_dropped'").isEmpty()


def test_retraction_persists_through_checkpoint_store(spark, tmp_path):
    """Persistent-store retraction (T6): the committed seen deltas are
    rewritten minus the retracted rows and the rebuilt blocks land
    under the latest committed round, so a resume-time reader observes
    the retraction exactly."""
    pages, seeds, robots = webgen.build_fixture_web()
    cfg = CrawlConfig(
        round_budget=1e6,
        max_rounds=8,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    eng = CrawlEngine(
        spark, webgen.pages_df(spark, pages), webgen.robots_df(spark, robots), cfg
    )
    res1 = eng.run(seeds)
    d_url = min(r["canonical_url"] for r in res1.seen.collect())
    n_before = res1.seen.count()

    seen2, blocks2, _ = eng.retract(res1.seen, [d_url])

    # stored state (what resume() reads) reflects the retraction
    committed = eng.store.committed_rounds()
    stored_seen = eng.store.read_many(committed, "seen_delta", SEEN_SCHEMA)
    assert stored_seen.filter(F.col("canonical_url") == d_url).isEmpty()
    assert stored_seen.count() == n_before - 1

    stored_blocks = eng.store.read(committed[-1], "blocks", BLOOM_BLOCK_SCHEMA)
    cand = spark.createDataFrame([(d_url, 0)], SEEN_SCHEMA).withColumn(
        "url_hash", F.xxhash64("canonical_url")
    )
    new_rows, _, _ = split_new_urls(cand, stored_blocks, stored_seen, cfg.bloom)
    assert new_rows.count() == 1  # D reads as new against stored state
