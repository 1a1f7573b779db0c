from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from goto_eater_crawler_spark.plans.crawl import CrawlConfig, CrawlEngine  # noqa: E402
from goto_eater_crawler_spark.session import get_spark  # noqa: E402
from goto_eater_crawler_spark.sources import webgen  # noqa: E402

# the small resume web: two sources, one of them the session_token
# family, so frontier ``meta`` (the CSRF token) crosses checkpoints
SOURCES = [
    ("tochigi_like", "list_xpath", "list-a.example.jp", 3.0),
    ("hokkaido_like", "session_token", "token.example.jp", 4.0),
]
BUDGET = 12.0


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="tests",
        master="local[4]",
        shuffle_partitions=8,
        extra_conf={"spark.driver.memory": "8g"},
    )
    yield s
    s.stop()


def crawl_state(res):
    """(sorted records, seen set, global crawl order) of a crawl
    result: the state resume must leave unchanged."""
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


@pytest.fixture(scope="session")
def small_web():
    return webgen.build_fixture_web(sources=SOURCES)


@pytest.fixture(scope="session")
def full_run(spark, small_web, tmp_path_factory):
    """The uninterrupted small-web crawl that the resume tests compare
    against, run once on a parquet store: (round numbers,
    crawl_state). Every store gives the same crawl, so the Iceberg
    tests compare with it too."""
    pages, seeds, robots = small_web
    full = CrawlEngine(
        spark,
        webgen.pages_df(spark, pages),
        webgen.robots_df(spark, robots),
        CrawlConfig(
            round_budget=BUDGET,
            max_rounds=32,
            checkpoint_dir=str(tmp_path_factory.mktemp("full")),
        ),
    ).run(seeds)
    return [m["round"] for m in full.metrics], crawl_state(full)
