"""A repeated crawl round reuses its generated code.

One small-web round generates 200-240 codegen classes; the session's
class cache (``spark.sql.codegen.cache.maxEntries`` in
``session.get_spark``) must hold them all, so running the same round
again compiles next to nothing (2 classes in a measured run). With
Spark's default 100-entry LRU cache the second run recompiled them
all."""

from __future__ import annotations

from conftest import BUDGET, crawl_state

from goto_eater_crawler_spark.plans.crawl import CrawlConfig, CrawlEngine
from goto_eater_crawler_spark.sources import webgen

MAX_RECOMPILES = 30


def _compiled(spark) -> int:
    """Classes Janino has compiled in this JVM so far."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_repeated_round_compiles_next_to_nothing(spark, small_web):
    pages, seeds, robots = small_web

    def crawl():
        return crawl_state(
            CrawlEngine(
                spark,
                webgen.pages_df(spark, pages),
                webgen.robots_df(spark, robots),
                CrawlConfig(round_budget=BUDGET, max_rounds=1),
            ).run(seeds)
        )

    first = crawl()
    before = _compiled(spark)
    second = crawl()
    recompiled = _compiled(spark) - before
    assert recompiled <= MAX_RECOMPILES, recompiled
    assert second == first
