"""Bucketed fetch join — the 10^10-scale physical layout: the pages
corpus bucketed+sorted by url so a fetch round NEVER shuffles or
re-sorts the corpus; only the slim frontier moves."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from goto_eater_crawler_spark.operators.fetch import (
    fetch_join,
    write_bucketed_pages,
)
from goto_eater_crawler_spark.schema import PAGES_SCHEMA

N_BUCKETS = 8
TABLE = "pages_bucketed_test"


@pytest.fixture(scope="module")
def bucketed(spark):
    rows = [
        {
            "url": f"https://h{i % 5}.example.jp/p/{i}",
            "warc_ts": dt.datetime(2021, 3, 14, tzinfo=dt.timezone.utc),
            "html": f"<html>{i}</html>".encode(),
            "text": None,
            "lang": "ja",
        }
        for i in range(1000)
    ]
    pages = spark.createDataFrame(rows, PAGES_SCHEMA)
    write_bucketed_pages(pages, TABLE, N_BUCKETS)
    yield spark.table(TABLE)
    spark.sql(f"DROP TABLE IF EXISTS {TABLE}")


def _frontier(spark, n=300):
    return spark.range(n).select(
        F.concat(
            F.lit("https://h"),
            (F.col("id") % 5).cast("string"),
            F.lit(".example.jp/p/"),
            (F.col("id") * 2).cast("string"),  # half hit, half miss
        ).alias("canonical_url"),
        F.col("id").alias("fid"),
    )


def test_no_exchange_on_pages_side(spark, bucketed):
    frontier = _frontier(spark)
    fetched, _ = fetch_join(frontier, bucketed, "sortmerge")
    plan = fetched._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    # exactly ONE shuffle in the whole join — the frontier side; the
    # bucketed corpus is read in place
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 1, plan
    # and the corpus scan is genuinely bucket-aware
    assert "SelectedBucketsCount" in plan or "Bucketed: true" in plan


def test_bucketed_results_match_plain_join(spark, bucketed):
    frontier = _frontier(spark)
    fetched_b, missed_b = fetch_join(frontier, bucketed, "sortmerge")
    fetched_p, missed_p = fetch_join(frontier, bucketed, "broadcast")
    got_b = {(r["fid"], bytes(r["html"])) for r in fetched_b.collect()}
    got_p = {(r["fid"], bytes(r["html"])) for r in fetched_p.collect()}
    assert got_b == got_p and len(got_b) > 0
    assert missed_b.count() == missed_p.count() > 0
