"""End-to-end crawl parity: engine vs the single-threaded oracle on
the full fixture web (all parse families, multi-host, robots-blocked
host, pagination + two-hop detail expansion).

Checks the BASELINE.json contract pieces:
- byte-identical extracted records per url (items incl. normalization),
- crawl ordering (fetch_seq sequence of canonical urls),
- final URL-seen set equality,
- robots exclusion,
- sorted per-source CSV feeds.
"""

from __future__ import annotations

import os

import pytest

from goto_eater_crawler_spark.plans.crawl import CrawlConfig, CrawlEngine
from goto_eater_crawler_spark.schema import FEED_EXPORT_FIELDS
from goto_eater_crawler_spark.sources import webgen
from goto_eater_crawler_spark.sources.sinks import sorted_feed
from tests.oracle import crawl_oracle

ROUND_BUDGET = 12.0  # small budget => several rounds, quotas bite
# Spark jobs the engine_result crawl may start: 214, the most of three
# measured runs at local[4], plus 5% for the run-to-run drift of an
# identical crawl's job count
CRAWL_JOB_CEILING = 224


@pytest.fixture(scope="module")
def fixture_web():
    pages, seeds, robots = webgen.build_fixture_web()
    return pages, seeds, robots


@pytest.fixture(scope="module")
def engine_run(spark, fixture_web):
    """The fixture crawl's result, and the Spark jobs its run started."""
    pages, seeds, robots = fixture_web
    eng = CrawlEngine(
        spark,
        webgen.pages_df(spark, pages),
        webgen.robots_df(spark, robots),
        CrawlConfig(round_budget=ROUND_BUDGET, max_rounds=32),
    )
    status = spark.sparkContext.statusTracker()
    before = set(status.getJobIdsForGroup())
    res = eng.run(seeds)
    return res, len(set(status.getJobIdsForGroup()) - before)


@pytest.fixture(scope="module")
def engine_result(engine_run):
    return engine_run[0]


@pytest.fixture(scope="module")
def oracle_result(fixture_web):
    pages, seeds, robots = fixture_web
    page_map = {p["url"]: p["html"] for p in pages}
    return crawl_oracle(
        page_map, seeds, robots, round_budget=ROUND_BUDGET, max_rounds=32
    )


def _record_key(r):
    return (r["url"], r["item_index"])


def test_records_byte_identical(engine_result, oracle_result):
    got = {
        _record_key(r): tuple(r[f] for f in FEED_EXPORT_FIELDS)
        for r in engine_result.records.collect()
    }
    want = {
        _record_key(r): tuple(r[f] for f in FEED_EXPORT_FIELDS)
        for r in oracle_result["records"]
    }
    assert set(got) == set(want)
    mismatches = {k: (got[k], want[k]) for k in want if got[k] != want[k]}
    assert not mismatches, list(mismatches.items())[:3]
    assert len(got) > 100


def test_crawl_ordering_matches(engine_result, oracle_result):
    rows = (
        engine_result.fetch_log.filter("status = 'fetched'")
        .orderBy("fetch_seq")
        .select("canonical_url", "round")
        .collect()
    )
    got = [r["canonical_url"] for r in rows]
    assert got == oracle_result["fetch_order"]


def test_seen_set_matches(engine_result, oracle_result):
    got = {r["canonical_url"] for r in engine_result.seen.collect()}
    assert got == oracle_result["seen"]


def test_robots_block(engine_result):
    log = engine_result.fetch_log
    dropped = log.filter("status = 'robots_dropped'").collect()
    assert any("blocked.example.jp" in r["canonical_url"] for r in dropped)
    fetched_hosts = {
        r["host"] for r in log.filter("status = 'fetched'").select("host").collect()
    }
    assert "blocked.example.jp" not in fetched_hosts


def test_quota_respected(engine_result, fixture_web):
    _, _, robots = fixture_web
    delays = {r["host"]: r["crawl_delay"] for r in robots}
    per = (
        engine_result.fetch_log.filter("status = 'fetched'")
        .groupBy("round", "host")
        .count()
        .collect()
    )
    for r in per:
        quota = max(1, int(ROUND_BUDGET // delays[r["host"]]))
        assert r["count"] <= quota, (r, quota)


def test_hot_host_sketch_metrics_match_exact(spark, fixture_web, tmp_path):
    """VERDICT r3 ask #8 — MG heavy hitters wired into the round
    metrics: with hot_hosts_k set, every round's metrics carry the
    sketch's top-k hot hosts; in the exact regime (capacity > distinct
    hosts/partition) they equal the true per-host fetch counts with
    max_err 0, and the metric survives a checkpoint manifest
    round-trip (resume parity)."""
    pages, seeds, robots = fixture_web
    eng = CrawlEngine(
        spark,
        webgen.pages_df(spark, pages),
        webgen.robots_df(spark, robots),
        CrawlConfig(
            round_budget=ROUND_BUDGET,
            max_rounds=32,
            hot_hosts_k=4,
            checkpoint_dir=str(tmp_path / "hh_ckpt"),
        ),
    )
    res = eng.run(seeds)
    exact = {}
    for r in (
        res.fetch_log.filter("status = 'fetched'")
        .groupBy("round", "host")
        .count()
        .collect()
    ):
        exact.setdefault(r["round"], {})[r["host"]] = r["count"]
    assert any(m.get("hot_hosts") for m in res.metrics)
    for m in res.metrics:
        if not m["fetched"]:
            continue
        want = sorted(
            exact[m["round"]].items(), key=lambda kv: (-kv[1], kv[0])
        )[:4]
        assert [tuple(h) for h in m["hot_hosts"]] == want, m["round"]
        assert m["hot_hosts_max_err"] == 0  # exact regime
    # resume parity: the manifest JSON round-trips the sketch metric
    info = eng.store.round_info(eng.store.committed_rounds()[-1])
    assert [mm.get("hot_hosts") for mm in info["metrics"]] == [
        mm.get("hot_hosts") for mm in res.metrics
    ]


def test_multiple_rounds_happened(engine_result):
    assert len(engine_result.metrics) >= 3
    assert sum(m["fetched"] for m in engine_result.metrics) > 20


def test_crawl_job_count_within_ceiling(engine_run):
    """Per-job fixed cost dominates a fixture round, so the job count
    may not creep up unnoticed."""
    _, jobs = engine_run
    assert jobs <= CRAWL_JOB_CEILING, (jobs, CRAWL_JOB_CEILING)


def test_sorted_csv_feed(spark, engine_result, oracle_result):
    feed = sorted_feed(engine_result.records, "kyoto_like").toPandas()
    assert list(feed.columns) == FEED_EXPORT_FIELDS
    names = feed["shop_name"].tolist()
    assert names == sorted(names)
    want = sorted(
        (r for r in oracle_result["records"] if r["source"] == "kyoto_like"),
        key=lambda r: (
            r["shop_name"] or "",
            r["address"] or "",
            r["genre_name"] or "",
        ),
    )
    assert names == [r["shop_name"] for r in want]


def test_fetch_seq_has_no_partitionless_window(spark):
    """The global crawl-order sequence must not funnel the round's
    fetch log through one task: every Window node in its plan carries
    a non-empty partition spec EXCEPT the cumsum over the per-host
    counts relation (input = one row per host, not per url). Also
    checks value semantics: seq == 1..n in (host, rank) order."""
    import re

    from goto_eater_crawler_spark.plans.crawl import assign_fetch_seq

    rows = [
        (f"https://h{i % 5}.jp/p{j}", f"https://h{i % 5}.jp/p{j}",
         i * 100 + j, f"h{i % 5}.jp", 0, j + 1)
        for i in range(5)
        for j in range(4)
    ]
    fetched = spark.createDataFrame(
        rows, "url string, canonical_url string, url_hash long, "
              "host string, depth int, rank_in_host int"
    )
    log = assign_fetch_seq(fetched, 1, 0)
    got = [
        (r["host"], r["fetch_seq"])
        for r in log.orderBy("fetch_seq").collect()
    ]
    assert [s for _, s in got] == list(range(1, 21))
    assert [h for h, _ in got] == sorted(h for h, _ in got)  # host-major
    # plan shape: NO partition-less window anywhere (round 5: the
    # host-offsets cumsum partitions on the literal 0 — queries._W0
    # style — so WindowExec's moving-all-data warning cannot fire and
    # an empty partition spec in any plan is a regression again).
    # Window toString is `Window [fns], [partitionSpec], [orderSpec]`;
    # with an EMPTY partition spec the second bracket is the ORDER
    # spec (contains ASC/DESC) — that's how a global window reads.
    plan = log._jdf.queryExecution().optimizedPlan().toString()
    matches = list(re.finditer(r"Window \[[^\]]*\], (\[[^\]]*\])", plan))
    specs = [m.group(1) for m in matches]
    assert len(specs) == 2, plan
    global_w = [m for m, s in zip(matches, specs) if "ASC" in s or "DESC" in s]
    assert not global_w, f"partition-less window in plan: {plan}"
    # one window partitions by host (the per-host rank over the raw
    # log), the other by the literal 0 (the BOUNDED offsets cumsum)
    host_w = [s for s in specs if s.startswith("[host#")]
    lit_w = [(m, s) for m, s in zip(matches, specs) if s == "[0]"]
    assert len(host_w) == 1 and len(lit_w) == 1, plan
    # the lit(0) window's child subtree must aggregate before it —
    # i.e. the text below that node contains the per-host Aggregate
    below = plan[lit_w[0][0].start():]
    assert "Aggregate [host#" in below, plan


def test_write_source_csvs_executor_side(engine_result, tmp_path):
    """The CSV sink writes one sorted file per source executor-side
    (no driver toPandas); file contents must equal the sorted feed."""
    import pandas as pd

    from goto_eater_crawler_spark.sources.sinks import write_source_csvs

    out = str(tmp_path / "csvs")
    written = write_source_csvs(engine_result.records, out)
    assert written and all(p.endswith(".csv") for p in written)
    sources = {r["source"] for r in engine_result.records.select("source").distinct().collect()}
    assert {os.path.basename(p)[: -len(".csv")] for p in written} == sources
    # spot-check one source: header, order, and content parity
    path = [p for p in written if "kyoto_like" in p][0]
    got = pd.read_csv(path, dtype=str)
    want = sorted_feed(engine_result.records, "kyoto_like").toPandas()
    assert list(got.columns) == FEED_EXPORT_FIELDS
    names = got["shop_name"].tolist()
    assert names == sorted(names)
    assert len(got) == len(want)
    # cell-level parity (both sides as str/NaN-insensitive)
    for col in FEED_EXPORT_FIELDS:
        a = ["" if pd.isna(x) else str(x) for x in got[col]]
        b = ["" if x is None or pd.isna(x) else str(x) for x in want[col]]
        assert a == b, col


def test_csv_sink_quoting_edge_cases(spark, tmp_path):
    """Fields with embedded commas, double quotes and newlines (e.g.
    tokyo_gnavi closing_day is a \n-join) must round-trip through the
    executor-side CSV writer under RFC quote-doubling."""
    import pandas as pd

    from goto_eater_crawler_spark.schema import FEED_EXPORT_FIELDS
    from goto_eater_crawler_spark.sources.sinks import write_source_csvs

    rows = [
        {
            "url": "u1", "source": "q", "item_index": 0,
            "shop_name": 'a "quoted" name',
            "address": "street, with, commas",
            "closing_day": "毎週月曜\n祝日",
            "tel": None,
        },
        {
            "url": "u2", "source": "q", "item_index": 0,
            "shop_name": "z,comma",
            "address": 'mix "q" and\nnewline',
            "closing_day": None,
            "tel": "03-1",
        },
    ]
    for r in rows:
        for f in FEED_EXPORT_FIELDS:
            r.setdefault(f, None)
    df = spark.createDataFrame(
        rows,
        "url string, source string, item_index int, "
        + ", ".join(f"{f} string" for f in FEED_EXPORT_FIELDS),
    )
    (path,) = write_source_csvs(df, str(tmp_path / "csvs"))
    got = pd.read_csv(path, dtype=str)
    assert list(got.columns) == FEED_EXPORT_FIELDS
    by_name = {r["shop_name"]: r for _, r in got.iterrows()}
    assert by_name['a "quoted" name']["address"] == "street, with, commas"
    assert by_name['a "quoted" name']["closing_day"] == "毎週月曜\n祝日"
    assert by_name["z,comma"]["address"] == 'mix "q" and\nnewline'
