"""UCB1 recrawl policy e2e: the per-host state fold and the priority
boost CrawlEngine applies to each round's links.

Pins:
* the state fold matches a straight-line python oracle exactly
  (integer plays/changes);
* the policy CHANGES the fetch ordering vs the static priority on a
  fixture web while coverage (records, seen set) stays identical;
* resume-safety: crash after round 2 + resume == uninterrupted run,
  fetch order and final policy state both byte-identical;
* plays accounting agrees with the fetch log (a play = a round in
  which the host had >= 1 fetched page).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from goto_eater_crawler_spark.operators import recrawl as rc
from goto_eater_crawler_spark.plans.crawl import CrawlConfig, CrawlEngine
from goto_eater_crawler_spark.sources import webgen

SOURCES = [
    ("tochigi_like", "list_xpath", "list-a.example.jp", 3.0),
    ("kochi_like", "json_api", "json.example.jp", 2.0),
    ("kyoto_like", "label_table", "table.example.jp", 2.0),
]
BUDGET = 10.0  # quota binds -> deferral -> ordering is policy-visible


@pytest.fixture(scope="module")
def web():
    return webgen.build_fixture_web(sources=SOURCES)


def _cfg(policy=None, ckpt=None, max_rounds=32):
    return CrawlConfig(
        round_budget=BUDGET,
        max_rounds=max_rounds,
        checkpoint_dir=ckpt,
        recrawl_policy=policy,
    )


def _order(res):
    return [
        r["canonical_url"]
        for r in res.fetch_log.filter("status = 'fetched'")
        .orderBy("fetch_seq")
        .collect()
    ]


# -- straight-line oracle for the fold ---------------------------------


def _py_fold(rounds: list[dict[str, int]]) -> dict[str, tuple]:
    """rounds: per round {host: x}. Returns host -> (plays, changes)
    — the scalar restatement of operators/recrawl.update_state."""
    st: dict[str, tuple] = {}
    for obs in rounds:
        for h, x in obs.items():
            plays, changes = st.get(h, (0, 0))
            st[h] = (plays + 1, changes + x)
    return st


def test_update_state_matches_python_oracle(spark):
    rounds = [
        {"a": 1, "b": 0},
        {"a": 1, "b": 1, "c": 0},
        {"a": 1, "c": 1},
        {"a": 1},
        {"a": 1, "b": 0},
        {"a": 1},
        {"a": 1},
    ]
    state = rc.empty_state(spark)
    for obs in rounds:
        obs_df = spark.createDataFrame(
            list(obs.items()), "host string, x long"
        )
        state = rc.update_state(state, obs_df).localCheckpoint(eager=True)
    got = {r["host"]: (r["plays"], r["changes"]) for r in state.collect()}
    assert got == _py_fold(rounds)


@pytest.fixture(scope="module")
def ucb_run(spark, web):
    """One UCB1 crawl of the fixture web, shared by the tests that
    only read it: (engine, result)."""
    pages, seeds, robots = web
    eng = CrawlEngine(
        spark,
        webgen.pages_df(spark, pages),
        webgen.robots_df(spark, robots),
        _cfg("ucb"),
    )
    return eng, eng.run(seeds)


def test_policy_changes_ordering_coverage_identical(spark, web, ucb_run):
    pages, seeds, robots = web
    static = CrawlEngine(
        spark,
        webgen.pages_df(spark, pages),
        webgen.robots_df(spark, robots),
        _cfg(None),
    ).run(seeds)
    _, ucb = ucb_run

    # identical coverage: same records, same seen set
    key = lambda r: (r["url"], r["item_index"], r["shop_name"])  # noqa: E731
    assert sorted(map(key, static.records.collect())) == sorted(
        map(key, ucb.records.collect())
    )
    assert {r["canonical_url"] for r in static.seen.collect()} == {
        r["canonical_url"] for r in ucb.seen.collect()
    }
    # ...but the policy reordered the fetch sequence
    assert _order(static) != _order(ucb)


@pytest.mark.parametrize("policy", ["ucb"])
def test_plays_agree_with_fetch_log(ucb_run, policy):
    eng, res = ucb_run
    assert eng.cfg.recrawl_policy == policy
    assert eng.policy_state is not None
    got = {
        r["host"]: r["plays"] for r in eng.policy_state.collect()
    }
    expected = {
        r["host"]: r["rounds"]
        for r in res.fetch_log.filter("status = 'fetched'")
        .groupBy("host")
        .agg(F.countDistinct("round").alias("rounds"))
        .collect()
    }
    assert got == expected
    # state stays within its invariant
    for r in eng.policy_state.collect():
        assert 0 <= r["changes"] <= r["plays"]


def test_policy_resume_equals_uninterrupted(spark, web, tmp_path_factory):
    pages, seeds, robots = web
    pages_df = webgen.pages_df(spark, pages)
    robots_df = webgen.robots_df(spark, robots)

    full_dir = str(tmp_path_factory.mktemp("pfull"))
    full_eng = CrawlEngine(
        spark, pages_df, robots_df, _cfg("ucb", ckpt=full_dir)
    )
    full = full_eng.run(seeds)
    assert len(full.metrics) > 2, "fixture must outlast the cut point"

    cut_dir = str(tmp_path_factory.mktemp("pcut"))
    CrawlEngine(
        spark, pages_df, robots_df, _cfg("ucb", ckpt=cut_dir, max_rounds=2)
    ).run(seeds)
    res_eng_cfg = _cfg("ucb", ckpt=cut_dir)
    resumed = CrawlEngine.resume(spark, pages_df, robots_df, res_eng_cfg)

    # the resumed continuation produces the same rounds and the same
    # global fetch order over the tail rounds (rounds 3+)
    assert [m["round"] for m in resumed.metrics] == [
        m["round"] for m in full.metrics
    ]
    full_tail = [
        (r["round"], r["canonical_url"])
        for r in full.fetch_log.filter("status='fetched' AND round >= 3")
        .orderBy("fetch_seq")
        .collect()
    ]
    res_tail = [
        (r["round"], r["canonical_url"])
        for r in resumed.fetch_log.filter("status='fetched' AND round >= 3")
        .orderBy("fetch_seq")
        .collect()
    ]
    assert full_tail == res_tail
    # final policy state identical (read both from their stores)
    a = spark.read.schema(rc.POLICY_STATE_SCHEMA).parquet(
        f"{full_dir}/rounds/round={len(full.metrics):04d}/policy_state"
    )
    b = spark.read.schema(rc.POLICY_STATE_SCHEMA).parquet(
        f"{cut_dir}/rounds/round={len(full.metrics):04d}/policy_state"
    )
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_policy_enabled_at_resume_starts_cold(
    spark, web, tmp_path, monkeypatch
):
    """Rounds checkpointed without a policy record no policy_state in
    their manifests, so a resume that turns the policy on starts the
    fold cold (reads no policy_state) and records it from then on."""
    import json

    from goto_eater_crawler_spark.plans.store import ParquetManifestStore

    pages, seeds, robots = web
    pages_df = webgen.pages_df(spark, pages)
    robots_df = webgen.robots_df(spark, robots)
    ckpt = str(tmp_path / "ckpt")
    CrawlEngine(spark, pages_df, robots_df, _cfg(ckpt=ckpt, max_rounds=2)).run(
        seeds
    )

    reads = []
    real_read = ParquetManifestStore.read

    def spy(self, round_no, name, schema):
        reads.append(name)
        return real_read(self, round_no, name, schema)

    monkeypatch.setattr(ParquetManifestStore, "read", spy)
    resumed = CrawlEngine.resume(
        spark, pages_df, robots_df, _cfg("ucb", ckpt=ckpt, max_rounds=3)
    )
    assert "policy_state" not in reads
    assert [m["round"] for m in resumed.metrics] == [1, 2, 3]
    with open(f"{ckpt}/rounds/round=0003/manifest.json") as f:
        assert json.load(f)["policy_state"] is True


def test_resume_raises_when_recorded_policy_state_is_missing(
    spark, web, tmp_path
):
    """A manifest that records policy_state promises the table: if it
    is gone, resume must fail loudly instead of restarting the policy
    cold."""
    import shutil

    from pyspark.errors import AnalysisException

    pages, seeds, robots = web
    pages_df = webgen.pages_df(spark, pages)
    robots_df = webgen.robots_df(spark, robots)
    ckpt = str(tmp_path / "ckpt")
    CrawlEngine(
        spark, pages_df, robots_df, _cfg("ucb", ckpt=ckpt, max_rounds=2)
    ).run(seeds)
    shutil.rmtree(f"{ckpt}/rounds/round=0002/policy_state")
    with pytest.raises(AnalysisException):
        CrawlEngine.resume(
            spark, pages_df, robots_df, _cfg("ucb", ckpt=ckpt, max_rounds=2)
        )
