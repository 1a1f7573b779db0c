"""Checkpoint/resume exactness (T6), retry->dead-letter (T3) and
garbage-seed rejection — the SURVEY.md §5.4 probes.

Resume contract: killing the crawl after round k and resuming from the
checkpoint directory must produce byte-identical final state (records,
seen set, crawl order) to an uninterrupted run — the engine analogue
of the reference's cache-determinism guarantee (README.md:69-73).
The fixture subset includes the session_token family so frontier
``meta`` (the CSRF token) must survive the checkpoint boundary.
"""

from __future__ import annotations

import pytest

from goto_eater_crawler_spark.plans.crawl import CrawlConfig, CrawlEngine
from goto_eater_crawler_spark.sources import webgen

from conftest import BUDGET, crawl_state


def _cfg(ckpt, max_rounds=32):
    return CrawlConfig(
        round_budget=BUDGET, max_rounds=max_rounds, checkpoint_dir=ckpt
    )


def test_resume_equals_uninterrupted(spark, small_web, full_run, tmp_path_factory):
    pages, seeds, robots = small_web
    pages_df = webgen.pages_df(spark, pages)
    robots_df = webgen.robots_df(spark, robots)
    full_rounds, full_state = full_run

    cut_dir = str(tmp_path_factory.mktemp("cut"))
    # "crash" after round 2 (loop stops; checkpoint has rounds 0-2)
    partial = CrawlEngine(spark, pages_df, robots_df, _cfg(cut_dir, max_rounds=2)).run(
        seeds
    )
    assert len(partial.metrics) == 2  # genuinely interrupted mid-crawl

    resumed = CrawlEngine.resume(spark, pages_df, robots_df, _cfg(cut_dir))
    # resumed result carries rounds 1..N metrics (prefix from manifest)
    assert [m["round"] for m in resumed.metrics] == full_rounds
    # records/log of rounds 1-2 live in the checkpoint; reconstruct the
    # full view the way a driver would: read all committed round dirs
    import goto_eater_crawler_spark.schema as S

    all_records = spark.read.schema(resumed.records.schema).parquet(
        f"{cut_dir}/rounds/round=*/records"
    )
    all_log = spark.read.schema(S.FETCH_LOG_SCHEMA).parquet(
        f"{cut_dir}/rounds/round=*/fetch_log"
    )

    class R:  # tiny view object for crawl_state
        records = all_records
        seen = resumed.seen
        fetch_log = all_log

    got = crawl_state(R)
    assert got[0] == full_state[0]  # records byte-identical
    assert got[1] == full_state[1]  # seen set identical
    assert got[2] == full_state[2]  # global crawl order identical


def test_retry_until_dead(spark, small_web):
    pages, seeds, robots = small_web
    ghost = {
        "url": "https://list-a.example.jp/merchant/missing.php",
        "source": "tochigi_like",
        "parse_family": "list_xpath",
        "depth": 0,
        "meta": {},
    }
    cfg = CrawlConfig(round_budget=BUDGET, max_rounds=12, max_retries=3)
    res = CrawlEngine(
        spark,
        webgen.pages_df(spark, pages),
        webgen.robots_df(spark, robots),
        cfg,
    ).run(seeds + [ghost])
    ghost_log = (
        res.fetch_log.filter("url LIKE '%missing.php'")
        .select("round", "status")
        .collect()
    )
    statuses = [r["status"] for r in sorted(ghost_log, key=lambda r: r["round"])]
    # re-enqueued with retry_count+1 each round until max_retries, then dead
    assert statuses == ["retry", "retry", "retry", "dead"]
    # the ghost never produced records nor polluted the seen set beyond
    # its own enqueue-time entry
    assert res.records.filter("url LIKE '%missing.php'").count() == 0


def test_garbage_seeds_rejected(spark, small_web):
    pages, _, robots = small_web
    garbage = [
        {"url": "notaurl", "source": "x", "parse_family": "list_xpath", "depth": 0, "meta": {}},
        {"url": "ftp://files.example.jp/a.csv", "source": "x", "parse_family": "list_xpath", "depth": 0, "meta": {}},
        {"url": "javascript:void(0)", "source": "x", "parse_family": "list_xpath", "depth": 0, "meta": {}},
    ]
    res = CrawlEngine(
        spark,
        webgen.pages_df(spark, pages),
        webgen.robots_df(spark, robots),
        CrawlConfig(round_budget=BUDGET, max_rounds=4),
    ).run(garbage)
    assert res.records.count() == 0
    assert res.fetch_log.count() == 0  # nothing scheduled, nothing multiplied
    assert res.seen.count() == 0


def test_resume_with_round_capacity(spark, small_web, tmp_path_factory):
    """The global round-capacity cut defers overflow INTO the
    checkpointed frontier; resume mid-crawl must still converge to
    the same final state as an uninterrupted capped run."""
    pages, seeds, robots = small_web
    pages_df = webgen.pages_df(spark, pages)
    robots_df = webgen.robots_df(spark, robots)

    def cfg(ckpt, max_rounds=32):
        return CrawlConfig(
            round_budget=BUDGET,
            max_rounds=max_rounds,
            checkpoint_dir=ckpt,
            round_capacity=3,  # tighter than the per-host quotas
        )

    full_dir = str(tmp_path_factory.mktemp("cap_full"))
    full = CrawlEngine(spark, pages_df, robots_df, cfg(full_dir)).run(seeds)
    # the cap binds: no round fetches more than 3
    assert all(m["fetched"] <= 3 for m in full.metrics)
    assert len(full.metrics) > 2
    full_state = crawl_state(full)

    cut_dir = str(tmp_path_factory.mktemp("cap_cut"))
    partial = CrawlEngine(
        spark, pages_df, robots_df, cfg(cut_dir, max_rounds=2)
    ).run(seeds)
    assert len(partial.metrics) == 2
    resumed = CrawlEngine.resume(spark, pages_df, robots_df, cfg(cut_dir))

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

    got = crawl_state(R)
    assert got[0] == full_state[0]
    assert got[1] == full_state[1]
    assert got[2] == full_state[2]


def test_iceberg_store_v1_mode_crawl_and_resume(spark, small_web, full_run):
    """IcebergStore's table-catalog logic executes end-to-end in v1
    session-catalog mode (round-2 verdict: the overwritePartitions
    path had never run). Same store class, same table naming, same
    round-partitioned layout and append-only manifest commit protocol;
    the only v2-specific lines are the writeTo() calls themselves,
    swapped for their exact v1 semantic equivalent (dynamic INSERT
    OVERWRITE). A crash-resume through catalog tables must equal the
    uninterrupted run (the shared parquet one: the store contract makes
    the two identical)."""
    import uuid

    from goto_eater_crawler_spark.plans.store import IcebergStore

    pages, seeds, robots = small_web
    pages_df = webgen.pages_df(spark, pages)
    robots_df = webgen.robots_df(spark, robots)

    full_rounds, full_state = full_run
    cut_prefix = f"iceberg:spark_catalog.default.crawl_{uuid.uuid4().hex[:8]}_cut"

    partial = CrawlEngine(
        spark, pages_df, robots_df, _cfg(cut_prefix, max_rounds=2)
    ).run(seeds)
    assert len(partial.metrics) == 2

    # retried-round overwrite semantics: re-running round 2 must
    # REPLACE its partition, not duplicate it
    store = IcebergStore(spark, cut_prefix[len("iceberg:"):])
    import goto_eater_crawler_spark.schema as S

    n_before = store.read(2, "frontier", S.FRONTIER_SCHEMA).count()
    store.write(
        store.read(2, "frontier", S.FRONTIER_SCHEMA), 2, "frontier"
    )
    assert store.read(2, "frontier", S.FRONTIER_SCHEMA).count() == n_before

    resumed = CrawlEngine.resume(spark, pages_df, robots_df, _cfg(cut_prefix))
    assert [m["round"] for m in resumed.metrics] == full_rounds
    assert {r["canonical_url"] for r in resumed.seen.collect()} == full_state[1]
    # committed_rounds reflects the append-only manifest
    assert store.committed_rounds() == list(
        range(0, len(resumed.metrics) + 1)
    )


def test_resume_after_seen_compaction(
    spark, small_web, full_run, tmp_path_factory
):
    """Table maintenance mid-crawl: compact all committed seen deltas
    into one, then resume — final state must stay byte-identical to an
    uninterrupted run, and the compacted store must hold exactly one
    seen_delta dir."""
    import os

    from goto_eater_crawler_spark.plans.store import ParquetManifestStore
    from goto_eater_crawler_spark.plans.crawl import SEEN_SCHEMA

    pages, seeds, robots = small_web
    pages_df = webgen.pages_df(spark, pages)
    robots_df = webgen.robots_df(spark, robots)
    _, full_state = full_run

    cut_dir = str(tmp_path_factory.mktemp("ccut"))
    CrawlEngine(spark, pages_df, robots_df, _cfg(cut_dir, max_rounds=2)).run(seeds)

    store = ParquetManifestStore(spark, cut_dir)
    rounds = store.committed_rounds()
    before = {
        tuple(r) for r in store.read_many(rounds, "seen_delta", SEEN_SCHEMA).collect()
    }
    folded = store.compact("seen_delta", SEEN_SCHEMA)
    assert folded == len(rounds)
    after = {
        tuple(r) for r in store.read_many(rounds, "seen_delta", SEEN_SCHEMA).collect()
    }
    assert after == before  # read_many row-identical through compaction
    delta_dirs = [
        d
        for d in os.listdir(os.path.join(cut_dir, "rounds"))
        if os.path.exists(os.path.join(cut_dir, "rounds", d, "seen_delta"))
    ]
    assert len(delta_dirs) == 1

    resumed = CrawlEngine.resume(spark, pages_df, robots_df, _cfg(cut_dir))
    assert {r["canonical_url"] for r in resumed.seen.collect()} == full_state[1]
    import goto_eater_crawler_spark.schema as S

    all_records = spark.read.schema(resumed.records.schema).parquet(
        f"{cut_dir}/rounds/round=*/records"
    )
    got_records = sorted(
        (r["url"], r["item_index"], r["shop_name"], r["address"], r["area_name"])
        for r in all_records.collect()
    )
    assert got_records == full_state[0]


def test_resume_after_seen_compaction_iceberg_mode(spark, small_web, full_run):
    """Catalog-table compaction: fold all seen_delta partitions into
    the latest round, read_many row-identical, resume == uninterrupted
    (v1 session-catalog mode; the v2 path is the same logic through an
    atomic Iceberg snapshot overwrite). The uninterrupted run is the
    parquet one: the store contract makes the two identical."""
    import uuid

    from goto_eater_crawler_spark.plans.crawl import SEEN_SCHEMA
    from goto_eater_crawler_spark.plans.store import IcebergStore

    pages, seeds, robots = small_web
    pages_df = webgen.pages_df(spark, pages)
    robots_df = webgen.robots_df(spark, robots)

    _, full_state = full_run
    cut_prefix = f"iceberg:spark_catalog.default.cc_{uuid.uuid4().hex[:8]}_cut"

    CrawlEngine(spark, pages_df, robots_df, _cfg(cut_prefix, max_rounds=2)).run(
        seeds
    )
    store = IcebergStore(spark, cut_prefix[len("iceberg:"):])
    rounds = store.committed_rounds()
    before = {
        tuple(r)
        for r in store.read_many(rounds, "seen_delta", SEEN_SCHEMA).collect()
    }
    assert store.compact("seen_delta", SEEN_SCHEMA) == len(rounds)
    after = {
        tuple(r)
        for r in store.read_many(rounds, "seen_delta", SEEN_SCHEMA).collect()
    }
    assert after == before
    # all rows now live in ONE partition (the latest round)
    t = store._table("seen_delta")
    parts = {
        r["round"]
        for r in spark.read.table(t).select("round").distinct().collect()
    }
    assert parts == {rounds[-1]}

    resumed = CrawlEngine.resume(spark, pages_df, robots_df, _cfg(cut_prefix))
    assert {r["canonical_url"] for r in resumed.seen.collect()} == full_state[1]


def test_torn_manifest_write_is_not_committed(
    spark, small_web, tmp_path, monkeypatch
):
    """A crash while round 2's manifest is being written (json.dump
    raises after writing a prefix) must leave round 2 uncommitted:
    committed_rounds() stops at round 1 and resume re-runs round 2
    from round 1's state, reproducing the metrics the crashed attempt
    was committing."""
    import json
    import os
    import types

    from goto_eater_crawler_spark.plans import store as store_mod

    pages, seeds, robots = small_web
    pages_df = webgen.pages_df(spark, pages)
    robots_df = webgen.robots_df(spark, robots)
    ckpt = str(tmp_path / "ckpt")
    torn_info = {}

    def torn_dump(obj, f, **kw):
        if obj["round"] == 2:
            torn_info.update(json.loads(json.dumps(obj)))
            f.write(json.dumps(obj)[:20])
            raise OSError("disk full")
        json.dump(obj, f, **kw)

    monkeypatch.setattr(
        store_mod,
        "json",
        types.SimpleNamespace(
            dump=torn_dump, load=json.load, dumps=json.dumps, loads=json.loads
        ),
    )
    eng = CrawlEngine(spark, pages_df, robots_df, _cfg(ckpt))
    with pytest.raises(OSError, match="disk full"):
        eng.run(seeds)
    monkeypatch.undo()

    assert eng.store.committed_rounds() == [0, 1]
    round2 = os.path.join(ckpt, "rounds", "round=0002")
    assert not [f for f in os.listdir(round2) if "manifest" in f]

    resumed = CrawlEngine.resume(
        spark, pages_df, robots_df, _cfg(ckpt, max_rounds=2)
    )
    assert [m["round"] for m in resumed.metrics] == [1, 2]
    assert resumed.metrics == torn_info["metrics"]
    assert eng.store.committed_rounds() == [0, 1, 2]
