"""User config is validated with exceptions, not ``assert``: every
check below must still fire under ``python -O``, which strips asserts.

Engine checks raise ValueError; the CLI driver's argument checks go
through ``argparse``'s ``parser.error`` (exit status 2)."""

from __future__ import annotations

import importlib.util
import json
import os
import subprocess
import sys

import pytest

from goto_eater_crawler_spark.operators.dedup import BloomParams
from goto_eater_crawler_spark.operators.fetch import fetch_join
from goto_eater_crawler_spark.plans.crawl import CrawlConfig, CrawlEngine
from goto_eater_crawler_spark.plans.store import ParquetManifestStore
from goto_eater_crawler_spark.sources import webgen

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CRAWL_MAIN = os.path.join(REPO, "tools", "crawl_main.py")
_spec = importlib.util.spec_from_file_location("crawl_main", CRAWL_MAIN)
crawl_main = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(crawl_main)


@pytest.fixture(scope="module")
def tiny_web(spark):
    pages, seeds, robots = webgen.build_fixture_web(
        sources=[("tochigi_like", "list_xpath", "list-a.example.jp", 3.0)]
    )
    return webgen.pages_df(spark, pages), webgen.robots_df(spark, robots)


@pytest.mark.parametrize(
    "field, value",
    [
        ("fetch_strategy", "shuffle"),
        ("fetch_strategy", "broadcst"),
        ("hot_hosts_k", 0),
        ("hot_hosts_k", -1),
        ("bloom", None),
    ],
)
def test_out_of_range_config_raises(spark, tiny_web, field, value):
    with pytest.raises(ValueError, match=field):
        CrawlEngine(spark, *tiny_web, CrawlConfig(**{field: value}))


def test_fetch_join_rejects_unknown_strategy(spark):
    with pytest.raises(ValueError, match="fetch strategy"):
        fetch_join(spark.range(1), spark.range(1), "shuffle")


def _resume_from_manifest(spark, tiny_web, tmp_path, manifest, config):
    """Resume from a checkpoint holding only a hand-written round-1
    manifest: no table exists, so the resume must refuse it before it
    reads one."""
    round_dir = tmp_path / "rounds" / "round=0001"
    round_dir.mkdir(parents=True)
    (round_dir / "manifest.json").write_text(json.dumps(
        {"round": 1, "fetch_seq_offset": 0, "metrics": [], **manifest}
    ))
    assert ParquetManifestStore(spark, str(tmp_path)).committed_rounds() == [1]
    with pytest.raises(ValueError, match=r"checkpoint bloom \(n_blocks, m_bits, k\)"):
        CrawlEngine.resume(spark, *tiny_web, config)


def test_resume_rejects_other_bloom_params(spark, tiny_web, tmp_path):
    """Bitmaps written under one bloom shape, probed under another,
    read seen URLs as new."""
    _resume_from_manifest(
        spark, tiny_web, tmp_path, {"bloom": [32, 1 << 20, 5]},
        CrawlConfig(
            checkpoint_dir=str(tmp_path),
            bloom=BloomParams(n_blocks=16, m_bits=1 << 23, k=5),
        ),
    )


def test_resume_rejects_other_xor_snapshot_shard_count(spark, tiny_web, tmp_path):
    """A checkpoint frozen into the deleted xor tier has a reset bloom
    and records no bloom shape; without its snapshot it would forget
    every URL seen before the freeze."""
    _resume_from_manifest(
        spark, tiny_web, tmp_path,
        {"xor_snapshot_round": 1, "xor_snapshot_shards": 16},
        CrawlConfig(checkpoint_dir=str(tmp_path)),
    )


def test_resume_without_checkpoint_dir_raises(spark, tiny_web):
    with pytest.raises(ValueError, match="checkpoint_dir"):
        CrawlEngine.resume(spark, *tiny_web, CrawlConfig())


def test_resume_from_empty_checkpoint_raises(spark, tiny_web, tmp_path):
    with pytest.raises(ValueError, match="nothing committed"):
        CrawlEngine.resume(
            spark, *tiny_web, CrawlConfig(checkpoint_dir=str(tmp_path))
        )


@pytest.mark.parametrize(
    "argv, message",
    [
        (["--registry", "--sources", "no_such_source"], "unknown sources"),
        ([], "--pages/--robots/--seeds required"),
        (["--fixture", "--sources", "no_such_source"], "no seeds match"),
        (["--fixture", "--retract", "https://x.example/"], "requires --checkpoint"),
        # --sources matches nothing, so a parser that accepted the
        # option would still stop before Spark starts
        (["--fixture", "--recrawl-policy", "ses", "--sources", "no_such_source"],
         "unrecognized arguments"),
        (["--fixture", "--seen-hll-log2m", "6", "--sources", "no_such_source"],
         "unrecognized arguments"),
        (["--fixture", "--hot-hosts-k", "0", "--sources", "no_such_source"],
         "--hot-hosts-k must be >= 1"),
    ],
)
def test_crawl_main_argument_errors(argv, message, capsys):
    with pytest.raises(SystemExit) as exc:
        crawl_main.main(argv)
    assert exc.value.code == 2
    assert message in capsys.readouterr().err


def test_crawl_main_retract_needs_committed_checkpoint(
    spark, tmp_path, monkeypatch, capsys
):
    monkeypatch.setattr(crawl_main, "get_spark", lambda *a, **k: spark)
    with pytest.raises(SystemExit) as exc:
        crawl_main.main(
            ["--fixture", "--retract", "https://x.example/",
             "--checkpoint", str(tmp_path)]
        )
    assert exc.value.code == 2
    assert "existing committed checkpoint" in capsys.readouterr().err


def test_checks_survive_python_O():
    """The same checks in an optimized interpreter (asserts stripped):
    one CLI argument error and one engine precondition."""
    cli = subprocess.run(
        [sys.executable, "-O", CRAWL_MAIN,
         "--fixture", "--retract", "https://x.example/"],
        capture_output=True, text=True, timeout=120,
    )
    assert cli.returncode == 2, cli.stderr
    assert "requires --checkpoint" in cli.stderr
    engine = subprocess.run(
        [sys.executable, "-O", "-c",
         "from goto_eater_crawler_spark.plans.crawl import CrawlConfig, "
         "CrawlEngine\n"
         "try:\n"
         "    CrawlEngine.resume(None, None, None, CrawlConfig())\n"
         "except ValueError as e:\n"
         "    print('ValueError', e)\n"],
        capture_output=True, text=True, timeout=120, cwd=REPO,
    )
    assert engine.returncode == 0, engine.stderr
    assert "ValueError resume requires checkpoint_dir" in engine.stdout
