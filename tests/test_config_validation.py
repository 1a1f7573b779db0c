"""User config is validated with exceptions, not ``assert``: every
check below must still fire under ``python -O``, which strips asserts.

Engine checks raise ValueError; the CLI driver's argument checks go
through ``argparse``'s ``parser.error`` (exit status 2)."""

from __future__ import annotations

import importlib.util
import os
import subprocess
import sys

import pytest

from goto_eater_crawler_spark.plans.crawl import CrawlConfig, CrawlEngine
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


def test_unknown_recrawl_policy_raises(spark, tiny_web):
    with pytest.raises(ValueError, match="recrawl_policy"):
        CrawlEngine(spark, *tiny_web, CrawlConfig(recrawl_policy="bogus"))


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
