"""Cluster driver for the crawl engine — the reference's ``main.py``
analogue (E1, SURVEY.md §3: ``python main.py --target a,b``).

Run locally:
    python tools/crawl_main.py --fixture --sources tochigi_like,kochi_like \
        --checkpoint /tmp/crawl_ckpt --out /tmp/crawl_csvs

Run on a cluster (the north_rule shape):
    zip -r engine.zip goto_eater_crawler_spark
    spark-submit --py-files engine.zip tools/crawl_main.py \
        --pages <parquet-or-iceberg-path> --robots <parquet-path> \
        --seeds <json-path> --checkpoint s3://bucket/ckpt --out s3://bucket/csvs

``--resume`` continues from the greatest committed round in the
checkpoint directory (T6 semantics — exact restart).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from goto_eater_crawler_spark.plans.crawl import CrawlConfig, CrawlEngine  # noqa: E402
from goto_eater_crawler_spark.schema import PAGES_SCHEMA, ROBOTS_SCHEMA  # noqa: E402
from goto_eater_crawler_spark.session import get_spark  # noqa: E402
from goto_eater_crawler_spark.sources import webgen  # noqa: E402
from goto_eater_crawler_spark.sources.sinks import write_source_csvs  # noqa: E402


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(description="frontier crawl driver")
    p.add_argument("--pages", help="pages table path (parquet)")
    p.add_argument("--robots", help="robots table path (parquet)")
    p.add_argument("--seeds", help="seed list path (json: [{url,source,parse_family,depth,meta}])")
    p.add_argument("--fixture", action="store_true",
                   help="use the built-in deterministic fixture web")
    p.add_argument("--registry", action="store_true",
                   help="crawl the 49-source registry's fixture sites "
                        "(default source set: the reference main.py "
                        "all-run = registry minus its ignores list)")
    p.add_argument("--sources", default="",
                   help="comma list of sources to crawl (default: all; "
                        "mirrors the reference's --target, main.py:26)")
    p.add_argument("--checkpoint", help="checkpoint dir (enables resume)")
    p.add_argument("--resume", action="store_true",
                   help="resume from the greatest committed round")
    p.add_argument("--out", help="write one sorted CSV per source here")
    p.add_argument("--budget", type=float, default=60.0,
                   help="per-round politeness budget in seconds")
    p.add_argument("--rounds", type=int, default=64, help="max rounds")
    p.add_argument("--master", default=None, help="spark master override")
    p.add_argument("--hot-hosts-k", type=int, default=None,
                   help="per-round top-k hot hosts in the metrics via the "
                        "Misra-Gries sketch (bounded memory at any scale)")
    p.add_argument("--retract", default="",
                   help="comma-separated URLs to retract from the seen set "
                        "of an existing checkpoint (requires --checkpoint; "
                        "runs BEFORE --resume so the resumed crawl can "
                        "re-fetch them)")
    return p


def main(argv=None) -> int:
    parser = build_parser()
    args = parser.parse_args(argv)
    if args.retract and not args.checkpoint:
        parser.error("--retract requires --checkpoint")
    if args.hot_hosts_k is not None and args.hot_hosts_k < 1:
        parser.error(f"--hot-hosts-k must be >= 1, got {args.hot_hosts_k}")
    if not (args.registry or args.fixture) and not (
        args.pages and args.robots and args.seeds
    ):
        parser.error("--pages/--robots/--seeds required without --fixture")

    # pure-python inputs first, so argument errors surface before the
    # JVM starts
    cfg_domains = None
    pages_rows = robots_rows = None
    if args.registry:
        from goto_eater_crawler_spark.sources import registry, registry_fixture

        if args.sources:
            names = args.sources.split(",")
            unknown = set(names) - set(registry.REGISTRY)
            if unknown:
                parser.error(f"unknown sources: {sorted(unknown)}")
        else:
            # reference main.py:25-77 semantics: all minus ignores,
            # restricted to the single-pass fixture corpus
            names = [
                n
                for n in registry.active_sources()
                if n in set(registry_fixture.corpus_sources())
            ]
        pages_rows, seeds, robots_rows = registry_fixture.crawl_fixture(names)
        cfg_domains = registry.allowed_domains_map()
        args.sources = ""  # selection already applied
    elif args.fixture:
        pages_rows, seeds, robots_rows = webgen.build_fixture_web()
    else:
        with open(args.seeds) as f:
            seeds = json.load(f)

    if args.sources:
        wanted = set(args.sources.split(","))
        seeds = [s for s in seeds if s["source"] in wanted]
        if not seeds:
            parser.error(f"no seeds match --sources {args.sources}")

    spark = get_spark("crawl-main", master=args.master)
    if pages_rows is not None:
        pages = webgen.pages_df(spark, pages_rows)
        robots = webgen.robots_df(spark, robots_rows)
    else:
        pages = spark.read.schema(PAGES_SCHEMA).parquet(args.pages)
        robots = spark.read.schema(ROBOTS_SCHEMA).parquet(args.robots)

    cfg = CrawlConfig(
        round_budget=args.budget,
        max_rounds=args.rounds,
        checkpoint_dir=args.checkpoint,
        allowed_domains=cfg_domains,
        hot_hosts_k=args.hot_hosts_k,
    )
    eng = CrawlEngine(spark, pages, robots, cfg)
    if args.retract:
        # frontier retraction against an existing checkpoint: rewrites
        # the committed seen deltas and rebuilds the bloom blocks, so
        # a subsequent --resume (this invocation or a later one) can
        # re-discover and re-fetch the URLs.
        from goto_eater_crawler_spark.plans.crawl import SEEN_SCHEMA

        committed = eng.store.committed_rounds()
        if not committed:
            parser.error("--retract needs an existing committed checkpoint")
        seen = eng.store.read_many(committed, "seen_delta", SEEN_SCHEMA)
        _, _, retracted = eng.retract(seen, args.retract.split(","))
        print(json.dumps({"retracted": retracted.count()}))
        if not args.resume:
            # maintenance-only invocation: the checkpoint is rewritten;
            # a fresh run() would bootstrap over it and re-mark the
            # URLs seen, so stop here (resume later re-fetches them).
            spark.stop()
            return 0
    res = (
        CrawlEngine.resume(spark, pages, robots, cfg)
        if args.resume
        else eng.run(seeds)
    )

    for m in res.metrics:
        print(json.dumps(m))
    if args.out:
        write_source_csvs(res.records, args.out)
        print(f"wrote CSVs to {args.out}")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
