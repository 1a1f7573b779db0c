"""Benchmark inputs: generated webs cached by parameters, plus the
seeded tables each workload hands to the engine.

A page corpus is generated once per parameter set and cached as
parquet under the benchmark's cache directory. The seed never changes
a cached corpus; it changes the small tables built per run:

- the host -> crawl-delay assignment;
- the order of the seed and robots rows.

Every seed gives the same output sizes, so one set of pinned counts
checks every run.
"""

from __future__ import annotations

import os
import random
import shutil
from dataclasses import dataclass

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

from goto_eater_crawler_spark.sources import benchweb, webgen


@dataclass(frozen=True)
class BenchWeb:
    """Parameters of ``benchweb.gen_bench_web``; host 0 is the hot host."""

    hosts: int
    lists: int
    details: int
    hot: int

    @property
    def tag(self) -> str:
        return f"h{self.hosts}_l{self.lists}_d{self.details}_x{self.hot}"

    @property
    def list_pages(self) -> int:
        return self.lists * (self.hot + self.hosts - 1)

    @property
    def detail_pages(self) -> int:
        return self.list_pages * self.details

    def generate(self, spark: SparkSession) -> DataFrame:
        return benchweb.gen_bench_web(
            spark, self.hosts, self.lists, self.details, self.hot
        )

    def steady_frontier(self, spark: SparkSession) -> DataFrame:
        return benchweb.steady_state_frontier(
            spark, self.hosts, self.lists, self.details, self.hot
        )


# bench.py's bench web with 40 of its 300 hosts: 49,490 pages. A larger
# round does not fit the run budget (see NOTES.md).
STEADY_WEB = BenchWeb(hosts=40, lists=10, details=100, hot=10)
# At round_budget=30 host 0 (30 lists, 90 pages, pinned 1.0 s delay)
# may fetch 30 a round, so the quota cuts rounds 2 and 3. The other
# hosts hold 6 pages each and end in round 3 at any delay up to 4.0 s.
DURABLE_WEB = BenchWeb(hosts=16, lists=2, details=2, hot=15)
DURABLE_BUDGET = 30.0


def _cached(cache_dir: str, name: str, build) -> str:
    """Parquet path of ``build()``, written once; ``_SUCCESS`` marks it done."""
    path = os.path.join(cache_dir, name)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(path, ignore_errors=True)
        build().write.parquet(tmp)
        os.rename(tmp, path)
    return path


def steady_pages(spark: SparkSession, cache_dir: str) -> str:
    return _cached(
        cache_dir,
        f"steady_{STEADY_WEB.tag}",
        lambda: STEADY_WEB.generate(spark).repartition(8),
    )


def durable_pages(spark: SparkSession, cache_dir: str) -> str:
    """The 12-family fixture web plus the small bench web."""
    return _cached(
        cache_dir,
        f"durable_fixture_{DURABLE_WEB.tag}",
        lambda: webgen.pages_df(spark, webgen.build_fixture_web()[0])
        .unionByName(DURABLE_WEB.generate(spark))
        .coalesce(2),
    )


def ensure(spark: SparkSession, cache_dir: str) -> None:
    """Generate every workload's web, so only the first run in a
    checkout generates any."""
    steady_pages(spark, cache_dir)
    durable_pages(spark, cache_dir)


def read_pages_local(path: str) -> dict[str, bytes]:
    """url -> html of a cached web, read without Spark."""
    t = pq.read_table(path, columns=["url", "html"])
    return dict(zip(t.column("url").to_pylist(), t.column("html").to_pylist()))


def bench_robots(web: BenchWeb, rng: random.Random) -> list[dict]:
    """``benchweb.bench_robots`` with the delays of hosts 1.. shuffled
    and the rows in seeded order. Host 0 keeps the shortest delay, so
    its quota tail (and the round count) is the same for every seed."""
    rows = benchweb.bench_robots(web.hosts)
    rest = [r["crawl_delay"] for r in rows[1:]]
    rng.shuffle(rest)
    for r, d in zip(rows[1:], rest):
        r["crawl_delay"] = d
    rng.shuffle(rows)
    return rows


def durable_tables(rng: random.Random) -> tuple[list[dict], list[dict]]:
    """(seeds, robots) of the durable crawl: the fixture web's plus the
    small bench web's, in seeded order."""
    _, seeds, robots = webgen.build_fixture_web()
    seeds = seeds + benchweb.bench_seeds(DURABLE_WEB.hosts)
    robots = robots + bench_robots(DURABLE_WEB, rng)
    rng.shuffle(seeds)
    rng.shuffle(robots)
    return seeds, robots
