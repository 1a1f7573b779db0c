"""Outside-in tracing of the crawl engine.

Spans are recorded only from the benchmark's side of the engine's
seams:

- :class:`TimingStore` wraps the engine's ``TableStore``. Every
  ``write``, read and ``commit_round`` becomes a span; the commits give
  the round boundaries.
- :class:`Tracer` optionally snapshots the Spark job ids at the end of
  each store call (``SparkContext.statusTracker()``, which works with
  the UI off), so jobs, stages and tasks can be attributed to rounds.
- :func:`replay_round` re-runs one captured round through the public
  layer functions with each output checkpointed and timed.

Untraced runs use the same store wrapper without job snapshots: two
clock reads per store call, so both modes see the same round
boundaries.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from crawlbench.metrics import ARTIFACTS
from goto_eater_crawler_spark.operators.dedup import split_new_urls, update_blocks
from goto_eater_crawler_spark.operators.extract import run_extract, split_records_links
from goto_eater_crawler_spark.operators.fetch import fetch_join
from goto_eater_crawler_spark.operators.politeness import (
    priority_col,
    quota_split,
    robots_split,
    with_crawl_delay,
)
from goto_eater_crawler_spark.plans.crawl import FRONTIER_COLS, CrawlEngine, _valid_url

READS = ("read", "read_many", "committed_rounds", "round_info")


@dataclass
class Span:
    kind: str  # "write" | "commit" | one of READS | "leg"
    name: str
    start: float
    end: float
    jobs: frozenset | None = None  # job ids known at ``end`` (traced only)


@dataclass
class Round:
    round_no: int
    start: float
    end: float
    jobs: set = field(default_factory=set)
    spans: list = field(default_factory=list)

    @property
    def wall(self) -> float:
        return self.end - self.start


def union_s(spans: list[Span]) -> float:
    """Seconds covered by at least one span (concurrent writes overlap)."""
    total, cur_s, cur_e = 0.0, None, None
    for s in sorted(spans, key=lambda s: s.start):
        if cur_e is None or s.start > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s.start, s.end
        else:
            cur_e = max(cur_e, s.end)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    """Collects store spans; with ``sc`` set, also job-id snapshots."""

    def __init__(self, sc=None):
        self._status = sc.statusTracker() if sc is not None else None
        self._lock = threading.Lock()
        self.spans: list[Span] = []
        #: seconds spent taking job snapshots (the tracing cost)
        self.snapshot_s = 0.0

    def _jobs(self) -> frozenset | None:
        if self._status is None:
            return None
        t = time.perf_counter()
        jobs = frozenset(self._status.getJobIdsForGroup())
        with self._lock:
            self.snapshot_s += time.perf_counter() - t
        return jobs

    def leg(self, name: str) -> None:
        """Mark the start of a leg (a ``run``/``run_rounds``/``resume`` call)."""
        t = time.perf_counter()
        span = Span("leg", name, t, t, self._jobs())
        with self._lock:
            self.spans.append(span)

    def timed(self, kind: str, name: str, fn, *args):
        start = time.perf_counter()
        try:
            return fn(*args)
        finally:
            end = time.perf_counter()
            span = Span(kind, name, start, end, self._jobs())
            with self._lock:
                self.spans.append(span)

    def rounds(self) -> list[Round]:
        """Rounds >= 1, each bounded by the previous boundary of its leg
        and its own commit. A boundary is the leg start, a commit end,
        or the end of a read that comes before the round's first write
        (resume reads its state before the loop starts)."""
        out: list[Round] = []
        boundary: Span | None = None
        wrote = False
        for s in sorted(self.spans, key=lambda s: s.end):
            if s.kind == "leg":
                boundary, wrote = s, False
            elif s.kind in READS and not wrote:
                boundary = s
            elif s.kind == "write":
                wrote = True
            elif s.kind == "commit":
                round_no = int(s.name)
                if round_no >= 1 and boundary is not None:
                    r = Round(round_no, boundary.end, s.end)
                    r.spans = [
                        x
                        for x in self.spans
                        if x.kind != "leg" and x.start >= r.start and x.end <= r.end
                    ]
                    if s.jobs is not None and boundary.jobs is not None:
                        r.jobs = set(s.jobs - boundary.jobs)
                    out.append(r)
                boundary, wrote = s, False
        return out

    def legs(self) -> list[Span]:
        return [s for s in self.spans if s.kind == "leg"]


class TimingStore:
    """``TableStore`` proxy that records a span per call."""

    def __init__(self, inner, tracer: Tracer):
        self._inner = inner
        self._tracer = tracer
        self.persistent = inner.persistent

    def write(self, df, round_no, name):
        return self._tracer.timed("write", name, self._inner.write, df, round_no, name)

    def read(self, round_no, name, schema):
        return self._tracer.timed("read", name, self._inner.read, round_no, name, schema)

    def read_many(self, rounds, name, schema):
        return self._tracer.timed(
            "read_many", name, self._inner.read_many, rounds, name, schema
        )

    def commit_round(self, round_no, info):
        return self._tracer.timed(
            "commit", str(round_no), self._inner.commit_round, round_no, info
        )

    def committed_rounds(self):
        return self._tracer.timed(
            "committed_rounds", "", self._inner.committed_rounds
        )

    def round_info(self, round_no):
        return self._tracer.timed(
            "round_info", str(round_no), self._inner.round_info, round_no
        )


def engine_class(tracer: Tracer):
    """A ``CrawlEngine`` whose store is wrapped in a :class:`TimingStore`.
    A subclass rather than an instance patch, because ``resume`` builds
    its own engine."""

    class TimedEngine(CrawlEngine):
        def __init__(self, *args, **kwargs):
            super().__init__(*args, **kwargs)
            self.store = TimingStore(self.store, tracer)

    return TimedEngine


def crawl_layer(sc, rounds: list[Round]) -> dict:
    """Per-round job, stage and task counts plus driver time.

    Each stage is counted once, in the first round whose jobs list it
    (a skipped stage reappears in later jobs)."""
    status = sc.statusTracker()
    counted: set[int] = set()
    tasks, failed, jobs, driver = [], 0, [], []
    for r in rounds:
        n_tasks = 0
        for j in sorted(r.jobs):
            info = status.getJobInfo(j)
            if info is None:
                continue
            for sid in info.stageIds:
                if sid in counted:
                    continue
                counted.add(sid)
                st = status.getStageInfo(sid)
                if st is not None:
                    n_tasks += st.numCompletedTasks
                    failed += st.numFailedTasks
        tasks.append(n_tasks)
        jobs.append(len(r.jobs))
        driver.append(r.wall - union_s(r.spans))
    return {
        "crawl.rounds": len(rounds),
        "crawl.jobs_per_round": statistics.fmean(jobs),
        "crawl.tasks_per_round": statistics.fmean(tasks),
        "crawl.driver_s_per_round": statistics.fmean(driver),
        "spark.task_failures": failed,
    }


def store_layer(rounds: list[Round]) -> dict:
    """Per-round store time by artifact, checkpoint wall and commit time."""
    n = len(rounds)
    out = {f"store.write_s.{a}": 0.0 for a in ARTIFACTS}
    ckpt, commit = 0.0, 0.0
    for r in rounds:
        for s in r.spans:
            if s.kind == "write" and s.name in ARTIFACTS:
                out[f"store.write_s.{s.name}"] += (s.end - s.start) / n
            elif s.kind == "commit":
                commit += (s.end - s.start) / n
        # new_rows is where the round's main DAG runs; the checkpoint
        # phase is the writes that follow it
        ckpt += union_s(
            [s for s in r.spans if s.kind == "write" and s.name != "new_rows"]
        ) / n
    out["store.ckpt_wall_s"] = ckpt
    out["store.commit_s"] = commit
    return out


def dir_bytes(path: str, name: str | None = None) -> int:
    """Bytes of the regular files under ``path`` (only files called
    ``name`` when given)."""
    total = 0
    for base, _, files in os.walk(path):
        for f in files:
            if name is None or f == name:
                total += os.path.getsize(os.path.join(base, f))
    return total


def replay_round(
    frontier: DataFrame,
    seen: DataFrame,
    blocks: DataFrame,
    pages: DataFrame,
    robots: DataFrame,
    cfg,
) -> dict:
    """Run one round's layers one after another, each output
    checkpointed and timed; return layer times and row counts.

    Mirrors ``CrawlEngine._loop_body`` for the configuration the
    workloads use: flat priorities, the bloom arm, no offsite filter,
    no recrawl policy. Nothing is written through the crawl's store, so
    a replay never touches its checkpoint."""
    times: dict[str, float] = {}

    def ckpt(layer: str, df: DataFrame) -> DataFrame:
        t = time.perf_counter()
        out = df.localCheckpoint(eager=True)
        times[layer] = times.get(layer, 0.0) + time.perf_counter() - t
        return out

    allowed, _ = robots_split(frontier, robots)
    allowed = ckpt("select", allowed)
    delayed = ckpt("select", with_crawl_delay(allowed, robots))
    selected, _ = quota_split(delayed, cfg.round_budget, cfg.quota_salts)
    selected = ckpt("select", selected)
    fetched, _ = fetch_join(selected, pages, cfg.fetch_strategy)
    fetched = ckpt("fetch", fetched)
    extracted = ckpt("extract", run_extract(fetched))
    records, links = split_records_links(extracted)
    links = (
        links.withColumn("url_hash", F.xxhash64(F.col("canonical_url")))
        .withColumn("priority", priority_col())
        .withColumn("retry_count", F.lit(0))
        .filter(_valid_url())
    )
    w = Window.partitionBy("url_hash", "canonical_url").orderBy("depth", "url")
    dedup = ckpt(
        "links",
        links.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        .select(*FRONTIER_COLS),
    )
    new_rows, _, _ = split_new_urls(dedup, blocks, seen, cfg.bloom)
    new_rows = ckpt("seen_split", new_rows)
    ckpt("seen_update", update_blocks(blocks, new_rows.select("url_hash"), cfg.bloom))

    n_allowed, n_selected, n_fetched = allowed.count(), selected.count(), fetched.count()
    n_links, n_dedup = links.count(), dedup.count()
    via = {
        r["via"]: r["n"]
        for r in new_rows.groupBy("via").agg(F.count("*").alias("n")).collect()
    }
    definite, fp = via.get("bloom_definite", 0), via.get("bloom_fp", 0)
    return {
        "times": times,
        "politeness.select_s": times["select"],
        "politeness.selected_ratio": n_selected / n_allowed,
        "fetch.join_s": times["fetch"],
        "fetch.hit_ratio": n_fetched / n_selected,
        "extract.run_s": times["extract"],
        "extract.records": records.count(),
        "extract.links": n_links,
        "links.dedup_s": times["links"],
        "links.unique_ratio": n_dedup / n_links,
        "seen.split_s": times["seen_split"],
        "seen.update_s": times["seen_update"],
        "seen.definite_ratio": definite / n_dedup,
        "seen.fp_rate": fp / (definite + fp) if definite + fp else 0.0,
        "seen.confirm_rows": n_dedup - definite,
    }
