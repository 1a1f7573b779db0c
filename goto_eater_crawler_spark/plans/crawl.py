"""The crawl driver loop — batch fetch rounds with atomic checkpoints.

Execution model (SURVEY.md §4.2): the reference's continuous polite
crawl (Scrapy event loop, 4-5 h nightly) becomes a driver-side loop of
batch rounds; each round is one Spark job DAG:

    frontier_r
      -> robots filter                     (P4/T2)
      -> per-host quota window             (A6/W1, salted)
      -> fetch join vs pages               (J1)
      -> mapInPandas extract               (records ∪ links)
      -> link canonicalize + intra-round dedup (P6/A4)
      -> bloom-accelerated seen anti-join  (P7/U2)
      -> commit round atomically           (T6)

Determinism contract (shared with the test oracle): within a round,
hosts fetch their URLs in (priority desc, depth asc, canonical_url
asc) order; global crawl order ``fetch_seq`` enumerates fetched URLs
by (round, host, rank_in_host). The seen set is keyed by canonical
URL; a URL is "seen" from the moment it is scheduled (Scrapy
dupefilter semantics — fingerprints are recorded at enqueue time).

Retries: fetch misses re-enqueue with ``retry_count + 1`` and decayed
priority until ``max_retries`` (reference: RETRY_TIMES = 8
settings.py:119, exponential backoff + jitter middlewares.py:109-130 —
wall-clock backoff has no meaning against a static pages table, so the
backoff becomes deterministic priority decay with hash-derived jitter,
no random()), then dead-letter.

Checkpointing (T6): with ``checkpoint_dir`` set, every round writes
frontier / seen-delta / bloom blocks / records / fetch_log as parquet
under ``rounds/round=NNNN/`` and commits by writing ``manifest.json``
LAST — the manifest is the atomic commit mark; a crashed round leaves
no manifest and is invisible to resume. ``CrawlEngine.resume`` picks
up from the greatest committed round with identical state.

On a real cluster the same loop runs unchanged via
``spark-submit --py-files engine.zip``; round state flows through the
pluggable :mod:`~goto_eater_crawler_spark.plans.store` TableStore —
``checkpoint_dir=None`` (memory), a path (parquet + manifest-last),
or ``iceberg:<catalog.db.prefix>`` (Iceberg tables, commit = manifest
append; jars absent in this sandbox so only construction is gated).
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.urltools import host_col, with_url_identity
from ..operators.dedup import BloomParams, build_blocks, split_new_urls, update_blocks
from ..operators.extract import run_extract, split_pages, split_records_links
from ..operators.fetch import FETCH_STRATEGIES, fetch_join
from ..operators.politeness import (
    domains_dim,
    offsite_split,
    priority_col,
    quota_split,
    robots_split,
    with_crawl_delay,
)
from ..schema import (
    BLOOM_BLOCK_SCHEMA,
    FEED_EXPORT_FIELDS,
    FETCH_LOG_SCHEMA,
    FRONTIER_SCHEMA,
)
from .store import make_store

FRONTIER_COLS = [f.name for f in FRONTIER_SCHEMA.fields]
LOG_COLS = [f.name for f in FETCH_LOG_SCHEMA.fields]

SEEN_SCHEMA = T.StructType(
    [
        T.StructField("canonical_url", T.StringType(), False),
        T.StructField("url_hash", T.LongType(), False),
    ]
)


# Misra-Gries counters per partition behind ``hot_hosts_k``: the
# sketch is EXACT (max_err 0) whenever a round touches fewer distinct
# hosts than this, which keeps resume/metric parity at test scale
# while the memory stays bounded at any frontier size.
HOT_HOSTS_CAPACITY = 4096


@dataclass
class CrawlConfig:
    round_budget: float = 60.0  # seconds of per-host politeness budget
    max_rounds: int = 64
    max_retries: int = 8  # reference settings.py:119
    # partitioned bloom filter fronting the exact seen table: a
    # "definitely new" verdict skips the exact anti-join, a "maybe
    # seen" one is confirmed against it, so the filter only speeds up
    # the check and never changes its answer
    bloom: BloomParams = field(default_factory=BloomParams)
    # fetch join plan, one of operators/fetch.FETCH_STRATEGIES
    fetch_strategy: str = "auto"
    checkpoint_dir: str | None = None
    assign_fetch_seq: bool = True
    quota_salts: int = 8
    # source -> allowed_domains (P4 offsite scope; Scrapy's
    # OffsiteMiddleware). None disables the filter.
    allowed_domains: dict[str, tuple[str, ...]] | None = None
    # optional (host, rank) DataFrame (operators/hostrank.host_rank):
    # when set, frontier priority = rank x W - depth (north_rule O3)
    # instead of the flat default. Pinned once at engine construction.
    host_ranks: object | None = None  # DataFrame; object avoids import cycle
    # global per-round fetch capacity across ALL hosts — the
    # reference's CONCURRENT_REQUESTS global cap (settings.py:24, T7)
    # in round form. With host_ranks set, this is where rank drives
    # CROSS-host scheduling: the global cut is a top-K by priority.
    round_capacity: int | None = None
    # per-round hot-host detection via the Misra-Gries sketch
    # (operators/sketches.heavy_hitters — VERDICT r3 ask #8): when
    # set, each round's metrics carry ``hot_hosts`` = the top-k
    # (host, lower-bound count) pairs over that round's fetched rows
    # plus the sketch's global error bound (HOT_HOSTS_CAPACITY
    # counters per partition). None = off (default); else >= 1.
    hot_hosts_k: int | None = None


@dataclass
class CrawlResult:
    records: DataFrame
    fetch_log: DataFrame
    seen: DataFrame
    metrics: list[dict]
    # final bloom blocks — what a continuation (retract + run_rounds)
    # resumes from
    blocks: DataFrame


def _bloom_shape(params: BloomParams) -> list[int]:
    """The bloom shape a manifest records, as its JSON reads back."""
    return [params.n_blocks, params.m_bits, params.k]


def _valid_url() -> F.Column:
    """Only http(s) URLs with a parseable host enter the frontier —
    the analogue of Scrapy's download-handler scheme set + offsite
    middleware. Null canonical URLs must never reach the frontier:
    null join keys silently fall out of the anti-join dedup paths.
    """
    return (
        F.col("canonical_url").isNotNull()
        & F.col("host").isNotNull()
        & (F.col("host") != "")
        & (
            F.col("canonical_url").startswith("http://")
            | F.col("canonical_url").startswith("https://")
        )
    )


def assign_fetch_seq(
    fetched_pages: DataFrame, round_no: int, fetch_seq_offset: int
) -> DataFrame:
    """Global crawl-order sequence (W3) over a round's fetched pages —
    scalable: NO partition-less window anywhere.

    (1) rank within host via a PARTITIONED window,
    (2) per-host offsets via a cumsum over the per-host COUNTS
        relation (one row per host — orders of magnitude smaller than
        the fetch log; the only single-task step sees #hosts rows,
        never #urls),
    (3) join the offsets back (AQE broadcasts when small).
    Total order produced = (host asc, rank_in_host asc) — identical to
    a global window, without funnelling the round's log through one
    task. Plan-shape pinned by tests/test_crawl_e2e.py.
    """
    host_w = Window.partitionBy("host").orderBy("rank_in_host")
    ranked = fetched_pages.withColumn("_rn", F.row_number().over(host_w))
    off_w = (
        # the offsets relation is one row per HOST, not per URL —
        # lit(0) partitioning states the bound in the plan
        Window.partitionBy(F.lit(0))
        .orderBy("host")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        ranked.groupBy("host")
        .agg(F.count("*").alias("_n"))
        .select(
            "host",
            F.coalesce(F.sum("_n").over(off_w), F.lit(0)).alias("_off"),
        )
    )
    return ranked.join(offsets, "host").select(
        F.lit(round_no).alias("round"),
        (
            (F.col("_rn") + F.col("_off")).cast("long") + F.lit(fetch_seq_offset)
        ).alias("fetch_seq"),
        "url",
        "canonical_url",
        "url_hash",
        "host",
        "depth",
        F.lit("fetched").alias("status"),
    )


def _log_rows(df: DataFrame, round_no: int, status: str) -> DataFrame:
    return df.select(
        F.lit(round_no).alias("round"),
        F.lit(None).cast("long").alias("fetch_seq"),
        F.col("url"),
        F.col("canonical_url"),
        F.col("url_hash"),
        F.col("host"),
        F.col("depth"),
        F.lit(status).alias("status"),
    )


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        pages: DataFrame,
        robots: DataFrame,
        config: CrawlConfig | None = None,
    ):
        self.spark = spark
        self.pages = pages
        # Pin the robots dim to JVM-resident blocks ONCE. It is
        # broadcast twice per round (robots filter + crawl-delay join);
        # a createDataFrame(list)-backed plan would re-evaluate its
        # python parallelize lineage through python workers on every
        # broadcast — the stalls dwarf the broadcast itself.
        self.robots = robots.localCheckpoint(eager=True)
        self.cfg = config or CrawlConfig()
        # round state goes through the pluggable TableStore (T6):
        # memory / parquet+manifest / Iceberg — plans/store.py
        self.store = make_store(spark, self.cfg.checkpoint_dir)
        # offsite dim pinned ONCE like the robots dim (it broadcasts
        # every round)
        self.domains = (
            domains_dim(spark, self.cfg.allowed_domains)
            if self.cfg.allowed_domains
            else None
        )
        # host-rank dim likewise pinned once (broadcast per round at
        # seed + link priority assignment)
        self.host_ranks = (
            self.cfg.host_ranks.localCheckpoint(eager=True)
            if self.cfg.host_ranks is not None
            else None
        )
        if not isinstance(self.cfg.bloom, BloomParams):
            raise ValueError(
                f"bloom must be a BloomParams, got {self.cfg.bloom!r}"
            )
        if self.cfg.fetch_strategy not in FETCH_STRATEGIES:
            raise ValueError(
                f"fetch_strategy must be one of {FETCH_STRATEGIES}, "
                f"got {self.cfg.fetch_strategy!r}"
            )
        if self.cfg.hot_hosts_k is not None and self.cfg.hot_hosts_k < 1:
            raise ValueError(
                f"hot_hosts_k must be None or >= 1, got {self.cfg.hot_hosts_k!r}"
            )

    def _prioritize(self, df: DataFrame) -> DataFrame:
        """priority column: host-rank-driven (O3: rank x W - depth)
        when ranks are supplied, flat default otherwise. Requires
        host/depth columns."""
        if self.host_ranks is None:
            return df.withColumn("priority", priority_col())
        from ..operators.hostrank import with_host_rank

        return with_host_rank(df, self.host_ranks)

    # -- seed prep ----------------------------------------------------

    def seed_frontier_df(self, seeds: DataFrame) -> DataFrame:
        """Seed from a DataFrame of (url, source, parse_family, depth,
        retry_count, meta) — the 10^10-scale path where seeds live in a
        table, not a driver list."""
        df = self._prioritize(with_url_identity(seeds)).filter(_valid_url())
        w = Window.partitionBy("canonical_url").orderBy("url")
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
            .select(*FRONTIER_COLS)
        )

    def seed_frontier(self, seed_rows: list[dict]) -> DataFrame:
        df = self.spark.createDataFrame(
            [
                {
                    "url": s["url"],
                    "source": s["source"],
                    "parse_family": s["parse_family"],
                    "depth": int(s.get("depth", 0)),
                    "retry_count": 0,
                    "meta": s.get("meta") or {},
                }
                for s in seed_rows
            ],
            schema=T.StructType(
                [
                    T.StructField("url", T.StringType(), False),
                    T.StructField("source", T.StringType(), False),
                    T.StructField("parse_family", T.StringType(), False),
                    T.StructField("depth", T.IntegerType(), False),
                    T.StructField("retry_count", T.IntegerType(), False),
                    T.StructField(
                        "meta", T.MapType(T.StringType(), T.StringType()), True
                    ),
                ]
            ),
        )
        # scheduled => seen (dupefilter marks at enqueue); dedup seeds
        return self.seed_frontier_df(df)

    # -- entry points --------------------------------------------------

    def bootstrap(
        self, seed_rows: list[dict] | DataFrame
    ) -> tuple[DataFrame, DataFrame, DataFrame]:
        """Materialize round-0 state (frontier, seen, bloom blocks).
        Separated from the round loop so a steady-state benchmark can
        time rounds alone — a production crawl amortizes this one-time
        bootstrap over thousands of rounds."""
        frontier = (
            self.seed_frontier_df(seed_rows)
            if isinstance(seed_rows, DataFrame)
            else self.seed_frontier(seed_rows)
        )
        seen = frontier.select("canonical_url", "url_hash")
        blocks = build_blocks(seen.select("url_hash"), self.cfg.bloom)
        frontier = self.store.write(frontier, 0, "frontier")
        seen = self.store.write(seen, 0, "seen_delta")
        blocks = self.store.write(blocks, 0, "blocks")
        self.store.commit_round(0, self._manifest(0, 0, []))
        return frontier, seen, blocks

    def _manifest(
        self, round_no: int, fetch_seq_offset: int, metrics: list[dict]
    ) -> dict:
        """A round's commit record. ``bloom`` is the shape the blocks
        table was written with; resume refuses any other."""
        return {
            "round": round_no,
            "fetch_seq_offset": fetch_seq_offset,
            "metrics": metrics,
            "bloom": _bloom_shape(self.cfg.bloom),
        }

    def run_rounds(
        self,
        frontier: DataFrame,
        seen: DataFrame,
        blocks: DataFrame,
    ) -> CrawlResult:
        return self._loop(frontier, seen, blocks, 1, 0, [])

    def run(self, seed_rows: list[dict] | DataFrame) -> CrawlResult:
        frontier, seen, blocks = self.bootstrap(seed_rows)
        return self._loop(frontier, seen, blocks, 1, 0, [])

    @classmethod
    def resume(
        cls,
        spark: SparkSession,
        pages: DataFrame,
        robots: DataFrame,
        config: CrawlConfig,
    ) -> CrawlResult:
        """Resume from the greatest committed round in checkpoint_dir
        (T6 — per-round atomic commit, exact restart)."""
        if not config.checkpoint_dir:
            raise ValueError("resume requires checkpoint_dir")
        eng = cls(spark, pages, robots, config)
        committed = eng.store.committed_rounds()
        if not committed:
            raise ValueError(
                f"nothing committed to resume from in {config.checkpoint_dir}"
            )
        info = eng.store.round_info(committed[-1])
        # the stored bitmaps are only valid under the block count, bit
        # count and k they were built with: probed under others, seen
        # URLs would read as definitely new and be fetched again. A
        # manifest without the key is refused too: its shape is unknown.
        want = _bloom_shape(config.bloom)
        if info.get("bloom") != want:
            raise ValueError(
                f"checkpoint bloom (n_blocks, m_bits, k) is "
                f"{info.get('bloom')}, this engine probes {want}"
            )
        last_no = info["round"]
        frontier = eng.store.read(last_no, "frontier", FRONTIER_SCHEMA)
        seen = eng.store.read_many(committed, "seen_delta", SEEN_SCHEMA)
        blocks = eng.store.read(last_no, "blocks", BLOOM_BLOCK_SCHEMA)
        return eng._loop(
            frontier,
            seen,
            blocks,
            last_no + 1,
            info["fetch_seq_offset"],
            list(info.get("metrics", [])),
        )

    # -- frontier retraction ------------------------------------------

    def retract(
        self,
        seen: DataFrame,
        urls: "list[str] | DataFrame",
    ) -> tuple[DataFrame, DataFrame, DataFrame]:
        """Remove URLs from the seen set mid-crawl so a later round
        re-fetches them. The production trigger is a policy change
        invalidating previously fetched URLs: a robots rule flip, a
        recrawl decision from the CDC diff, a takedown.

        Path: canonicalize ``urls`` -> keep only rows actually in
        ``seen`` -> anti-join them out of the exact table -> rebuild
        the bloom blocks from the updated exact table. A bloom bitmap
        cannot delete, and retraction is a rare maintenance operation,
        so one full rebuild pass replaces a deletable filter.

        Persistent store: the committed seen deltas are REWRITTEN
        minus the retracted rows (compaction with a filter — the
        union-of-deltas read model has no tombstones) and the rebuilt
        blocks land under the latest committed round, so resume()
        observes the retraction exactly.

        Returns (seen', blocks', retracted) where ``retracted`` is the
        (canonical_url, url_hash) rows actually removed.
        """
        if isinstance(urls, list):
            urls = self.spark.createDataFrame(
                [(u,) for u in urls], "url string"
            )
        retracted = (
            with_url_identity(urls)
            .select("canonical_url", "url_hash")
            .distinct()
            .join(seen, ["canonical_url", "url_hash"], "left_semi")
            .localCheckpoint(eager=True)
        )

        def _minus(df: DataFrame) -> DataFrame:
            return df.join(
                retracted.select("canonical_url"), "canonical_url", "left_anti"
            )

        if self.store.persistent:
            self.store.compact("seen_delta", SEEN_SCHEMA, transform=_minus)
            committed = self.store.committed_rounds()
            new_seen = self.store.read_many(committed, "seen_delta", SEEN_SCHEMA)
        else:
            new_seen = _minus(seen)
        # the rebuild reads the REWRITTEN deltas (persistent) or the
        # anti-join (memory), never the pre-compaction files
        new_blocks = build_blocks(new_seen.select("url_hash"), self.cfg.bloom)
        if self.store.persistent:
            new_blocks = self.store.write(new_blocks, committed[-1], "blocks")
        else:
            new_blocks = new_blocks.localCheckpoint(eager=True)
        return new_seen, new_blocks, retracted

    def retract_for_robots(
        self,
        seen: DataFrame,
        robots: DataFrame | None = None,
    ) -> tuple[DataFrame, DataFrame, DataFrame]:
        """The production retraction trigger (the VERDICT r3 scenario):
        a robots.txt rule CHANGE mid-crawl invalidates previously
        fetched URLs. Computes the seen rows that are DISALLOWED under
        ``robots`` (pass the UPDATED dim; defaults to the engine's
        pinned one) using robots_split's exact prefix semantics —
        broadcast dim against the seen table, never a seen shuffle —
        and retracts them through :meth:`retract`. The affected URLs
        leave the seen set (and the bloom blocks), and the round
        loop's robots gate keeps them unfetched for as long as the
        rule stands; if the rule is later relaxed they are simply
        rediscoverable, with no stale seen entry in the way.
        """
        robots = self.robots if robots is None else robots
        seen_hosted = seen.withColumn(
            "host", host_col(F.col("canonical_url"))
        )
        _, disallowed = robots_split(seen_hosted, robots)
        return self.retract(
            seen, disallowed.select(F.col("canonical_url").alias("url"))
        )

    # -- the round loop -------------------------------------------------

    def _loop(
        self,
        frontier: DataFrame,
        seen: DataFrame,
        blocks: DataFrame,
        start_round: int,
        fetch_seq_offset: int,
        metrics: list[dict],
    ) -> CrawlResult:
        pool = ThreadPoolExecutor(max_workers=4, thread_name_prefix="mat")
        try:
            return self._loop_body(
                frontier, seen, blocks, start_round, fetch_seq_offset,
                metrics, pool,
            )
        finally:
            # a failed round must not leak the 4 'mat' threads for the
            # life of the session (repeated failed runs would pool up)
            pool.shutdown(wait=False)

    def _loop_body(
        self,
        frontier: DataFrame,
        seen: DataFrame,
        blocks: DataFrame,
        start_round: int,
        fetch_seq_offset: int,
        metrics: list[dict],
        pool: ThreadPoolExecutor,
    ) -> CrawlResult:
        cfg = self.cfg
        records_parts: list[DataFrame] = []
        log_parts: list[DataFrame] = []
        done_rounds: list[int] = []
        round_no = start_round
        while round_no <= cfg.max_rounds and not frontier.isEmpty():
            allowed, robots_dropped = robots_split(frontier, self.robots)
            selected, _ = quota_split(
                with_crawl_delay(allowed, self.robots),
                cfg.round_budget,
                cfg.quota_salts,
            )
            if cfg.round_capacity is not None:
                # global top-K by (priority desc, host, rank_in_host):
                # a sort-limit compiles to TakeOrderedAndProject —
                # per-partition top-K then a single merge of K rows,
                # never a full global sort. Overflow rows defer.
                selected = selected.orderBy(
                    F.desc("priority"), F.asc("host"), F.asc("rank_in_host")
                ).limit(cfg.round_capacity).localCheckpoint(eager=True)
            selected = selected.persist()
            # deferred = allowed ∖ selected, re-derived from the CACHED
            # selected by one anti-join on canonical_url (the frontier
            # is unique per canonical_url — seed/intra-round/seen dedup
            # all key on it). quota_split's own deferred branch would
            # re-run BOTH politeness windows (and their full-frontier
            # shuffles) inside the next-frontier materialization job,
            # which round-5 profiling measured as the single biggest
            # per-round cost (~10 s/round at the 312k-page bench web —
            # VERDICT r4 ask #5); the anti-join reads the already-warm
            # cache instead and AQE broadcasts the selected keys when
            # they fit. Covers the round_capacity arm too:
            # allowed ∖ cut = (allowed ∖ selected) ∪ (selected ∖ cut).
            deferred = allowed.join(
                selected.select("canonical_url"), "canonical_url", "left_anti"
            )
            fetched, _ = fetch_join(selected, self.pages, cfg.fetch_strategy)
            # the html-bearing join output flows straight into extract
            # and is consumed exactly once — NEVER cached (html rows in
            # the deserialized block store are a GC storm at high
            # parallelism). ``extracted`` is the one persisted round
            # artifact (columnar in-memory cache): records ∪ links ∪
            # per-page fetch-log rows.
            extracted = run_extract(fetched).persist()
            records, links = split_records_links(extracted)
            fetched_pages = split_pages(extracted)
            # misses re-derived from the cached round tables (selected ∖
            # fetched) — never a second scan/join of the pages corpus
            missed = selected.drop("rank_in_host").join(
                fetched_pages.select("canonical_url"), "canonical_url", "left_anti"
            )

            # link identity + intra-round dedup (deterministic keeper:
            # lowest depth, then lexicographic emitting-page url).
            # canonical_url/host come pre-computed from the extract
            # pass (Spark's parse_url is interpreted and re-inlined at
            # every reference — §session.py notes); only the cheap
            # xxhash64 is added JVM-side.
            links = self._prioritize(
                links.withColumn("url_hash", F.xxhash64(F.col("canonical_url")))
            ).withColumn("retry_count", F.lit(0))
            invalid_links = links.filter(~_valid_url())
            links = links.filter(_valid_url())
            if self.domains is not None:
                links, offsite_links = offsite_split(links, self.domains)
            else:
                offsite_links = None
            # partition the intra-round dedup by the 64-bit url_hash
            # FIRST (the engine's universal URL key, north_star
            # seen-set design): the window's shuffle + sort lead on a
            # long (radix-sortable prefix) instead of a ~60-byte
            # string. canonical_url rides along as the second partition
            # key so identity stays EXACT (ADVICE r3 #3): an xxhash64
            # collision between two distinct canonical URLs co-locates
            # them but keeps their windows separate — unlike the seen
            # filter (which exact-confirms downstream), this window has
            # no rescue, so hash-only keying here would silently drop a
            # URL forever.
            w = Window.partitionBy("url_hash", "canonical_url").orderBy(
                "depth", "url"
            )
            links_dedup = (
                links.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .drop("_rn")
                .select(*FRONTIER_COLS)
            )
            new_rows, _, _ = split_new_urls(links_dedup, blocks, seen, cfg.bloom)
            # materialize ONCE; this is the round's heavy job — it
            # computes the whole selected->fetch->extract->dedup chain
            # (upstream persists fill here); everything below reads
            # cached/checkpointed data. The via-counters ride the SAME
            # job as an Observation (CollectMetrics accumulators) —
            # round 2 spent a separate stats job + collect on them.
            obs_via = Observation(f"via_{round_no}")
            new_rows = new_rows.observe(
                obs_via,
                *[
                    F.count(F.when(F.col("via") == v, 1)).alias(v)
                    for v in ("bloom_definite", "bloom_fp")
                ],
            )
            new_rows = self.store.write(new_rows, round_no, "new_rows")

            # retries: miss -> re-enqueue decayed, or dead-letter
            can_retry = F.col("retry_count") + 1 <= F.lit(cfg.max_retries)
            retry_rows = (
                missed.filter(can_retry)
                .withColumn("retry_count", F.col("retry_count") + 1)
                .withColumn(
                    "priority",
                    F.col("priority")
                    - F.col("retry_count")
                    - F.pmod(F.col("url_hash"), F.lit(10000)) / 10000.0,
                )
                .select(*FRONTIER_COLS)
            )
            dead_rows = missed.filter(~can_retry)

            # fetch log: fetched rows get the global crawl-order seq
            if cfg.assign_fetch_seq:
                fetched_log = assign_fetch_seq(
                    fetched_pages, round_no, fetch_seq_offset
                )
            else:
                fetched_log = _log_rows(fetched_pages, round_no, "fetched")
            round_log = fetched_log.select(*LOG_COLS)
            for df, status in (
                (robots_dropped, "robots_dropped"),
                (retry_rows, "retry"),
                (dead_rows, "dead"),
                (invalid_links, "invalid"),
            ):
                round_log = round_log.unionByName(_log_rows(df, round_no, status))
            if offsite_links is not None:
                round_log = round_log.unionByName(
                    _log_rows(offsite_links, round_no, "offsite")
                )

            # next-round state
            next_frontier = deferred.select(*FRONTIER_COLS).unionByName(
                retry_rows
            ).unionByName(new_rows.select(*FRONTIER_COLS))
            seen_delta = new_rows.select("canonical_url", "url_hash")

            # independent checkpoint targets run as concurrent driver
            # jobs (blocks / fetch_log / records / frontier) — per-job
            # fixed latency is the round loop's scaling tax, so walls
            # are overlapped instead of summed.
            new_blocks = update_blocks(
                blocks, seen_delta.select("url_hash"), cfg.bloom
            )
            futs = {
                "blocks": pool.submit(
                    self.store.write, new_blocks, round_no, "blocks"
                )
            }
            # status/record counters ride the materialization jobs as
            # Observations — no separate stats job or extra scan
            obs_log = Observation(f"log_{round_no}")
            round_log = round_log.observe(
                obs_log,
                *[
                    F.count(F.when(F.col("status") == s, 1)).alias(s)
                    for s in ("fetched", "robots_dropped", "offsite", "retry", "dead")
                ],
            )
            obs_rec = Observation(f"rec_{round_no}")
            records = records.observe(obs_rec, F.count(F.lit(1)).alias("n"))
            futs["fetch_log"] = pool.submit(
                self.store.write, round_log, round_no, "fetch_log"
            )
            futs["records"] = pool.submit(
                self.store.write, records, round_no, "records"
            )
            futs["frontier"] = pool.submit(
                self.store.write, next_frontier, round_no, "frontier"
            )
            old_blocks, blocks = blocks, futs["blocks"].result()
            old_blocks.unpersist()
            round_log = futs["fetch_log"].result()
            records = futs["records"].result()
            frontier = futs["frontier"].result()

            # counters came from the Observations riding the
            # materialization jobs above (round 2 ran a separate
            # combined stats job + collect over the checkpointed
            # outputs — one extra job + scan per round). `.get` blocks
            # until the observed job finishes; all three already have.
            via_counts = obs_via.get
            status_counts = obs_log.get
            hot_hosts = None
            if cfg.hot_hosts_k:
                from ..operators.sketches import heavy_hitters

                # sketch over the round's ALREADY-MATERIALIZED fetch
                # log (no recompute of the round chain): per-partition
                # MG counters, O(parts x capacity) rows to the driver-
                # side top-k — never a full per-host groupBy collect.
                hh = heavy_hitters(
                    round_log.filter(F.col("status") == "fetched"),
                    "host",
                    cfg.hot_hosts_k,
                    capacity=HOT_HOSTS_CAPACITY,
                ).collect()
                hot_hosts = [[r["host"], r["n"]] for r in hh]
                hot_hosts_err = hh[0]["max_err"] if hh else 0
            m = {
                "round": round_no,
                "fetched": status_counts["fetched"],
                "robots_dropped": status_counts["robots_dropped"],
                "offsite": status_counts["offsite"],
                "retry": status_counts["retry"],
                "dead": status_counts["dead"],
                "records": obs_rec.get["n"],
                "new_urls": sum(via_counts.values()),
                # zero -> None preserves the round-2 metric shape
                # (key absent when no rows carried that via)
                "bloom_definite_new": via_counts["bloom_definite"] or None,
                "bloom_fp": via_counts["bloom_fp"] or None,
            }
            if hot_hosts is not None:
                m["hot_hosts"] = hot_hosts
                m["hot_hosts_max_err"] = hot_hosts_err
            fetch_seq_offset += m["fetched"]

            if self.store.persistent:
                # resume reads seen deltas per round: persist the slim
                # projection (cheap rewrite of already-materialized
                # rows), then rebuild `seen` as ONE flat multi-path
                # parquet scan of every delta so far — a per-round
                # unionByName fold would grow the plan O(rounds) deep.
                self.store.write(seen_delta, round_no, "seen_delta")
                seen = self.store.read_many(
                    self.store.committed_rounds() + [round_no],
                    "seen_delta",
                    SEEN_SCHEMA,
                )
            else:
                # memory mode: deltas are checkpointed leaves, the
                # union fold stays flat-leaf and is bounded by
                # max_rounds
                seen = seen.unionByName(seen_delta)

            records_parts.append(records)
            log_parts.append(round_log)
            done_rounds.append(round_no)
            metrics.append(m)
            self.store.commit_round(
                round_no, self._manifest(round_no, fetch_seq_offset, metrics)
            )
            selected.unpersist()
            extracted.unpersist()

            round_no += 1

        rec_schema = T.StructType(
            [
                T.StructField("url", T.StringType(), False),
                T.StructField("source", T.StringType(), False),
                T.StructField("item_index", T.IntegerType(), True),
            ]
            + [T.StructField(f, T.StringType(), True) for f in FEED_EXPORT_FIELDS]
        )
        if self.store.persistent and done_rounds:
            # flat assembly: ONE store scan over all committed rounds
            # instead of folding unionByName O(rounds) deep — the
            # result plan is a single scan regardless of round count.
            all_records = self.store.read_many(done_rounds, "records", rec_schema)
            all_log = self.store.read_many(
                done_rounds, "fetch_log", FETCH_LOG_SCHEMA
            )
        else:
            # in-memory mode: parts are localCheckpoint-backed, the
            # fold is bounded by max_rounds (<= 64)
            all_records = self.spark.createDataFrame([], rec_schema)
            for p in records_parts:
                all_records = all_records.unionByName(p)
            all_log = self.spark.createDataFrame([], FETCH_LOG_SCHEMA)
            for p in log_parts:
                all_log = all_log.unionByName(p)
        return CrawlResult(all_records, all_log, seen, metrics, blocks)
