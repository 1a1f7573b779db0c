"""SparkSession factory with the engine's tuned defaults.

Local sandbox runs on ``local[N]`` (single JVM); the same config block
is what we'd pass to ``spark-submit --py-files engine.zip`` on a real
multi-executor cluster — AQE on (runtime re-plan + skew-join
splitting), Arrow on (every UDF in this engine is Arrow-batched),
UTC session timezone (oracle comparisons against DuckDB are UTC-naive),
and a whole-stage codegen class cache that holds a crawl round's
generated classes, so a repeated round reuses them instead of
recompiling.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Checkpoint/scratch space lives inside the repo unless overridden.
DEFAULT_WAREHOUSE = os.environ.get(
    "CRAWLER_WAREHOUSE", "/root/repo/.warehouse"
)

# G1 region sizing for the Arrow-batch allocation pattern (see the
# maxRecordsPerBatch comment below); appended to, never replacing,
# caller-provided driver JVM options.
_DEFAULT_DRIVER_JAVA_OPTS = "-XX:G1HeapRegionSize=32m"


def _default_local_dir() -> str:
    """tmpfs shuffle scratch when available, else Spark's default."""
    env = os.environ.get("SPARK_LOCAL_DIR")
    if env:
        return env
    if os.path.isdir("/dev/shm"):
        return "/dev/shm/spark-local"
    return os.path.join(os.environ.get("TMPDIR", "/tmp"), "spark-local")


def get_spark(
    app_name: str = "goto-eater-crawler-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine defaults.

    Parameters mirror what the bench harness varies: ``master``
    (``local[8]`` vs ``local[32]`` for the two-parallelism scaling
    protocol in BASELINE.md) and ``shuffle_partitions`` (sized to
    cores locally; on a real cluster ~2-3x total executor cores).

    Session-wide conf caveat (ADVICE r3 #4): constructing an
    ``IcebergStore`` in v1 session-catalog mode sets
    ``spark.sql.sources.partitionOverwriteMode=dynamic`` on THIS
    session for its lifetime (the crawl loop's concurrent
    materialization threads rule out a per-write toggle). Any other
    writer sharing the session that relies on STATIC ``INSERT
    OVERWRITE`` (full-table truncate) must set the mode explicitly on
    its own write via the DataFrameWriter option
    ``.option("partitionOverwriteMode", "static")``, which overrides
    the session conf per-write without racing it.
    """
    # Make the engine importable in executor Python workers no matter
    # where the driver script lives: the equivalent of
    # ``spark-submit --py-files engine.zip`` for plain-python drivers.
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    # glibc malloc tuning for the python workers (inherited JVM ->
    # pyspark.daemon -> workers): pandas/Arrow create fresh >128KB
    # temporaries per batch, which default glibc mmap()s and munmap()s
    # every time — the kernel page-fault + zero path degrades ~2.6x
    # under 8-way concurrency on this host (measured, BASELINE.md
    # round 3) while resident-buffer streaming scales at 0.94. Raising
    # the mmap/trim thresholds keeps batch temporaries in the arena:
    # +50-70% on the alloc-churn microbench, at the cost of workers
    # retaining freed arena memory (bounded; fine at 128 GiB).
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", str(256 * 1024 * 1024))
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", str(256 * 1024 * 1024))
    py_path = os.environ.get("PYTHONPATH", "")
    if repo_root not in py_path.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{repo_root}{os.pathsep}{py_path}" if py_path else repo_root
        )

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else cpus
        shuffle_partitions = 32 if n == "*" else max(int(n), 4)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Size post-shuffle partitions to the DATA, not the core count
        # (round 4). parallelismFirst=true (the Spark default, and this
        # engine's default through round 3) coalesces only down to the
        # core count, so every slim post-extract shuffle becomes
        # cores-many tiny tasks whose fixed per-task cost dominates —
        # the measured single-JVM "inflation": summed task CPU of the
        # post-extract stages nearly DOUBLED from 2 to 8 cores on the
        # same input (BASELINE.md round-4 profiling). Size-first
        # coalescing cut the steady round ~30% at BOTH parallelism
        # levels (64.3->44.9 s at 2 cores, 31.2->22.2 s at 8) and the
        # heavy-query set ~20% at sf0.1 (dedup_clusters 12.8->6.3 s).
        # The round-1 concern that a size floor serializes CPU-heavy
        # shuffles no longer binds: those shuffles got cheap (Catalyst
        # canonicalization, fast_urljoin), and 64m advisory still
        # splits anything that matters at scale.
        # 16m advisory: equal to 64m on the sf0.1 query suite (37.6 vs
        # 38.4 s heavy set) but keeps the steady round's 100-200 MB
        # join shuffles at ~8-12 tasks instead of 2-4 — the 4x-web
        # 8-core leg measured 75.6 s @16m vs 81.4 s @64m.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # html bodies make default 10k-row Arrow batches ~10MB — G1
        # humongous allocations (> half the 16MB region) that fragment
        # old gen and trigger GC storms under 32 concurrent streams.
        # Smaller batches + bigger regions keep them in young gen.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.session.timeZone", "UTC")
        # html bodies are KB-scale binaries: keep scan splits moderate
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # broadcast threshold: frontier rounds and dim tables are small;
        # AQE converts to broadcast at runtime when under this.
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # One crawl round generates ~150-240 distinct codegen classes
        # (~155 in the bench's steady round, 175-190 per 12-family
        # fixture round, 200-240 in a one-round small-web crawl), more
        # than the default 100-entry LRU cache holds, so each round
        # evicted what the next, identically planned round needed and
        # re-ran Janino (12-16 ms a class) and then the JIT on the
        # fresh classes. 1000 entries hold several rounds' variants
        # plus the other queries of a session. A static conf: it only
        # applies when the JVM starts, and it changes no plan or result.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # The engine's BOUNDED-relation windows partition by lit(0)
        # (queries._W0): identical single-partition semantics to an
        # empty partition spec, but the plan STATES the relation is
        # bounded and WindowExec's "No Partition Defined" warning —
        # which on an unbounded input flags a genuine scale defect —
        # stays meaningful (zero occurrences expected; VERDICT r4 ask
        # #4). EliminateWindowPartitions would constant-fold the
        # lit(0) away and turn the spec empty again, so it is
        # excluded; it has no other use in this engine (no other
        # foldable partition keys exist).
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer."
            "EliminateWindowPartitions",
        )
        # Shuffle scratch on tmpfs: the bypass-merge writer opens
        # numPartitions files per map task; on the sandbox's virtio
        # ext4, concurrent file creates serialize and stall whole
        # stages (threads stuck in FileOutputStream.open). tmpfs makes
        # creates ~free; the sort writer keeps the file count at
        # 2/task instead of numPartitions/task. SPARK_LOCAL_DIR
        # overrides; when /dev/shm is absent (some containers) fall
        # back to the system default so big shuffles spill to disk
        # instead of competing with executor heap for RAM.
        .config("spark.local.dir", _default_local_dir())
        .config("spark.shuffle.sort.bypassMergeThreshold", "8")
        .config("spark.ui.enabled", "false")
        # no console progress bars: their \r-spam competes with the
        # bench's single JSON result line in captured output
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
        .config("spark.sql.warehouse.dir", DEFAULT_WAREHOUSE)
    )
    extra = dict(extra_conf or {})
    # append (not clobber) driver JVM options: caller options are
    # honored alongside the engine's G1 region sizing
    user_opts = extra.pop("spark.driver.extraJavaOptions", "")
    builder = builder.config(
        "spark.driver.extraJavaOptions",
        f"{_DEFAULT_DRIVER_JAVA_OPTS} {user_opts}".strip(),
    )
    for k, v in extra.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
