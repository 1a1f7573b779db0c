"""Run one workload of the crawl-engine benchmark and print its result.

    python3 crawlbench/run.py --workload steady_round --seed 1 \\
        --seconds 20 --trace 0

Run from the root of a checkout. The last line of standard output is
one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``, the end-to-end metrics with ``--trace 0`` and the
per-layer metrics with ``--trace 1``. The generated webs are cached
under ``crawlbench/.cache``; everything else a run writes goes to
``crawlbench/.work``, which each run empties first.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(HERE, ".cache")
WORK = os.path.join(HERE, ".work")
DRIVER_MEMORY = "6g"


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _env() -> None:
    """Keep every file a run writes inside the benchmark's directory."""
    shutil.rmtree(WORK, ignore_errors=True)
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(WORK, d))
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # the JVM that spark-submit starts to build the driver command
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    os.environ["SPARK_LOCAL_DIR"] = os.path.join(WORK, "spark-local")
    os.environ["CRAWLER_WAREHOUSE"] = os.path.join(WORK, "warehouse")
    sys.path.insert(0, ROOT)


def _stop(spark) -> None:
    """Stop Spark, then wait for the JVM and its Python workers to end."""
    from pyspark import SparkContext

    from crawlbench import procfs

    started = procfs.tree()[1:]
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)
    # the Python workers outlive the JVM briefly, reparented away from
    # this process
    deadline = time.monotonic() + 60
    while any(procfs.alive(pid) for pid in started):
        if time.monotonic() > deadline:
            raise RuntimeError(f"processes still running: {started}")
        time.sleep(0.1)


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isdir(os.path.join(ROOT, "goto_eater_crawler_spark")):
        print(f"no crawl engine next to {HERE}", file=sys.stderr)
        return 2
    t0 = time.perf_counter()
    _env()
    from crawlbench import metrics, webs, workloads
    from goto_eater_crawler_spark.session import get_spark

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    spark = get_spark(
        "crawlbench",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.driver.extraJavaOptions": (
                f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
            ),
            # keep every job and stage of a run for the trace
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    try:
        webs.ensure(spark, CACHE)
        ctx = workloads.Ctx(
            spark, WORK, CACHE, args.seed, args.seconds, bool(args.trace), session_s
        )
        values = workloads.WORKLOADS[args.workload](ctx)
    finally:
        _stop(spark)
    units = metrics.PER_LAYER if args.trace else metrics.END_TO_END
    print(
        json.dumps(
            {
                "correct": ctx.failed == 0,
                "attempted": ctx.attempted,
                "failed": ctx.failed,
                "metrics": metrics.result(values, units),
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
