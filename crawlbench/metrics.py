"""Every metric the benchmark prints, with its unit.

``BENCHMARK.json`` lists the same names and units; ``selftest.py``
checks that the two agree.
"""

END_TO_END = {
    "setup_s": "s",
    "cpu_s_per_kurl": "s",
    "peak_rss_mb": "MB",
}

ARTIFACTS = ("new_rows", "blocks", "fetch_log", "records", "frontier", "seen_delta")

PER_LAYER = {
    "crawl.wall_s": "s",
    "crawl.urls_per_s": "1/s",
    "crawl.round_s_p50": "s",
    "crawl.jobs_per_round": "count",
    "crawl.tasks_per_round": "count",
    "crawl.driver_s_per_round": "s",
    "politeness.select_s": "s",
    "politeness.selected_ratio": "ratio",
    "fetch.join_s": "s",
    "fetch.hit_ratio": "ratio",
    "extract.run_s": "s",
    "extract.parse_pages_per_s": "1/s",
    "extract.normalize_rows_per_s": "1/s",
    "extract.records": "count",
    "extract.links": "count",
    "links.dedup_s": "s",
    "links.unique_ratio": "ratio",
    "seen.split_s": "s",
    "seen.update_s": "s",
    "seen.definite_ratio": "ratio",
    "seen.fp_rate": "ratio",
    "seen.confirm_rows": "count",
    **{f"store.write_s.{a}": "s" for a in ARTIFACTS},
    "store.ckpt_wall_s": "s",
    "store.commit_s": "s",
    "store.bytes_written": "bytes",
    "store.manifest_bytes": "bytes",
    "store.resume_read_s": "s",
    "store.resume_s": "s",
    "store.ckpt_bytes_per_url": "bytes",
    "spark.task_failures": "count",
    "trace.coverage": "ratio",
    "trace.unattributed_s": "s",
    "trace.overhead": "ratio",
}

#: per-layer values that are row counts of the replayed round: they
#: must repeat exactly for a fixed seed
ROW_COUNTS = (
    "politeness.selected_ratio",
    "fetch.hit_ratio",
    "extract.records",
    "extract.links",
    "links.unique_ratio",
    "seen.definite_ratio",
    "seen.fp_rate",
    "seen.confirm_rows",
)


def result(metrics: dict, units: dict) -> dict:
    """``{"name": {"value": v, "unit": u}}`` for exactly the names in
    ``units``; a missing name is an error."""
    missing = set(units) - set(metrics)
    if missing:
        raise KeyError(f"metrics not measured: {sorted(missing)}")
    return {k: {"value": metrics[k], "unit": u} for k, u in units.items()}
