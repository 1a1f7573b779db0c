"""Crawl-engine benchmark: workloads, checks and outside-in tracing.

Entry point: ``python3 crawlbench/run.py --workload <name> --seed <n>
--seconds <s> --trace <0|1>``. See ``crawlbench/NOTES.md``.
"""
