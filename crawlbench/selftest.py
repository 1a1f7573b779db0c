"""Self-test of the benchmark.

    python3 crawlbench/selftest.py --workload durable_resume [--seed 7]

Run from the root of a checkout. It checks that

- the metric names and units in ``crawlbench/metrics.py`` are those of
  ``BENCHMARK.json``;
- one untraced and two traced runs of the workload, with the same
  seed, exit 0, are correct and print exactly those names and units;
- the per-layer row counts (``metrics.ROW_COUNTS``) repeat exactly
  across the two traced runs.

``crawl.jobs_per_round`` and ``crawl.tasks_per_round`` are printed as
observed, not compared: identical crawls were seen to differ by a
job or two. ``trace.coverage`` and ``trace.overhead`` are printed too.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from crawlbench import metrics  # noqa: E402


def _declared() -> tuple[dict, dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return (
        {m["name"]: m["unit"] for m in bench["end_to_end"]},
        {m["name"]: m["unit"] for m in bench["per_layer"]},
    )


def _run(workload: str, seed: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "1", "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        raise SystemExit(f"{' '.join(cmd)} exited {out.returncode}:\n{out.stderr[-3000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=7)
    args = p.parse_args()

    errors = []
    end_to_end, per_layer = _declared()
    if end_to_end != metrics.END_TO_END:
        errors.append("end-to-end metrics differ from BENCHMARK.json")
    if per_layer != metrics.PER_LAYER:
        errors.append("per-layer metrics differ from BENCHMARK.json")

    runs = [(0, _run(args.workload, args.seed, 0))]
    runs += [(1, _run(args.workload, args.seed, 1)) for _ in range(2)]
    for trace, res in runs:
        want = per_layer if trace else end_to_end
        got = {k: v["unit"] for k, v in res["metrics"].items()}
        if not res["correct"] or res["failed"]:
            errors.append(f"trace {trace}: run not correct: {res}")
        if got != want:
            errors.append(f"trace {trace}: printed {got}, declared {want}")
    a, b = (res["metrics"] for _, res in runs[1:])
    for k in metrics.ROW_COUNTS:
        if a[k]["value"] != b[k]["value"]:
            errors.append(f"{k}: {a[k]['value']} then {b[k]['value']}")
    for k in ("crawl.jobs_per_round", "crawl.tasks_per_round", "trace.coverage",
              "trace.overhead"):
        print(f"{k}: {a[k]['value']}, {b[k]['value']}")
    for e in errors:
        print("FAIL", e)
    print("selftest", "failed" if errors else "passed", args.workload)
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
