"""Local stand-in for the driver's correctness gate: run every
queries() entry via Spark AND its oracle_sql() via DuckDB on the same
parquet dir, compare row count, column names, and order-insensitive
values (floats rounded in-query on both sides).

usage: python tools/check_oracle.py [sf_dir] [name ...]

Names that are not registered are rejected (exit 2) before Spark
starts.
"""

from __future__ import annotations

import math
import sys

sys.path.insert(0, ".")


def norm_cell(v):
    import datetime as dt

    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v + 0.0:.6f}" if v == 0 else f"{v:.6f}"  # -0.0 == +0.0
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(norm_cell(x) for x in v)
    return v


def main():
    import duckdb

    from goto_eater_crawler_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    unknown = sorted(only - qs.keys())
    if unknown:
        print(f"unknown gate names: {' '.join(unknown)}", file=sys.stderr)
        sys.exit(2)

    spark = get_spark("check-oracle", master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    import time

    failures = []
    attempted = 0
    gate_secs: dict[str, float] = {}
    t_all = time.perf_counter()
    for name, fn in qs.items():
        if only and name not in only:
            continue
        attempted += 1
        t_gate = time.perf_counter()
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as e:
            failures.append((name, f"spark error: {e}"))
            print(f"FAIL {name}: spark error {str(e)[:200]}")
            continue
        if name not in oracles:
            gate_secs[name] = time.perf_counter() - t_gate
            print(
                f"OK?  {name}: rows={len(srows)} (no oracle — rows-only)"
                f" [{gate_secs[name]:.1f}s]"
            )
            continue
        try:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as e:
            failures.append((name, f"duckdb error: {e}"))
            print(f"FAIL {name}: duckdb error {str(e)[:200]}")
            continue
        if sorted(scols) != sorted(dcols):
            failures.append((name, f"cols {scols} vs {dcols}"))
            print(f"FAIL {name}: cols {scols} vs {dcols}")
            continue
        if len(srows) != len(drows):
            failures.append((name, f"rows {len(srows)} vs {len(drows)}"))
            print(f"FAIL {name}: rows {len(srows)} vs {len(drows)}")
            continue
        order = sorted(scols)
        sset = sorted(
            tuple(norm_cell(r[c]) for c in order) for r in srows
        )
        dset = sorted(
            tuple(norm_cell(v) for v in [row[dcols.index(c)] for c in order])
            for row in drows
        )
        if sset != dset:
            diff = [(a, b) for a, b in zip(sset, dset) if a != b][:3]
            failures.append((name, f"values differ, e.g. {diff}"))
            print(f"FAIL {name}: values differ e.g. {diff}")
            continue
        gate_secs[name] = time.perf_counter() - t_gate
        print(f"OK   {name}: rows={len(srows)} [{gate_secs[name]:.1f}s]")

    print(f"\n{attempted - len(failures)}/{attempted} matched ({len(qs)} registered)")
    if len(gate_secs) > 5:
        # where a time-budgeted driver gate would spend its window:
        # spark query + duckdb oracle wall per gate, slowest first
        slow = sorted(gate_secs.items(), key=lambda kv: -kv[1])[:12]
        total = time.perf_counter() - t_all
        print(f"total {total:.0f}s; slowest gates: "
              + ", ".join(f"{n}={s:.1f}s" for n, s in slow))
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
