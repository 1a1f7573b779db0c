"""Gate-order invariants (VERDICT r3 "What's wrong" #1, r4 ask #2).

The driver's correctness gate records only the FIRST 50 entries of
``queries()`` (observed: r1 33/33, r2 41/41, r3 exactly the first 50
of 68 in registration order — the 18 newest operators got no driver
row; r4 the first 50 of _GATE_ORDER). ``plans.queries._GATE_ORDER``
therefore controls emission order. The invariants are DERIVED from
the committed CORRECTNESS files themselves (r4 ADVICE: the previous
hand-maintained 200-name allowlist was brittle and partly vacuous):

1. every registered query appears in _GATE_ORDER exactly once;
2. the first 50 entries all lack a driver-green row in the FROZEN
   round set (so each round's 50-row record is all first-time names
   and the driver union grows by exactly the cap);
3. the order is PARTITIONED: every never-recorded gate precedes every
   driver-green gate, so a time-budgeted driver that reads past the
   cap still only meets never-recorded names until the backlog is
   exhausted.

``ROUNDS`` is the frozen set of rounds whose records existed when the
current rotation was authored — bump it (and re-rotate) at the start
of each round, AFTER the driver commits the previous round's file.
It is deliberately not a glob: the driver writes CORRECTNESS_r05.json
at the END of round 5, and a glob would make this test's ground truth
shift mid-round under the test run itself.
"""

from __future__ import annotations

import json
import os

GATE_CAP = 50
ROUNDS = (1, 2, 3, 4)
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _registered():
    from goto_eater_crawler_spark.plans import queries as q

    return q


def _driver_green() -> set[str]:
    """Names with a green row in any frozen-round CORRECTNESS file
    (green = rows+schema match, hash not a recorded mismatch, no
    error — the driver's own gate definition)."""
    green: set[str] = set()
    for r in ROUNDS:
        path = os.path.join(REPO, f"CORRECTNESS_r{r:02d}.json")
        with open(path) as f:
            rows = json.load(f)
        for name, row in rows.items():
            if (
                isinstance(row, dict)
                and row.get("rows_match")
                and row.get("schema_match")
                and row.get("hash_match") is not False
                and not row.get("err")
            ):
                green.add(name)
    return green


def test_gate_order_is_a_permutation_of_registered_queries():
    q = _registered()
    assert sorted(q._GATE_ORDER) == sorted(set(q._GATE_ORDER)), "duplicates"
    assert set(q._GATE_ORDER) == set(q._QUERIES), (
        "gate order out of sync with registrations: "
        f"missing={set(q._QUERIES) - set(q._GATE_ORDER)} "
        f"stale={set(q._GATE_ORDER) - set(q._QUERIES)}"
    )
    # queries()/oracle_sql() actually emit in that order
    assert list(q.queries().keys()) == q._GATE_ORDER
    oracles = list(q.oracle_sql().keys())
    assert oracles == [n for n in q._GATE_ORDER if n in q._ORACLES]


def test_head_gates_are_all_first_time_names():
    """Invariant 2: the driver's 50-row record must spend every slot
    on a gate with no prior driver row."""
    q = _registered()
    green = _driver_green()
    already = [n for n in q._GATE_ORDER[:GATE_CAP] if n in green]
    assert not already, (
        f"head-{GATE_CAP} gates that already have a driver-green row "
        f"(wasted record slots): {already}"
    )


def test_order_partitions_never_recorded_before_green():
    """Invariant 3: no driver-green gate may precede a never-recorded
    one — the cap falls only on gates whose driver record exists, and
    the backlog drains in a contiguous prefix."""
    q = _registered()
    green = _driver_green()
    order = q._GATE_ORDER
    first_green = min(
        (i for i, n in enumerate(order) if n in green), default=len(order)
    )
    misplaced = [n for n in order[first_green:] if n not in green]
    assert not misplaced, (
        "never-recorded gates ordered after a driver-green gate "
        f"(driver record can never reach them): {misplaced[:10]}"
    )


def test_backlog_accounting():
    """The registry froze at 300 for round 5 (VERDICT r4 ask #3) and
    the driver union grows by exactly the cap per round: 100 green
    after r1-r4, 200 in the backlog. ``url_seen_cuckoo`` (green in r3)
    left with the cuckoo seen-filter arm, so 299 registered and 99 of
    them green."""
    q = _registered()
    green = _driver_green()
    registered_green = green & set(q._GATE_ORDER)
    assert len(q._GATE_ORDER) == 299, len(q._GATE_ORDER)
    assert len(registered_green) == 99, len(registered_green)
