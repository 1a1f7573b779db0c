"""Straight-line single-threaded crawl oracle (SURVEY.md §5.3).

Implements the SAME crawl contract as the engine — per-host serial
order (priority desc, depth asc, canonical_url asc), per-round
crawl-delay quota, robots allow/disallow prefixes, enqueue-time seen
set, retry-until-8-then-dead — in plain Python over a dict of pages.
No Spark, no shared code paths with the engine loop: parsing goes
through each family's ``oracle_parse`` and normalization through
``normalize_item``.
"""

from __future__ import annotations

import math
from urllib.parse import urlsplit

from goto_eater_crawler_spark.functions.textnorm import normalize_item
from goto_eater_crawler_spark.functions.urltools import canonicalize_url, url_host
from goto_eater_crawler_spark.schema import FEED_EXPORT_FIELDS
from goto_eater_crawler_spark.sources.families import FAMILIES

DEFAULT_DELAY = 3.0


def _priority(depth: int) -> float:
    return 100.0 - depth


def crawl_oracle(
    pages: dict[str, bytes],
    seeds: list[dict],
    robots: list[dict],
    round_budget: float = 60.0,
    max_rounds: int = 64,
    max_retries: int = 8,
):
    """Returns dict with records, fetch_order, seen, log."""
    robots_by_host = {r["host"]: r for r in robots}

    frontier: list[dict] = []
    seen: set[str] = set()
    def _valid(url: str) -> bool:
        parts = urlsplit(url)
        return parts.scheme in ("http", "https") and bool(parts.hostname)

    for s in seeds:
        if not _valid(s["url"]):
            continue
        canon = canonicalize_url(s["url"])
        if canon in seen:
            continue
        seen.add(canon)
        frontier.append(
            {
                "url": s["url"],
                "canonical_url": canon,
                "host": url_host(s["url"]),
                "source": s["source"],
                "parse_family": s["parse_family"],
                "depth": int(s.get("depth", 0)),
                "priority": _priority(int(s.get("depth", 0))),
                "retry_count": 0,
                "meta": dict(s.get("meta") or {}),
            }
        )

    records: list[dict] = []
    fetch_order: list[str] = []  # canonical urls in fetch_seq order
    log: list[dict] = []
    round_no = 1

    while frontier and round_no <= max_rounds:
        # robots split
        allowed, next_frontier = [], []
        for row in frontier:
            rb = robots_by_host.get(row["host"])
            path = urlsplit(row["canonical_url"]).path or "/"
            blocked = False
            if rb:
                dis = any(path.startswith(p) for p in rb.get("disallow_prefixes") or [])
                allow = any(path.startswith(p) for p in rb.get("allow_prefixes") or [])
                blocked = dis and not allow
            if blocked:
                log.append(
                    {"round": round_no, "status": "robots_dropped", "url": row["canonical_url"]}
                )
            else:
                allowed.append(row)

        # per-host quota selection in serial order
        by_host: dict[str, list[dict]] = {}
        for row in allowed:
            by_host.setdefault(row["host"], []).append(row)
        selected: list[tuple[str, int, dict]] = []  # (host, rank, row)
        for host in by_host:
            rb = robots_by_host.get(host)
            delay = (rb or {}).get("crawl_delay") or DEFAULT_DELAY
            quota = max(1, math.floor(round_budget / delay))
            rows = sorted(
                by_host[host],
                key=lambda r: (-r["priority"], r["depth"], r["canonical_url"]),
            )
            for rank, row in enumerate(rows[:quota], start=1):
                selected.append((host, rank, row))
            next_frontier.extend(rows[quota:])

        # fetch in global (host, rank) order
        selected.sort(key=lambda t: (t[0], t[1]))
        new_links: list[dict] = []
        for host, rank, row in selected:
            body = pages.get(row["canonical_url"])
            if body is None:
                row = dict(row)
                row["retry_count"] += 1
                if row["retry_count"] <= max_retries:
                    row["priority"] = (
                        row["priority"]
                        - row["retry_count"]
                        - 0  # jitter affects ordering only among retries; engine uses hash-jitter
                    )
                    log.append(
                        {"round": round_no, "status": "retry", "url": row["canonical_url"]}
                    )
                    next_frontier.append(row)
                else:
                    log.append(
                        {"round": round_no, "status": "dead", "url": row["canonical_url"]}
                    )
                continue
            fetch_order.append(row["canonical_url"])
            log.append({"round": round_no, "status": "fetched", "url": row["canonical_url"]})
            items, links = FAMILIES[row["parse_family"]].oracle_parse(
                row["canonical_url"], body, row.get("meta")
            )
            for idx, item in enumerate(items):
                full = {f: item.get(f) for f in FEED_EXPORT_FIELDS}
                full = normalize_item(full)
                full["url"] = row["canonical_url"]
                full["source"] = row["source"]
                full["item_index"] = idx
                records.append(full)
            for link in links:
                if not _valid(link["url"]):
                    continue
                new_links.append(
                    {
                        "url": link["url"],
                        "from_url": row["canonical_url"],
                        "canonical_url": canonicalize_url(link["url"]),
                        "host": url_host(link["url"]),
                        "source": row["source"],
                        "parse_family": link["parse_family"],
                        "depth": row["depth"] + 1,
                        "meta": link["meta"],
                    }
                )

        # intra-round dedup: keeper = (lowest depth, lexicographic
        # emitting page url) — same contract as the engine window
        new_links.sort(key=lambda l: (l["canonical_url"], l["depth"], l["from_url"]))
        kept: dict[str, dict] = {}
        for l in new_links:
            kept.setdefault(l["canonical_url"], l)
        for canon, l in kept.items():
            if canon in seen:
                continue
            seen.add(canon)
            next_frontier.append(
                {
                    "url": l["url"],
                    "canonical_url": canon,
                    "host": l["host"],
                    "source": l["source"],
                    "parse_family": l["parse_family"],
                    "depth": l["depth"],
                    "priority": _priority(l["depth"]),
                    "retry_count": 0,
                    "meta": l["meta"],
                }
            )

        frontier = next_frontier
        round_no += 1

    return {
        "records": records,
        "fetch_order": fetch_order,
        "seen": seen,
        "log": log,
    }
