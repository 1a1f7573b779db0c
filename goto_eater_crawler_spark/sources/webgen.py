"""Fixture web assembly — the deterministic synthetic crawl space.

Plays the role of the reference's HTTP layer + permanent cache
(settings.py:90-94 — "re-runs are byte-identical"): fetching is a join
against this ``pages`` table, never a live call.

``build_fixture_web`` wires one site per parse family (plus extra
list_xpath hosts to exercise multi-host politeness), a seeds table and
a robots table with per-host crawl delays mirroring the reference's
per-spider DOWNLOAD_DELAY overrides (SURVEY.md §2.9 T1) and one
fully-disallowed host mirroring kochi's robots exclusion (main.py:32).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession

from ..functions.urltools import canonicalize_url
from ..schema import PAGES_SCHEMA, ROBOTS_SCHEMA
from .families import FAMILIES

# (source, family, host, crawl_delay) — delays mirror the reference's
# spread: 3.0 default (settings.py:32), overrides 1.0-4.0.
DEFAULT_SOURCES = [
    ("tochigi_like", "list_xpath", "list-a.example.jp", 3.0),
    ("osaka_like", "list_xpath", "list-b.example.jp", 1.0),
    ("chiba_like", "list_xpath", "list-c.example.jp", 1.25),
    ("kochi_like", "json_api", "json.example.jp", 3.0),
    ("kyoto_like", "label_table", "table.example.jp", 1.2),
    ("yamagata_like", "wp_search_json", "wp.example.jp", 3.0),
    ("fukuoka_like", "csv_body", "csvsrc.example.jp", 2.0),
    ("miyagi_like", "js_object", "js.example.jp", 3.0),
    ("nara_like", "xlsx_body", "xlsx.example.jp", 3.0),
    ("tokyo_like", "pdf_tabula", "pdfsrc.example.jp", 1.0),
    ("saga_like", "mesh_json", "mesh.example.jp", 1.5),
    ("hokkaido_like", "session_token", "token.example.jp", 4.0),
    # robots-disallowed host: seeded but never fetched (main.py:32)
    ("blocked_like", "list_xpath", "blocked.example.jp", 3.0),
]

_EPOCH = dt.datetime(2021, 3, 14, tzinfo=dt.timezone.utc)


def build_fixture_web(
    sources=DEFAULT_SOURCES, n_pages: int = 3, shops_per_page: int = 8
):
    """Return (pages_rows, seeds_rows, robots_rows) as plain dicts."""
    pages, seeds, robots = [], [], []
    for k, (source, family, host, delay) in enumerate(sources):
        fam = FAMILIES[family]
        if family in ("list_xpath", "label_table", "wp_search_json"):
            site = fam.gen_site(host, n_pages, shops_per_page)
        else:
            site = fam.gen_site(host)
        for i, pg in enumerate(site):
            pages.append(
                {
                    "url": canonicalize_url(pg["url"]),
                    "warc_ts": _EPOCH + dt.timedelta(hours=k, minutes=i),
                    "html": pg["body"],
                    "text": None,
                    "lang": "ja",
                }
            )
        seeds.extend(fam.seeds(host, source))
        robots.append(
            {
                "host": host,
                "allow_prefixes": [],
                "disallow_prefixes": ["/"] if host.startswith("blocked") else ["/admin"],
                "crawl_delay": delay,
            }
        )
    return pages, seeds, robots


def pages_df(spark: SparkSession, pages: list[dict]) -> DataFrame:
    return spark.createDataFrame(pages, PAGES_SCHEMA)


def robots_df(spark: SparkSession, robots: list[dict]) -> DataFrame:
    return spark.createDataFrame(robots, ROBOTS_SCHEMA)

