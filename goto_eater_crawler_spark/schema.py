"""Engine schemas.

The data model reproduces the reference's abstractions
(SURVEY.md §1) on Spark types:

- ``ShopItem`` (reference goto_eat_scrapy/items.py:9-23): 12 nullable
  string fields, fixed order (settings.py:100-113 FEED_EXPORT_FIELDS).
- pages: the fetchable web (BASELINE.json input_hint) — the stand-in
  for the reference's HTTP layer + permanent cache (settings.py:90-94).
- frontier: the request stream / URL work-queue that Scrapy keeps in
  its scheduler (implicit in every ``scrapy.Request``).
- robots: politeness rules (ROBOTSTXT_OBEY settings.py:21 +
  per-site DOWNLOAD_DELAY overrides, SURVEY.md §2.9 T1).
"""

from __future__ import annotations

from pyspark.sql import types as T

# Fixed output column order = reference settings.py:100-113.
FEED_EXPORT_FIELDS = [
    "shop_name",
    "address",
    "tel",
    "genre_name",
    "zip_code",
    "official_page",
    "opening_hours",
    "closing_day",
    "area_name",
    "detail_page",
    "provided_lat",
    "provided_lng",
]

SHOP_ITEM_SCHEMA = T.StructType(
    [T.StructField(f, T.StringType(), True) for f in FEED_EXPORT_FIELDS]
)

# Extraction output: item rows keyed back to their page, in document
# order (item_index) so per-page ordering is deterministic.
EXTRACTED_ITEM_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("source", T.StringType(), False),
        T.StructField("item_index", T.IntegerType(), False),
    ]
    + [T.StructField(f, T.StringType(), True) for f in FEED_EXPORT_FIELDS]
)

# pages — Common-Crawl-style web page table (BASELINE.json input_hint).
PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

# frontier — one row per pending request. ``meta`` mirrors Scrapy's
# request.meta dict (e.g. area_name, reference saitama.py:97).
FRONTIER_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("canonical_url", T.StringType(), False),
        T.StructField("url_hash", T.LongType(), False),
        T.StructField("host", T.StringType(), False),
        T.StructField("source", T.StringType(), False),
        T.StructField("parse_family", T.StringType(), False),
        T.StructField("depth", T.IntegerType(), False),
        T.StructField("priority", T.DoubleType(), False),
        T.StructField("retry_count", T.IntegerType(), False),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

# links emitted by extract_links — appended to the frontier next round.
LINK_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("source", T.StringType(), False),
        T.StructField("parse_family", T.StringType(), False),
        T.StructField("depth", T.IntegerType(), False),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

ROBOTS_SCHEMA = T.StructType(
    [
        T.StructField("host", T.StringType(), False),
        T.StructField("allow_prefixes", T.ArrayType(T.StringType()), True),
        T.StructField("disallow_prefixes", T.ArrayType(T.StringType()), True),
        T.StructField("crawl_delay", T.DoubleType(), True),
    ]
)

# fetch log — one row per frontier URL per round with its outcome;
# the engine's analogue of the reference's log stream + dupefilter
# decisions. ``fetch_seq`` is the deterministic global crawl order
# (round, host, rank-in-host) — SURVEY.md §2.5 W3.
FETCH_LOG_SCHEMA = T.StructType(
    [
        T.StructField("round", T.IntegerType(), False),
        T.StructField("fetch_seq", T.LongType(), True),
        T.StructField("url", T.StringType(), False),
        T.StructField("canonical_url", T.StringType(), False),
        T.StructField("url_hash", T.LongType(), False),
        T.StructField("host", T.StringType(), False),
        T.StructField("depth", T.IntegerType(), False),
        # fetched | robots_dropped | deferred | retry | dead | miss
        T.StructField("status", T.StringType(), False),
    ]
)

BLOOM_BLOCK_SCHEMA = T.StructType(
    [
        T.StructField("block_id", T.IntegerType(), False),
        T.StructField("bits", T.BinaryType(), False),
    ]
)
