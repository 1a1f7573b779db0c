"""Fetch operator — frontier ⋈ pages.

The reference's downloader hop (Request -> downloader -> Response,
with its permanent HTTP cache, settings.py:90-94) becomes a pure
equi-join of the round's selected frontier against the ``pages`` table
on canonical url (SURVEY.md §2.3 J1). Misses (URL not in the corpus)
are the 404/timeout analogue and feed the retry loop
(middlewares.py:109-130 semantics).

Join strategy: a crawl round is tiny next to the pages corpus
(quota-bounded vs 10^10 rows). Physically we want only the frontier
side to move: pages bucketed/partitioned by url so the join prunes or
co-locates, never a pages shuffle. Locally AQE turns the small
frontier into the broadcast side automatically; ``strategy`` pins a
plan (:data:`FETCH_STRATEGIES`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# 'auto': AQE picks; 'broadcast': the frontier is the broadcast side;
# 'sortmerge': sort-merge, which against a pages table bucketed by url
# (write_bucketed_pages) shuffles only the frontier
FETCH_STRATEGIES = ("auto", "broadcast", "sortmerge")


def fetch_join(
    selected: DataFrame, pages: DataFrame, strategy: str = "auto"
) -> tuple[DataFrame, DataFrame]:
    """Join the round's selected frontier with the pages corpus on
    canonical_url. Returns (fetched, missed): ``fetched`` = frontier
    columns + ``html``; ``missed`` = frontier columns.
    """
    if strategy not in FETCH_STRATEGIES:
        raise ValueError(
            f"fetch strategy must be one of {FETCH_STRATEGIES}, got {strategy!r}"
        )
    left = selected
    if strategy == "broadcast":
        left = F.broadcast(left)
    elif strategy == "sortmerge":
        left = left.hint("merge")
    right = pages.select(F.col("url").alias("_page_url"), "html")
    joined = left.join(right, left["canonical_url"] == right["_page_url"], "left")
    fetched = joined.filter(F.col("_page_url").isNotNull()).drop("_page_url")
    missed = joined.filter(F.col("_page_url").isNull()).drop("_page_url", "html")
    return fetched, missed


def write_bucketed_pages(
    pages: DataFrame, table: str, n_buckets: int = 64
) -> None:
    """Persist the pages corpus bucketed + sorted by url — the
    10^10-scale layout: a fetch join against a bucketed table needs NO
    shuffle and NO sort on the pages side, ever (the corpus is orders
    of magnitude bigger than any round's frontier; only the frontier
    moves). On a real deployment this is the Iceberg table's
    ``bucket(url)`` partition transform; here it is a Spark-managed
    bucketed parquet table."""
    (
        pages.write.mode("overwrite")
        .bucketBy(n_buckets, "url")
        .sortBy("url")
        .format("parquet")
        .saveAsTable(table)
    )

