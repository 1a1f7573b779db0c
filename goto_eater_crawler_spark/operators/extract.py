"""Extraction operator — vectorized parse over fetched pages.

The reference's 47 per-spider ``parse`` callbacks (row-at-a-time
Python over Twisted) become ONE ``mapInPandas`` pass over Arrow
batches of ``(url, source, parse_family, depth, meta, html)``,
dispatched to parse-family extractors (SURVEY.md §2.10). A single
pass parses each body once and emits a union stream of records and
links, split afterwards by a cheap filter — bodies are the expensive
part, not the rows.

Item normalization (reference pipelines.py:20-40) runs in the same
batch via :func:`normalize_items_pdf` so field bytes leaving this
operator are final.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.textnorm import normalize_items_pdf
from ..functions.urltools import canonicalize_url_col, host_col
from ..schema import FEED_EXPORT_FIELDS
from ..sources.families import FAMILIES

# union output of one extract pass. 'page' rows are the fetch-log
# passthrough: one per fetched page, carrying the frontier identity
# columns — so the html-bearing join output is consumed EXACTLY once
# and never cached (caching MBs of html as deserialized JVM objects is
# a GC storm at high parallelism; everything downstream reads this
# slim union instead).
EXTRACT_OUT_SCHEMA = T.StructType(
    [
        T.StructField("kind", T.StringType(), False),  # 'rec' | 'link' | 'page'
        T.StructField("url", T.StringType(), False),
        T.StructField("source", T.StringType(), False),
        T.StructField("item_index", T.IntegerType(), True),
    ]
    + [T.StructField(f, T.StringType(), True) for f in FEED_EXPORT_FIELDS]
    + [
        T.StructField("link_url", T.StringType(), True),
        T.StructField("link_family", T.StringType(), True),
        T.StructField("link_depth", T.IntegerType(), True),
        T.StructField("link_meta", T.MapType(T.StringType(), T.StringType()), True),
        # (link_canonical / link_host are appended JVM-side in
        # run_extract via the byte-pinned Catalyst canonicalization —
        # round-3 change: the python urlsplit per link was the largest
        # python-worker cost of a steady round)
        # 'page' passthrough (fetch-log identity)
        T.StructField("raw_url", T.StringType(), True),
        T.StructField("url_hash", T.LongType(), True),
        T.StructField("host", T.StringType(), True),
        T.StructField("page_depth", T.IntegerType(), True),
        T.StructField("rank_in_host", T.IntegerType(), True),
    ]
)

_ALL_COLS = [f.name for f in EXTRACT_OUT_SCHEMA.fields]


def _extract_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        outs = []
        # one 'page' passthrough row per fetched page
        page_rows = pdf[
            ["url", "source", "raw_url", "url_hash", "host", "rank_in_host"]
        ].copy()
        page_rows["page_depth"] = pdf["depth"]
        page_rows["kind"] = "page"
        outs.append(page_rows.reindex(columns=_ALL_COLS))
        for family, grp in pdf.groupby("parse_family", sort=False):
            fam = FAMILIES[family]
            recs, links = fam.extract_batch(grp)
            if recs:
                rdf = pd.DataFrame(recs)
                for col in FEED_EXPORT_FIELDS:
                    if col not in rdf:
                        rdf[col] = None
                rdf = normalize_items_pdf(rdf)
                rdf["kind"] = "rec"
                outs.append(rdf.reindex(columns=_ALL_COLS))
            if links:
                ldf = pd.DataFrame(links).rename(
                    columns={
                        "url": "link_url",
                        "parse_family": "link_family",
                        "depth": "link_depth",
                        "meta": "link_meta",
                    }
                )
                # lineage: the emitting page's url (batch_extractor stamps it)
                ldf["url"] = ldf.pop("from_url")
                ldf["kind"] = "link"
                # link_canonical/link_host are computed JVM-side in
                # run_extract (canonicalize_url_col, byte-pinned to the
                # python impl): a python urlsplit per link was ~the
                # largest python cost of a steady round (1M links) and
                # capped per-worker extract throughput
                outs.append(ldf.reindex(columns=_ALL_COLS))
        if outs:
            combined = pd.concat(outs, ignore_index=True).astype(object)
            # Arrow needs None (not NaN) for absent struct/map/int cells
            combined[combined.isna()] = None
            yield combined


def run_extract(fetched: DataFrame) -> DataFrame:
    """fetched: frontier columns + rank_in_host + html. Pages are
    keyed by canonical url, so extraction sees canonical_url as the
    page identity (and goldens are keyed by it). Returns the union
    extract stream — records ∪ links ∪ page passthrough rows — the
    single (slim) DataFrame worth caching; the html column dies here.
    """
    cols = [
        F.col("canonical_url").alias("url"),
        "source",
        "parse_family",
        "depth",
        "meta",
        "html",
        F.col("url").alias("raw_url"),
        "url_hash",
        "host",
        "rank_in_host",
    ]
    out = fetched.select(*cols).mapInPandas(
        _extract_batches, schema=EXTRACT_OUT_SCHEMA
    )
    # link url identity NATIVE (not in the python worker): the Catalyst
    # expressions are byte-pinned to the python implementations
    # (tests/test_urltools.py), stay inside WholeStageCodegen, and the
    # caller checkpoints this DataFrame — so the ~10-regex tree is
    # evaluated ONCE per link here, not re-inlined downstream and not
    # paid as python-worker time.
    is_link = F.col("kind") == "link"
    return out.withColumns(
        {
            "link_canonical": F.when(
                is_link, canonicalize_url_col(F.col("link_url"))
            ),
            "link_host": F.when(is_link, host_col(F.col("link_url"))),
        }
    )


def split_pages(extracted: DataFrame) -> DataFrame:
    """The fetch-log passthrough rows: one per fetched page."""
    return extracted.filter(F.col("kind") == "page").select(
        F.col("raw_url").alias("url"),
        F.col("url").alias("canonical_url"),
        "url_hash",
        "host",
        F.col("page_depth").alias("depth"),
        "rank_in_host",
    )


def split_records_links(extracted: DataFrame) -> tuple[DataFrame, DataFrame]:
    records = extracted.filter(F.col("kind") == "rec").select(
        "url", "source", "item_index", *FEED_EXPORT_FIELDS
    )
    links = (
        extracted.filter(F.col("kind") == "link")
        .select(
            F.col("link_url").alias("url"),
            "source",
            F.col("link_family").alias("parse_family"),
            F.col("link_depth").alias("depth"),
            F.col("link_meta").alias("meta"),
            F.col("link_canonical").alias("canonical_url"),
            F.col("link_host").alias("host"),
        )
    )
    return records, links


# ---------------------------------------------------------------------------
# Source-map mappings decode (Source Map v3 / ECMA-426) — .map
# sidecars of shipped JS; base64-VLQ via functions/minivlq.
# ---------------------------------------------------------------------------


def synth_sourcemaps(docs: "DataFrame") -> "DataFrame":
    """(doc_id, mappings) — per doc a mappings string over 2-4
    generated lines, 1-3 segments each, with NEGATIVE source-column
    deltas on odd segments (the VLQ sign bit is live)."""
    import pandas as pd

    from ..functions import minivlq

    def batches(it):
        for pdf in it:
            ids, maps = [], []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                lines = []
                for line in range(2 + d % 3):
                    segs = []
                    for s in range(1 + (d + line) % 3):
                        segs.append(
                            [
                                1 + (d + line + s) % 3,
                                0,
                                (line + s + d) % 2,
                                1 if s % 2 == 0 else -1,
                            ]
                        )
                    lines.append(segs)
                ids.append(d)
                maps.append(minivlq.encode_mappings(lines))
            yield pd.DataFrame({"doc_id": ids, "mappings": maps})

    return docs.select("doc_id").mapInPandas(
        batches, schema="doc_id long, mappings string"
    )


def sourcemap_decode(maps: "DataFrame") -> "DataFrame":
    """(doc_id, mappings) -> structural summary from ABSOLUTE
    positions after delta resolution: line/segment counts, the last
    segment's source line/column (the cross-line accumulators), and
    the total generated-column advance (sum of per-line last
    columns). One Arrow map stage, no shuffle."""
    import pandas as pd

    from ..functions import minivlq

    def parse(it):
        for pdf in it:
            rows = []
            for d, s in zip(pdf["doc_id"], pdf["mappings"]):
                m = minivlq.decode_mappings(s)
                last = m["segments"][-1]
                per_line_last = {}
                for gl, gc, *_ in m["segments"]:
                    per_line_last[gl] = gc
                rows.append(
                    (
                        int(d),
                        int(m["n_lines"]),
                        int(m["n_segments"]),
                        int(last[3]),
                        int(last[4]),
                        int(sum(per_line_last.values())),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "n_lines", "n_segments",
                    "last_src_line", "last_src_col", "col_advance",
                ],
            )

    return maps.mapInPandas(
        parse,
        schema=(
            "doc_id long, n_lines int, n_segments int, "
            "last_src_line int, last_src_col int, col_advance int"
        ),
    )


# ---------------------------------------------------------------------------
# schema.org MICRODATA extraction (WHATWG HTML §microdata) — the
# attribute-based sibling of the JSON-LD gate: itemscope/itemtype/
# itemprop with real nesting rules over the minihtml span DOM.
# ---------------------------------------------------------------------------


def synth_microdata_pages(docs: "DataFrame") -> "DataFrame":
    """(doc_id, html) — a Restaurant itemscope with a NESTED
    PostalAddress itemscope (whose props must NOT leak to the outer
    item), meta/content and a/href property forms, a WebSite
    distractor itemscope (order swaps by parity), and non-itemprop
    noise."""

    def batches(it):
        for pdf in it:
            ids, htmls = [], []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                rest = (
                    '<div itemscope itemtype="https://schema.org/'
                    'Restaurant">'
                    f'<span itemprop="name">Shop {d}</span>'
                    '<div itemprop="address" itemscope itemtype='
                    '"https://schema.org/PostalAddress">'
                    f'<span itemprop="streetAddress">{d % 90 + 1}'
                    " Main St</span>"
                    f'<meta itemprop="postalCode" content='
                    f'"{d % 1000:03d}-0001">'
                    "</div>"
                    f'<a itemprop="menu" href="/menu/{d % 9}">Menu</a>'
                    '<span class="noise">nope</span>'
                    f'<span itemprop="servesCuisine">cuisine{d % 7}'
                    "</span></div>"
                )
                site = (
                    '<div itemscope itemtype="https://schema.org/'
                    'WebSite"><span itemprop="name">Eatlog</span></div>'
                )
                body = site + rest if d % 2 == 0 else rest + site
                ids.append(d)
                htmls.append(f"<html><body>{body}</body></html>")
            yield pd.DataFrame({"doc_id": ids, "html": htmls})

    return docs.select("doc_id").mapInPandas(
        batches, schema="doc_id long, html string"
    )


def microdata_extract(pages: "DataFrame") -> "DataFrame":
    """(doc_id, html) -> Restaurant fields through the microdata
    walk: property value = content attr for <meta>, href for
    <a>/<link>, inner text otherwise; an itemprop carrying its own
    itemscope becomes a SUB-ITEM whose props stay scoped to it.
    One Arrow map stage, no shuffle."""

    from ..functions import minihtml

    def walk_item(node):
        """Collect {prop: value-or-subitem} for one itemscope node,
        not crossing nested itemscope boundaries."""
        props = {}

        def rec(n):
            for c in n.children:
                p = c.get("itemprop")
                if p is not None:
                    if c.get("itemscope") is not None:
                        props[p] = walk_item(c)
                        continue  # nested scope: do not descend
                    if c.tag == "meta":
                        props[p] = c.get("content") or ""
                    elif c.tag in ("a", "link"):
                        props[p] = c.get("href") or ""
                    else:
                        props[p] = c.text()
                if c.get("itemscope") is None:
                    rec(c)

        rec(node)
        return props

    def parse(it):
        for pdf in it:
            rows = []
            for d, html in zip(pdf["doc_id"], pdf["html"]):
                root = minihtml.parse(html)
                rest = None
                for n in root.iter():
                    if (
                        n.get("itemscope") is not None
                        and (n.get("itemtype") or "").endswith(
                            "/Restaurant"
                        )
                    ):
                        rest = n
                        break
                props = walk_item(rest)
                addr = props["address"]
                rows.append(
                    (
                        int(d),
                        props["name"],
                        addr["streetAddress"],
                        addr["postalCode"],
                        props["menu"],
                        props["servesCuisine"],
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "name", "street", "postal", "menu",
                    "cuisine",
                ],
            )

    return pages.mapInPandas(
        parse,
        schema=(
            "doc_id long, name string, street string, postal string, "
            "menu string, cuisine string"
        ),
    )
