"""Registry fixture corpus — every registry source's synthetic site as
one page list, with per-page request meta threaded the way the crawl
engine would (seed meta + link-discovered meta).

Used by the ``multi_source_extract`` correctness-gate query: the
engine's vectorized extract runs over this corpus in Spark, while the
independent oracle parsers compute the expected per-source aggregate
that becomes a VALUES literal for the DuckDB side.
"""

from __future__ import annotations

from .families import FAMILIES
from .registry import REGISTRY

# families whose fixture sites are single-pass parseable from a
# host-keyed gen_site (no cross-request session state); the stateful
# families (session_token, mesh_json, js_object, wp_search_json) are
# exercised by their own family tests + crawl e2e.
CORPUS_FAMILIES = (
    "cards",
    "json_positional",
    "excel_html",
    "csv_body",
    "xlsx_body",
    "list_xpath",
    "pdf_tabula",
)


def corpus_sources() -> list[str]:
    return sorted(
        n for n, s in REGISTRY.items() if s.family in CORPUS_FAMILIES
    )


def _site_and_meta(name: str):
    spec = REGISTRY[name]
    fam = FAMILIES[spec.family]
    site = fam.gen_site(spec.host)
    metas = {s["url"]: s.get("meta") or {} for s in fam.seeds(spec.host, name)}
    # walk pages via the oracle to discover link-carried meta
    for pg in site:
        _, links = fam.oracle_parse(pg["url"], pg["body"], metas.get(pg["url"], {}))
        for l in links:
            metas.setdefault(l["url"], l["meta"])
    return spec, site, metas


def fixture_pages() -> list[dict]:
    """One row per fixture page across all corpus sources:
    (url, source, parse_family, depth, meta, html)."""
    rows = []
    for name in corpus_sources():
        spec, site, metas = _site_and_meta(name)
        for pg in site:
            rows.append(
                {
                    "url": pg["url"],
                    "source": name,
                    "parse_family": spec.family,
                    "depth": 0,
                    "meta": metas.get(pg["url"], {}),
                    "html": pg["body"],
                }
            )
    return rows


def crawl_fixture(source_names: list[str] | None = None):
    """(pages_rows, seed_rows, robots_rows) for a CrawlEngine run over
    registry fixture sites — the webgen shape: pages keyed by
    canonical url, one default-allow robots row per fixture host with
    the source's reference delay."""
    from ..functions.urltools import canonicalize_url

    names = source_names or corpus_sources()
    pages, seeds, robots = [], [], []
    for name in names:
        spec, site, _metas = _site_and_meta(name)
        for pg in site:
            pages.append(
                {
                    "url": canonicalize_url(pg["url"]),
                    "warc_ts": None,
                    "html": pg["body"],
                    "text": None,
                    "lang": None,
                }
            )
        seeds.extend(FAMILIES[spec.family].seeds(spec.host, name))
        robots.append(
            {
                "host": spec.host,
                "allow_prefixes": [],
                "disallow_prefixes": [],
                "crawl_delay": spec.delay,
            }
        )
    return pages, seeds, robots


def oracle_source_aggregates() -> list[tuple[str, int, str, str]]:
    """(source, n_records, min_shop, max_addr) per source, computed by
    the independent oracle parsers + the normalize pipeline — the
    expected values the Spark-side extract must reproduce."""
    from ..functions.textnorm import normalize_item

    out = []
    for name in corpus_sources():
        spec, site, metas = _site_and_meta(name)
        fam = FAMILIES[spec.family]
        items = []
        for pg in site:
            its, _ = fam.oracle_parse(pg["url"], pg["body"], metas.get(pg["url"]))
            items.extend(normalize_item(dict(i)) for i in its)
        shops = [i["shop_name"] for i in items if i.get("shop_name") is not None]
        addrs = [i["address"] for i in items if i.get("address") is not None]
        out.append(
            (name, len(items), min(shops) if shops else None,
             max(addrs) if addrs else None)
        )
    return out
