"""Parse families.

The reference implements 47 Scrapy spiders + 2 standalone crawlers,
but they collapse into ~a dozen *parse families* — shapes of
(body format x pagination style x field layout). Each family module
here provides:

- ``gen_site(host, ...)`` — deterministic synthetic fixture site
  (the stand-in for the real web; pages are byte-reproducible),
- ``seeds(host, source)`` — seed frontier rows,
- ``parse_page(url, source, body, meta)`` — the ENGINE per-page
  parser: returns ``(items, links)``, items as field dicts in document
  order and links as ``(url, parse_family, meta)`` tuples,
- ``extract_batch = batch_extractor(parse_page)`` — the engine batch
  extractor run inside ``mapInPandas`` over (url, source, depth,
  [meta,] html) pandas batches; returns ``(records, links)`` lists of
  dicts,
- ``oracle_parse(url, body, meta=None)`` — an independent single-page
  Python parser mirroring the reference spider's control flow, used by
  the straight-line crawl oracle in tests (SURVEY.md §5.3); returns
  ``(items, links)`` with links as ``{"url", "parse_family", "meta"}``
  dicts.

Registry: FAMILIES maps family name -> module.
"""

from __future__ import annotations


def batch_extractor(parse_page):
    """Build a family's ``extract_batch(pdf)`` from its ``parse_page``.

    The one batch loop shared by every family: a missing ``meta``
    column or a null meta cell reaches ``parse_page`` as ``{}``; each
    record is stamped with its page ``url``, ``source`` and
    ``item_index`` (document order); each link carries its lineage
    (``from_url``, ``source``, page ``depth + 1``).
    """

    def extract_batch(pdf):
        metas = pdf["meta"] if "meta" in pdf.columns else [None] * len(pdf)
        recs, links = [], []
        for url, source, depth, meta, html in zip(
            pdf["url"], pdf["source"], pdf["depth"], metas, pdf["html"]
        ):
            items, out_links = parse_page(
                url, source, bytes(html), dict(meta) if meta is not None else {}
            )
            for idx, it in enumerate(items):
                it["url"] = url
                it["source"] = source
                it["item_index"] = idx
                recs.append(it)
            for link_url, family, link_meta in out_links:
                links.append(
                    {
                        "url": link_url,
                        "from_url": url,
                        "source": source,
                        "parse_family": family,
                        "depth": int(depth) + 1,
                        "meta": link_meta,
                    }
                )
        return recs, links

    return extract_batch


from . import (  # noqa: E402  (families bind extract_batch via batch_extractor)
    cards,
    csv_body,
    excel_html,
    js_object,
    json_api,
    json_positional,
    label_table,
    list_xpath,
    mesh_json,
    pdf_tabula,
    session_token,
    wp_search_json,
    xlsx_body,
)

FAMILIES = {
    "list_xpath": list_xpath,
    "json_api": json_api,
    "json_positional": json_positional,
    "label_table": label_table,
    "wp_search_json": wp_search_json,
    "csv_body": csv_body,
    "js_object": js_object,
    "xlsx_body": xlsx_body,
    "pdf_tabula": pdf_tabula,
    "mesh_json": mesh_json,
    "session_token": session_token,
    "excel_html": excel_html,
    "cards": cards,
}
