"""Per-family golden extraction parity (engine batch extractor vs the
independent oracle parser) — pure pandas, no Spark session needed."""

from __future__ import annotations

import inspect

import pandas as pd
import pytest

from goto_eater_crawler_spark.sources.families import FAMILIES
from goto_eater_crawler_spark.sources.registry import REGISTRY

# families whose layout or quirks come from a registry spec crawl a
# registered (source, host); the rest take any source on a per-family
# host
REGISTERED = {"cards": "aichi", "excel_html": "kagoshima", "json_positional": "kochi"}


def _source_host(family: str) -> tuple[str, str]:
    if family in REGISTERED:
        source = REGISTERED[family]
        return source, REGISTRY[source].host
    return "s", f"{family.replace('_', '-')}.example.jp"


@pytest.mark.parametrize("family", sorted(FAMILIES))
def test_engine_oracle_parity(family):
    """Walk the fixture site page-by-page, threading link meta forward
    (token/area families need it); engine batch extractor must agree
    with the independent oracle parser on every page."""
    fam = FAMILIES[family]
    source, host = _source_host(family)
    site = fam.gen_site(host)
    assert site, family
    metas = {s["url"]: s.get("meta") or {} for s in fam.seeds(host, source)}
    total_items = 0
    for pg in site:
        meta = metas.get(pg["url"], {})
        pdf = pd.DataFrame(
            [
                {
                    "url": pg["url"],
                    "source": source,
                    "depth": 0,
                    "meta": meta,
                    "html": pg["body"],
                }
            ]
        )
        recs, links = fam.extract_batch(pdf)
        o_items, o_links = fam.oracle_parse(pg["url"], pg["body"], meta)
        stripped = [
            {k: v for k, v in r.items() if k not in ("url", "source", "item_index")}
            for r in recs
        ]
        assert stripped == o_items, pg["url"]
        assert [l["url"] for l in links] == [l["url"] for l in o_links], pg["url"]
        assert [l["parse_family"] for l in links] == [
            l["parse_family"] for l in o_links
        ], pg["url"]
        for l in o_links:  # thread discovered meta to later pages
            metas.setdefault(l["url"], l["meta"])
        # item_index is document order
        assert [r["item_index"] for r in recs] == list(range(len(recs)))
        total_items += len(recs)
    assert total_items > 0


@pytest.mark.parametrize("family", sorted(FAMILIES))
def test_family_contract(family):
    """Every family has the same contract: ``seeds(host, source)``
    with no default source, ``oracle_parse(url, body, meta=None)``
    with ``{url, parse_family, meta}`` link dicts, and an
    ``extract_batch`` from the shared loop that treats a batch without
    a ``meta`` column like one of empty (or null) meta values."""
    fam = FAMILIES[family]
    seed_params = inspect.signature(fam.seeds).parameters.values()
    assert [p.name for p in seed_params] == ["host", "source"]
    assert all(p.default is inspect.Parameter.empty for p in seed_params)
    params = inspect.signature(fam.oracle_parse).parameters
    assert list(params) == ["url", "body", "meta"]
    assert params["meta"].default is None
    assert fam.extract_batch.__qualname__ == "batch_extractor.<locals>.extract_batch"

    source, host = _source_host(family)
    site = fam.gen_site(host)
    metas = {s["url"]: s.get("meta") or {} for s in fam.seeds(host, source)}
    for pg in site:
        _, links = fam.oracle_parse(pg["url"], pg["body"], metas.get(pg["url"]))
        for l in links:
            assert isinstance(l, dict) and set(l) == {"url", "parse_family", "meta"}
            assert isinstance(l["meta"], dict)
            metas.setdefault(l["url"], l["meta"])

    row = {
        "url": site[0]["url"],
        "source": source,
        "depth": 0,
        "html": site[0]["body"],
    }
    no_meta = fam.extract_batch(pd.DataFrame([row]))
    assert no_meta == fam.extract_batch(pd.DataFrame([{**row, "meta": {}}]))
    assert no_meta == fam.extract_batch(pd.DataFrame([{**row, "meta": None}]))


def test_fixture_determinism():
    for family, fam in FAMILIES.items():
        _, host = _source_host(family)
        assert fam.gen_site(host) == fam.gen_site(host), family


def test_unknown_source_raises():
    """A spec-driven family never parses an unregistered source or host
    with some default source's layout: it names what it cannot find."""
    for family in ("cards", "excel_html"):
        fam = FAMILIES[family]
        url = "https://typo.example.jp/"
        with pytest.raises(ValueError, match="typo.example.jp"):
            fam.gen_site("typo.example.jp")
        with pytest.raises(ValueError, match="'typo'"):
            fam.parse_page(url, "typo", b"<html></html>", {})
        with pytest.raises(ValueError, match="typo.example.jp"):
            fam.oracle_parse(url, b"<html></html>")
    # json_positional takes only its quirks from the spec: its site and
    # oracle need no source, but its engine parser never falls back to
    # kochi's quirks
    site = FAMILIES["json_positional"].gen_site("typo.example.jp")
    with pytest.raises(ValueError, match="'typo'"):
        FAMILIES["json_positional"].parse_page(
            site[0]["url"], "typo", site[0]["body"], {}
        )


def test_quirks_present():
    """Each documented reference quirk must actually occur in fixtures."""
    lx = FAMILIES["list_xpath"]
    site = lx.gen_site("q.example.jp", 3, 8)
    items = []
    for pg in site:
        its, _ = lx.oracle_parse(pg["url"], pg["body"])
        items.extend(its)
    assert any(i["zip_code"] is None for i in items)  # tochigi.py:36-40
    assert any(i.get("provided_lat") is None for i in items)  # no-latlng gmap
    assert any(i["tel"] is None for i in items)

    ja = FAMILIES["json_api"]
    its, _ = ja.oracle_parse("u", ja.gen_site("j.example.jp")[0]["body"])
    assert any(i["shop_name"] == "　きてみいや" for i in its)  # kochi.py:41-46

    lt = FAMILIES["label_table"]
    details = [
        p for p in lt.gen_site("t.example.jp") if b'<table class="shop"' in p["body"]
    ]
    its = [lt.oracle_parse(p["url"], p["body"])[0][0] for p in details]
    assert any(i["genre_name"] is None for i in its)  # fukui.py:47-53
    assert any(i["genre_name"] and "|" in i["genre_name"] for i in its)  # kagawa.py:33
    assert any("<br>" in (i["address"] or "") for i in its)  # pre-normalize body quirk

    cb = FAMILIES["csv_body"]
    its, _ = cb.oracle_parse("u", cb.gen_site("c.example.jp")[0]["body"])
    raw = cb.gen_site("c.example.jp")[0]["body"].decode("utf-8")
    assert "<!--" in raw and not any("<!--" in i["shop_name"] for i in its)
    assert len(its) < raw.count("\n") - 1  # empty-address rows skipped

    # js_object (miyagi.py:106-119): marker-less rows, first-match rule
    jo = FAMILIES["js_object"]
    jo_items = []
    for pg in jo.gen_site("jo.example.jp"):
        jo_items.extend(jo.oracle_parse(pg["url"], pg["body"])[0])
    assert any(i.get("provided_lat") is None for i in jo_items)  # no marker
    assert any(i.get("provided_lat") for i in jo_items)
    # ambiguous name -> FIRST marker, never the '99.9999' duplicate
    assert not any(i.get("provided_lat") == "99.9999" for i in jo_items)

    # xlsx_body (nara.py:24-41): dtype=str leading zeros, numeric cell
    # -> str, empty-name rows dropped
    xb = FAMILIES["xlsx_body"]
    xb_items, _ = xb.oracle_parse("u", xb.gen_site("xb.example.jp")[0]["body"])
    assert all(i["zip_code"].startswith("0") for i in xb_items)
    assert all(isinstance(i["tel"], str) for i in xb_items)
    assert len(xb_items) < 45  # dropped rows happened

    # pdf_tabula (tokyo.py:85-90): dead rows skipped; malformed raises
    pt = FAMILIES["pdf_tabula"]
    pt_items, _ = pt.oracle_parse("u", pt.gen_site("pt.example.jp")[0]["body"])
    assert pt_items and len(pt_items) < 36
    with pytest.raises(ValueError):
        pt.decode_pdf_tables(b"<html>not a pdf</html>")

    # mesh_json (abstract_liny.py): closed rings, sparse cells, bbox
    mj = FAMILIES["mesh_json"]
    cells = mj.mesh_cells("mj.example.jp")
    ring = cells[0]["coordinates"][0]
    assert ring[0] == ring[-1]  # GeoJSON closing point
    bb = mj.bbox(cells[0]["coordinates"])
    assert bb["min_lat"] < bb["max_lat"] and bb["min_lng"] < bb["max_lng"]
    per_cell = [len(mj.oracle_parse(p["url"], p["body"])[0]) for p in mj.gen_site("mj.example.jp")]
    assert 0 in per_cell and any(n > 0 for n in per_cell)

    # session_token (hokkaido.py:16-18): wrong/missing token -> page
    # yields nothing (session-consistency guard)
    st = FAMILIES["session_token"]
    site = st.gen_site("st.example.jp")
    result_pg = site[1]
    ok_meta = {"_token": st.host_token("st.example.jp"), "area_name": "道央"}
    items_ok, _ = st.oracle_parse(result_pg["url"], result_pg["body"], ok_meta)
    assert items_ok and all(i["area_name"] == "道央" for i in items_ok)
    items_bad, _ = st.oracle_parse(
        result_pg["url"], result_pg["body"], {"_token": "tok-wrong"}
    )
    assert items_bad == []
