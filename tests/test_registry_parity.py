"""Per-source byte-parity goldens for the 49-entry source registry:
engine extractor vs independent oracle parser over fixture sites that
exercise each source's quirk rules (SURVEY.md §2.8 F5). Pure pandas,
no Spark session."""

from __future__ import annotations

import pandas as pd
import pytest

from goto_eater_crawler_spark.sources.families import FAMILIES, cards
from goto_eater_crawler_spark.sources.registry import (
    REGISTRY,
    active_sources,
    allowed_domains_map,
    apply_quirks,
)

CARDS_SOURCES = sorted(n for n, s in REGISTRY.items() if s.family == "cards")


def _walk_parity(spec, site, seed_rows):
    """Walk fixture pages, threading link meta; engine batch extract
    must byte-equal the oracle on every page."""
    fam = FAMILIES[spec.family]
    metas = {s["url"]: s.get("meta") or {} for s in seed_rows}
    total = 0
    for pg in site:
        meta = metas.get(pg["url"], {})
        pdf = pd.DataFrame(
            [
                {
                    "url": pg["url"],
                    "source": spec.name,
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
        assert stripped == o_items, (spec.name, pg["url"])
        assert [l["url"] for l in links] == [l["url"] for l in o_links], (
            spec.name,
            pg["url"],
        )
        for l in o_links:
            metas.setdefault(l["url"], l["meta"])
        total += len(recs)
    return total


@pytest.mark.parametrize("name", CARDS_SOURCES)
def test_cards_source_parity(name):
    spec = REGISTRY[name]
    site = cards.gen_site(spec.host, name)
    assert site, name
    total = _walk_parity(spec, site, cards.seeds(spec.host, name))
    assert total > 0, name


NON_CARDS_SOURCES = sorted(
    n for n, s in REGISTRY.items() if s.family != "cards"
)


@pytest.mark.parametrize("name", NON_CARDS_SOURCES)
def test_non_cards_source_parity(name):
    """Every non-cards registry entry walks its family's fixture site
    under ITS host (meta threaded — session/mesh families hand state
    through link meta), engine vs oracle byte-equal."""
    spec = REGISTRY[name]
    fam = FAMILIES[spec.family]
    site = fam.gen_site(spec.host)
    total = _walk_parity(spec, site, fam.seeds(spec.host, name))
    assert total > 0, name


def test_registry_is_complete():
    """49 sources: 47 spiders + hokkaido + oita scripts — the full
    reference inventory (spiders/ dir + scripts/, SURVEY.md §0)."""
    assert len(REGISTRY) == 49
    families = {s.family for s in REGISTRY.values()}
    assert families <= set(FAMILIES)
    for s in REGISTRY.values():
        assert s.allowed_domains, s.name
        assert s.ref, s.name


def test_active_sources_mirror_main_ignores():
    """main.py:29-74: the all-run excludes ended/robots/ToS sources;
    every ignored entry must say why, with a main.py citation."""
    act = active_sources()
    # the reference's non-ignored set at its final state (every spider
    # absent from main.py:29-74's ignores; hokkaido/oita are commented
    # out at main.py:77-84)
    assert set(act) == {"hiroshima", "kagawa", "nagano", "nagasaki",
                        "okinawa", "osaka", "tokyo"}
    for n, s in REGISTRY.items():
        if s.ignored:
            assert "main.py" in s.ignore_reason, n


def test_allowed_domains_cover_fixture_hosts():
    m = allowed_domains_map()
    for n, s in REGISTRY.items():
        assert s.host in m[n]
        assert set(s.allowed_domains) <= set(m[n])


def test_quirk_interpreter_semantics():
    assert apply_quirks({"tel": "TEL : 03-1"}, (("strip_prefix", "tel", "TEL : "),)) == {
        "tel": "03-1"
    }
    assert apply_quirks({"address": ""}, (("drop_if_empty", "address"),)) is None
    assert apply_quirks(
        {"address": "愛知県名古屋"}, (("drop_if_startswith", "address", "愛知県"),)
    ) is None
    assert apply_quirks({"zip_code": "〒371-1"}, (("slice_from", "zip_code", 1),)) == {
        "zip_code": "371-1"
    }
    assert apply_quirks(
        {"detail_page": "https://h/d/5?page=2"},
        (("url_strip_query", "detail_page"),),
    ) == {"detail_page": "https://h/d/5"}
    # Reference semantics are UNCONDITIONAL replace+[:-1] (hyogo.py:39-41):
    # empty query still chops the final character.  Regression for the
    # round-2 engine/oracle divergence on query-less and bare-'?' URLs.
    for raw, want in [
        ("ab?", "ab"),                              # empty query, trailing ?
        ("https://h/d", "https://h/"),              # no query at all
        ("https://h/d?p=1#frag", "https://h/d?#fra"),  # query+fragment
        ("?", ""),                                  # degenerate
    ]:
        got = apply_quirks(
            {"detail_page": raw}, (("url_strip_query", "detail_page"),)
        )
        assert got == {"detail_page": want}, (raw, got)
        # and the oracle interpreter agrees
        from goto_eater_crawler_spark.sources.families import cards as _c
        spec = REGISTRY["hyogo"]
        assert _c._o_quirks({"detail_page": raw}, spec)["detail_page"] == want
    assert apply_quirks({"genre_name": "和 食"}, (("collapse_ws", "genre_name"),)) == {
        "genre_name": "和食"
    }
    assert apply_quirks({"tel": "-"}, (("dash_to_empty", "tel"),)) == {"tel": ""}
    assert apply_quirks({"shop_name": None}, (("default", "shop_name", "X"),)) == {
        "shop_name": "X"
    }


def test_offsite_split_scopes_by_source(spark):
    """P4: per-source allowed_domains (Scrapy OffsiteMiddleware) —
    exact domain and subdomains in scope, anything else offsite,
    scope evaluated per source."""
    from goto_eater_crawler_spark.operators.politeness import offsite_split

    rows = [
        ("a", "x.jp"),          # exact
        ("a", "sub.x.jp"),      # subdomain
        ("a", "y.jp"),          # other source's domain -> offsite for a
        ("a", "notx.jp"),       # suffix but not subdomain
        ("b", "y.jp"),          # exact for b
        ("b", "x.jp"),          # offsite for b
    ]
    frontier = spark.createDataFrame(rows, "source string, host string")
    in_scope, offsite = offsite_split(
        frontier, {"a": ("x.jp",), "b": ("y.jp",)}
    )
    got_in = {(r["source"], r["host"]) for r in in_scope.collect()}
    got_off = {(r["source"], r["host"]) for r in offsite.collect()}
    assert got_in == {("a", "x.jp"), ("a", "sub.x.jp"), ("b", "y.jp")}
    assert got_off == {("a", "y.jp"), ("a", "notx.jp"), ("b", "x.jp")}


def test_registry_crawl_e2e(spark):
    """Full engine crawl over a mix of registry sources (pagination
    styles: next/js_page/counter/two-hop detail/positional json) with
    the offsite filter on; per-source record counts must equal the
    independent oracle aggregates."""
    from goto_eater_crawler_spark.plans.crawl import CrawlConfig, CrawlEngine
    from goto_eater_crawler_spark.sources import registry_fixture, webgen
    from goto_eater_crawler_spark.sources.registry import allowed_domains_map

    names = ["aichi", "aomori", "nagano", "shimane", "kochi", "kagoshima"]
    pages_rows, seeds, robots_rows = registry_fixture.crawl_fixture(names)
    res = CrawlEngine(
        spark,
        webgen.pages_df(spark, pages_rows),
        webgen.robots_df(spark, robots_rows),
        CrawlConfig(
            round_budget=1e6,
            max_rounds=8,
            allowed_domains=allowed_domains_map(),
        ),
    ).run(seeds)
    got = {
        r["source"]: r["n"]
        for r in res.records.groupBy("source").count().withColumnRenamed(
            "count", "n"
        ).collect()
    }
    want = {
        name: n
        for (name, n, _mn, _mx) in registry_fixture.oracle_source_aggregates()
        if name in names
    }
    assert got == want
    # every fixture page was fetched; nothing dropped offsite
    m_all = res.metrics
    assert sum(m["fetched"] for m in m_all) == len(pages_rows)
    assert all(m["offsite"] == 0 for m in m_all)


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _HAS_HYPOTHESIS = True
except ImportError:  # pragma: no cover
    _HAS_HYPOTHESIS = False

if _HAS_HYPOTHESIS:
    _FIELDS = sorted(
        {q[1] for s in REGISTRY.values() for q in s.quirks} | {"shop_name"}
    )
    _VAL = st.one_of(
        st.none(),
        st.text(
            alphabet="ab 〒?&=/●｜、TEL.:愛知県-<!-->珉",
            max_size=24,
        ),
    )

    @given(
        item=st.fixed_dictionaries({f: _VAL for f in _FIELDS}),
        name=st.sampled_from(sorted(n for n, s in REGISTRY.items() if s.quirks)),
    )
    @settings(max_examples=300, deadline=None)
    def test_quirk_interpreters_equivalent(item, name):
        """The engine quirk interpreter (registry.apply_quirks) and
        the independently written oracle interpreter (cards._o_quirks)
        must agree on ARBITRARY field values for every source's quirk
        list — not just the fixture values (fuzzes drop rules, prefix
        strips, regex subs, url query stripping, defaults...)."""
        spec = REGISTRY[name]
        a = apply_quirks(dict(item), spec.quirks)
        b = cards._o_quirks(dict(item), spec)
        assert a == b, (name, item)


def _all_items(name):
    spec = REGISTRY[name]
    site = cards.gen_site(spec.host, name)
    items = []
    for pg in site:
        meta = {}
        if spec.config.get("pagination") == "areas":
            for s in cards.seeds(spec.host, name):
                if s["url"] == pg["url"]:
                    meta = s["meta"]
        its, _ = cards.oracle_parse(pg["url"], pg["body"], meta)
        items.extend(its)
    return items


def test_anchored_goldens_literal_values():
    """Engine==oracle can both be wrong the same way; anchor a few
    tricky sources to LITERAL expected items (hand-derived from the
    fixture values + the reference's cited cleanup rules)."""
    gunma = _all_items("gunma")
    # card i=0: zip rendered '〒100-0000' -> [1:] slice (gunma.py:32);
    # tel rendered 'TEL.000-000-0000' -> prefix strip (gunma.py:36-37)
    g0 = gunma[0]
    assert g0["zip_code"] == "100-0000"
    assert g0["tel"] == "000-000-0000"
    assert g0["shop_name"] == "食堂gunma00"
    # card k=1 has no genre (gunma.py:25-26 optional)
    assert gunma[1]["genre_name"] is None

    gnavi = _all_items("tokyo_gnavi")
    g1 = next(r for r in gnavi if r["shop_name"] == "食堂tokyo_gnavi01")
    # data-o JSON splice (tokyo_gnavi.py:105-111)
    assert g1["official_page"] == "https://shoptokyo_gnavi1.example.com/"
    # marker png latlng (tokyo_gnavi.py:145-149)
    assert g1["provided_lat"] == "35.001" and g1["provided_lng"] == "139.007"
    # dd fallback genre for odd docs (tokyo_gnavi.py:137-141)
    assert g1["genre_name"] == "洋食"
    g0 = next(r for r in gnavi if r["shop_name"] == "食堂tokyo_gnavi00")
    assert g0["genre_name"] == "和食|居酒屋"  # ol list join
    assert g0["closing_day"] == "毎週月曜\n祝日"  # \n join (127-128)
    assert g0["zip_code"] == "100-0000"  # 〒 stripped (116)

    miyazaki = _all_items("miyazaki")
    m0 = miyazaki[0]
    # name／genre split (miyazaki.py:24-28)
    assert m0["shop_name"] == "食堂miyazaki00"
    assert m0["genre_name"] == "和食"
    assert miyazaki[1]["tel"] == ""  # '-' placeholder (aomori.py:40 family)


def test_quirks_observable_in_fixtures():
    """Each headline F5 quirk must actually fire on fixture data —
    a quirk the fixtures never trigger is untested parity."""
    # gunma.py:32,36-37: zip 〒-slice + TEL. strip
    gunma = _all_items("gunma")
    assert all(not i["zip_code"].startswith("〒") for i in gunma)
    assert any(i["tel"] and not i["tel"].startswith("TEL.") for i in gunma)
    assert any(i["genre_name"] is None for i in gunma)  # optional genre
    # hyogo.py:27-28,38-41
    hyogo = _all_items("hyogo")
    assert all(" " not in i["address"] for i in hyogo)
    assert all("?" not in i["detail_page"] for i in hyogo)
    # miyazaki.py:24-28 name／genre split incl. no-match fallback
    miyazaki = _all_items("miyazaki")
    assert any(i["genre_name"] for i in miyazaki)
    assert any(i["genre_name"] is None for i in miyazaki)
    assert any(i["tel"] == "" for i in miyazaki)  # '-' placeholder
    # niigata.py:67-74 zip fallback; 79-89 tag classification
    niigata = _all_items("niigata")
    assert any(i["zip_code"] is None for i in niigata)
    assert all("area_name" in i for i in niigata)
    assert any("|" in i["genre_name"] for i in niigata)
    # osaka.py:52-57 hardcoded fallback + 73 ws strip
    osaka = _all_items("osaka")
    assert any(i["shop_name"] == "珉珉上新庄駅前店" for i in osaka)
    assert all(" " not in i["address"] for i in osaka)
    # mie.py:64-66 out-of-region drop
    mie = _all_items("mie")
    assert all(not i["address"].startswith("愛知県") for i in mie)
    assert len(mie) == cards.N_PAGES * cards.CARDS - 1
    # gifu.py:69 shop name scrubbed from address
    gifu = _all_items("gifu")
    assert all(i["shop_name"] not in i["address"] for i in gifu)
    # fukui.py:54 genre 、->|; 47-53 empty-genre shop
    fukui = _all_items("fukui")
    assert any("|" in i["genre_name"] for i in fukui)
    assert any(i["genre_name"] == "" for i in fukui)
    # shimane.py:59-60 genre whitespace collapse; 42-46 query strip
    shimane = _all_items("shimane")
    assert all(" " not in (i["genre_name"] or "") for i in shimane)
    assert all("?" not in i["detail_page"] for i in shimane)
    # tokyo_gnavi.py:105-111 data-o URL; 127-128 closing join;
    # 130-141 ol genres; 145-149 marker latlng
    gnavi = _all_items("tokyo_gnavi")
    assert any((i.get("official_page") or "").startswith("https://") for i in gnavi)
    assert any("\n" in i["closing_day"] for i in gnavi)
    assert any("|" in i["genre_name"] for i in gnavi)
    assert all(i.get("provided_lat") for i in gnavi)
    # tokushima.py:26-28 comma genres
    tokushima = _all_items("tokushima")
    assert any("|" in i["genre_name"] for i in tokushima)
    # yamaguchi.py:40-41 ● strip
    yamaguchi = _all_items("yamaguchi")
    assert all("●" not in i["genre_name"] for i in yamaguchi)
    # kagawa.py:33 full-width pipe
    kagawa = _all_items("kagawa")
    assert any("|" in i["genre_name"] for i in kagawa)
    assert all("｜" not in i["genre_name"] for i in kagawa)
    # iwate.py:73-75 tel guard (junk stripped, no-number -> None)
    iwate = _all_items("iwate")
    assert any(i["tel"] and i["tel"].startswith("0") for i in iwate)
    assert any(i["tel"] is None for i in iwate)
    # nagano.py:22-24 empty-name drop; 31-33 label strip
    nagano = _all_items("nagano")
    assert len(nagano) == cards.N_PAGES * cards.CARDS - 1
    assert all(not i["address"].startswith("住所：") for i in nagano)
