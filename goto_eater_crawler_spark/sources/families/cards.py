"""Family ``cards`` — the registry-driven generic card-list shape.

35 of the 49 reference sources are "card list" spiders: a paginated
HTML page of shop cards (optionally hopping to per-shop detail pages),
differing not in dataflow but in FIELD LAYOUT details and per-source
clean-up quirks (SURVEY.md §2.8 F5). This family models all of them
through one shared card markup whose RAW field values, link behavior,
pagination style and post-extract quirks are driven by each source's
:class:`~goto_eater_crawler_spark.sources.registry.SourceSpec`.

Design note (layout vs quirks): the reference's per-spider XPath
layouts (card CSS vs label tables vs positional tds — P1 in SURVEY
§2.2) are structurally equivalent one-body→many-rows projections; the
engine keeps one representative family per *shape* (list_xpath,
label_table, …) and concentrates per-source parity where the diffs
actually live — the F5 quirk matrix, pagination/link synthesis (F7),
seed fan-out (J5/S2) and drop rules (P2/P5) — all declaratively in
registry.py with file:line citations, interpreted here.

Engine extractor and oracle parser are independent implementations
over the same specs; tests/test_registry_parity.py pins them
byte-equal per source over fixtures that exercise every quirk.
"""

from __future__ import annotations

import json
import re
from urllib.parse import urljoin, urlsplit
from ...functions.urltools import fast_urljoin

from ...functions import minihtml
from ..registry import SourceSpec, apply_quirks, spec_for
from . import batch_extractor

GENRES = ["和食", "洋食", "中華", "居酒屋", "カフェ", "ラーメン", "寿司"]


# ---------------------------------------------------------------------------
# fixture generation
# ---------------------------------------------------------------------------

N_PAGES = 2
CARDS = 4


def _vals(spec: SourceSpec, i: int) -> dict:
    """Deterministic raw values for global card index i."""
    return {
        "name": f"食堂{spec.name}{i:02d}",
        "genre": GENRES[i % len(GENRES)],
        "genre2": GENRES[(i + 3) % len(GENRES)],
        "zip": f"{100 + i:03d}-{(i * 37) % 10000:04d}",
        "addr": f"中央区本町{i}丁目{i % 9}-{i % 7}",
        "tel": f"0{i % 9}0-{i:03d}-{(i * 7) % 10000:04d}",
        "hp": f"http://shop{spec.name}{i}.example.com/",
        "lat": f"35.{i % 1000:03d}",
        "lng": f"139.{(i * 7) % 1000:03d}",
        "area": f"エリア{i % 3}",
        "hours": f"11:00-2{i % 3}:00",
        "closed": f"毎週{'月火水'[i % 3]}曜",
    }


def list_url(spec: SourceSpec, page: int, area: str | None = None) -> str:
    host = spec.host
    cfg = spec.config
    pag = cfg.get("pagination", "next")
    if pag == "areas":
        return f"https://{host}/store/{area}.html"
    if cfg.get("seed") == "form":
        # S2 contract: POST formdata canonicalized into the url key
        # (sorted params; functions/urltools contract)
        if page == 1:
            return f"https://{host}/shop/search.php?action=list&keyword="
        return f"https://{host}/shop/search.php?page={page}"
    if page == 1:
        return f"https://{host}/shop/"
    if pag == "js_page":
        return (
            f"https://{host}/use_store?events=page&id={page}"
            "&store=&addr=&industry="
        )
    if pag == "js_jumppage":
        return (
            f"https://{host}/index.html?freeword=&area=&genre="
            f"&pgn={page}#shopsearch"
        )
    if pag == "js_submit" or pag == "counter":
        return f"https://{host}/shop/page/{page}"
    return f"https://{host}/shop/?page={page}"


def detail_url(spec: SourceSpec, i: int) -> str:
    u = f"https://{spec.host}/detail/{i}"
    if spec.config.get("detail_query"):
        return u  # the ?page= query lives only in the href, not identity
    return u


def _card_html(spec: SourceSpec, i: int, k: int, page: int) -> str:
    cfg = spec.config
    v = _vals(spec, i)
    parts = ["<article class=\"card\">"]

    # --- name
    name = v["name"]
    if cfg.get("empty_name_idx") is not None and page == 1 and k == cfg["empty_name_idx"]:
        name = ""
    genre_mode = cfg.get("genre", "single")
    if genre_mode == "in_name":
        # miyazaki.py:24-28 — genre jammed into the name with ／
        name = v["name"] if k == 2 else f"{v['name']}／{v['genre']}"
    if cfg.get("name") == "union_a" or cfg.get("hp") == "name_link":
        parts.append(
            f'<h3 class="name">{name[: len(name) // 2]}'
            f'<a href="{v["hp"]}">{name[len(name) // 2:]}</a></h3>'
        )
    else:
        parts.append(f'<h3 class="name"> {name} </h3>')

    # --- tags (area + genres mixed — niigata.py:79-89 / osaka.py:60-68)
    if genre_mode == "tags":
        tags = [cfg["area_list"][i % len(cfg["area_list"])], v["genre"]]
        if k % 2 == 0:
            tags.append(v["genre2"])
        parts.append(
            '<ul class="tags">' + "".join(f"<li>{t}</li>" for t in tags) + "</ul>"
        )
    elif genre_mode in ("single", "label", "td_span", "section", "header_ol"):
        parts.append(f'<span class="genre">{v["genre"]}</span>')
    elif genre_mode == "single_optional":
        if k != 1:  # gunma.py:25-26: genre may be absent
            parts.append(f'<span class="genre">{v["genre"]}</span>')
    elif genre_mode == "multi":
        gs = [v["genre"]] + ([v["genre2"]] if k % 2 == 0 else [])
        parts.append("".join(f'<span class="g">{g}</span>' for g in gs))
    elif genre_mode and genre_mode.startswith("multi_mark:"):
        mark = genre_mode.split(":", 1)[1]
        gs = [v["genre"]] + ([v["genre2"]] if k % 2 == 0 else [])
        parts.append("".join(f'<span class="g">{mark}{g}</span>' for g in gs))
    elif genre_mode and genre_mode.startswith("join_raw:"):
        sep = genre_mode.split(":", 1)[1]
        gs = [v["genre"]] + ([v["genre2"]] if k % 2 == 0 else [])
        parts.append(f'<span class="genre">{sep.join(gs)}</span>')
    elif genre_mode == "comma_header":
        # tokushima.py:26-28: header text "ジャンル：a, b"
        gs = [v["genre"]] + ([v["genre2"]] if k % 2 == 0 else [])
        parts.append(f'<span class="genre">ジャンル：{", ".join(gs)}</span>')

    # --- area
    area_mode = spec.config.get("area", "none")
    if area_mode == "tag":
        parts.append(f'<span class="area">{v["area"]}</span>')
    elif area_mode == "tag_brackets":
        parts.append(f'<span class="area">【{v["area"]}】</span>')

    # --- place / zip / addr
    place = cfg.get("place", "zip_space")
    if place == "zip_space":
        parts.append(f'<p class="place">〒{v["zip"]} {v["addr"]}</p>')
    elif place == "zip_space_ws":
        parts.append(f'<p class="place">〒 {v["zip"]} {v["addr"]}</p>')
    elif place == "zip_nospace":
        parts.append(f'<p class="place">〒{v["zip"]}{v["addr"]}</p>')
    elif place == "zip_fallback":
        if k == 2:  # niigata.py:67-74 zip-less row
            parts.append(f'<p class="place">{v["addr"]}</p>')
        else:
            parts.append(f'<p class="place">〒{v["zip"]} {v["addr"]}</p>')
    elif place == "addr_only":
        parts.append(f'<p class="addr">{v["addr"]}</p>')
    elif place == "addr_pair":
        # ibaraki.py:42-45 — two address columns joined with a space
        parts.append(f'<p class="addr">{v["addr"]}</p>')
        parts.append(f'<p class="addr2">ビル{i % 5}F</p>')
    elif place and place.startswith("addr_label:"):
        label = place.split(":", 1)[1]
        parts.append(f'<p class="addr">{label}{v["addr"]}</p>')
    elif place == "split":
        zip_raw = f"〒{v['zip']}" if cfg.get("zip_maru") else v["zip"]
        addr = f" {v['addr']} 2F " if cfg.get("addr_ws") else v["addr"]
        parts.append(f'<span class="zip">{zip_raw}</span>')
        parts.append(f'<p class="addr">{addr}</p>')

    # --- tel
    tel_mode = cfg.get("tel", "label")
    if tel_mode != "none" and k != 3:  # one card per page lacks tel
        t = v["tel"]
        if any(q[0] == "dash_to_empty" for q in spec.quirks) and k == 1:
            t = "-"  # premium-gift '-' placeholder (aomori.py:40)
        if tel_mode == "label":
            parts.append(f'<p class="tel">{t}</p>')
        elif tel_mode == "href":
            parts.append(f'<a class="tel" href="tel:{t}">{t}</a>')
        elif tel_mode == "tel_href":
            parts.append(f'<a class="tel" href="tel:{t}">電話</a>')
        elif tel_mode.startswith("prefix:"):
            parts.append(f'<p class="tel">{tel_mode.split(":", 1)[1]}{t}</p>')
        elif tel_mode == "guard":
            # iwate.py:73-75 — junk text around the number
            raw = "予約不可" if k == 2 else f"予約は {t} まで"
            parts.append(f'<p class="tel">{raw}</p>')
        elif tel_mode in ("td", "bracket"):
            parts.append(f'<p class="tel">{t}</p>')

    # --- hp / gmap / hours / closed
    if cfg.get("hp") is True and k % 3 != 0:
        parts.append(f'<a class="hp" href="{v["hp"]}">HP</a>')
    gmap = cfg.get("gmap")
    if gmap == "at":
        if k != 0:  # some cards lack the latlng pattern
            parts.append(
                f'<a class="gmap" href="https://maps.example.com/maps/place/x/'
                f'@{v["lat"]},{v["lng"]},17z/data=!3m1">Map</a>'
            )
        else:
            parts.append(
                '<a class="gmap" href="https://maps.example.com/maps?q=x">Map</a>'
            )
    elif gmap == "q":
        if k != 0:
            parts.append(
                f'<a class="gmap" href="https://maps.example.com/'
                f'?q={v["lat"]},{v["lng"]}&z=17">Map</a>'
            )
    if cfg.get("hours"):
        parts.append(f'<p class="hours">{v["hours"]}</p>')
    if cfg.get("closed"):
        parts.append(f'<p class="closed">{v["closed"]}</p>')

    # --- detail link
    if cfg.get("detail") or cfg.get("detail_btn"):
        href = f"/detail/{i}"
        if cfg.get("detail_btn") == "query" or cfg.get("detail_query"):
            href += f"?page={page}"
        parts.append(f'<a class="detail" href="{href}">詳しく見る</a>')

    parts.append("</article>")
    return "".join(parts)


def _detail_html(spec: SourceSpec, i: int) -> str:
    cfg = spec.config
    v = _vals(spec, i)
    labels = cfg.get("labels", {})
    rows = []

    def row(label, val):
        rows.append(f"<tr><th>{label}</th><td>{val}</td></tr>")

    name = v["name"]
    if "shop_name" in labels:
        row(labels["shop_name"], f" {name} ")
    else:
        rows.append(f'<h3 class="name"> {name} </h3>')
    if "genre_name" in labels and not cfg.get("genre_dd1"):
        row(labels["genre_name"], v["genre"])
    if cfg.get("genre_dd1"):
        # fukui.py:47-53 — genre in dd[1]; empty for one shop
        g = "" if i == 3 else f"{v['genre']}、{v['genre2']}"
        rows.append(f'<dd class="dd1">{g}</dd>')
    if cfg.get("genre") == "header_ol":
        # tokyo_gnavi.py:130-141 — ol list when present, dd fallback
        if i % 2 == 0:
            rows.append(
                '<ol class="gen">'
                + "".join(
                    f'<li><a href="#">{g}</a></li>'
                    for g in (v["genre"], v["genre2"])
                )
                + "</ol>"
            )
        else:
            rows.append(f'<dd class="cat"> {v["genre"]} </dd>')
    if cfg.get("genre_ws"):
        # shimane.py:59-60 — genre text carries stray whitespace
        rows.append(f'<span class="genre">{v["genre"][:1]} {v["genre"][1:]}</span>')
    if "area_name" in labels:
        row(labels["area_name"], f" {v['area']} ")
    if cfg.get("area") == "detail_icon":
        rows.append(f'<span class="area"> {v["area"]} </span>')

    if cfg.get("place") == "multi_line":
        # gifu.py:67-69 / mie.py:61-63 — zip + address lines
        addr1, addr2 = v["addr"], f"ビル{i % 5}F"
        if cfg.get("addr_contains_shopname"):
            addr2 = f"ビル{i % 5}F{name}"  # gifu.py:69
        if cfg.get("out_of_region_idx") == i:
            addr1 = f"愛知県名古屋市中区{i}丁目"  # mie.py:64-66
        rows.append(
            f"<tr><th>住所情報</th><td> {v['zip']} </td>"
            f"<td>{addr1}</td><td>{addr2}</td></tr>"
        )
    elif "address" in labels:
        row(labels["address"], f" {v['addr']} ")
    if cfg.get("zip_maru_label"):
        rows.append(f'<p class="zip"> 〒{v["zip"]} </p>')
        rows.append(f'<span class="region"> {v["addr"]} </span>')

    if cfg.get("broken_tel_row"):
        # mie.py:68-69 / gifu.py:71-72 — tel row lost its <tr>
        rows.append(f"<th>電話番号</th><td> {v['tel']} </td>")
    elif "tel" in labels:
        row(labels["tel"], v["tel"] if i != 3 else "")

    if "opening_hours" in labels:
        row(labels["opening_hours"], v["hours"])
    if "closing_day" in labels:
        if cfg.get("closed_join"):
            # tokyo_gnavi.py:127-128 — "\n".join of li texts
            rows.append(
                f"<tr><th>{labels['closing_day']}</th><td>"
                f'<li class="cd">{v["closed"]}</li><li class="cd">祝日</li>'
                "</td></tr>"
            )
        else:
            row(labels["closing_day"], v["closed"])
    if "official_page" in labels and i % 3 != 0:
        rows.append(
            f"<tr><th>{labels['official_page']}</th>"
            f'<td><a href="{v["hp"]}">{v["hp"]}</a></td></tr>'
        )
    if cfg.get("hp_data_o") and i % 3 != 0:
        # tokyo_gnavi.py:105-111 — scheme/host split into data-o JSON
        data_o = json.dumps(
            {"a": f"shop{spec.name}{i}.example.com/", "b": "https"}
        ).replace('"', "&quot;")
        rows.append(f'<a class="url" data-o="{data_o}">URL</a>')
    if cfg.get("gmap") == "q":
        rows.append(
            f'<iframe class="gmap" src="https://maps.example.com/'
            f'?q={v["lat"]},{v["lng"]}&z=17"></iframe>'
        )
    elif cfg.get("gmap") == "marker":
        # tokyo_gnavi.py:145-149
        rows.append(
            f'<img class="map" src="https://maps.example.com/staticmap'
            f'?markers=icon:marker_ns.png%7C{v["lat"]},{v["lng"]}&zoom=16">'
        )
    return '<table class="d">' + "".join(rows) + "</table>"


def _areas(spec: SourceSpec) -> tuple[str, ...]:
    return spec.config.get("areas", ())


def gen_site(host: str, source: str | None = None) -> list[dict]:
    """Deterministic fixture site for a registry source (resolved by
    host when source is not given)."""
    spec = spec_for(source, f"https://{host}/")
    cfg = spec.config
    pag = cfg.get("pagination", "next")
    pages: list[dict] = []
    if pag == "areas":
        area_list = _areas(spec)
        for a_idx, area in enumerate(area_list):
            cards = "".join(
                _card_html(spec, a_idx * CARDS + k, k, 1) for k in range(CARDS)
            )
            body = (
                f'<html><body><h1 class="sect">{area}</h1>'
                f'<div class="cards">{cards}</div></body></html>'
            )
            pages.append({"url": list_url(spec, 1, area), "body": body.encode()})
    else:
        n_pages = 1 if pag == "none" else N_PAGES
        for p in range(1, n_pages + 1):
            cards = "".join(
                _card_html(spec, (p - 1) * CARDS + k, k, p) for k in range(CARDS)
            )
            if cfg.get("area") == "section":
                # yamanashi.py:22-24 — per-area section headers
                cards = f'<h1 class="sect">エリア{p}</h1>' + cards
            nav = ""
            if p < n_pages:
                if pag == "next":
                    nav = f'<a class="next" href="?page={p + 1}">次へ</a>'
                elif pag == "js_page":
                    nav = (
                        f'<a class="next" href="javascript:on_events'
                        f"('page',{p + 1});\">次へ</a>"
                    )
                elif pag == "js_jumppage":
                    nav = (
                        f'<a class="next" href="javascript:jumppage'
                        f'({p + 1});">次の一覧</a>'
                    )
                elif pag == "js_submit":
                    nav = (
                        f'<a class="next" onclick="mySubmit'
                        f"('https://{spec.host}/shop/page/{p + 1}');\">次へ</a>"
                    )
                elif pag == "counter":
                    nav = '<a class="more" href="#">&gt;&gt;</a>'
                elif pag == "form_action":
                    nav = (
                        '<li><button class="active">1</button></li>'
                        f'<li><form action="?page={p + 1}"></form></li>'
                    )
            body = (
                '<html><body><div class="cards">'
                f"{cards}</div>{nav}</body></html>"
            )
            pages.append({"url": list_url(spec, p), "body": body.encode()})
    if cfg.get("detail") or cfg.get("detail_btn"):
        n_cards = (
            len(_areas(spec)) * CARDS
            if pag == "areas"
            else (1 if pag == "none" else N_PAGES) * CARDS
        )
        if cfg.get("detail"):  # only true two-hop sources fetch details
            for i in range(n_cards):
                u = detail_url(spec, i)
                if cfg.get("detail_query"):
                    # shimane.py:42-46 — detail URLs carry ?page=; the
                    # recorded detail_page field strips it via quirk
                    u = f"{u}?page={i // CARDS + 1}"
                pages.append(
                    {"url": u, "body": _detail_html(spec, i).encode()}
                )
    return pages


def seeds(host: str, source: str) -> list[dict]:
    spec = spec_for(source, f"https://{host}/")
    pag = spec.config.get("pagination", "next")
    if pag == "areas":
        return [
            {
                "url": list_url(spec, 1, area),
                "source": source,
                "parse_family": "cards",
                "depth": 0,
                "meta": {"area_name": area},
            }
            for area in _areas(spec)
        ]
    return [
        {
            "url": list_url(spec, 1),
            "source": source,
            "parse_family": "cards",
            "depth": 0,
            "meta": {},
        }
    ]


# ---------------------------------------------------------------------------
# engine extractor
# ---------------------------------------------------------------------------

_TAG_STRIP = re.compile(r"<[^>]+>")
_ZIP_SPACE = re.compile(r"〒(?P<zip>.*?)\s(?P<addr>.*)", re.DOTALL)
_ZIP_SPACE_WS = re.compile(r"〒\s*(?P<zip>.*?)\s(?P<addr>.*)", re.DOTALL)
_ZIP_NOSPACE = re.compile(r"〒(?P<zip>\d{3}-\d{4})(?P<addr>.*)", re.DOTALL)
_TEL_GUARD = re.compile(r".*(?P<tel>0\d{1,4}-\d{1,4}-\d{3,4})")
_LATLNG_AT = re.compile(r"/maps/.*/@(?P<lat>.*?),(?P<lng>.*?),")
_LATLNG_Q = re.compile(r"q=(?P<lat>\d+\.\d+)\,(?P<lng>\d+\.\d+)")
_LATLNG_MARKER = re.compile(r"marker_ns\.png%7C(?P<lat>.*?)\,(?P<lng>.*?)\&")
_NAME_SLASH = re.compile(r"(?P<shop_name>.*)(\/|／)+(?P<genre_name>.*)")


def _q(node: minihtml.Node, tag: str, cls: str | None = None) -> str | None:
    """Inner HTML of the first matching descendant (byte-exact source
    span), or None — the structural replacement for the round-2 exact
    ``<p class="x">(.*?)</p>`` regex reads: tolerant of attribute
    order, extra attributes, whitespace and quoting variations."""
    n = node.find(tag, cls)
    return n.inner_html() if n is not None else None


def _qa(node: minihtml.Node, tag: str, cls: str | None, attr: str) -> str | None:
    """Raw attribute value of the first matching descendant."""
    n = node.find(tag, cls)
    return n.attrs.get(attr) if n is not None else None


def _parse_place(item: dict, cfg: dict, card: minihtml.Node) -> None:
    place = cfg.get("place", "zip_space")
    if place in ("zip_space", "zip_fallback", "zip_space_ws", "zip_nospace"):
        raw = (_q(card, "p", "place") or "").strip()
        rx = {
            "zip_space": _ZIP_SPACE,
            "zip_fallback": _ZIP_SPACE,
            "zip_space_ws": _ZIP_SPACE_WS,
            "zip_nospace": _ZIP_NOSPACE,
        }[place]
        m = rx.match(raw)
        if m:
            item["address"] = m.group("addr").strip()
            item["zip_code"] = m.group("zip").strip()
        else:
            item["address"] = raw
            item["zip_code"] = None
    elif place == "addr_only" or (place and place.startswith("addr_label:")):
        item["address"] = (_q(card, "p", "addr") or "").strip()
    elif place == "addr_pair":
        a1 = _q(card, "p", "addr")
        a2 = _q(card, "p", "addr2")
        item["address"] = f"{a1} {a2}"  # ibaraki.py:45 join, no strip
    elif place == "split":
        z = _q(card, "span", "zip")
        item["zip_code"] = z if z is not None else None
        a = _q(card, "p", "addr")
        item["address"] = a.strip() if a is not None and not cfg.get("addr_ws") else a
        if cfg.get("addr_ws") and a is not None:
            item["address"] = a  # raw; the regex_sub quirk strips \s


def _parse_genre(item: dict, spec: SourceSpec, card: minihtml.Node, meta: dict) -> None:
    cfg = spec.config
    mode = cfg.get("genre", "single")
    if mode in ("single", "label", "td_span", "section", "header_ol", "single_optional"):
        g = _q(card, "span", "genre")
        item["genre_name"] = g.strip() if g else None
    elif mode == "multi" or mode.startswith("multi_mark:"):
        gs = [n.inner_html() for n in card.find_all("span", "g")]
        item["genre_name"] = "|".join(gs)  # multi_mark marks removed by quirk
    elif mode.startswith("join_raw:"):
        item["genre_name"] = _q(card, "span", "genre")  # raw; quirk converts
    elif mode == "comma_header":
        g = (_q(card, "span", "genre") or "").replace("ジャンル：", "")
        item["genre_name"] = "|".join(s.strip() for s in g.split(","))
    elif mode == "tags":
        tags = card.find("ul", "tags")
        genres = []
        for li in tags.find_all("li") if tags is not None else []:
            t = li.inner_html().strip()
            if not t:
                continue
            if t in cfg.get("area_list", ()):
                item["area_name"] = t
                continue
            genres.append(t)
        item["genre_name"] = "|".join(genres)
    elif mode == "in_name":
        pass  # handled with the name
    elif mode == "none":
        item["genre_name"] = None


def _parse_card(spec: SourceSpec, card: minihtml.Node, meta: dict) -> dict:
    cfg = spec.config
    item: dict = {}
    name_node = card.find("h3", "name")
    raw_name = name_node.inner_html() if name_node is not None else ""
    name = _TAG_STRIP.sub("", raw_name).strip()
    if cfg.get("genre") == "in_name":
        m = _NAME_SLASH.match(name)
        item["shop_name"] = m.group("shop_name") if m else name
        item["genre_name"] = m.group("genre_name") if m else None
    else:
        item["shop_name"] = name
    if cfg.get("hp") == "name_link":
        item["official_page"] = (
            _qa(name_node, "a", None, "href") if name_node is not None else None
        )

    _parse_genre(item, spec, card, meta)
    area_mode = cfg.get("area", "none")
    if area_mode in ("tag", "tag_brackets"):
        a = _q(card, "span", "area")
        item["area_name"] = a.strip() if a else None
    elif area_mode in ("meta", "section"):
        item["area_name"] = meta.get("area_name")
    _parse_place(item, cfg, card)
    if cfg.get("place", "").startswith("addr_label:"):
        pass  # label prefix removed by the strip_prefix quirk

    tel_mode = cfg.get("tel", "label")
    if tel_mode in ("label", "td", "bracket") or tel_mode.startswith("prefix:"):
        item["tel"] = _q(card, "p", "tel")
    elif tel_mode == "href":
        item["tel"] = _q(card, "a", "tel")
    elif tel_mode == "tel_href":
        href = _qa(card, "a", "tel", "href")
        item["tel"] = href if href and href.startswith("tel:") else None
    elif tel_mode == "guard":
        raw = _q(card, "p", "tel")
        m = _TEL_GUARD.match(raw) if raw else None
        item["tel"] = m.group("tel") if m else None

    if cfg.get("hp") is True:
        item["official_page"] = _qa(card, "a", "hp", "href")
    gmap = cfg.get("gmap")
    if gmap in ("at", "q") and not cfg.get("detail"):
        href = _qa(card, "a", "gmap", "href")
        if href:
            rx = _LATLNG_AT if gmap == "at" else _LATLNG_Q
            m = rx.search(href)
            if m:
                item["provided_lat"] = m.group("lat")
                item["provided_lng"] = m.group("lng")
    if cfg.get("hours"):
        item["opening_hours"] = _q(card, "p", "hours")
    if cfg.get("closed"):
        item["closing_day"] = _q(card, "p", "closed")
    if cfg.get("detail_btn"):
        href = _qa(card, "a", "detail", "href")
        if href:
            item["detail_page"] = fast_urljoin(f"https://{spec.host}/", href)
    return item


def _th_td(doc: minihtml.Node, label: str) -> minihtml.Node | None:
    """The <td> element-sibling of the <th> whose content equals
    ``label`` — the structural form of the reference's
    ``//th[text()=...]/following-sibling::td`` reads (tolerates any
    whitespace between th and td, unlike an exact string match)."""
    for th in doc.find_all("th"):
        if th.inner_html().strip() == label:
            td = th.next_sibling()
            if td is not None and td.tag == "td":
                return td
    return None


def _parse_detail(spec: SourceSpec, url: str, doc: minihtml.Node) -> dict:
    cfg = spec.config
    labels = cfg.get("labels", {})
    item: dict = {"detail_page": url}
    if cfg.get("detail_query"):
        item["detail_page"] = url  # already canonical (query stripped in link)

    def by_label(label):
        td = _th_td(doc, label)
        return td.inner_html() if td is not None else None

    if "shop_name" in labels:
        item["shop_name"] = (by_label(labels["shop_name"]) or "").strip()
    else:
        raw = _q(doc, "h3", "name") or ""
        item["shop_name"] = _TAG_STRIP.sub("", raw).strip()
    if cfg.get("genre_dd1"):
        g = _q(doc, "dd", "dd1")
        item["genre_name"] = g.strip() if g else ""  # fukui.py:51-53
    elif cfg.get("genre") == "header_ol":
        ol = doc.find("ol", "gen")
        if ol is not None:
            gs = [li.text().strip() for li in ol.find_all("li")]
            item["genre_name"] = "|".join(gs)
        else:
            item["genre_name"] = (_q(doc, "dd", "cat") or "").strip()
    elif cfg.get("genre_ws"):
        item["genre_name"] = _q(doc, "span", "genre")
    elif "genre_name" in labels:
        g = by_label(labels["genre_name"])
        item["genre_name"] = g.strip() if g else None
    if "area_name" in labels:
        a = by_label(labels["area_name"])
        item["area_name"] = a.strip() if a else None
    elif cfg.get("area") == "detail_icon":
        a = _q(doc, "span", "area")
        item["area_name"] = a.strip() if a else None

    if cfg.get("place") == "multi_line":
        th = next(
            (
                t
                for t in doc.find_all("th")
                if t.inner_html().strip() == "住所情報"
            ),
            None,
        )
        tds = []
        if th is not None:
            for sib in th.following_siblings():
                if sib.tag != "td":
                    break
                tds.append(sib.inner_html())
        if tds:
            item["zip_code"] = tds[0].strip()
            addr = " ".join(tds[1:]).strip()
            if cfg.get("addr_contains_shopname"):
                addr = addr.replace(item["shop_name"], "")  # gifu.py:69
            item["address"] = addr
    elif cfg.get("zip_maru_label"):
        z = _q(doc, "p", "zip")
        item["zip_code"] = z.strip().replace("〒", "") if z else None
        a = _q(doc, "span", "region")
        item["address"] = a.strip() if a else None
    elif "address" in labels:
        a = by_label(labels["address"])
        item["address"] = a.strip() if a else None

    if cfg.get("broken_tel_row"):
        t = by_label("電話番号")
        item["tel"] = t.strip() if t else None
    elif "tel" in labels:
        item["tel"] = by_label(labels["tel"])
    if "opening_hours" in labels:
        item["opening_hours"] = by_label(labels["opening_hours"])
    if "closing_day" in labels:
        if cfg.get("closed_join"):
            td = _th_td(doc, labels["closing_day"])
            lis = td.find_all("li", "cd") if td is not None else []
            item["closing_day"] = "\n".join(li.inner_html() for li in lis)
        else:
            item["closing_day"] = by_label(labels["closing_day"])
    if "official_page" in labels:
        td = _th_td(doc, labels["official_page"])
        item["official_page"] = (
            _qa(td, "a", None, "href") if td is not None else None
        )
    if cfg.get("hp_data_o"):
        data_o = _qa(doc, "a", "url", "data-o")
        if data_o:
            data = json.loads(data_o.replace("&quot;", '"'))
            item["official_page"] = data["b"] + "://" + data["a"]
    if cfg.get("gmap") == "q":
        src = _qa(doc, "iframe", "gmap", "src")
        m = _LATLNG_Q.search(src) if src else None
        if m:
            item["provided_lat"] = m.group("lat")
            item["provided_lng"] = m.group("lng")
    elif cfg.get("gmap") == "marker":
        src = _qa(doc, "img", "map", "src")
        m = _LATLNG_MARKER.search(src) if src else None
        if m:
            item["provided_lat"] = m.group("lat")
            item["provided_lng"] = m.group("lng")
    return item


def _next_links(spec: SourceSpec, url: str, doc: minihtml.Node) -> list[str]:
    pag = spec.config.get("pagination", "next")
    out = []
    if pag == "next":
        href = _qa(doc, "a", "next", "href")
        if href:
            out.append(fast_urljoin(url, href))
    elif pag == "js_page":
        href = _qa(doc, "a", "next", "href")
        if href:
            m = re.match(r"^javascript:on_events\('page',(\d+)\);$", href)
            if m:  # aomori.py:55-58 url synthesis
                out.append(
                    f"https://{spec.host}/use_store?events=page"
                    f"&id={m.group(1)}&store=&addr=&industry="
                )
    elif pag == "js_jumppage":
        href = _qa(doc, "a", "next", "href")
        if href:
            m = re.match(r"^javascript:jumppage\((\d+)\);$", href)
            if m:  # shizuoka.py:55-59
                out.append(
                    f"https://{spec.host}/index.html?freeword=&area="
                    f"&genre=&pgn={m.group(1)}#shopsearch"
                )
    elif pag == "js_submit":
        onclick = _qa(doc, "a", "next", "onclick")
        if onclick:
            m = re.match(r"^mySubmit\('(.*)'\);$", onclick)
            if m:  # niigata.py:105-107
                out.append(m.group(1))
    elif pag == "counter":
        if doc.find("a", "more") is not None:
            # nagano.py:39-46 / toyama.py:44-49 — page counter; derived
            # statelessly from the current url (data-parallel safe)
            m = re.search(r"/shop/page/(\d+)$", url)
            cur = int(m.group(1)) if m else 1
            out.append(f"https://{spec.host}/shop/page/{cur + 1}")
    elif pag == "form_action":
        # wakayama.py:44-49: the form FOLLOWING the active page button
        # in document order
        btn = doc.find("button", "active")
        if btn is not None:
            nxt = next(
                (
                    f
                    for f in doc.find_all("form")
                    if f.start > btn.start and "action" in f.attrs
                ),
                None,
            )
            if nxt is not None:
                out.append(fast_urljoin(url, nxt.attrs["action"]))
    return out


def parse_page(url: str, source: str, body: bytes, meta: dict):
    spec = spec_for(source, url)
    doc = minihtml.parse(body.decode("utf-8"))
    items: list[dict] = []
    links: list[tuple] = []
    if spec.config.get("detail") and "/detail/" in url:
        item = apply_quirks(_parse_detail(spec, url, doc), spec.quirks)
        if item is not None:
            items.append(item)
        return items, links
    if spec.config.get("area") == "section":
        sect = _q(doc, "h1", "sect")
        if sect:
            meta = {**meta, "area_name": sect}
    for card in doc.find_all("article", "card"):
        if spec.config.get("detail"):
            href = _qa(card, "a", "detail", "href")
            if href:
                links.append((fast_urljoin(url, href), "cards", {}))
            continue
        item = apply_quirks(_parse_card(spec, card, meta), spec.quirks)
        if item is not None:
            items.append(item)
    for nxt in _next_links(spec, url, doc):
        links.append((nxt, "cards", dict(meta)))
    return items, links


extract_batch = batch_extractor(parse_page)


# ---------------------------------------------------------------------------
# oracle parser (independent: string-walking, sequential per-source
# flow like the reference spiders; shares only the spec data)
# ---------------------------------------------------------------------------


def _o_between(s: str, start: str, end: str) -> str | None:
    if start not in s:
        return None
    after = s.split(start, 1)[1]
    return after.split(end, 1)[0] if end in after else None


def _o_quirks(item: dict, spec: SourceSpec) -> dict | None:
    """Oracle-side quirk application — re-derived from the reference
    control flow per op, not shared with apply_quirks."""
    out = dict(item)
    for q in spec.quirks:
        op, f = q[0], q[1]
        val = out.get(f)
        if op == "drop_if_empty" and (val is None or val == ""):
            return None
        if op == "drop_if_startswith" and val is not None and str(val).startswith(q[2]):
            return None
        if op == "default" and (val is None or val == ""):
            out[f] = q[2]
        if val is None:
            continue
        sval = str(val)
        if op == "strip_prefix":
            out[f] = sval.replace(q[2], "")
        elif op == "replace":
            out[f] = sval.replace(q[2], q[3])
        elif op == "regex_sub":
            out[f] = re.sub(q[2], q[3], sval)
        elif op == "slice_from":
            out[f] = sval[q[2]:]
        elif op == "collapse_ws":
            out[f] = "".join(sval.split())
        elif op == "dash_to_empty":
            out[f] = "" if sval == "-" else sval
        elif op == "strip":
            out[f] = sval.strip()
        elif op == "strip_comment_markers":
            out[f] = sval.replace("<!--", "").replace("-->", "").strip()
        elif op == "url_strip_query":
            # hyogo.py:38-41: unconditional url.replace(query, "")[:-1]
            out[f] = sval.replace(urlsplit(sval).query, "")[:-1]
    return out


def oracle_parse(url: str, body: bytes, meta: dict | None = None):
    """Independent per-page parse: engine parity is asserted against
    this by tests/test_registry_parity.py. The source is resolved from
    the url's host (registry hosts are unique)."""
    spec = spec_for(None, url)
    meta = dict(meta or {})
    html = body.decode("utf-8")
    cfg = spec.config
    items, links = [], []

    if cfg.get("detail") and "/detail/" in url:
        it = _o_quirks(_parse_detail_oracle(spec, url, html), spec)
        return ([it] if it is not None else []), []

    sect = _o_between(html, '<h1 class="sect">', "</h1>")
    if sect:
        meta["area_name"] = sect

    chunks = html.split('<article class="card">')[1:]
    for chunk in chunks:
        chunk = chunk.split("</article>")[0]
        if cfg.get("detail"):
            href = _o_between(chunk, '<a class="detail" href="', '"')
            if href:
                links.append(
                    {"url": urljoin(url, href), "parse_family": "cards", "meta": {}}
                )
            continue
        it = _o_quirks(_parse_card_oracle(spec, chunk, meta), spec)
        if it is not None:
            items.append(it)

    for nxt in _o_next(spec, url, html):
        links.append({"url": nxt, "parse_family": "cards", "meta": dict(meta)})
    return items, links


def _o_strip_tags(s: str) -> str:
    out, depth_in = [], False
    for ch in s:
        if ch == "<":
            depth_in = True
        elif ch == ">":
            depth_in = False
        elif not depth_in:
            out.append(ch)
    return "".join(out)


def _o_parse_card_place(item: dict, cfg: dict, chunk: str) -> None:
    place = cfg.get("place", "zip_space")
    if place in ("zip_space", "zip_fallback"):
        raw = (_o_between(chunk, '<p class="place">', "</p>") or "").strip()
        m = re.match(r"〒(?P<zip_code>.*?)\s(?P<address>.*)", raw, re.DOTALL)
        if m:
            item["address"] = m.group("address").strip()
            item["zip_code"] = m.group("zip_code").strip()
        else:
            item["address"] = raw
            item["zip_code"] = None
    elif place == "zip_space_ws":
        raw = (_o_between(chunk, '<p class="place">', "</p>") or "").strip()
        m = re.match(r"〒\s*(?P<zip_code>.*?)\s(?P<address>.*)", raw, re.DOTALL)
        item["address"] = m.group("address").strip() if m else raw
        item["zip_code"] = m.group("zip_code").strip() if m else None
    elif place == "zip_nospace":
        raw = (_o_between(chunk, '<p class="place">', "</p>") or "").strip()
        m = re.match(r"〒(?P<zip_code>\d{3}-\d{4})(?P<address>.*)", raw, re.DOTALL)
        item["address"] = m.group("address").strip() if m else raw
        item["zip_code"] = m.group("zip_code") if m else None
    elif place == "addr_only" or place.startswith("addr_label:"):
        item["address"] = (_o_between(chunk, '<p class="addr">', "</p>") or "").strip()
    elif place == "addr_pair":
        a1 = _o_between(chunk, '<p class="addr">', "</p>")
        a2 = _o_between(chunk, '<p class="addr2">', "</p>")
        item["address"] = f"{a1} {a2}"
    elif place == "split":
        item["zip_code"] = _o_between(chunk, '<span class="zip">', "</span>")
        a = _o_between(chunk, '<p class="addr">', "</p>")
        item["address"] = a if cfg.get("addr_ws") else (a.strip() if a else None)


def _parse_card_oracle(spec: SourceSpec, chunk: str, meta: dict) -> dict:
    cfg = spec.config
    item: dict = {}
    raw_name = _o_between(chunk, '<h3 class="name">', "</h3>") or ""
    name = _o_strip_tags(raw_name).strip()
    if cfg.get("genre") == "in_name":
        m = re.match(r"(?P<shop_name>.*)(\/|／)+(?P<genre_name>.*)", name)
        item["shop_name"] = m.group("shop_name") if m else name
        item["genre_name"] = m.group("genre_name") if m else None
    else:
        item["shop_name"] = name
    if cfg.get("hp") == "name_link":
        inner = _o_between(raw_name, '<a href="', '"')
        item["official_page"] = inner

    mode = cfg.get("genre", "single")
    if mode in ("single", "label", "td_span", "section", "header_ol", "single_optional"):
        g = _o_between(chunk, '<span class="genre">', "</span>")
        item["genre_name"] = g.strip() if g else None
    elif mode == "multi" or mode.startswith("multi_mark:"):
        gs = []
        rest = chunk
        while '<span class="g">' in rest:
            g = _o_between(rest, '<span class="g">', "</span>")
            gs.append(g)
            rest = rest.split("</span>", 1)[1]
        item["genre_name"] = "|".join(gs)
    elif mode.startswith("join_raw:"):
        item["genre_name"] = _o_between(chunk, '<span class="genre">', "</span>")
    elif mode == "comma_header":
        g = (_o_between(chunk, '<span class="genre">', "</span>") or "").replace(
            "ジャンル：", ""
        )
        item["genre_name"] = "|".join(s.strip() for s in g.split(","))
    elif mode == "tags":
        block = _o_between(chunk, '<ul class="tags">', "</ul>") or ""
        genres = []
        for t in block.split("<li>")[1:]:
            t = t.split("</li>")[0].strip()
            if not t:
                continue
            if t in cfg.get("area_list", ()):
                item["area_name"] = t
            else:
                genres.append(t)
        item["genre_name"] = "|".join(genres)
    elif mode == "none":
        item["genre_name"] = None

    area_mode = cfg.get("area", "none")
    if area_mode in ("tag", "tag_brackets"):
        a = _o_between(chunk, '<span class="area">', "</span>")
        item["area_name"] = a.strip() if a else None
    elif area_mode in ("meta", "section"):
        item["area_name"] = meta.get("area_name")

    _o_parse_card_place(item, cfg, chunk)

    tel_mode = cfg.get("tel", "label")
    if tel_mode in ("label", "td", "bracket") or tel_mode.startswith("prefix:"):
        item["tel"] = _o_between(chunk, '<p class="tel">', "</p>")
    elif tel_mode == "href":
        seg = _o_between(chunk, '<a class="tel"', "</a>")
        item["tel"] = seg.split(">", 1)[1] if seg and ">" in seg else None
    elif tel_mode == "tel_href":
        item["tel"] = _o_between(chunk, '<a class="tel" href="', '"')
    elif tel_mode == "guard":
        raw = _o_between(chunk, '<p class="tel">', "</p>")
        m = re.match(r".*(?P<tel>0\d{1,4}-\d{1,4}-\d{3,4})", raw) if raw else None
        item["tel"] = m.group("tel") if m else None

    if cfg.get("hp") is True:
        item["official_page"] = _o_between(chunk, '<a class="hp" href="', '"')
    gmap = cfg.get("gmap")
    if gmap in ("at", "q") and not cfg.get("detail"):
        href = _o_between(chunk, '<a class="gmap" href="', '"')
        if href:
            pat = (
                r"/maps/.*/@(?P<lat>.*?),(?P<lng>.*?),"
                if gmap == "at"
                else r"q=(?P<lat>\d+\.\d+)\,(?P<lng>\d+\.\d+)"
            )
            m = re.search(pat, href)
            if m:
                item["provided_lat"] = m.group("lat")
                item["provided_lng"] = m.group("lng")
    if cfg.get("hours"):
        item["opening_hours"] = _o_between(chunk, '<p class="hours">', "</p>")
    if cfg.get("closed"):
        item["closing_day"] = _o_between(chunk, '<p class="closed">', "</p>")
    if cfg.get("detail_btn"):
        href = _o_between(chunk, '<a class="detail" href="', '"')
        if href:
            item["detail_page"] = urljoin(f"https://{spec.host}/", href)
    return item


def _parse_detail_oracle(spec: SourceSpec, url: str, html: str) -> dict:
    cfg = spec.config
    labels = cfg.get("labels", {})
    item: dict = {"detail_page": url}

    def by_label(label):
        return _o_between(html, f"<th>{label}</th><td>", "</td>")

    if "shop_name" in labels:
        item["shop_name"] = (by_label(labels["shop_name"]) or "").strip()
    else:
        raw = _o_between(html, '<h3 class="name">', "</h3>") or ""
        item["shop_name"] = _o_strip_tags(raw).strip()
    if cfg.get("genre_dd1"):
        g = _o_between(html, '<dd class="dd1">', "</dd>")
        item["genre_name"] = g.strip() if g else ""
    elif cfg.get("genre") == "header_ol":
        ol = _o_between(html, '<ol class="gen">', "</ol>")
        if ol:
            gs = [
                _o_strip_tags(x.split("</li>")[0]).strip()
                for x in ol.split("<li>")[1:]
            ]
            item["genre_name"] = "|".join(gs)
        else:
            item["genre_name"] = (
                _o_between(html, '<dd class="cat">', "</dd>") or ""
            ).strip()
    elif cfg.get("genre_ws"):
        item["genre_name"] = _o_between(html, '<span class="genre">', "</span>")
    elif "genre_name" in labels:
        g = by_label(labels["genre_name"])
        item["genre_name"] = g.strip() if g else None
    if "area_name" in labels:
        a = by_label(labels["area_name"])
        item["area_name"] = a.strip() if a else None
    elif cfg.get("area") == "detail_icon":
        a = _o_between(html, '<span class="area">', "</span>")
        item["area_name"] = a.strip() if a else None

    if cfg.get("place") == "multi_line":
        seg = _o_between(html, "<th>住所情報</th>", "</tr>") or ""
        tds = [t.split("</td>")[0] for t in seg.split("<td>")[1:]]
        if tds:
            item["zip_code"] = tds[0].strip()
            addr = " ".join(tds[1:]).strip()
            if cfg.get("addr_contains_shopname"):
                addr = addr.replace(item["shop_name"], "")
            item["address"] = addr
    elif cfg.get("zip_maru_label"):
        z = _o_between(html, '<p class="zip">', "</p>")
        item["zip_code"] = z.strip().replace("〒", "") if z else None
        a = _o_between(html, '<span class="region">', "</span>")
        item["address"] = a.strip() if a else None
    elif "address" in labels:
        a = by_label(labels["address"])
        item["address"] = a.strip() if a else None

    if cfg.get("broken_tel_row"):
        t = _o_between(html, "<th>電話番号</th><td>", "</td>")
        item["tel"] = t.strip() if t else None
    elif "tel" in labels:
        item["tel"] = by_label(labels["tel"])
    if "opening_hours" in labels:
        item["opening_hours"] = by_label(labels["opening_hours"])
    if "closing_day" in labels:
        if cfg.get("closed_join"):
            td = by_label(labels["closing_day"]) or ""
            item["closing_day"] = "\n".join(
                x.split("</li>")[0] for x in td.split('<li class="cd">')[1:]
            )
        else:
            item["closing_day"] = by_label(labels["closing_day"])
    if "official_page" in labels:
        seg = _o_between(html, f"<th>{labels['official_page']}</th>", "</tr>")
        item["official_page"] = (
            _o_between(seg, '<a href="', '"') if seg else None
        )
    if cfg.get("hp_data_o"):
        raw = _o_between(html, '<a class="url" data-o="', '"')
        if raw:
            data = json.loads(raw.replace("&quot;", '"'))
            item["official_page"] = data["b"] + "://" + data["a"]
    if cfg.get("gmap") == "q":
        src = _o_between(html, '<iframe class="gmap" src="', '"')
        m = re.search(r"q=(\d+\.\d+)\,(\d+\.\d+)", src) if src else None
        if m:
            item["provided_lat"] = m.group(1)
            item["provided_lng"] = m.group(2)
    elif cfg.get("gmap") == "marker":
        src = _o_between(html, '<img class="map" src="', '"')
        m = re.search(r"marker_ns\.png%7C(.*?)\,(.*?)\&", src) if src else None
        if m:
            item["provided_lat"] = m.group(1)
            item["provided_lng"] = m.group(2)
    return item


def _o_next(spec: SourceSpec, url: str, html: str) -> list[str]:
    pag = spec.config.get("pagination", "next")
    if pag == "next":
        href = _o_between(html, '<a class="next" href="', '"')
        return [urljoin(url, href)] if href else []
    if pag == "js_page":
        href = _o_between(html, '<a class="next" href="', '"')
        if href and href.startswith("javascript:on_events('page',"):
            page = href.split(",", 1)[1].split(")")[0]
            return [
                f"https://{spec.host}/use_store?events=page&id={page}"
                "&store=&addr=&industry="
            ]
        return []
    if pag == "js_jumppage":
        href = _o_between(html, '<a class="next" href="', '"')
        if href and href.startswith("javascript:jumppage("):
            page = href.split("(", 1)[1].split(")")[0]
            return [
                f"https://{spec.host}/index.html?freeword=&area=&genre="
                f"&pgn={page}#shopsearch"
            ]
        return []
    if pag == "js_submit":
        onclick = _o_between(html, '<a class="next" onclick="', '"')
        if onclick and onclick.startswith("mySubmit('"):
            return [onclick[len("mySubmit('"):].split("'")[0]]
        return []
    if pag == "counter":
        if '<a class="more"' in html:
            tail = url.rsplit("/", 1)[-1]
            cur = int(tail) if tail.isdigit() else 1
            return [f"https://{spec.host}/shop/page/{cur + 1}"]
        return []
    if pag == "form_action":
        seg = html.split('<button class="active">', 1)
        if len(seg) > 1 and '<form action="' in seg[1]:
            return [urljoin(url, _o_between(seg[1], '<form action="', '"'))]
        return []
    return []
