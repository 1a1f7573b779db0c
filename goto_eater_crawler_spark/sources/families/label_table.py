"""Family ``label_table`` — two-hop list -> detail crawl where detail
pages carry a ``<th>label</th><td>value</td>`` table keyed by label.

Models the reference's label-keyed detail spiders
(kyoto.py:24-90, gifu.py:31-72, mie.py:31-77, kagawa.py:17-46,
okayama.py:23-44, fukui.py:30-70): a paginated list of shop links;
each detail page is parsed by *label lookup* (the reference uses
``following-sibling::`` XPath; we key rows by ``<th>`` text).

Quirks reproduced:
- some details lack the genre row entirely (fukui.py:47-53);
- genre strings use full-width ``｜`` separators normalized to ``|``
  (kagawa.py:28-33);
- one address contains an embedded ``<br>`` tag (normalizer must eat
  it — pipelines.py:31-33);
- gmap link uses the ``q=lat,lng`` form (kyoto.py:84-88).
"""

from __future__ import annotations

import re
from urllib.parse import urljoin
from ...functions.urltools import fast_urljoin
from . import batch_extractor

GENRES = ["京料理", "割烹", "焼肉", "イタリアン", "バル"]

# ---------------------------------------------------------------------------
# fixture generation
# ---------------------------------------------------------------------------


def list_url(host: str, page_no: int) -> str:
    return f"https://{host}/shops/?p={page_no}"


def detail_url(host: str, shop_id: int) -> str:
    return f"https://{host}/shops/detail/{shop_id}"


def gen_site(host: str, n_pages: int = 3, shops_per_page: int = 6) -> list[dict]:
    pages = []
    for p in range(1, n_pages + 1):
        anchors = "".join(
            f'<article><a class="detail" href="/shops/detail/{(p - 1) * shops_per_page + j}">詳細</a></article>'
            for j in range(shops_per_page)
        )
        nxt = (
            f'<a class="next" href="/shops/?p={p + 1}">next</a>' if p < n_pages else ""
        )
        body = f"<html><body><main>{anchors}{nxt}</main></body></html>"
        pages.append({"url": list_url(host, p), "body": body.encode("utf-8")})
    for sid in range(n_pages * shops_per_page):
        genre = "｜".join(GENRES[k % len(GENRES)] for k in range(sid % 3 + 1))
        genre_row = (
            f"<tr><th>ジャンル</th><td>{genre}</td></tr>" if sid % 4 != 0 else ""
        )
        addr = f"京都市中京区三条通{sid}-{sid % 9}"
        if sid % 6 == 0:
            addr = f"京都市中京区<br>三条通{sid}-{sid % 9}"
        rows = (
            f"<tr><th>店舗名</th><td>京の店{sid:03d}</td></tr>"
            f"<tr><th>住所</th><td>〒604-{sid % 10000:04d} {addr}</td></tr>"
            f"<tr><th>TEL</th><td>075-{sid % 1000:03d}-{(sid * 7) % 10000:04d}</td></tr>"
            f"{genre_row}"
            f"<tr><th>営業時間</th><td>11:00〜22:00</td></tr>"
            f"<tr><th>定休日</th><td>{'水曜日' if sid % 2 else '無休'}</td></tr>"
            f'<tr><th>URL</th><td><a href="http://kyo{sid}.example.com/">site</a></td></tr>'
        )
        gmap = f'<a class="map" href="https://maps.google.com/maps?q={35.0 + sid / 1000:.3f},{135.7 + sid / 1000:.3f}&z=16">地図</a>'
        body = f'<html><body><table class="shop">{rows}</table>{gmap}</body></html>'
        pages.append({"url": detail_url(host, sid), "body": body.encode("utf-8")})
    return pages


def seeds(host: str, source: str) -> list[dict]:
    return [
        {
            "url": list_url(host, 1),
            "source": source,
            "parse_family": "label_table",
            "depth": 0,
            "meta": {},
        }
    ]


# ---------------------------------------------------------------------------
# engine extractor
# ---------------------------------------------------------------------------

# tolerant-but-fast structural regexes (round 3): arbitrary
# whitespace between row cells, extra attributes in any order around
# class/href, either attr first. Full tolerance (unclosed tags,
# quoting styles) lives in functions/minihtml, which the cards family
# uses; label_table is the crawl hot path (~60k pages/s/worker) where
# a compiled regex is ~20x the tokenizer's throughput, so it keeps
# regexes but drops the exact-byte-sequence assumptions.
_ROW_RE = re.compile(
    r"<tr[^>]*>\s*<th[^>]*>(.*?)</th>\s*<td[^>]*>(.*?)</td>\s*</tr>",
    re.DOTALL,
)


def _a_attr_re(cls: str) -> re.Pattern:
    # <a ... class="cls" ... href="..."> in either attribute order
    return re.compile(
        rf'<a\b(?=[^>]*\bclass="{cls}")[^>]*\bhref="([^"]*)"'
    )


_DETAIL_A_RE = _a_attr_re("detail")
_NEXT_RE = _a_attr_re("next")
_ZIP_RE = re.compile(r"〒(?P<zip_code>.*?)\s(?P<address>.*)", re.DOTALL)
_HREF_RE = re.compile(r'<a href="([^"]*)"')
# q=lat,lng gmap form — same pattern family as kyoto.py:85
_Q_LATLNG_RE = re.compile(r"[?&]q=(?P<lat>[\d.]+),(?P<lng>[\d.]+)")


def _parse_detail(url: str, html: str) -> dict:
    table = dict(_ROW_RE.findall(html))
    item = {"shop_name": table.get("店舗名"), "detail_page": url}
    place = table.get("住所", "")
    zm = _ZIP_RE.match(place)
    if zm:
        item["zip_code"] = zm.group("zip_code")
        item["address"] = zm.group("address")
    else:
        item["address"] = place or None
        item["zip_code"] = None
    item["tel"] = table.get("TEL")
    genre = table.get("ジャンル")
    # kagawa.py:33 — full-width separator to pipe
    item["genre_name"] = genre.replace("｜", "|") if genre else None
    item["opening_hours"] = table.get("営業時間")
    item["closing_day"] = table.get("定休日")
    urlv = table.get("URL")
    if urlv:
        hm = _HREF_RE.search(urlv)
        item["official_page"] = hm.group(1) if hm else None
    qm = _Q_LATLNG_RE.search(html)
    if qm:
        item["provided_lat"] = qm.group("lat")
        item["provided_lng"] = qm.group("lng")
    return item


def parse_page(url: str, source: str, body: bytes, meta: dict):
    html = body.decode("utf-8")
    if '<table class="shop">' in html:
        return [_parse_detail(url, html)], []
    links = [
        (fast_urljoin(url, href), "label_table", {})
        for href in _DETAIL_A_RE.findall(html)
    ]
    nm = _NEXT_RE.search(html)
    if nm:
        links.append((fast_urljoin(url, nm.group(1)), "label_table", {}))
    return [], links


extract_batch = batch_extractor(parse_page)


# ---------------------------------------------------------------------------
# oracle parser (independent implementation)
# ---------------------------------------------------------------------------


def oracle_parse(url: str, body: bytes, meta: dict | None = None):
    html = body.decode("utf-8")
    if '<table class="shop">' not in html:
        links = []
        for m in re.finditer(r'<a class="(detail|next)" href="([^"]*)"', html):
            links.append(
                {"url": urljoin(url, m.group(2)), "parse_family": "label_table", "meta": {}}
            )
        return [], links
    # label-keyed lookup, built independently with a th/td scan
    table = {}
    for m in re.finditer(r"<tr><th>([^<]*)</th><td>(.*?)</td></tr>", html, re.DOTALL):
        table[m.group(1)] = m.group(2)
    item = {"shop_name": table.get("店舗名"), "detail_page": url}
    place = table.get("住所", "")
    m = re.match(r"〒(.*?)\s(.*)", place, re.DOTALL)
    if m:
        item["zip_code"], item["address"] = m.group(1), m.group(2)
    else:
        item["address"] = place or None
        item["zip_code"] = None
    item["tel"] = table.get("TEL")
    g = table.get("ジャンル")
    item["genre_name"] = g.replace("｜", "|") if g else None
    item["opening_hours"] = table.get("営業時間")
    item["closing_day"] = table.get("定休日")
    u = table.get("URL")
    if u:
        hm = re.search(r'href="([^"]*)"', u)
        item["official_page"] = hm.group(1) if hm else None
    qm = re.search(r"[?&]q=([\d.]+),([\d.]+)", html)
    if qm:
        item["provided_lat"], item["provided_lng"] = qm.group(1), qm.group(2)
    return [item], []
