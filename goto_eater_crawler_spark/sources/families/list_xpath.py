"""Family ``list_xpath`` — paginated HTML list pages of shop cards.

Models the reference's most common spider shape (canonical example:
goto_eat_scrapy/spiders/tochigi.py:19-70): a ``<ul class="serch_result">``
of ``<li>`` cards, each carrying name + genre span, a 〒zip+address
line, a tel anchor, optional homepage / GoogleMap links; pagination via
``<li class="next">``.

Reference quirks reproduced in the fixture + both parsers:
- zip code sometimes missing -> whole place into address, zip None
  (tochigi.py:36-40);
- GoogleMap link present but without the ``/@lat,lng,zoom/data``
  pattern -> no provided_lat/lng (tochigi.py:48-54);
- tel / official_page may be absent (``extract_first`` -> None).
"""

from __future__ import annotations

import re

from ...functions.urltools import fast_urljoin
from . import batch_extractor

GENRES = ["和食", "洋食", "中華", "居酒屋", "カフェ", "ラーメン", "寿司"]

# ---------------------------------------------------------------------------
# fixture generation
# ---------------------------------------------------------------------------


def _card(host: str, page_no: int, j: int) -> str:
    i = page_no * 100 + j
    name = f"食堂{host.split('.')[0]}{i:04d}"
    genre = GENRES[i % len(GENRES)]
    if i % 7 == 0:  # zip-less place (tochigi.py:36-40)
        place = f"宇都宮市本町{page_no}丁目{j}-{i % 9}"
    else:
        place = f"〒321-{i % 10000:04d} 宇都宮市本町{page_no}丁目{j}-{i % 9}"
    tel = "" if i % 9 == 4 else f'<a href="tel:028">028-{page_no:03d}-{j:04d}</a>'
    hp = (
        ""
        if i % 3 == 0
        else f'<li><a href="http://shop{i}.example.com/">ホームページ</a></li>'
    )
    if i % 5 == 0:  # gmap without latlng pattern
        gmap = f'<li><a href="https://www.google.com/maps?q={name}">GoogleMap</a></li>'
    else:
        gmap = (
            f'<li><a href="https://www.google.com/maps/place/{name}/'
            f'@36.{i % 1000:03d},139.{(i * 7) % 1000:03d},17z/data=!3m1">GoogleMap</a></li>'
        )
    return (
        "<li>"
        f'<p class="name"> {name} <span class="genre">{genre}</span></p>'
        f'<div class="add"><p> {place} </p><p>{tel}</p></div>'
        f'<ul class="hp">{hp}{gmap}</ul>'
        "</li>"
    )


def page_url(host: str, page_no: int) -> str:
    if page_no == 1:
        return f"https://{host}/merchant/index.php"
    return f"https://{host}/merchant/index.php?page={page_no}"


def gen_site(host: str, n_pages: int = 3, shops_per_page: int = 8) -> list[dict]:
    """Deterministic fixture site: list of {url, body(bytes)}."""
    pages = []
    for p in range(1, n_pages + 1):
        cards = "".join(_card(host, p, j) for j in range(shops_per_page))
        nxt = (
            f'<ul class="pager"><li class="next"><a href="?page={p + 1}">次へ</a></li></ul>'
            if p < n_pages
            else '<ul class="pager"></ul>'
        )
        body = (
            '<html><body><div id="contents">'
            f'<ul class="serch_result">{cards}</ul>{nxt}</div></body></html>'
        )
        pages.append({"url": page_url(host, p), "body": body.encode("utf-8")})
    return pages


def seeds(host: str, source: str) -> list[dict]:
    return [
        {
            "url": page_url(host, 1),
            "source": source,
            "parse_family": "list_xpath",
            "depth": 0,
            "meta": {},
        }
    ]


# ---------------------------------------------------------------------------
# engine extractor (vectorized batch; regex over whole bodies)
# ---------------------------------------------------------------------------

_LI_RE = re.compile(r"<li><p class=\"name\">(.*?)</li>", re.DOTALL)
_NAME_RE = re.compile(r'^(.*?)<span class="genre">(.*?)</span></p>', re.DOTALL)
_PLACE_RE = re.compile(r'<div class="add"><p>(.*?)</p><p>(.*?)</p></div>', re.DOTALL)
_TEL_RE = re.compile(r"<a[^>]*>(.*?)</a>")
_HP_RE = re.compile(r'<a href="([^"]*)">ホームページ</a>')
_GMAP_RE = re.compile(r'<a href="([^"]*)">GoogleMap</a>')
# zip/address split regex — same pattern as tochigi.py:34
_ZIP_RE = re.compile(r"〒(?P<zip_code>.*?)\s(?P<address>.*)", re.DOTALL)
# gmap latlng — same pattern as tochigi.py:52
_LATLNG_RE = re.compile(r"/maps/.*/@(?P<lat>.*?),(?P<lng>.*?),(?P<zoom>.*)/data")
_NEXT_RE = re.compile(r'<li class="next"><a href="([^"]*)">')


def parse_page(url: str, source: str, body: bytes, meta: dict):
    """Parse one page -> (item dicts in document order, next links)."""
    html = body.decode("utf-8")
    items = []
    for m in _LI_RE.finditer(html):
        block = m.group(1)
        nm = _NAME_RE.match(block)
        pm = _PLACE_RE.search(block)
        item = {
            "shop_name": nm.group(1).strip() if nm else None,
            "genre_name": nm.group(2) if nm else None,
        }
        place = pm.group(1).strip() if pm else ""
        zm = _ZIP_RE.match(place)
        if zm:
            item["address"] = zm.group("address")
            item["zip_code"] = zm.group("zip_code")
        else:
            item["address"] = place
            item["zip_code"] = None
        telm = _TEL_RE.search(pm.group(2)) if pm else None
        item["tel"] = telm.group(1) if telm else None
        hpm = _HP_RE.search(block)
        item["official_page"] = hpm.group(1) if hpm else None
        gm = _GMAP_RE.search(block)
        if gm:
            lm = _LATLNG_RE.search(gm.group(1))
            if lm:
                item["provided_lat"] = lm.group("lat")
                item["provided_lng"] = lm.group("lng")
        items.append(item)
    links = []
    nm = _NEXT_RE.search(html)
    if nm:
        links.append((fast_urljoin(url, nm.group(1)), "list_xpath", {}))
    return items, links


extract_batch = batch_extractor(parse_page)


# ---------------------------------------------------------------------------
# oracle parser (independent, mirrors tochigi.py control flow)
# ---------------------------------------------------------------------------


def oracle_parse(url: str, body: bytes, meta: dict | None = None):
    """Single-page oracle parser. Mirrors the *reference spider's*
    flow (tochigi.py:19-70): iterate cards, regex the zip split with
    its fallback branch, extract_first semantics for tel/hp/gmap."""
    from urllib.parse import urljoin

    html = body.decode("utf-8")
    items = []
    # split on card boundaries the blunt way — independent of engine regexes
    chunks = html.split("<li><p class=\"name\">")[1:]
    for chunk in chunks:
        chunk = chunk.split("</li>")[0]
        name_part, _, rest = chunk.partition('<span class="genre">')
        genre = rest.split("</span>")[0] if rest else None
        item = {"shop_name": name_part.strip(), "genre_name": genre}
        m = re.search(r'<div class="add"><p>(.*?)</p><p>(.*?)</p></div>', chunk, re.DOTALL)
        place = m.group(1).strip() if m else ""
        zm = re.match(r"〒(?P<zip_code>.*?)\s(?P<address>.*)", place, re.DOTALL)
        if zm:
            item["address"] = zm.group("address")
            item["zip_code"] = zm.group("zip_code")
        else:
            item["address"] = place
            item["zip_code"] = None
        tm = re.search(r"<a[^>]*>(.*?)</a>", m.group(2)) if m else None
        item["tel"] = tm.group(1) if tm else None
        hm = re.search(r'<a href="([^"]*)">ホームページ</a>', chunk)
        item["official_page"] = hm.group(1) if hm else None
        gm = re.search(r'<a href="([^"]*)">GoogleMap</a>', chunk)
        if gm:
            lm = re.search(r"/maps/.*/@(?P<lat>.*?),(?P<lng>.*?),(?P<zoom>.*)/data", gm.group(1))
            if lm:
                item["provided_lat"] = lm.group("lat")
                item["provided_lng"] = lm.group("lng")
        items.append(item)
    links = []
    nm = re.search(r'<li class="next"><a href="([^"]*)">', html)
    if nm:
        links.append(
            {"url": urljoin(url, nm.group(1)), "parse_family": "list_xpath", "meta": {}}
        )
    return items, links
