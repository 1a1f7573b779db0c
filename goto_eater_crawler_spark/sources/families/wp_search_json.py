"""Family ``wp_search_json`` — POST search API returning JSON with an
HTML fragment + pager; tag lists mix areas and genres.

Models goto_eat_scrapy/spiders/yamagata.py:59-143: a WordPress-ish
search endpoint POSTed per page (formdata canonicalized into the URL
query, mirroring Scrapy's request fingerprint treating body+url);
response JSON is ``{"html": "<li>...", "pager": "..."}``; the html
fragment is re-wrapped and parsed (yamagata.py:83); pagination stops
when the pager's active page equals the next page (yamagata.py:117-139).

Quirks reproduced:
- tel prefixed ``TEL : `` which the spider strips (yamagata.py:99-100);
- place has no 〒 prefix; zip split uses the bare
  ``(\\d{3}-\\d{4})\\s(.*)`` form (yamagata.py:89-97);
- per-shop tag list mixes area names and genre names; membership in
  the area list decides which is which; genres joined with ``|``
  (yamagata.py:104-111).
"""

from __future__ import annotations

import json
import re

from . import batch_extractor

AREA_LIST = ["村山", "最上", "置賜", "庄内"]
GENRES = ["そば", "ラーメン", "郷土料理", "フレンチ", "焼鳥"]


def page_url(host: str, page_no: int) -> str:
    # POST formdata canonicalized into the query string (sorted keys)
    return f"https://{host}/wp-json/api/search?page={page_no}&per_page=10"


def gen_site(host: str, n_pages: int = 4, shops_per_page: int = 10) -> list[dict]:
    pages = []
    for p in range(1, n_pages + 1):
        lis = []
        for j in range(shops_per_page):
            i = (p - 1) * shops_per_page + j
            tags = [AREA_LIST[i % len(AREA_LIST)]] + [
                GENRES[(i + k) % len(GENRES)] for k in range(i % 2 + 1)
            ]
            tag_html = "".join(f'<span class="tag">{t}</span>' for t in tags)
            lis.append(
                "<li>"
                f'<h3 class="shop">山形亭{i:03d}</h3>'
                f'<p class="place">990-{i % 10000:04d} 山形市旅篭町{i}-{i % 9}</p>'
                f'<p class="tel">TEL : 023-{i % 1000:03d}-{(i * 3) % 10000:04d}</p>'
                f'<div class="tags">{tag_html}</div>'
                "</li>"
            )
        nxt = p + 1 if p < n_pages else p  # active==next on last page
        pager = (
            f'<div class="pager"><span class="active">{p}</span>'
            f'<a class="next" data-page="{nxt}">»</a></div>'
        )
        body = json.dumps(
            {"html": "".join(lis), "pager": pager}, ensure_ascii=False
        ).encode("utf-8")
        pages.append({"url": page_url(host, p), "body": body})
    return pages


def seeds(host: str, source: str) -> list[dict]:
    return [
        {
            "url": page_url(host, 1),
            "source": source,
            "parse_family": "wp_search_json",
            "depth": 0,
            "meta": {},
        }
    ]


_LI_RE = re.compile(r"<li>(.*?)</li>", re.DOTALL)
_SHOP_RE = re.compile(r'<h3 class="shop">(.*?)</h3>')
_PLACE_RE = re.compile(r'<p class="place">(.*?)</p>')
_TEL_RE = re.compile(r'<p class="tel">(.*?)</p>')
_TAG_RE = re.compile(r'<span class="tag">(.*?)</span>')
# bare zip split — same shape as yamagata.py:89
_ZIP_RE = re.compile(r"(?P<zip_code>\d{3}-\d{4})\s(?P<address>.*)", re.DOTALL)
_ACTIVE_RE = re.compile(r'<span class="active">(\d+)</span>')
_NEXT_RE = re.compile(r'<a class="next" data-page="(\d+)"')
_PAGE_PARAM_RE = re.compile(r"([?&])page=\d+")


def parse_page(url: str, source: str, body: bytes, meta: dict):
    payload = json.loads(body)
    items = []
    for m in _LI_RE.finditer(payload["html"]):
        li = m.group(1)
        item = {}
        sm = _SHOP_RE.search(li)
        item["shop_name"] = sm.group(1) if sm else None
        pm = _PLACE_RE.search(li)
        place = pm.group(1) if pm else ""
        zm = _ZIP_RE.match(place)
        if zm:
            item["zip_code"] = zm.group("zip_code")
            item["address"] = zm.group("address")
        else:
            item["address"] = place
            item["zip_code"] = None
        tm = _TEL_RE.search(li)
        item["tel"] = tm.group(1).replace("TEL : ", "") if tm else None
        # tag classification by area-list membership (yamagata.py:104-111)
        genres, area = [], None
        for t in _TAG_RE.findall(li):
            if t in AREA_LIST:
                area = t
            else:
                genres.append(t)
        item["area_name"] = area
        item["genre_name"] = "|".join(genres) if genres else None
        items.append(item)
    links = []
    am = _ACTIVE_RE.search(payload["pager"])
    nm = _NEXT_RE.search(payload["pager"])
    if am and nm and am.group(1) != nm.group(1):
        nxt = _PAGE_PARAM_RE.sub(rf"\g<1>page={nm.group(1)}", url, count=1)
        links.append((nxt, "wp_search_json", {}))
    return items, links


extract_batch = batch_extractor(parse_page)


def oracle_parse(url: str, body: bytes, meta: dict | None = None):
    """Independent re-implementation mirroring yamagata.py flow."""
    payload = json.loads(body)
    items = []
    for chunk in payload["html"].split("<li>")[1:]:
        chunk = chunk.split("</li>")[0]
        item = {}
        m = re.search(r'<h3 class="shop">([^<]*)</h3>', chunk)
        item["shop_name"] = m.group(1) if m else None
        m = re.search(r'<p class="place">([^<]*)</p>', chunk)
        place = m.group(1) if m else ""
        m = re.match(r"(\d{3}-\d{4})\s(.*)", place, re.DOTALL)
        if m:
            item["zip_code"], item["address"] = m.group(1), m.group(2)
        else:
            item["address"], item["zip_code"] = place, None
        m = re.search(r'<p class="tel">([^<]*)</p>', chunk)
        item["tel"] = m.group(1).replace("TEL : ", "") if m else None
        genres, area = [], None
        for t in re.findall(r'<span class="tag">([^<]*)</span>', chunk):
            if t in AREA_LIST:
                area = t
            else:
                genres.append(t)
        item["area_name"] = area
        item["genre_name"] = "|".join(genres) if genres else None
        items.append(item)
    links = []
    am = re.search(r'<span class="active">(\d+)</span>', payload["pager"])
    nm = re.search(r'<a class="next" data-page="(\d+)"', payload["pager"])
    if am and nm and am.group(1) != nm.group(1):
        nxt = re.sub(r"([?&])page=\d+", rf"\g<1>page={nm.group(1)}", url, count=1)
        links.append({"url": nxt, "parse_family": "wp_search_json", "meta": {}})
    return items, links
