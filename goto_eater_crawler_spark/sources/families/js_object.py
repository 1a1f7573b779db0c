"""Family ``js_object`` — HTML shop table merged with a JS marker
object-literal array embedded in a ``<script>`` block.

Models goto_eat_scrapy/spiders/miyagi.py:59-119: per-area POST search
(miyagi.py:59-64, formdata canonicalized into the URL query) returns a
page with (a) an HTML list of shops and (b) a JavaScript ``markers``
array of *JS object literals* (single-quoted keys/values, trailing
commas — the reference needs ``demjson`` to read them,
miyagi.py:71-86). Each HTML row is matched against the marker array on
``shop_name ==`` AND ``html.address ⊂ marker.address`` (substring
containment, miyagi.py:106-119) — the reference's only theta join
(SURVEY.md §2.3 J2); first match wins (``match[0]`` miyagi.py:114),
misses/ambiguities keep lat/lng empty.

Quirks reproduced:
- marker array is JS, not JSON (single quotes + trailing comma);
- some HTML rows have no marker (no latlng, miyagi.py:116-119);
- one shop name maps to TWO markers -> first (document-order) match;
- ``area_name`` threaded via request meta (miyagi.py:59-64).
"""

from __future__ import annotations

import re

from . import batch_extractor

AREAS = [("sendai", "仙台"), ("osaki", "大崎"), ("ishinomaki", "石巻")]
GENRES = ["寿司", "居酒屋", "定食", "中華"]


def area_url(host: str, code: str) -> str:
    # POST formdata folded into the canonical query (sorted), mirroring
    # the request-fingerprint treatment of miyagi.py:59-64.
    return f"https://{host}/shop/search?area={code}&mode=list"


def _shops(code: str, n: int):
    """Deterministic (html_rows, markers) for one area page."""
    rows, markers = [], []
    for j in range(n):
        name = f"宮城屋{code}{j:02d}"
        addr = f"大崎市古川{j}-{j % 7}" if code == "osaki" else f"仙台市青葉区{j}-{j % 7}"
        rows.append(
            {
                "shop_name": name,
                "address": addr,
                "tel": f"022-{j:03d}-{(j * 11) % 10000:04d}",
                "genre_name": GENRES[j % len(GENRES)],
            }
        )
        if j % 4 != 3:  # every 4th row has NO marker (miyagi.py:116-119)
            markers.append(
                {
                    "name": name,
                    # marker address is the LONG form containing the row's
                    # address as a substring (containment side of J2)
                    "address": f"宮城県{addr} ビル{j % 5 + 1}F",
                    "lat": f"38.{(j * 97) % 10000:04d}",
                    "lng": f"140.{(j * 53) % 10000:04d}",
                }
            )
        if j == 1:  # ambiguous: duplicate marker name -> first match wins
            markers.append(
                {
                    "name": name,
                    "address": f"宮城県{addr} 別館",
                    "lat": "99.9999",
                    "lng": "199.9999",
                }
            )
    return rows, markers


def gen_site(host: str, shops_per_area: int = 9) -> list[dict]:
    pages = []
    for code, _label in AREAS:
        rows, markers = _shops(code, shops_per_area)
        lis = "".join(
            "<li>"
            f'<h4 class="name">{r["shop_name"]}</h4>'
            f'<p class="addr">{r["address"]}</p>'
            f'<p class="tel">{r["tel"]}</p>'
            f'<p class="genre">{r["genre_name"]}</p>'
            "</li>"
            for r in rows
        )
        # JS object literals: single quotes + trailing commas (demjson
        # territory, miyagi.py:71-86)
        mk = ",\n".join(
            "{name: '%s', address: '%s', lat: %s, lng: %s,}"
            % (m["name"], m["address"], m["lat"], m["lng"])
            for m in markers
        )
        body = (
            "<html><body>"
            f'<ul class="shops">{lis}</ul>'
            f"<script>var markers = [\n{mk}\n];</script>"
            "</body></html>"
        ).encode("utf-8")
        pages.append({"url": area_url(host, code), "body": body})
    return pages


def seeds(host: str, source: str) -> list[dict]:
    # per-area seed fan-out with area_name threaded in meta
    # (J5 + request.meta, miyagi.py:59-64)
    return [
        {
            "url": area_url(host, code),
            "source": source,
            "parse_family": "js_object",
            "depth": 0,
            "meta": {"area_name": label},
        }
        for code, label in AREAS
    ]


_LI_RE = re.compile(
    r'<li><h4 class="name">(.*?)</h4><p class="addr">(.*?)</p>'
    r'<p class="tel">(.*?)</p><p class="genre">(.*?)</p></li>',
    re.DOTALL,
)
# tolerant JS-object-literal reader (the demjson stand-in): one object
# per marker, unquoted keys, single-quoted strings, bare numbers
_MARKER_RE = re.compile(
    r"\{name: '(?P<name>[^']*)', address: '(?P<address>[^']*)', "
    r"lat: (?P<lat>[0-9.]+), lng: (?P<lng>[0-9.]+),\}"
)


def parse_page(url: str, source: str, body: bytes, meta: dict):
    html = body.decode("utf-8")
    markers = [m.groupdict() for m in _MARKER_RE.finditer(html)]
    items = []
    for m in _LI_RE.finditer(html):
        name, addr, tel, genre = m.groups()
        item = {
            "shop_name": name,
            "address": addr,
            "tel": tel,
            "genre_name": genre,
            "area_name": meta.get("area_name"),
        }
        # J2: equi on name + containment on address; first match wins
        match = [
            mk for mk in markers if mk["name"] == name and addr in mk["address"]
        ]
        if match:
            item["provided_lat"] = match[0]["lat"]
            item["provided_lng"] = match[0]["lng"]
        items.append(item)
    return items, []


extract_batch = batch_extractor(parse_page)


def oracle_parse(url: str, body: bytes, meta: dict | None = None):
    """Independent re-derivation mirroring miyagi.py:88-119: split the
    page on <li> boundaries, read markers with its own regex, then the
    same first-match merge rule."""
    html = body.decode("utf-8")
    markers = []
    for chunk in html.split("{name: '")[1:]:
        name = chunk.split("'", 1)[0]
        address = chunk.split("address: '", 1)[1].split("'", 1)[0]
        lat = chunk.split("lat: ", 1)[1].split(",", 1)[0]
        lng = chunk.split("lng: ", 1)[1].split(",", 1)[0]
        markers.append({"name": name, "address": address, "lat": lat, "lng": lng})
    items = []
    for chunk in html.split('<li><h4 class="name">')[1:]:
        chunk = chunk.split("</li>")[0]
        name = chunk.split("</h4>")[0]
        addr = chunk.split('<p class="addr">')[1].split("</p>")[0]
        tel = chunk.split('<p class="tel">')[1].split("</p>")[0]
        genre = chunk.split('<p class="genre">')[1].split("</p>")[0]
        item = {
            "shop_name": name,
            "address": addr,
            "tel": tel,
            "genre_name": genre,
            "area_name": (meta or {}).get("area_name"),
        }
        match = [
            mk for mk in markers if mk["name"] == name and addr in mk["address"]
        ]
        if match:
            item["provided_lat"] = match[0]["lat"]
            item["provided_lng"] = match[0]["lng"]
        items.append(item)
    return items, []
