"""Family ``session_token`` — two-phase token crawl: a search page
yields a CSRF token, per-area POST searches carry it, pagination
threads it forward.

Models goto_eat_scrapy/scripts/hokkaido.py:48-141: GET the search form
to obtain ``_token`` (hokkaido.py:48-58), POST one search per area
with the token (hokkaido.py:60-81, 4 areas hokkaido.py:125-133), then
follow next-links while present (hokkaido.py:83-104). The reference
runs this *serially in one shared requests.Session* because parallel
access would mix result sets (hokkaido.py:16-18); in the engine the
hazard disappears — fetch is a pure lookup — and the token becomes
plain data threaded through frontier ``meta`` (SURVEY.md §2.1
"Per-request metadata", §3 E3).

The result pages embed the token they were rendered for
(``data-token``); the extractor drops a page whose meta token does not
match — the engine-side analogue of the reference's session-consistency
requirement, and proof that meta actually threads across rounds.
"""

from __future__ import annotations

import hashlib
import re
from urllib.parse import urlsplit

from ...functions.urltools import fast_urljoin
from . import batch_extractor

AREAS = [("11", "道央"), ("21", "道南"), ("31", "道北"), ("41", "道東")]
GENRES = ["海鮮", "ジンギスカン", "ラーメン", "スープカレー"]


def host_token(host: str) -> str:
    """Deterministic per-host CSRF token (stand-in for the server's)."""
    return "tok-" + hashlib.sha1(host.encode()).hexdigest()[:10]


def form_url(host: str) -> str:
    return f"https://{host}/store/search"


def result_url(host: str, area: str, page: int, token: str) -> str:
    # POST formdata canonicalized into the URL key — same fingerprint
    # treatment as S2 form scans (SURVEY.md §2.1 request stream)
    return f"https://{host}/store/result?_token={token}&area={area}&page={page}"


def _area_shops(area_code: str, n: int):
    return [
        {
            "shop_name": f"北海道亭{area_code}-{j:02d}",
            "address": f"札幌市中央区北{int(area_code) % 9}条西{j}-{j % 7}",
            "tel": f"011-{int(area_code):03d}-{(j * 17) % 10000:04d}",
            "genre_name": GENRES[j % len(GENRES)],
        }
        for j in range(n)
    ]


def gen_site(host: str, shops_per_area: int = 10, per_page: int = 4) -> list[dict]:
    token = host_token(host)
    pages = [
        {
            "url": form_url(host),
            "body": (
                "<html><body><form method='post' action='/store/result'>"
                f'<input type="hidden" name="_token" value="{token}">'
                + "".join(
                    f'<option value="{code}">{label}</option>'
                    for code, label in AREAS
                )
                + "</form></body></html>"
            ).encode("utf-8"),
        }
    ]
    for code, _label in AREAS:
        shops = _area_shops(code, shops_per_area)
        n_pages = (len(shops) + per_page - 1) // per_page
        for p in range(1, n_pages + 1):
            chunk = shops[(p - 1) * per_page : p * per_page]
            lis = "".join(
                "<tr>"
                f'<td class="name">{s["shop_name"]}</td>'
                f'<td class="addr">{s["address"]}</td>'
                f'<td class="tel">{s["tel"]}</td>'
                f'<td class="genre">{s["genre_name"]}</td>'
                "</tr>"
                for s in chunk
            )
            nxt = (
                f'<a class="next" href="/store/result?_token={token}&amp;area={code}&amp;page={p + 1}">次へ</a>'
                if p < n_pages
                else ""
            )
            body = (
                f'<html><body data-token="{token}">'
                f'<table class="result">{lis}</table>{nxt}</body></html>'
            ).encode("utf-8")
            pages.append({"url": result_url(host, code, p, token), "body": body})
    return pages


def seeds(host: str, source: str) -> list[dict]:
    # phase 0: only the token page is seeded; everything else is
    # discovered (hokkaido.py:48-58 -> per-area POSTs)
    return [
        {
            "url": form_url(host),
            "source": source,
            "parse_family": "session_token",
            "depth": 0,
            "meta": {},
        }
    ]


_TOKEN_RE = re.compile(r'name="_token" value="([^"]+)"')
_OPTION_RE = re.compile(r'<option value="(\d+)">([^<]+)</option>')
_BODY_TOKEN_RE = re.compile(r'<body data-token="([^"]+)">')
_TR_RE = re.compile(
    r'<tr><td class="name">(.*?)</td><td class="addr">(.*?)</td>'
    r'<td class="tel">(.*?)</td><td class="genre">(.*?)</td></tr>',
    re.DOTALL,
)
_NEXT_RE = re.compile(r'<a class="next" href="([^"]+)">')


def parse_page(url: str, source: str, body: bytes, meta: dict):
    """One page -> (items, links). Dispatch on URL path: the form
    page emits token-carrying search links; result pages emit records
    + a token-carrying next link."""
    html = body.decode("utf-8")
    path = urlsplit(url).path
    if path.endswith("/search"):
        tm = _TOKEN_RE.search(html)
        if not tm:
            return [], []
        token = tm.group(1)
        host = urlsplit(url).hostname
        links = [
            (
                result_url(host, code, 1, token),
                "session_token",
                {"_token": token, "area_name": label},
            )
            for code, label in _OPTION_RE.findall(html)
        ]
        return [], links
    # result page: session-consistency guard — meta token must match
    # the token the page was rendered for (hokkaido.py:16-18 hazard)
    bt = _BODY_TOKEN_RE.search(html)
    if not bt or meta.get("_token") != bt.group(1):
        return [], []
    items = [
        {
            "shop_name": m.group(1),
            "address": m.group(2),
            "tel": m.group(3),
            "genre_name": m.group(4),
            "area_name": meta.get("area_name"),
        }
        for m in _TR_RE.finditer(html)
    ]
    links = []
    nm = _NEXT_RE.search(html)
    if nm:
        links.append(
            (
                fast_urljoin(url, nm.group(1).replace("&amp;", "&")),
                "session_token",
                meta,  # token + area thread forward
            )
        )
    return items, links


extract_batch = batch_extractor(parse_page)


def oracle_parse(url: str, body: bytes, meta: dict | None = None):
    """Independent re-derivation (split-based, no shared regexes) of
    the hokkaido.py:48-123 flow. Links are dicts carrying the
    next-hop family + meta, like the reference threads its session."""
    html = body.decode("utf-8")
    path = urlsplit(url).path
    meta = dict(meta or {})
    if path.endswith("/search"):
        if 'name="_token" value="' not in html:
            return [], []
        token = html.split('name="_token" value="', 1)[1].split('"', 1)[0]
        host = urlsplit(url).hostname
        links = []
        for chunk in html.split('<option value="')[1:]:
            code = chunk.split('"', 1)[0]
            label = chunk.split(">", 1)[1].split("<", 1)[0]
            links.append(
                {
                    "url": f"https://{host}/store/result?_token={token}&area={code}&page=1",
                    "parse_family": "session_token",
                    "meta": {"_token": token, "area_name": label},
                }
            )
        return [], links
    token = html.split('<body data-token="', 1)[1].split('"', 1)[0]
    if meta.get("_token") != token:
        return [], []
    items = []
    for chunk in html.split('<tr><td class="name">')[1:]:
        chunk = chunk.split("</tr>")[0]
        name = chunk.split("</td>", 1)[0]
        addr = chunk.split('<td class="addr">', 1)[1].split("</td>", 1)[0]
        tel = chunk.split('<td class="tel">', 1)[1].split("</td>", 1)[0]
        genre = chunk.split('<td class="genre">', 1)[1].split("</td>", 1)[0]
        items.append(
            {
                "shop_name": name,
                "address": addr,
                "tel": tel,
                "genre_name": genre,
                "area_name": meta.get("area_name"),
            }
        )
    links = []
    if '<a class="next" href="' in html:
        href = html.split('<a class="next" href="', 1)[1].split('"', 1)[0]
        from urllib.parse import urljoin

        links.append(
            {
                "url": urljoin(url, href.replace("&amp;", "&")),
                "parse_family": "session_token",
                "meta": meta,
            }
        )
    return items, links
