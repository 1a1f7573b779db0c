"""Family ``excel_html`` — an index page of per-area links pointing at
Excel-web-publishing-wizard HTML files of positional table rows.

Models goto_eat_scrapy/spiders/kagoshima.py:13-82: the index page
lists area links filtered through an ALLOWLIST (`area_list`,
kagoshima.py:21-35) and a DENYLIST (`not_target_area_list`,
kagoshima.py:36-50); each allowed area page is an Excel-exported
HTML table whose data rows are recognized by a "検索" marker cell
(kagoshima.py:68), shop name in td[3] and address in td[4]
(kagoshima.py:70-71), with the city name prefixed onto addresses of
the all-city file (kagoshima.py:72-74). The area name is threaded
request→parse through meta (kagoshima.py:61).
"""

from __future__ import annotations

import re
from urllib.parse import urljoin
from ...functions.urltools import fast_urljoin

from ..registry import SourceSpec, spec_for
from . import batch_extractor


def index_url(host: str) -> str:
    return f"https://{host}/?p=20375"


def area_url(host: str, a_idx: int) -> str:
    return f"https://{host}/area/{a_idx}.html"


def gen_site(host: str, source: str | None = None, rows_per_area: int = 6) -> list[dict]:
    spec = spec_for(source, index_url(host))
    cfg = spec.config
    allow = cfg["area_list"]
    deny = cfg["not_target_area_list"]
    # index page: allowed + denied + unknown links (unknown must be
    # ignored too — kagoshima.py:62-63 falls through)
    links = []
    for i, a in enumerate(allow):
        links.append(f'<p><a href="/area/{i}.html">{a}</a></p>')
    for d in deny:
        links.append(f'<p><a href="/deny.html">{d}</a></p>')
    links.append('<p><a href="/other.html">謎のリンク</a></p>')
    links.append("<p>リンクなし段落</p>")
    pages = [
        {
            "url": index_url(host),
            "body": (
                '<html><body><div id="second_page">'
                + "".join(links)
                + "</div></body></html>"
            ).encode("utf-8"),
        }
    ]
    for a_idx, area in enumerate(allow):
        trs = []
        for r in range(rows_per_area):
            i = a_idx * rows_per_area + r
            if r == 4:
                # non-data row (no 検索 marker cell) — must be skipped
                trs.append("<tr><td>1</td><td>見出し</td><td>x</td><td>y</td></tr>")
                continue
            trs.append(
                "<tr>"
                f"<td>{i}</td>"
                '<td><a href="#">検索</a></td>'
                f"<td>さつま食堂{i:03d}</td>"
                f"<td>{'' if area == cfg.get('city_prefix_area') else '霧島市'}天文館{i}丁目{i % 9}</td>"
                "</tr>"
            )
        pages.append(
            {
                "url": area_url(host, a_idx),
                "body": (
                    "<html><body><table>" + "".join(trs) + "</table></body></html>"
                ).encode("utf-8"),
            }
        )
    return pages


def seeds(host: str, source: str) -> list[dict]:
    return [
        {
            "url": index_url(host),
            "source": source,
            "parse_family": "excel_html",
            "depth": 0,
            "meta": {},
        }
    ]


_P_RE = re.compile(r"<p>(.*?)</p>", re.DOTALL)
_A_RE = re.compile(r'<a href="([^"]*)">(.*?)</a>', re.DOTALL)
_TR_RE = re.compile(r"<tr>(.*?)</tr>", re.DOTALL)
_TD_RE = re.compile(r"<td>(.*?)</td>", re.DOTALL)


def _parse_index(spec: SourceSpec, url: str, html: str):
    """Index page: allow/deny classification (kagoshima.py:53-63)."""
    cfg = spec.config
    links = []
    for p in _P_RE.finditer(html):
        m = _A_RE.search(p.group(1))
        area_name = m.group(2) if m else None
        if not area_name:
            continue
        if area_name in cfg["not_target_area_list"]:
            continue
        if area_name in cfg["area_list"]:
            links.append(
                (
                    fast_urljoin(url, m.group(1)),
                    "excel_html",
                    {"area_name": area_name},
                )
            )
        # else: unknown link — pass (kagoshima.py:62-63)
    return [], links


def _parse_area(spec: SourceSpec, url: str, html: str, meta: dict):
    cfg = spec.config
    area_name = meta.get("area_name")
    items = []
    for tr in _TR_RE.finditer(html):
        tds = _TD_RE.findall(tr.group(1))
        if len(tds) < 4 or "検索" not in tds[1]:
            continue  # kagoshima.py:68 marker guard
        address = tds[3].strip()
        if area_name == cfg.get("city_prefix_area"):
            address = f"{cfg['city_prefix']}{address}"  # kagoshima.py:72-74
        items.append({"shop_name": tds[2].strip(), "address": address})
    return items, []


def parse_page(url: str, source: str, body: bytes, meta: dict):
    spec = spec_for(source, url)
    html = body.decode("utf-8")
    if "second_page" in html:
        return _parse_index(spec, url, html)
    return _parse_area(spec, url, html, meta)


extract_batch = batch_extractor(parse_page)


def oracle_parse(url: str, body: bytes, meta: dict | None = None):
    """Independent parse mirroring kagoshima.py's two callbacks."""
    spec = spec_for(None, url)
    cfg = spec.config
    html = body.decode("utf-8")
    meta = dict(meta or {})
    if "second_page" in html:
        links = []
        for seg in html.split("<p>")[1:]:
            seg = seg.split("</p>")[0]
            if '<a href="' not in seg:
                continue
            href = seg.split('<a href="', 1)[1].split('"', 1)[0]
            rest = seg.split('">', 1)
            name = rest[1].split("</a>")[0] if len(rest) > 1 else None
            if not name or name in cfg["not_target_area_list"]:
                continue
            if name in cfg["area_list"]:
                links.append(
                    {
                        "url": urljoin(url, href),
                        "parse_family": "excel_html",
                        "meta": {"area_name": name},
                    }
                )
        return [], links
    items = []
    area_name = meta.get("area_name")
    for seg in html.split("<tr>")[1:]:
        seg = seg.split("</tr>")[0]
        tds = [t.split("</td>")[0] for t in seg.split("<td>")[1:]]
        if len(tds) < 4 or "検索" not in tds[1]:
            continue
        addr = tds[3].strip()
        if area_name == cfg.get("city_prefix_area"):
            addr = f"{cfg['city_prefix']}{addr}"
        items.append({"shop_name": tds[2].strip(), "address": addr})
    return items, []
