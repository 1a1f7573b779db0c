"""Family ``json_api`` — a single endpoint returning a JSON array of
positional arrays.

Models goto_eat_scrapy/spiders/kochi.py:17-47: one GET returns the
whole dataset as ``[[area_code, area_name, genre_code, genre_name, ?,
shop_name, kana, address, tel], ...]``; field meaning is positional
(kochi.py:23-32).

Quirk reproduced: one shop whose name contains literal ``<>``
(``<きてみいや>``) which the HTML-tag-stripping normalizer would eat,
so the spider pre-replaces it (kochi.py:41-46).
"""

from __future__ import annotations

import json

from . import batch_extractor

AREAS = ["高知市", "南国市", "土佐市", "須崎市"]
GENRES = ["和食", "洋食", "中華", "喫茶"]


def endpoint_url(host: str) -> str:
    return f"https://{host}/js/shop_list.php"


def gen_site(host: str, n_rows: int = 40) -> list[dict]:
    rows = []
    for i in range(n_rows):
        name = f"土佐料理{i:03d}" if i != 7 else "<きてみいや>"
        rows.append(
            [
                i % len(AREAS),
                AREAS[i % len(AREAS)],
                i % len(GENRES),
                GENRES[i % len(GENRES)],
                None,
                name,
                f"とさりょうり{i:03d}",
                f"高知市帯屋町{i}-{i % 9}",
                f"088-{i:03d}-{(i * 13) % 10000:04d}",
            ]
        )
    body = json.dumps(rows, ensure_ascii=False).encode("utf-8")
    return [{"url": endpoint_url(host), "body": body}]


def seeds(host: str, source: str) -> list[dict]:
    return [
        {
            "url": endpoint_url(host),
            "source": source,
            "parse_family": "json_api",
            "depth": 0,
            "meta": {},
        }
    ]


def _rows_to_items(rows):
    items = []
    for row in rows:
        item = {
            "area_name": row[1],
            "genre_name": row[3],
            "shop_name": row[5],
            "address": row[7],
            "tel": row[8],
        }
        # kochi.py:46 — protect the one legit <>-named shop from the
        # tag-stripping normalizer.
        item["shop_name"] = item["shop_name"].replace("<きてみいや>", "　きてみいや")
        items.append(item)
    return items


def parse_page(url: str, source: str, body: bytes, meta: dict):
    return _rows_to_items(json.loads(body)), []


extract_batch = batch_extractor(parse_page)


def oracle_parse(url: str, body: bytes, meta: dict | None = None):
    # mirrors kochi.py:20-47 directly: json.loads(response.body)
    return _rows_to_items(json.loads(body)), []
