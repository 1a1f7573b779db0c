"""Family ``json_positional`` — endpoint returning a JSON array of
POSITIONAL arrays (no keys), fields identified by index.

Models goto_eat_scrapy/spiders/kochi.py:17-46: one request returns
``[[area_code, area_name, genre_code, genre_name, ???, shop_name,
shop_name_kana, address, tel], ...]`` (kochi.py:23-32), consumed by
index. Includes the "<きてみいや>" one-off rename (kochi.py:41-46,
carried as the source's registry quirk — the shop name would otherwise
lose its angle brackets to the HTML tag strip in the normalize
pipeline, pipelines.py:14).

Distinct from family ``json_api`` (schema-keyed objects): positional
arrays are what ``F.from_json`` with ArrayType(StringType) +
element_at would consume relationally (SURVEY.md §2.8 F8).
"""

from __future__ import annotations

import json

from ..registry import apply_quirks, spec_for
from . import batch_extractor

GENRES = ["和食", "洋食", "中華", "居酒屋", "カフェ"]
AREAS = ["高知市", "南国市", "土佐市"]

# positional layout — kochi.py:23-32
IDX_AREA_NAME = 1
IDX_GENRE_NAME = 3
IDX_SHOP_NAME = 5
IDX_ADDRESS = 7
IDX_TEL = 8


def endpoint_url(host: str) -> str:
    return f"https://{host}/js/shop_list.php"


def gen_site(host: str, n_rows: int = 40) -> list[dict]:
    rows = []
    for i in range(n_rows):
        name = f"土佐屋{i:03d}"
        if i == 7:
            name = "<きてみいや>"  # kochi.py:41-46 quirk trigger
        rows.append(
            [
                str(i % len(AREAS)),
                AREAS[i % len(AREAS)],
                str(i % len(GENRES)),
                GENRES[i % len(GENRES)],
                f"opaque{i}",
                name,
                f"とさや{i:03d}",
                f"高知市帯屋町{i}丁目{i % 9}-{i % 7}",
                f"088-{i % 1000:03d}-{(i * 13) % 10000:04d}",
            ]
        )
    return [
        {
            "url": endpoint_url(host),
            "body": json.dumps(rows, ensure_ascii=False).encode("utf-8"),
        }
    ]


def seeds(host: str, source: str) -> list[dict]:
    return [
        {
            "url": endpoint_url(host),
            "source": source,
            "parse_family": "json_positional",
            "depth": 0,
            "meta": {},
        }
    ]


def parse_page(url: str, source: str, body: bytes, meta: dict):
    quirks = spec_for(source, url).quirks
    items = []
    for row in json.loads(body.decode("utf-8")):
        item = {
            "area_name": row[IDX_AREA_NAME],
            "genre_name": row[IDX_GENRE_NAME],
            "shop_name": row[IDX_SHOP_NAME],
            "address": row[IDX_ADDRESS],
            "tel": row[IDX_TEL],
        }
        item = apply_quirks(item, quirks)
        if item is not None:
            items.append(item)
    return items, []


extract_batch = batch_extractor(parse_page)


def oracle_parse(url: str, body: bytes, meta: dict | None = None):
    """Independent parse mirroring kochi.py:20-46's sequential flow."""
    items = []
    for row in json.loads(body):
        item = {
            "area_name": row[1],
            "genre_name": row[3],
            "shop_name": row[5],
            "address": row[7],
            "tel": row[8],
        }
        # kochi.py:41-46 inline (not via the shared interpreter)
        item["shop_name"] = item["shop_name"].replace("<きてみいや>", "　きてみいや")
        items.append(item)
    return items, []
