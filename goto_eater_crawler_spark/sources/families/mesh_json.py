"""Family ``mesh_json`` — spatial fan-out: one API request per 1-km
mesh cell, bbox computed from the cell polygon.

Models goto_eat_scrapy/spiders/abstract_liny.py:39-66 (used by the
saga/nagasaki-style LINY spiders): a local GeoJSON of 1-km mesh
polygons (EPSG:4612) is read at startup, each polygon's bbox is
computed (``_get_max_and_min`` abstract_liny.py:10-33, unit-tested at
:69-87), and one search request per cell hits a JSON API with
``max_lat/max_lng/min_lat/min_lng`` params; the JSON response carries
shops with float lat/lng (abstract_liny.py:62-63).

Engine mapping (SURVEY.md §2.1 "Geo mesh input", §2.2 S7): the mesh is
*driver-side seed synthesis* — the partition grid of the crawl space.
``mesh_cells()`` is the deterministic stand-in for the GeoJSON file;
``bbox()`` mirrors ``_get_max_and_min``; ``seeds()`` emits one
frontier row per cell. Cell -> URL fan-out is the reference's only
explicit spatial partitioning and the ancestor of our
partition-the-frontier design.

Quirks reproduced:
- polygons are rings whose LAST point repeats the first (GeoJSON
  closing point — bbox must not double-count it, and min/max are over
  all ring points like abstract_liny.py:16-31);
- some cells return an empty shop list (sparse mesh);
- lat/lng arrive as JSON *numbers* and become strings in the item
  (abstract_liny.py:62-63 -> CSV stringification).
"""

from __future__ import annotations

import json

from . import batch_extractor

GENRES = ["佐賀牛", "呼子イカ", "うどん", "カフェ"]
N_CELLS = 6  # grid cells per fixture host
BASE_LAT, BASE_LNG, CELL = 33.25, 130.30, 0.01


def mesh_cells(host: str, n_cells: int = N_CELLS) -> list[dict]:
    """Deterministic mesh 'GeoJSON': one closed polygon ring per cell
    (last point == first, like real GeoJSON rings)."""
    cells = []
    for k in range(n_cells):
        r, c = divmod(k, 3)
        lat0 = round(BASE_LAT + r * CELL, 6)
        lng0 = round(BASE_LNG + c * CELL, 6)
        lat1, lng1 = round(lat0 + CELL, 6), round(lng0 + CELL, 6)
        ring = [
            [lng0, lat0],
            [lng1, lat0],
            [lng1, lat1],
            [lng0, lat1],
            [lng0, lat0],  # closing point
        ]
        cells.append({"code": f"{host.split('.')[0]}-{k:03d}", "coordinates": [ring]})
    return cells


def bbox(coordinates: list[list[list[float]]]) -> dict:
    """min/max over every ring point — mirrors _get_max_and_min
    (abstract_liny.py:10-33; coords are [lng, lat] pairs)."""
    lats = [pt[1] for ring in coordinates for pt in ring]
    lngs = [pt[0] for ring in coordinates for pt in ring]
    return {
        "max_lat": max(lats),
        "max_lng": max(lngs),
        "min_lat": min(lats),
        "min_lng": min(lngs),
    }


def cell_url(host: str, bb: dict) -> str:
    return (
        f"https://{host}/api/v1/shops/search"
        f"?max_lat={bb['max_lat']}&max_lng={bb['max_lng']}"
        f"&min_lat={bb['min_lat']}&min_lng={bb['min_lng']}"
    )


def _cell_shops(code: str, k: int):
    if k % 3 == 2:  # sparse cell
        return []
    return [
        {
            "name": f"肥前屋{code}-{j}",
            "address": f"佐賀市水ヶ江{k}-{j}",
            "lat": round(BASE_LAT + k * 0.001 + j * 0.0001, 6),
            "lng": round(BASE_LNG + k * 0.001 + j * 0.0001, 6),
            "genre": GENRES[(k + j) % len(GENRES)],
        }
        for j in range(4 + k % 3)
    ]


def gen_site(host: str, n_cells: int = N_CELLS) -> list[dict]:
    pages = []
    for k, cell in enumerate(mesh_cells(host, n_cells)):
        body = json.dumps(
            {"results": {"shop": _cell_shops(cell["code"], k)}},
            ensure_ascii=False,
        ).encode("utf-8")
        pages.append({"url": cell_url(host, bbox(cell["coordinates"])), "body": body})
    return pages


def seeds(host: str, source: str) -> list[dict]:
    # driver-side mesh fan-out: one seed per cell (abstract_liny.py:39-47)
    return [
        {
            "url": cell_url(host, bbox(cell["coordinates"])),
            "source": source,
            "parse_family": "mesh_json",
            "depth": 0,
            "meta": {"mesh_code": cell["code"]},
        }
        for cell in mesh_cells(host)
    ]


def _shops_to_items(shops: list[dict]):
    return [
        {
            "shop_name": s["name"],
            "address": s["address"],
            "genre_name": s["genre"],
            # JSON numbers -> strings (abstract_liny.py:62-63)
            "provided_lat": str(s["lat"]),
            "provided_lng": str(s["lng"]),
        }
        for s in shops
    ]


def parse_page(url: str, source: str, body: bytes, meta: dict):
    return _shops_to_items(json.loads(body)["results"]["shop"]), []


extract_batch = batch_extractor(parse_page)


def oracle_parse(url: str, body: bytes, meta: dict | None = None):
    # mirrors abstract_liny.py:49-66: json.loads(response.body) then
    # item per shop dict
    shops = json.loads(body)["results"]["shop"]
    return _shops_to_items(shops), []
