"""Family ``csv_body`` — endpoint returning a CSV file; genre is an
int code resolved against a dimension list.

Models goto_eat_scrapy/spiders/fukuoka.py:18-70 (headered CSV with an
int genre-code column indexed into a 16-entry genre list,
fukuoka.py:20-37,49,65) with akita.py:20-51's quirks folded in:
HTML-comment remnants inside fields (akita.py:33-44) and rows with an
empty address that must be skipped (akita.py:38-40).
"""

from __future__ import annotations

import csv
import io
import re

import pandas as pd

from . import batch_extractor

# dimension: genre code -> label (the J3 code->label dimension join,
# SURVEY.md §2.3; our own label set, same 1-based indexing contract
# as fukuoka.py:65's ``genre_list[row[code]]``)
GENRE_DIM = [
    "和食",
    "洋食",
    "中華",
    "韓国料理",
    "アジア料理",
    "イタリアン",
    "フレンチ",
    "カレー",
    "焼肉",
    "鍋",
    "居酒屋",
    "バー",
    "カフェ",
    "スイーツ",
    "その他",
]

_COMMENT_RE = re.compile(r"<!--.*?-->", re.DOTALL)


def endpoint_url(host: str) -> str:
    return f"https://{host}/files/shops.csv"


def gen_site(host: str, n_rows: int = 60) -> list[dict]:
    buf = io.StringIO()
    w = csv.writer(buf)
    w.writerow(["店舗名", "ふりがな", "郵便番号", "住所", "電話番号", "ジャンルコード"])
    for i in range(n_rows):
        name = f"博多亭{i:03d}"
        if i % 9 == 0:  # comment remnant quirk (akita.py:33-44)
            name = f"博多亭{i:03d}<!-- ふりがな -->"
        addr = "" if i % 13 == 5 else f"福岡市博多区中洲{i}-{i % 9}"
        w.writerow(
            [
                name,
                f"はかたてい{i:03d}",
                f"812-{i % 10000:04d}",
                addr,
                f"092-{i % 1000:03d}-{(i * 11) % 10000:04d}",
                i % len(GENRE_DIM) + 1,
            ]
        )
    return [{"url": endpoint_url(host), "body": buf.getvalue().encode("utf-8")}]


def seeds(host: str, source: str) -> list[dict]:
    return [
        {
            "url": endpoint_url(host),
            "source": source,
            "parse_family": "csv_body",
            "depth": 0,
            "meta": {},
        }
    ]


def parse_page(url: str, source: str, body: bytes, meta: dict):
    items = []
    reader = csv.reader(io.StringIO(body.decode("utf-8")))
    header = next(reader)
    idx = {h: k for k, h in enumerate(header)}
    for row in reader:
        address = row[idx["住所"]]
        if not address:  # skip empty-address rows (akita.py:38-40)
            continue
        name = _COMMENT_RE.sub("", row[idx["店舗名"]])
        code = int(row[idx["ジャンルコード"]])
        items.append(
            {
                "shop_name": name,
                "address": address,
                "zip_code": row[idx["郵便番号"]],
                "tel": row[idx["電話番号"]],
                "genre_name": GENRE_DIM[code - 1],
            }
        )
    return items, []


extract_batch = batch_extractor(parse_page)


def oracle_parse(url: str, body: bytes, meta: dict | None = None):
    """Independent parse via pandas.read_csv (the reference's own
    reader, fukuoka.py:47-62) rather than the csv module."""
    pdf = pd.read_csv(io.BytesIO(body), dtype={"ジャンルコード": int}).fillna("")
    items = []
    for _, row in pdf.iterrows():
        if not row["住所"]:
            continue
        items.append(
            {
                "shop_name": re.sub(r"<!--.*?-->", "", row["店舗名"], flags=re.DOTALL),
                "address": row["住所"],
                "zip_code": row["郵便番号"],
                "tel": row["電話番号"],
                "genre_name": GENRE_DIM[int(row["ジャンルコード"]) - 1],
            }
        )
    return items, []
