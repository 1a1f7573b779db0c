"""Family ``pdf_tabula`` — endpoint returning a multi-page PDF whose
per-page tables are extracted and cleaned.

Models goto_eat_scrapy/spiders/tokyo.py:33-98: the spider saves
``response.body`` as a PDF, counts pages with ``fitz``, runs tabula
per page (pdf -> csv), then pandas-cleans the frames — per-page
header rows dropped, stray header rows embedded in data skipped
(tokyo.py:88-90 ``row["飲食店名"] == "飲食店名"``), rows missing
name/address skipped (tokyo.py:91-93), a page whose URL column is
entirely absent back-filled with "" (tokyo.py:76-77), and malformed
PDFs raising (tokyo.py:78-82).

Round 2: the decode step is REAL — fixtures are valid PDF 1.4 bytes
(catalog/page-tree/content-stream/xref, functions/minipdf.write_pdf)
and extraction walks the actual structure (startxref → xref → /Root →
/Kids → /Contents text operators), recovering rows from positioned
glyph runs exactly like tabula's lattice mode does for the reference.
Column identity comes from each page's header-row x positions, so a
page that drops a column (the URL quirk) still maps its remaining
cells correctly.
"""

from __future__ import annotations

from ...functions import minipdf
from . import batch_extractor

GENRES = ["仕出し", "弁当", "料亭", "洋食"]
HEADER = ["飲食店名", "店舗住所", "店舗電話番号", "URL", "業態"]
COL_XS = [40, 160, 300, 400, 500]


def endpoint_url(host: str) -> str:
    return f"https://{host}/assets/shoplist.pdf"


def _page_rows(page_no: int, rows_per_page: int, url_col: bool) -> list[list[str]]:
    rows = [HEADER if url_col else HEADER[:3] + HEADER[4:]]
    for j in range(rows_per_page):
        i = page_no * 100 + j
        name = "" if i % 10 == 4 else f"東京亭{i:04d}"  # dead row (tokyo.py:91-93)
        addr = "" if i % 10 == 7 else f"千代田区神田{page_no}-{j}"
        url = f"http://tokyotei{i}.example.com/" if i % 3 else ""
        row = [
            name,
            addr,
            f"03-{page_no:04d}-{j:04d}",
            url,
            GENRES[i % len(GENRES)],
        ]
        if not url_col:
            row = row[:3] + row[4:]  # tokyo.py:76-77 URL column absent
        rows.append(row)
        if page_no == 0 and j == 5:
            # stray header row inside the data (tokyo.py:88-90)
            rows.append(HEADER if url_col else HEADER[:3] + HEADER[4:])
    return rows


def build_pdf(n_pages: int = 3, rows_per_page: int = 12) -> bytes:
    """Valid multi-page PDF; page index 1 lacks the URL column (its
    rows are padded with an empty cell at the URL grid slot — empty
    cells emit no glyph run, so that page's header genuinely has no
    URL column in the recovered text)."""
    pages = []
    for p in range(n_pages):
        url_col = p != 1
        rows = _page_rows(p, rows_per_page, url_col)
        if not url_col:
            rows = [r[:3] + [""] + r[3:] for r in rows]
        pages.append(rows)
    return minipdf.write_pdf(pages, col_xs=COL_XS)


def gen_site(host: str, n_pages: int = 3, rows_per_page: int = 12) -> list[dict]:
    return [{"url": endpoint_url(host), "body": build_pdf(n_pages, rows_per_page)}]


def seeds(host: str, source: str) -> list[dict]:
    return [
        {
            "url": endpoint_url(host),
            "source": source,
            "parse_family": "pdf_tabula",
            "depth": 0,
            "meta": {},
        }
    ]


def decode_pdf_tables(body: bytes) -> list[list[dict]]:
    """Real decode: structural PDF text recovery, rows mapped to the
    reference's column names via each page's header x positions.
    Raises on non-PDF bodies (tokyo.py:78-82 die-on-malformed)."""
    pages = minipdf.extract_text_rows(body)  # raises on malformed
    out = []
    for rows in pages:
        if not rows:
            out.append([])
            continue
        header = rows[0]
        col_of = {x: name for x, name in header}
        page_rows = []
        for cells in rows[1:]:
            rec = {col_of.get(x, f"col@{x}"): text for x, text in cells}
            if "URL" not in col_of:
                rec.setdefault("URL", "")  # tokyo.py:76-77 back-fill
            page_rows.append(rec)
        out.append(page_rows)
    return out


def _tables_to_items(tables: list[list[dict]]):
    items = []
    for page_rows in tables:  # per-page frames concatenated in page order
        for rec in page_rows:
            if rec.get("飲食店名") == "飲食店名":
                continue  # embedded header row (tokyo.py:88-90)
            if not rec.get("飲食店名") or not rec.get("店舗住所"):
                continue  # tokyo.py:91-93 name/address guard
            items.append(
                {
                    "shop_name": rec.get("飲食店名"),
                    "address": rec.get("店舗住所"),
                    "tel": rec.get("店舗電話番号"),
                    "official_page": rec.get("URL", ""),
                    "genre_name": rec.get("業態"),
                }
            )
    return items


def parse_page(url: str, source: str, body: bytes, meta: dict):
    return _tables_to_items(decode_pdf_tables(body)), []


extract_batch = batch_extractor(parse_page)


def oracle_parse(url: str, body: bytes, meta: dict | None = None):
    """Independent pass: sequential scan of stream blocks in document
    byte order (no xref), its own text-op scanner, same cleanup rules
    as tokyo.py:76-93."""
    assert body.startswith(b"%PDF")
    items = []
    for blk in body.split(b"stream\n")[1:]:
        stream = blk.split(b"\nendstream")[0]
        # collect (y, x, text) with a hand scanner
        cells = []
        i = 0
        x = y = 0
        while i < len(stream):
            if stream.startswith(b"1 0 0 1 ", i):
                j = stream.index(b" Tm", i)
                nums = stream[i + 8: j].split()
                x, y = int(nums[0]), int(nums[1])
                i = j + 3
                continue
            if stream[i: i + 1] == b"(":
                j = i + 1
                buf = bytearray()
                while j < len(stream) and stream[j: j + 1] != b")":
                    if stream[j: j + 1] == b"\\":
                        buf.append(stream[j + 1])
                        j += 2
                    else:
                        buf.append(stream[j])
                        j += 1
                if stream[j + 1: j + 5].strip().startswith(b"Tj"):
                    cells.append((y, x, buf.decode("utf-8")))
                i = j + 1
                continue
            i += 1
        rows: dict[int, list] = {}
        for yy, xx, tt in cells:
            rows.setdefault(yy, []).append((xx, tt))
        ordered = [sorted(rows[yy]) for yy in sorted(rows, reverse=True)]
        if not ordered:
            continue
        col_of = {xx: name for xx, name in ordered[0]}
        for cells_row in ordered[1:]:
            rec = {col_of.get(xx, f"col@{xx}"): tt for xx, tt in cells_row}
            if "URL" not in col_of:
                rec.setdefault("URL", "")
            if rec.get("飲食店名") == "飲食店名":
                continue
            if not rec.get("飲食店名") or not rec.get("店舗住所"):
                continue
            items.append(
                {
                    "shop_name": rec.get("飲食店名"),
                    "address": rec.get("店舗住所"),
                    "tel": rec.get("店舗電話番号"),
                    "official_page": rec.get("URL", ""),
                    "genre_name": rec.get("業態"),
                }
            )
    return items, []
