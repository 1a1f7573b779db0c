"""Family ``xlsx_body`` — endpoint returning an Excel workbook; rows
are read from a named sheet with everything as strings.

Models goto_eat_scrapy/spiders/nara.py:19-41: the spider downloads an
``.xlsx``, reads sheet ``リスト`` with ``pd.read_excel(...,
sheet_name="リスト", dtype=str)`` and emits one item per row.

XLSX is a zip of XML parts: the fixture writer and both parsers
speak the real OOXML container directly (``zipfile`` + shared-strings
XML), with no spreadsheet library, so the Spark-side plumbing (binary
body -> vectorized batch parse) is real, not a stand-in format. The
engine always reads cells through :func:`read_xlsx`, which returns
every cell as a string (``dtype=str``).

Quirks reproduced:
- ``dtype=str`` semantics: zip codes keep leading zeros, numbers stay
  strings (nara.py:24 ``dtype=str``);
- header row skipped; rows with an empty shop name dropped
  (nara.py:33-36 guards on the name cell);
- inline numeric cells (no shared string) must still come out as str.
"""

from __future__ import annotations

import io
import re
import zipfile

from . import batch_extractor

SHEET_NAME = "リスト"
HEADERS = ["店舗名", "郵便番号", "住所", "電話番号", "ジャンル"]
GENRES = ["和食", "洋食", "カフェ", "居酒屋", "うどん"]

_CONTENT_TYPES = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
    '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
    '<Default Extension="xml" ContentType="application/xml"/>'
    '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
    '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
    '<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>'
    "</Types>"
)
_ROOT_RELS = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
    '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>'
    "</Relationships>"
)
_WB_RELS = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
    '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>'
    '<Relationship Id="rId2" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/sharedStrings" Target="sharedStrings.xml"/>'
    "</Relationships>"
)


def endpoint_url(host: str) -> str:
    return f"https://{host}/docs/shop_list.xlsx"


def _workbook_xml(sheet: str) -> str:
    return (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
        'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
        f'<sheets><sheet name="{sheet}" sheetId="1" r:id="rId1"/></sheets></workbook>'
    )


def _col_letter(idx: int) -> str:
    # 0 -> A .. 25 -> Z (5 columns here; single letter suffices)
    return chr(ord("A") + idx)


def write_xlsx(rows: list[list[str | int]], sheet: str = SHEET_NAME) -> bytes:
    """Minimal deterministic OOXML writer. Strings go through the
    shared-strings table (like real writers); ints are inline numeric
    cells — exercising both cell types in the readers."""
    shared: list[str] = []
    sindex: dict[str, int] = {}

    def sref(s: str) -> int:
        if s not in sindex:
            sindex[s] = len(shared)
            shared.append(s)
        return sindex[s]

    sheet_rows = []
    for r, row in enumerate(rows, start=1):
        cells = []
        for c, val in enumerate(row):
            ref = f"{_col_letter(c)}{r}"
            if isinstance(val, int):
                cells.append(f'<c r="{ref}"><v>{val}</v></c>')
            elif val is None or val == "":
                continue  # omitted cell (sparse row quirk)
            else:
                cells.append(f'<c r="{ref}" t="s"><v>{sref(str(val))}</v></c>')
        sheet_rows.append(f'<row r="{r}">{"".join(cells)}</row>')
    sheet_xml = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        f'<sheetData>{"".join(sheet_rows)}</sheetData></worksheet>'
    )
    ss_xml = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
        f'count="{len(shared)}" uniqueCount="{len(shared)}">'
        + "".join(f"<si><t>{s}</t></si>" for s in shared)
        + "</sst>"
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        for name, data in [
            ("[Content_Types].xml", _CONTENT_TYPES),
            ("_rels/.rels", _ROOT_RELS),
            ("xl/workbook.xml", _workbook_xml(sheet)),
            ("xl/_rels/workbook.xml.rels", _WB_RELS),
            ("xl/worksheets/sheet1.xml", sheet_xml),
            ("xl/sharedStrings.xml", ss_xml),
        ]:
            # fixed timestamp => byte-identical archives run-to-run
            zi = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
            zi.compress_type = zipfile.ZIP_DEFLATED
            z.writestr(zi, data)
    return buf.getvalue()


_SI_RE = re.compile(r"<si><t[^>]*>(.*?)</t></si>", re.DOTALL)
_ROW_RE = re.compile(r"<row[^>]*>(.*?)</row>", re.DOTALL)
_CELL_RE = re.compile(r'<c r="([A-Z]+)\d+"(?: t="(\w+)")?><v>(.*?)</v></c>')


def read_xlsx(body: bytes) -> list[list[str | None]]:
    """Minimal OOXML reader (dtype=str semantics, nara.py:24), the
    engine's only XLSX reader; returns dense rows padded to the max
    column seen."""
    with zipfile.ZipFile(io.BytesIO(body)) as z:
        ss_xml = z.read("xl/sharedStrings.xml").decode("utf-8")
        sheet_xml = z.read("xl/worksheets/sheet1.xml").decode("utf-8")
    shared = [m.group(1) for m in _SI_RE.finditer(ss_xml)]
    rows: list[list[str | None]] = []
    width = 0
    for rm in _ROW_RE.finditer(sheet_xml):
        cells: dict[int, str] = {}
        for cm in _CELL_RE.finditer(rm.group(1)):
            col = ord(cm.group(1)[0]) - ord("A")
            val = shared[int(cm.group(3))] if cm.group(2) == "s" else cm.group(3)
            cells[col] = val
        width = max(width, max(cells, default=-1) + 1)
        rows.append(cells)  # type: ignore[arg-type]
    return [[r.get(c) for c in range(width)] for r in rows]


def gen_site(host: str, n_rows: int = 45) -> list[dict]:
    rows: list[list[str | int]] = [list(HEADERS)]
    for i in range(n_rows):
        name = "" if i % 11 == 6 else f"奈良亭{i:03d}"  # dropped-row quirk
        rows.append(
            [
                name,
                f"063{i % 10000:04d}"[:7],  # leading-zero zip, dtype=str
                f"奈良市三条町{i}-{i % 9}",
                i * 1000 + 742,  # inline NUMERIC cell -> must become str
                GENRES[i % len(GENRES)],
            ]
        )
    return [{"url": endpoint_url(host), "body": write_xlsx(rows)}]


def seeds(host: str, source: str) -> list[dict]:
    return [
        {
            "url": endpoint_url(host),
            "source": source,
            "parse_family": "xlsx_body",
            "depth": 0,
            "meta": {},
        }
    ]


def _rows_to_items(rows: list[list[str | None]]):
    items = []
    for row in rows[1:]:  # skip header (nara.py:31 header=0)
        if not row or not row[0]:  # name guard (nara.py:33-36)
            continue
        items.append(
            {
                "shop_name": row[0],
                "zip_code": row[1],
                "address": row[2],
                "tel": row[3],
                "genre_name": row[4],
            }
        )
    return items


def parse_page(url: str, source: str, body: bytes, meta: dict):
    return _rows_to_items(read_xlsx(body)), []


extract_batch = batch_extractor(parse_page)


def oracle_parse(url: str, body: bytes, meta: dict | None = None):
    """Independent pass: unzip, map shared strings, walk rows with its
    own (split-based) cell scan — mirrors nara.py:24-41 row handling."""
    with zipfile.ZipFile(io.BytesIO(body)) as z:
        ss = z.read("xl/sharedStrings.xml").decode("utf-8")
        sheet = z.read("xl/worksheets/sheet1.xml").decode("utf-8")
    shared = [chunk.split("</t>")[0].split(">", 1)[1] for chunk in ss.split("<si><t")[1:]]
    items = []
    first = True
    for chunk in sheet.split("<row ")[1:]:
        chunk = chunk.split("</row>")[0]
        cells: dict[str, str] = {}
        for cell in chunk.split("<c r=\"")[1:]:
            ref = cell.split('"', 1)[0]
            val = cell.split("<v>", 1)[1].split("</v>", 1)[0]
            if 't="s"' in cell.split(">", 1)[0]:
                val = shared[int(val)]
            cells[ref[0]] = val
        if first:
            first = False
            continue
        if not cells.get("A"):
            continue
        items.append(
            {
                "shop_name": cells.get("A"),
                "zip_code": cells.get("B"),
                "address": cells.get("C"),
                "tel": cells.get("D"),
                "genre_name": cells.get("E"),
            }
        )
    return items, []
