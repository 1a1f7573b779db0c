"""Per-source registry: all 49 reference crawlers (47 Scrapy spiders
+ 2 standalone scripts) as declarative specs dispatched to parse
families.

Each entry mirrors one reference source (goto_eat_scrapy/spiders/*.py
or scripts/*.py): its parse family, its ``allowed_domains`` (offsite
scope, P4), its politeness delay override (settings.py:32 default 3 s,
per-spider custom_settings), whether the reference's main.py:29-74
ignores list excludes it from the all-sources run (campaign ended /
robots / ToS), and — the heart of extraction parity — its QUIRKS: the
per-source field clean-up rules of SURVEY.md §2.8 F5, each citing the
reference line it reproduces.

Quirks are declarative tuples interpreted by :func:`apply_quirks`
(engine side) and independently by each family's oracle parser (test
side); the per-source golden tests pin the two byte-equal over
fixture sites that exercise every quirk.

Quirk ops (field is a ShopItem field name):
  ("strip_prefix",  field, p)     value.replace(p, "")   e.g. "TEL : "
  ("replace",       field, a, b)  value.replace(a, b)
  ("regex_sub",     field, pat, r) re.sub(pat, r, value)
  ("slice_from",    field, i)     value[i:]              (gunma zip)
  ("collapse_ws",   field)        "".join(value.split()) (shimane)
  ("dash_to_empty", field)        value == "-" -> ""     (premium-gift)
  ("strip",         field)        value.strip()
  ("default",       field, c)     None/"" -> constant    (osaka)
  ("drop_if_empty", field)        drop the ROW           (akita/nagano)
  ("drop_if_startswith", field, p) drop the ROW          (mie 愛知県)
  ("strip_comment_markers", field) remove <!-- and -->   (akita addr)
  ("url_strip_query", field)      strip ?query + last ch (hyogo/shimane)
"""

from __future__ import annotations

import re
from urllib.parse import urlsplit
from dataclasses import dataclass, field as dc_field

# ---------------------------------------------------------------------------
# spec + quirk interpreter
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class SourceSpec:
    name: str
    family: str
    allowed_domains: tuple[str, ...]
    ref: str  # reference citation file:line
    delay: float = 3.0  # settings.py:32 default
    ignored: bool = False  # in main.py:29-74 ignores list
    ignore_reason: str = ""
    quirks: tuple = ()
    config: dict = dc_field(default_factory=dict)

    @property
    def host(self) -> str:
        """Deterministic fixture host for this source's synthetic site."""
        return f"{self.name.replace('_', '-')}.example.jp"


def apply_quirks(item: dict, quirks: tuple) -> dict | None:
    """Engine-side quirk interpreter. Returns None when a drop-op
    fires (the reference's `continue`/`return` row skips)."""
    for q in quirks:
        op, field = q[0], q[1]
        v = item.get(field)
        if op == "drop_if_empty":
            if v is None or v == "":
                return None
            continue
        if op == "drop_if_startswith":
            if v is not None and str(v).startswith(q[2]):
                return None
            continue
        if op == "default":
            if v is None or v == "":
                item[field] = q[2]
            continue
        if v is None:
            continue
        v = str(v)
        if op == "strip_prefix":
            # the reference uses .replace(prefix, "") (e.g.
            # yamagata.py:99-100) — all occurrences, not just leading
            v = v.replace(q[2], "")
        elif op == "replace":
            v = v.replace(q[2], q[3])
        elif op == "regex_sub":
            v = re.sub(q[2], q[3], v)
        elif op == "slice_from":
            v = v[q[2]:]
        elif op == "collapse_ws":
            v = "".join(v.split())
        elif op == "dash_to_empty":
            v = "" if v == "-" else v
        elif op == "strip":
            v = v.strip()
        elif op == "strip_comment_markers":
            v = v.replace("<!--", "").replace("-->", "").strip()
        elif op == "url_strip_query":
            # hyogo.py:38-41 / shimane.py:42-46: the reference applies
            # url.replace(urlparse(url).query, "")[:-1] UNCONDITIONALLY —
            # an empty query makes replace a no-op but [:-1] still chops
            # the last character.  Replicated literally (urlsplit.query
            # == urlparse.query for all URLs).
            v = v.replace(urlsplit(v).query, "")[:-1]
        item[field] = v
    return item


# ---------------------------------------------------------------------------
# the registry
# ---------------------------------------------------------------------------

_R: dict[str, SourceSpec] = {}


def _add(spec: SourceSpec) -> None:
    _R[spec.name] = spec


# ---- single-hop HTML card-list sources (family: cards) --------------------

_add(SourceSpec(
    "aichi", "cards", ("gotoeat-aichi-shop.jp",), "aichi.py:16-55",
    ignored=True, ignore_reason="campaign ended 2022-05-15 (main.py:65)",
    # aichi.py:37 stores the raw @href (keeps the tel: prefix)
    config={"place": "zip_space_ws", "genre": "single", "area": "tag",
            "tel": "tel_href", "hp": True, "pagination": "next"},
))
_add(SourceSpec(
    "aomori", "cards", ("premium-gift.jp",), "aomori.py:16-62",
    ignored=True, ignore_reason="campaign ended 2021-09-30 (main.py:38)",
    quirks=(("dash_to_empty", "tel"),),  # aomori.py:40 '-' -> ''
    config={"place": "zip_space", "genre": "single", "tel": "label",
            "hp": True, "detail_btn": True, "pagination": "js_page"},
))
_add(SourceSpec(
    "ehime", "cards", ("goto-eat-ehime.com",), "ehime.py:14-44",
    ignored=True, ignore_reason="campaign ended 2021-11-30 (main.py:44)",
    config={"place": "addr_only", "genre": "single", "tel": "href",
            "detail_btn": True, "pagination": "next"},
))
_add(SourceSpec(
    "fukushima", "cards", ("gotoeat-fukushima.jp",), "fukushima.py:16-63",
    ignored=True, ignore_reason="campaign ended 2021-07-31 (main.py:35)",
    config={"place": "addr_only", "genre": "single", "tel": "label",
            "hours": True, "closed": True, "hp": True, "gmap": "q",
            "pagination": "next"},
))
_add(SourceSpec(
    "gunma", "cards", ("gunma-gotoeat-campaign.com",), "gunma.py:13-50",
    ignored=True, ignore_reason="campaign ended 2021-12-15 (main.py:48)",
    quirks=(
        ("slice_from", "zip_code", 1),      # gunma.py:32 [1:] strips 〒
        ("strip_prefix", "tel", "TEL."),    # gunma.py:36-37
    ),
    config={"place": "split", "zip_maru": True, "genre": "single_optional",
            "area": "tag", "tel": "prefix:TEL.", "hp": True,
            "pagination": "next"},
))
_add(SourceSpec(
    "hiroshima", "cards", ("gotoeat.hiroshima.jp",), "hiroshima.py:13-44",
    config={"place": "addr_only", "genre": "single",
            "hp": "name_link", "pagination": "next"},
))
_add(SourceSpec(
    "hyogo", "cards", ("gotoeat-hyogo.com",), "hyogo.py:11-55",
    ignored=True, ignore_reason="campaign ended 2022-05-15 (main.py:64)",
    quirks=(
        ("regex_sub", "address", r"\s", ""),   # hyogo.py:27
        ("replace", "zip_code", "〒", ""),     # hyogo.py:28
        ("url_strip_query", "detail_page"),    # hyogo.py:38-41
    ),
    config={"place": "split", "zip_maru": True, "genre": "none",
            "tel": "href", "detail_btn": "query", "pagination": "next",
            "addr_ws": True},  # hyogo.py:32-36 genre unobtainable
))
_add(SourceSpec(
    "ibaraki", "cards", ("area34.smp.ne.jp",), "ibaraki.py:13-63",
    delay=3.0,  # ibaraki.py:23-28
    ignored=True, ignore_reason="campaign ended 2022-01-20 (main.py:53)",
    config={"place": "addr_pair",  # ibaraki.py:42-45 f"{a1} {a2}" join
            "genre": "single", "tel": "label", "detail_btn": True,
            "pagination": "next"},
))
_add(SourceSpec(
    "ishikawa", "cards", ("ishikawa-gotoeat-cpn.com",), "ishikawa.py:13-47",
    ignored=True, ignore_reason="campaign ended 2022-05-22 (main.py:69)",
    quirks=(
        ("replace", "zip_code", "〒", ""),     # ishikawa.py:29
        ("strip_prefix", "tel", "TEL."),       # ishikawa.py:33-34
    ),
    config={"place": "split", "zip_maru": True, "genre": "single",
            "area": "tag", "tel": "prefix:TEL.", "pagination": "next"},
))
_add(SourceSpec(
    "iwate", "cards", ("iwate-gotoeat.jp",), "iwate.py:16-84",
    ignored=True, ignore_reason="campaign ended 2022-01-16 (main.py:52)",
    config={"place": "addr_only", "genre": "single", "area": "tag",
            "tel": "guard",  # iwate.py:73-75 regex guard on junk text
            "pagination": "areas",
            "areas": ("盛岡市", "宮古市", "花巻市", "一関市")},
))
_add(SourceSpec(
    "kagawa", "cards", ("kagawa-gotoeat.com",), "kagawa.py:13-57",
    quirks=(("replace", "genre_name", "｜", "|"),),  # kagawa.py:33
    config={"place": "addr_only", "genre": "join_raw:｜",
            "area": "tag", "tel": "label", "pagination": "next"},
))
_add(SourceSpec(
    "kumamoto", "cards", ("gotoeat-kumamoto.jp",), "kumamoto.py:14-44",
    ignored=True, ignore_reason="campaign ended 2022-04-30 (main.py:61)",
    config={"place": "zip_space", "genre": "none", "area": "tag",
            "hp": True, "pagination": "next"},
))
_add(SourceSpec(
    "miyazaki", "cards", ("premium-gift.jp",), "miyazaki.py:16-67",
    ignored=True, ignore_reason="campaign ended 2021-07-31 (main.py:36)",
    quirks=(("dash_to_empty", "tel"),),  # miyazaki.py:44 '-' -> ''
    config={"place": "zip_space", "genre": "in_name",  # miyazaki.py:24-28
            "tel": "label", "hp": True, "detail_btn": True,
            "pagination": "js_page"},
))
_add(SourceSpec(
    "nagano", "cards", ("shinshu-premium.jp",), "nagano.py:13-47",
    quirks=(
        ("drop_if_empty", "shop_name"),            # nagano.py:22-24
        ("strip_prefix", "address", "住所："),      # nagano.py:31-33
    ),
    config={"place": "addr_label:住所：", "genre": "single", "area": "tag",
            "tel": "label", "hp": True, "pagination": "counter",
            "empty_name_idx": 2},
))
_add(SourceSpec(
    "nagasaki", "cards", ("gotoeat-nagasaki.jp",), "nagasaki.py:13-43",
    config={"place": "addr_only", "genre": "single", "area": "tag",
            "tel": "label", "hp": True, "pagination": "next"},
))
_add(SourceSpec(
    "niigata", "cards", ("niigata-gte.com",), "niigata.py:15-109",
    ignored=True, ignore_reason="campaign ended 2021-10-31 (main.py:40)",
    config={"place": "zip_fallback",      # niigata.py:67-74 zip-less row
            "genre": "tags",                # niigata.py:79-89 area/genre tags
            "area_list": ("新潟市中央区", "長岡市", "上越市"),
            "tel": "label", "gmap": "at", "hp": "name_link",
            "pagination": "js_submit"},     # niigata.py:105-107 mySubmit
))
_add(SourceSpec(
    "okayama", "cards", ("gotoeat-okayama.com",), "okayama.py:13-55",
    ignored=True, ignore_reason="campaign ended 2022-01-31 (main.py:57)",
    config={"place": "addr_only", "genre": "label", "area": "tag",
            "tel": "href", "hp": True, "pagination": "next",
            "seed": "form"},                # okayama.py:16-21 POST form
))
_add(SourceSpec(
    "okinawa", "cards", ("gotoeat.okinawa.jp",), "okinawa.py:13-43",
    quirks=(("strip_prefix", "tel", "TEL:"),),  # okinawa.py:26-27
    config={"place": "addr_only", "genre": "single", "area": "tag",
            "tel": "prefix:TEL:", "hp": True, "pagination": "next"},
))
_add(SourceSpec(
    "osaka", "cards", ("goto-eat.weare.osaka-info.jp",), "osaka.py:15-92",
    quirks=(
        ("default", "shop_name", "珉珉上新庄駅前店"),  # osaka.py:52-57
        ("regex_sub", "address", r"\s", ""),          # osaka.py:73
    ),
    config={"place": "split", "genre": "tags",        # osaka.py:60-68
            "area_list": ("キタ", "ミナミ", "北摂"),
            "tel": "label", "hours": True, "closed": True,
            "detail_btn": True, "pagination": "next",
            "addr_ws": True, "empty_name_idx": 3},
))
_add(SourceSpec(
    "saga", "cards", ("www.sagaoishi-to.com",), "saga.py:13-43",
    ignored=True, ignore_reason="campaign ended 2022-01-31 (main.py:58)",
    config={"place": "addr_only", "genre": "single", "tel": "label",
            "hours": True, "closed": True, "hp": True,
            "pagination": "next"},
))
_add(SourceSpec(
    "saitama", "cards", ("saitama-goto-eat.com",), "saitama.py:13-121",
    ignored=True, ignore_reason="campaign ended 2022-02-28 (main.py:59)",
    config={"place": "split", "genre": "section",  # saitama.py:102-114
            "area": "meta", "tel": "label", "hp": True,
            "pagination": "areas",
            "areas": ("さいたま市西区", "川越市", "熊谷市")},
))
_add(SourceSpec(
    "shizuoka", "cards", ("gotoeat.s-reserve.com",), "shizuoka.py:17-59",
    ignored=True, ignore_reason="campaign ended 2021-12-31 (main.py:49)",
    config={"place": "zip_nospace",  # shizuoka.py:30-34 \d{3}-\d{4} no space
            "genre": "single", "tel": "label", "hp": True,
            "detail_btn": True, "pagination": "js_jumppage"},
))
_add(SourceSpec(
    "shizuoka_blue", "cards", ("gotoeat-shizuoka.com",), "shizuoka_blue.py:19-61",
    ignored=True, ignore_reason="campaign ended 2021-12-31 (main.py:50)",
    quirks=(
        ("regex_sub", "area_name", r"【|】", ""),  # shizuoka_blue.py:28-29
        ("replace", "zip_code", "〒", ""),        # shizuoka_blue.py:33
    ),
    config={"place": "split", "zip_maru": True, "genre": "multi",
            "area": "tag_brackets", "tel": "label", "hours": True,
            "closed": True, "hp": True, "pagination": "next"},
))
_add(SourceSpec(
    "tokushima", "cards", ("gotoeat.tokushima.jp",), "tokushima.py:13-66",
    ignored=True, ignore_reason="ToS forbids reproduction (main.py:31)",
    config={"place": "addr_only", "genre": "comma_header",
            # tokushima.py:26-28: "ジャンル：a, b" -> "a|b"
            "tel": "label", "hours": True, "closed": True,
            "pagination": "next"},
))
_add(SourceSpec(
    "tottori", "cards", ("tottori-gotoeat.jp",), "tottori.py:13-46",
    ignored=True, ignore_reason="campaign ended 2021-08-31 (main.py:37)",
    quirks=(("strip_prefix", "tel", "tel:"),),  # tottori.py:28-29 href
    config={"place": "addr_only", "genre": "multi",  # tottori.py:34-35
            "area": "tag", "tel": "tel_href", "hp": True,
            "pagination": "next"},
))
_add(SourceSpec(
    "toyama", "cards", ("toyamagotoeat.jp",), "toyama.py:13-50",
    ignored=True, ignore_reason="campaign ended 2021-11-30 (main.py:43)",
    config={"place": "addr_only", "genre": "single", "tel": "label",
            "hours": True, "closed": True, "pagination": "counter"},
))
_add(SourceSpec(
    "wakayama", "cards", ("gotoeat-wakayama.com",), "wakayama.py:15-52",
    ignored=True, ignore_reason="campaign ended 2021-09-30 (main.py:39)",
    config={"place": "zip_space", "genre": "single", "area": "tag",
            "tel": "label", "hp": True, "pagination": "form_action"},
))
_add(SourceSpec(
    "yamaguchi", "cards", ("gotoeat-yamaguchi.com",), "yamaguchi.py:16-71",
    ignored=True, ignore_reason="campaign ended 2021-10-31 (main.py:41)",
    quirks=(("replace", "genre_name", "●", ""),),  # yamaguchi.py:40-41
    config={"place": "addr_only",
            "genre": "multi_mark:●", "area": "meta", "tel": "bracket",
            "hours": True, "closed": True, "hp": True,
            "pagination": "areas",
            "areas": ("岩国エリア", "柳井エリア", "下関エリア")},
))
_add(SourceSpec(
    "yamanashi", "cards", ("gotoeat-yamanashi.jp",), "yamanashi.py:11-33",
    ignored=True, ignore_reason="campaign ended 2021-12-31 (main.py:51)",
    config={"place": "addr_only", "genre": "td_span",  # yamanashi.py:24-31
            "area": "section", "tel": "td", "pagination": "none"},
))
_add(SourceSpec(
    "oita", "cards", ("oita-gotoeat.com",), "scripts/oita.py:19-72",
    ignored=True, ignore_reason="campaign ended 2021-08-15 (main.py:83)",
    config={"place": "addr_only", "genre": "multi",  # oita.py:59-60
            "tel": "label", "pagination": "none",
            # S9: headless-browser source — the fixture page stands in
            # for the final scrolled DOM (SURVEY.md §2.1)
            "premade_dom": True},
))

# ---- two-hop list -> detail label-table sources (family: cards) -----------

_add(SourceSpec(
    "kyoto", "cards", ("kyoto-gotoeat.com",), "kyoto.py:15-88",
    delay=1.2,  # kyoto.py:20-22
    ignored=True, ignore_reason="campaign ended 2022-05-20 (main.py:68)",
    config={"detail": True, "labels": {
        "genre_name": "ジャンル", "area_name": "エリア", "address": "住所",
        "tel": "電話番号", "opening_hours": "営業時間",
        "closing_day": "定休日", "official_page": "U R L"},
        "gmap": "q", "pagination": "next"},
))
_add(SourceSpec(
    "gifu", "cards", ("area34.smp.ne.jp",), "gifu.py:13-75",
    delay=1.7,  # gifu.py:24-29
    ignored=True, ignore_reason="campaign ended 2022-05-08 (main.py:63)",
    quirks=(),  # address shop_name strip handled via config (needs shop_name)
    config={"detail": True, "labels": {
        "shop_name": "店舗名", "genre_name": "業態", "area_name": "店舗エリア",
        "official_page": "WEB URL"},
        "place": "multi_line",            # gifu.py:67-69 zip + addr lines
        "addr_contains_shopname": True,   # gifu.py:69 replace(shop_name,'')
        "broken_tel_row": True,           # gifu.py:71-72 tr-less tel row
        "pagination": "next"},
))
_add(SourceSpec(
    "mie", "cards", ("area34.smp.ne.jp",), "mie.py:13-79",
    delay=2.0,  # mie.py:24-29
    ignored=True, ignore_reason="campaign ended 2021-11-23 (main.py:42)",
    quirks=(("drop_if_startswith", "address", "愛知県"),),  # mie.py:64-66
    config={"detail": True, "labels": {
        "shop_name": "店舗名", "genre_name": "業態", "area_name": "店舗エリア",
        "official_page": "WEB URL"},
        "place": "multi_line", "broken_tel_row": True,  # mie.py:68-69
        "out_of_region_idx": 1,  # one detail page is an Aichi row
        "pagination": "next"},
))
_add(SourceSpec(
    "fukui", "cards", ("gotoeat-fukui.com",), "fukui.py:16-74",
    delay=4.0,  # fukui.py:20-22
    ignored=True, ignore_reason="campaign ended 2022-02-28 (main.py:55)",
    quirks=(("replace", "genre_name", "、", "|"),),  # fukui.py:54
    config={"detail": True, "labels": {
        "tel": "電　　話", "address": "住　　所", "opening_hours": "営業時間",
        "closing_day": "定 休 日", "official_page": "HP・SNS"},
        "genre_dd1": True,    # fukui.py:47-53 genre from dd[1], may be empty
        "gmap": "q", "area": "detail_icon", "seed": "form",
        "pagination": "none"},  # fukui.py:30-35 search has no paging
))
_add(SourceSpec(
    "shimane", "cards", ("gotoeat-shimane.jp",), "shimane.py:16-65",
    ignored=True, ignore_reason="campaign ended 2022-03-25 (main.py:60)",
    quirks=(
        ("url_strip_query", "detail_page"),   # shimane.py:42-46
        ("collapse_ws", "genre_name"),        # shimane.py:59-60
    ),
    config={"detail": True, "labels": {
        "address": "住所", "official_page": "URL", "closing_day": "定休日",
        "tel": "電話番号"},
        "area": "detail_icon", "genre_ws": True, "detail_query": True,
        "pagination": "next"},
))
_add(SourceSpec(
    "tokyo_gnavi", "cards", ("r.gnavi.co.jp",), "tokyo_gnavi.py:18-155",
    delay=1.0,  # tokyo_gnavi.py:21-28
    ignored=True,
    ignore_reason="corporate site, high volume — PDF crawler covers Tokyo (main.py:30)",
    config={"detail": True, "labels": {
        "shop_name": "店名", "tel": "電話番号・FAX",
        "opening_hours": "営業時間", "closing_day": "定休日"},
        "hp_data_o": True,        # tokyo_gnavi.py:105-111 data-o JSON
        "gmap": "marker",         # tokyo_gnavi.py:145-149 marker png
        "genre": "header_ol",     # tokyo_gnavi.py:130-141 ol list | fallback
        "closed_join": True,      # tokyo_gnavi.py:127-128 "\n".join
        "zip_maru_label": True,   # tokyo_gnavi.py:116 zip.replace 〒
        "pagination": "next"},
))

# ---- non-cards families ---------------------------------------------------

_add(SourceSpec(
    "tochigi", "list_xpath", ("gotoeat-tochigi.jp",), "tochigi.py:15-70",
    ignored=True, ignore_reason="campaign ended 2022-05-23 (main.py:67)",
))
_add(SourceSpec(
    "kochi", "json_positional", ("gotoeat-kochi.com",), "kochi.py:13-46",
    ignored=True, ignore_reason="robots.txt Disallow added 2021-07 (main.py:32)",
    quirks=(("replace", "shop_name", "<きてみいや>", "　きてみいや"),),  # kochi.py:41-46
))
_add(SourceSpec(
    "yamagata", "wp_search_json", ("yamagata-gotoeat.com",), "yamagata.py:16-139",
    ignored=True, ignore_reason="campaign ended 2021-12-15 (main.py:47)",
    quirks=(("strip_prefix", "tel", "TEL : "),),  # yamagata.py:99-100
))
_add(SourceSpec(
    "miyagi", "js_object", ("gte-miyagi.jp",), "miyagi.py:16-119",
    ignored=True, ignore_reason="campaign ended 2022-04-30 (main.py:61)",
))
_add(SourceSpec(
    "akita", "csv_body", ("gotoeat-akita.com",), "akita.py:16-51",
    ignored=True, ignore_reason="campaign ended 2021-11-30 (main.py:45)",
    quirks=(
        ("drop_if_empty", "address"),            # akita.py:38-40
        ("strip_comment_markers", "address"),    # akita.py:41-44
    ),
    config={"variant": "akita"},  # headerless 5-col CSV, no genre dim
))
_add(SourceSpec(
    "fukuoka", "csv_body", ("gotoeat-fukuoka.jp",), "fukuoka.py:16-70",
    ignored=True, ignore_reason="campaign ended 2022-05-16 (main.py:66)",
    config={"variant": "fukuoka"},  # headered, usecols, genre code dim
))
_add(SourceSpec(
    "nara", "xlsx_body", ("premium-gift.jp",), "nara.py:17-41",
    ignored=True, ignore_reason="campaign ended 2022-02-28 (main.py:59)",
))
_add(SourceSpec(
    "tokyo", "pdf_tabula", ("gnavi.co.jp",), "tokyo.py:19-114",
))
_add(SourceSpec(
    "chiba", "mesh_json", ("gotoeat-chiba.liny.jp",), "chiba.py:10-17",
    delay=1.25,  # chiba.py:15-17
    ignored=True, ignore_reason="campaign ended 2022-06-10 (main.py:70)",
))
_add(SourceSpec(
    "kanagawa", "mesh_json", ("gotoeat-kanagawa.liny.jp",), "kanagawa.py:10-16",
    delay=1.5,  # kanagawa.py:14-16
    ignored=True, ignore_reason="campaign ended 2022-09-30 (main.py:71)",
))
_add(SourceSpec(
    "shiga", "mesh_json", ("gotoeat-shiga.liny.jp",), "shiga.py:10-16",
    delay=1.5,  # shiga.py:14-16
    ignored=True, ignore_reason="campaign ended 2022-02-28 (main.py:54)",
))
_add(SourceSpec(
    "kagoshima", "excel_html", ("kagoshima-cci.or.jp",), "kagoshima.py:13-82",
    ignored=True, ignore_reason="campaign ended 2021-07-14 (main.py:34)",
    config={
        # kagoshima.py:21-35 / 36-50: allow + deny lists for area links
        "area_list": ("鹿児島市全域", "〇その他地域"),
        "not_target_area_list": (
            "天文館地区", "鹿児島中央駅地区", "◇食事券購入情報はこちら"),
        # kagoshima.py:72-74: prefix city name for the all-city file
        "city_prefix_area": "鹿児島市全域", "city_prefix": "鹿児島市",
    },
))
_add(SourceSpec(
    "hokkaido", "session_token", ("gotoeat-hokkaido.jp",),
    "scripts/hokkaido.py:16-141",
    ignored=True, ignore_reason="campaign ended 2022-05-10 (main.py:78)",
))

REGISTRY: dict[str, SourceSpec] = dict(_R)

# host -> spec (fixture sites give each source a unique host)
HOST_INDEX: dict[str, SourceSpec] = {s.host: s for s in REGISTRY.values()}


def spec_for(source: str | None, url: str | None = None) -> SourceSpec:
    """The spec of a registered ``source``, else of the registered host
    of ``url``; anything else is an error, never a default layout."""
    if source in REGISTRY:
        return REGISTRY[source]
    host = urlsplit(url).hostname if url else None
    if host in HOST_INDEX:
        return HOST_INDEX[host]
    raise ValueError(f"unknown source {source!r} and host {host!r}")


def active_sources() -> list[str]:
    """main.py:25-77 semantics: the all-sources run minus ignores."""
    return sorted(n for n, s in REGISTRY.items() if not s.ignored)


def allowed_domains_map() -> dict[str, tuple[str, ...]]:
    """source -> allowed_domains (P4 offsite scope) — the per-spider
    ``allowed_domains`` plus the fixture host so synthetic sites pass
    their own scope check."""
    return {
        n: s.allowed_domains + (s.host,) for n, s in REGISTRY.items()
    }
