"""minihtml: tolerant span-DOM tokenizer (round-3 robustness work).

Two layers:
- unit tests for the tokenizer itself (attribute order/quoting,
  unclosed tags, void elements, stray end tags, byte-exact spans);
- a hostile-markup property over real registry fixtures: perturbing
  the markup in ways that DON'T change content (attribute reorder,
  added attributes, intra-tag whitespace, th/td separation) must not
  change what the ENGINE extracts — the exact failure class of the
  round-2 string-split parser.
"""

from __future__ import annotations

import re

import pytest

from goto_eater_crawler_spark.functions import minihtml as mh
from goto_eater_crawler_spark.sources import registry
from goto_eater_crawler_spark.sources.families import cards


# ---------------------------------------------------------------------------
# tokenizer units
# ---------------------------------------------------------------------------


def test_attribute_order_quoting_and_whitespace():
    doc = mh.parse(
        "<div   data-x=1 class='card'  id=a ><p CLASS=\"addr\">X</p></div>"
    )
    d = doc.find("div")
    assert d.has_class("card")
    assert d.attrs["id"] == "a"
    assert d.attrs["data-x"] == "1"
    assert doc.find("p", "addr").inner_html() == "X"


def test_inner_html_is_byte_exact_source():
    src = '<a href="u">  keep\n<b>raw</b>  </a>'
    assert mh.parse(src).find("a").inner_html() == "  keep\n<b>raw</b>  "


def test_unclosed_tag_closes_at_enclosing_end():
    doc = mh.parse('<article><p class="tel">03-1\n<p class="x">y</article>z')
    art = doc.find("article")
    assert art.find("p", "tel").inner_html() == "03-1\n"
    # the second unclosed p closes where </article> starts
    assert art.find("p", "x").inner_html() == "y"


def test_unclosed_at_eof_and_stray_end_tags():
    doc = mh.parse("</b><div>open forever")
    assert doc.find("div").inner_html() == "open forever"
    assert doc.find("b") is None


def test_void_and_self_closing_elements_do_not_nest():
    doc = mh.parse('<p>a<br>b<img src="x"/>c</p>')
    p = doc.find("p")
    assert p.inner_html() == 'a<br>b<img src="x"/>c'
    assert doc.find("img").attrs["src"] == "x"


def test_self_close_syntax_ignored_on_non_void_elements():
    # HTML5 / lxml.html semantics (ADVICE r3 #2): '<div/>' is an OPEN
    # div — XML self-close syntax on a non-void element is ignored, so
    # the following sibling nests inside it (libxml2 parses the
    # reference's pages the same way; honoring the '/' would diverge).
    doc = mh.parse("<div/><p>x</p></div><span>after</span>")
    div = doc.find("div")
    assert div.find("p") is not None and div.find("p").text() == "x"
    assert doc.find("span").text() == "after"


def test_attribute_values_stay_raw():
    # entity references and javascript quoting are NOT decoded — the
    # quirk layer owns entity replacement (gunma data-o)
    doc = mh.parse(
        "<a data-o=\"{&quot;a&quot;:1}\" href=\"javascript:f('x');\">t</a>"
    )
    a = doc.find("a")
    assert a.attrs["data-o"] == "{&quot;a&quot;:1}"
    assert a.attrs["href"] == "javascript:f('x');"


def test_comments_doctype_skipped():
    doc = mh.parse("<!DOCTYPE html><!-- <p class='x'>no</p> --><p class='y'>t</p>")
    assert doc.find("p", "x") is None
    assert doc.find("p", "y").inner_html() == "t"


def test_sibling_navigation_tolerates_whitespace():
    doc = mh.parse("<tr><th>TEL</th>\n   <td>03-1</td></tr>")
    th = doc.find("th")
    td = th.next_sibling()
    assert td.tag == "td" and td.inner_html() == "03-1"


# ---------------------------------------------------------------------------
# hostile-markup property over registry fixtures
# ---------------------------------------------------------------------------

_START_TAG = re.compile(
    r"<([a-zA-Z][-a-zA-Z0-9:]*)((?:\"[^\"]*\"|'[^']*'|[^>\"'])*?)(/?)>"
)
_ATTR = re.compile(
    r"([a-zA-Z_:][-a-zA-Z0-9_:.]*)(?:\s*=\s*(\"[^\"]*\"|'[^']*'|[^\s>]+))?"
)


def _perturb(html: str) -> str:
    """Content-preserving hostile rewrite of every start tag:
    reverse attribute order, add a junk attribute, pad with
    whitespace. Text and attribute values are untouched, so a
    structural parser must extract identical fields; the round-2
    exact-string parser fails immediately."""

    def rw(m: re.Match) -> str:
        tag, attrs_s, selfc = m.group(1), m.group(2), m.group(3)
        attrs = [
            (a.group(1), a.group(2)) for a in _ATTR.finditer(attrs_s)
        ]
        parts = [
            f"{n}={v}" if v is not None else n for (n, v) in reversed(attrs)
        ]
        body = ("  " + "   ".join(parts)) if parts else ""
        return f"<{tag}{body}  data-zz=9 {selfc}>"

    return _START_TAG.sub(rw, html)


# one source per distinct card-layout shape (place/genre/tel modes,
# detail hop, section areas)
_HOSTILE_SOURCES = [
    "aichi", "gunma", "miyagi", "ibaraki", "nagasaki", "kyoto", "gifu",
]


@pytest.mark.parametrize("name", _HOSTILE_SOURCES)
def test_engine_extracts_same_items_from_hostile_markup(name):
    spec = registry.REGISTRY[name]
    site = cards.gen_site(spec.host, name)
    assert site
    n_items = 0
    for pg in site:
        meta = {}
        if spec.config.get("pagination") == "areas":
            for s in cards.seeds(spec.host, name):
                if s["url"] == pg["url"]:
                    meta = s["meta"]
        base_items, base_links = cards.parse_page(
            pg["url"], name, pg["body"], dict(meta)
        )
        hostile = _perturb(pg["body"].decode("utf-8")).encode("utf-8")
        h_items, h_links = cards.parse_page(pg["url"], name, hostile, dict(meta))
        assert h_items == base_items, (name, pg["url"])
        assert [l[0] for l in h_links] == [l[0] for l in base_links]
        n_items += len(base_items)
    assert n_items > 0  # non-vacuous


def test_xml_mode_link_is_container():
    # RSS: <link> is a container in XML mode (HTML void by default)
    r = mh.parse(
        "<rss><channel><item><link>https://x/5</link></item>"
        "<item><link>https://x/6</link></item></channel></rss>",
        xml=True,
    )
    assert [i.find("link").text() for i in r.find_all("item")] == [
        "https://x/5", "https://x/6",
    ]


def test_xml_mode_self_close_honored():
    # Atom: self-closed <link .../> must NOT swallow following
    # siblings in XML mode (in HTML mode it would stay open)
    r = mh.parse(
        '<feed><entry><link href="https://x/7"/>'
        "<updated>U</updated></entry></feed>",
        xml=True,
    )
    e = r.find("entry")
    assert e.find("link").get("href") == "https://x/7"
    assert not e.find("link").children
    assert e.find("updated").text() == "U"


def test_xml_mode_default_unchanged():
    # the HTML5 behavior stays the default (regression for the
    # documented ADVICE r3 #2 decision)
    h = mh.parse("<div/><p>x</p>")
    div = h.find("div")
    assert div.find("p") is not None
