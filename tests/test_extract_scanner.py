"""The regex block scanner of ``kernels/extract.py`` against its oracle,
the ``html.parser`` extractor, and the extraction API on arbitrary input.

- differential: on pages drawn from an HTML-ish alphabet, ``extract_text``,
  ``block_records`` and ``classify_blocks`` equal an ``_Extractor``-only
  path, and every page the scanner takes yields ``_Extractor``'s blocks;
- pinned: the scanner, not the fallback, takes a crawl-shaped page, and it
  declines each construct outside its grammar;
- robustness: on any bytes or text the four public functions return their
  documented types, and ``block_records``' kept texts rebuild
  ``extract_text``.
"""

from unittest import mock

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from correctocr_spark.kernels import extract
from correctocr_spark.kernels.extract import (
    _parsed_blocks,
    _scan_blocks,
    block_records,
    classify_blocks,
    extract_text,
    justext_extract,
)

pytestmark = pytest.mark.engine

#: pieces of pages the scanner takes (unless they leave a construct open)
_TAKEN_PIECES = [
    # text, entities with and without ";", "&" that can end a page
    "word ", "Ünïcode ", "\n", "\t", " ", "\xa0", "\x00", "&amp;", "&amp", "&lt", "&#65;",
    "&#x41", "&nbsp;", "&copy", "&am", "&#6", "& ", "&", ";",
    # mixed-case block, link and inline tags, Unicode space after a name
    "<p>", "</p>", "<P>", "</P >", "<div>", "</DIV>", "<li>", "<td>", "</td>", "<h1>", "</h1>",
    "<span class=x>", "</span>", "<img src=a.png>", "<x-y>", "</x-y>", "<a href='x'>",
    '<a href="y">', "<A HREF=q>", "</a>", "</A>", "<a/>", "<a\nhref='x'\n>", "<a b=c\xa0>",
    # attributes: "/" in bare values, spaces around "=", a "/" before ">"
    "<a href=x/>", "<a href=x />", "<a b = c>", "<a b=c d>", "<a b/>", "<br/>", "<br>", "<BR />",
    # comments (closed, unclosed, "<!-->"), doctype, PIs, bogus comments
    "<!-- c -->", "<!-- c --  >", "<!--", "<!-->", "-->", "--!>", "<!DOCTYPE html>", "<!doctype",
    "<?xml v?>", "<?", "<!x>", "<!->",
    # stray "<"s, a final one included
    "<", "< ", "<3", "x<y", "<<",
    # script and style holding "<", end tags in any case, unclosed
    "<script>", "<SCRIPT type=x>", "</script>", "</SCRIPT >", "if(a<b)", "<style>", "</style>",
    "<script/>",
    # nested prune tags
    "<nav>", "</nav>", "<head>", "</head>", "<noscript>", "</noscript>", "<svg/>", "<footer>",
]
#: pieces outside the scanner's grammar: "==", ">" inside quotes, no
#: space between attributes, "/ >", names ended by other characters,
#: broken end tags, CDATA, a non-ASCII script end tag
_DECLINED_PIECES = [
    "<a b==c>", '<a title="x>y">', '<a b="1"c="2">', '<a b="1"/ >', "<p/x>", "<p", "<p\xa0>",
    "<p\x0b>", "<p\x85>", "<p\x00>", "</>", "</3>", "</p x>", "</ p>", "<![CDATA[x]]>",
    "</ſcript>",
]
_PIECES = _TAKEN_PIECES + _DECLINED_PIECES

_PAGES = st.one_of(
    st.lists(st.sampled_from(_TAKEN_PIECES), max_size=30),
    st.lists(st.sampled_from(_PIECES), max_size=30),
).map("".join)


def _oracle(fn, *args, **kwargs):
    """``fn`` with the scanner declining every page."""
    with mock.patch.object(extract, "_scan_blocks", lambda html: None):
        return fn(*args, **kwargs)


@given(_PAGES)
@settings(max_examples=600, deadline=None)
def test_scanner_equals_html_parser(page):
    blocks = _scan_blocks(page)
    if blocks is not None:
        assert blocks == _parsed_blocks(page)
    for fn in (extract_text, block_records, classify_blocks):
        assert fn(page) == _oracle(fn, page)
    assert extract_text(page, min_block_chars=1, max_link_density=0.9) == _oracle(
        extract_text, page, min_block_chars=1, max_link_density=0.9
    )


#: a crawl-shaped page with every construct of the scanner's grammar
_TAKEN = (
    "<!DOCTYPE html><HTML><head><title>t</title>"
    "<script type=text/javascript>if (a < b && c) { x = '</p>'; }</SCRIPT >"
    "<style>p > a { color: red }</style></head>"
    "<!-- a comment --><?php echo 1 ?><BODY>"
    '<nav><a href="/home">Home</a> <A HREF=/about/>About</A></nav>'
    "<P CLASS='lead'>Fish &amp; chips &copy 2024, 3 < 4 &#8212; done<br/>"
    "second line with <a href=/x/>a link</a> and more prose</P>"
    "<div\n  id=main\tdata-x = \"1\" >Tail text &amp</div>"
    "</BODY></HTML>"
)

#: constructs outside the grammar, each ending an otherwise taken page
_DECLINED = [
    "<![CDATA[x]]>",
    "<!-- unclosed",
    "<script>unclosed",
    "<script>x</ſcript>y</script>",
    "<!doctype html",
    "<?pi",
    "<p",
    "<p\xa0>",
    "<p\x00>",
    "<p/x>",
    '<a b="1"/ >',
    '<a b="1"c="2">',
    '<a title="x>y">',
    "<a b==c>",
    "<a b=>",
    "</>",
    "</3>",
    "</p x>",
    "</ p>",
    "text <",
]


def test_scanner_takes_a_crawl_shaped_page():
    blocks = _scan_blocks(_TAKEN)
    assert blocks is not None
    assert blocks == _parsed_blocks(_TAKEN)
    text = extract_text(_TAKEN)
    assert text == _oracle(extract_text, _TAKEN)
    assert "Fish & chips © 2024, 3 < 4 — done" in text
    assert "Tail text &" in text
    assert "Home" not in text and "x = " not in text


@pytest.mark.parametrize("construct", _DECLINED)
def test_scanner_declines_outside_its_grammar(construct):
    page = f"<p>before &amp; <b>bold</b></p>{construct}"
    assert _scan_blocks(page) is None
    assert extract_text(page) == _oracle(extract_text, page)


#: random text leaning on the characters markup is made of
_HTMLISH = st.text(alphabet=st.sampled_from(list("<>/!?-&#;=\"' \nabpP1\xa0") + ["\x00", "é"]))


@given(st.one_of(st.binary(), st.text(), _HTMLISH))
@settings(max_examples=300, deadline=None)
def test_extraction_never_raises_and_kept_blocks_rebuild_the_text(html):
    text = extract_text(html)
    assert isinstance(text, str)
    assert isinstance(justext_extract(html), str)
    records = block_records(html)
    assert isinstance(records, list)
    for idx, r in enumerate(records):
        assert r["block_idx"] == idx
        assert isinstance(r["text"], str) and r["text"] and r["n_chars"] == len(r["text"])
        assert isinstance(r["link_density_bp"], int) and isinstance(r["kept"], bool)
        assert r["reason"] in ("kept", "link_density", "short_linky")
    assert "\n".join(r["text"] for r in records if r["kept"]) == text
    labels = {"good", "near_good", "short", "bad"}
    assert all(isinstance(t, str) and lab in labels for t, lab in classify_blocks(html))
