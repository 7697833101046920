"""HTML main-content extraction (boilerplate strip).

Not present in the reference (which ingests .txt/.pdf/.hocr); required by
the target pipeline: Common-Crawl-style pages carry ``html binary`` and
the extraction stage must yield the candidate text that the CorrectOCR
stages then correct.

Design: a page is decoded, cut into text blocks, and the blocks are
scored with classic text-density heuristics:

1. prune boilerplate subtrees: script/style/noscript/template/head/nav/
   header/footer/aside/form/iframe/svg/button/select/option;
2. segment text into blocks at block-level tags (p, div, li, td, h1-6,
   article, section, main, blockquote, pre, br, tr);
3. score each block by link density (chars inside <a> / total chars) and
   length; keep blocks with link_density < 0.5 — navigation chrome is
   link-dominated, body prose is not;
4. join kept blocks with ``'\\n'`` and whitespace-normalize within blocks
   (runs of whitespace -> single space).

Blocks come from one of two tokenizers with the same prune, link and
block-break rules:

- ``_scan_blocks``, the fast path: one match of one compiled regex per
  construct. Its grammar is what stdlib ``html.parser`` (CPython 3.11)
  makes of a strict subset of HTML:

  * start tags ``<name( attr(=value)?)*[ws]*/?>``, name
    ``[A-Za-z][A-Za-z0-9-]*``, lowercased; ``[ws]`` is ASCII
    `` \\t\\n\\r\\f`` only (html.parser's tag-name class accepts the other
    Unicode spaces, so ``<p\\xa0>`` is the tag ``p\\xa0``, not a block);
    values are quoted without ``<``/``>``, or bare ``[^\\s"'=<>`]+``,
    whose ``/`` stays in the value (``<a href=x/>`` is not
    self-closing); ``/>`` is a start tag and then its end tag;
  * end tags ``</name[ws]*>``;
  * comments to the first ``--\\s*>`` at or after ``<!--`` + 4,
    declarations and doctypes (not ``<![``) to the next ``>``,
    processing instructions ``<?`` to the next ``>``;
  * a ``<`` not followed by ``[A-Za-z/!?]`` and not last on the page is
    the text ``<``;
  * ``<script>``/``<style>`` skip to html.parser's own
    ``</\\s*script\\s*>`` (``re.I``), which ends them;
  * text between constructs goes through ``html.unescape``, chunked as
    html.parser chunks it (an entity never spans a ``<``).

  Anything else, or any construct left open, makes it return ``None``.
- ``_Extractor``, an ``html.parser`` subclass: the oracle the scanner is
  tested against, bitwise, and the fallback for every page the scanner
  declines. A parser exception keeps the blocks collected so far.

``_page_blocks`` picks between them, so ``extract_text``,
``block_records`` and ``classify_blocks`` read the same blocks of a page.

Deterministic, pure-Python, Arrow-batch friendly: the Spark stage maps
this over ``pd.Series`` of bytes inside ``mapInPandas``.
"""

from __future__ import annotations

import re
from html import unescape
from html.parser import HTMLParser
from typing import Dict, Iterator, List, Optional, Tuple, Union

_PRUNE_TAGS = frozenset(
    "script style noscript template head nav header footer aside form "
    "iframe svg button select option".split()
)

_BLOCK_TAGS = frozenset(
    "p div li td th h1 h2 h3 h4 h5 h6 article section main blockquote "
    "pre br tr ul ol table body".split()
)

#: void elements never get close tags; don't let them sit on the stack
_VOID_TAGS = frozenset("br img hr input meta link area base col embed source track wbr".split())


class _Block:
    __slots__ = ("chars", "link_chars")

    def __init__(self) -> None:
        self.chars: List[str] = []
        self.link_chars = 0


class _Extractor(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self._prune_depth = 0
        self._link_depth = 0
        self._blocks: List[_Block] = [_Block()]

    def _break_block(self) -> None:
        if self._blocks[-1].chars:
            self._blocks.append(_Block())

    def handle_starttag(self, tag: str, attrs) -> None:
        if tag in _PRUNE_TAGS and tag not in _VOID_TAGS:
            self._prune_depth += 1
            return
        if self._prune_depth:
            return
        if tag == "a":
            self._link_depth += 1
        if tag in _BLOCK_TAGS:
            self._break_block()

    def handle_endtag(self, tag: str) -> None:
        if tag in _PRUNE_TAGS and tag not in _VOID_TAGS:
            self._prune_depth = max(0, self._prune_depth - 1)
            return
        if self._prune_depth:
            return
        if tag == "a":
            self._link_depth = max(0, self._link_depth - 1)
        if tag in _BLOCK_TAGS:
            self._break_block()

    def handle_data(self, data: str) -> None:
        if self._prune_depth or not data:
            return
        block = self._blocks[-1]
        block.chars.append(data)
        if self._link_depth:
            block.link_chars += len(data)


#: a block: its raw text (chunks joined) and how many of its chars sit
#: inside ``<a>``
Blocks = List[Tuple[str, int]]

_WS = "[ \t\n\r\f]"
_NAME = "([A-Za-z][A-Za-z0-9-]*)"
_ATTR = (
    rf"{_WS}+[^\s\"'<>/=`]+"
    rf"(?:{_WS}*={_WS}*(?:\"[^\"<>]*\"|'[^'<>]*'|[^\s\"'=<>`]+))?"
)
#: the text up to the next ``<``, then one construct or the end of the page
_CONSTRUCT = re.compile(
    r"([^<]*)(?:"
    rf"<{_NAME}(?:{_ATTR})*{_WS}*(/?)>"  # 2: start tag, 3: "/" if self-closing
    rf"|</{_NAME}{_WS}*>"  # 4: end tag
    r"|<!--(?s:.*?)--\s*>"  # comment, as _markupbase's parse_comment ends it
    r"|<!(?!--|\[)[^>]*>"  # doctype, other declaration (bogus comment)
    r"|<\?[^>]*>"  # processing instruction
    r"|(<)(?=[^A-Za-z/!?])"  # 5: a stray "<", the text "<"
    r"|()\Z)"  # 6: the end of the page
)
#: html.parser's end of a script/style element (``set_cdata_mode``)
_CDATA_END = {tag: re.compile(r"</\s*%s\s*>" % tag, re.I) for tag in ("script", "style")}


def _scan_blocks(html: str) -> Optional[Blocks]:
    """The blocks ``_Extractor`` builds from ``html``, in one regex match
    per construct, or ``None`` when the page holds anything outside the
    grammar in the module docstring. Never raises."""
    blocks: Blocks = []
    chunks: List[str] = []
    link_chars = 0
    prune = link = 0
    match = _CONSTRUCT.match
    i = 0
    while True:
        m = match(html, i)
        if m is None:
            return None
        text, start, closing, end, stray, eof = m.groups()
        if not prune:
            if "&" in text:
                text = unescape(text)  # may leave nothing: "&#6" is ""
            if text:
                chunks.append(text)
                if link:
                    link_chars += len(text)
            if stray:
                chunks.append(stray)
                if link:
                    link_chars += 1
        if eof is not None:
            break
        i = m.end()
        if start is not None:
            tag = start.lower()
            if tag in _PRUNE_TAGS:
                if closing:
                    continue
                if tag in _CDATA_END:  # its content is pruned; skip to its end tag
                    m = _CDATA_END[tag].search(html, i)
                    if m is None or not m.group().isascii():
                        return None
                    i = m.end()
                    continue
                prune += 1
            elif prune:
                continue
            elif tag == "a":
                if not closing:
                    link += 1
            elif tag in _BLOCK_TAGS and chunks:
                blocks.append(("".join(chunks), link_chars))
                chunks = []
                link_chars = 0
        elif end is not None:
            tag = end.lower()
            if tag in _PRUNE_TAGS:
                if prune:
                    prune -= 1
            elif prune:
                continue
            elif tag == "a":
                if link:
                    link -= 1
            elif tag in _BLOCK_TAGS and chunks:
                blocks.append(("".join(chunks), link_chars))
                chunks = []
                link_chars = 0
    blocks.append(("".join(chunks), link_chars))
    return blocks


def _parsed_blocks(html: str) -> Blocks:
    """The blocks of ``html`` through ``_Extractor``."""
    parser = _Extractor()
    try:
        parser.feed(html)
        parser.close()
    except Exception:
        pass  # malformed markup: keep the blocks collected so far
    return [("".join(b.chars), b.link_chars) for b in parser._blocks]


def _decode(html: Union[bytes, bytearray, memoryview, str], encoding: Optional[str]) -> str:
    """Bytes decoded via :func:`detect_encoding` unless an encoding is
    given (the reference's sniffing policy, fileio.py:56-66); str as is."""
    if isinstance(html, (bytes, bytearray, memoryview)):
        data = bytes(html)
        return data.decode(encoding or detect_encoding(data), errors="replace")
    return html


def _page_blocks(html: Union[bytes, str, None], encoding: Optional[str]) -> Iterator[Tuple[str, float]]:
    """``(text, link density)`` of each non-empty block of a page, text
    whitespace-normalized: the scanner's blocks, or ``_Extractor``'s when
    the scanner declines the page."""
    if html is None:
        return
    html = _decode(html, encoding)
    if not html:
        return
    blocks = _scan_blocks(html)
    if blocks is None:
        blocks = _parsed_blocks(html)
    for raw, link_chars in blocks:
        norm = " ".join(raw.split())
        if norm:
            yield norm, link_chars / max(1, len(raw.strip()))


def block_records(
    html: Union[bytes, str, None],
    encoding: Optional[str] = None,
    min_block_chars: int = 8,
    max_link_density: float = 0.5,
) -> List[dict]:
    """Per-block LINEAGE of the density extractor — the audit trail
    :func:`extract_text` collapses away: one record per non-empty block
    with its length, link density (floored basis points) and the keep
    decision + reason (``kept`` / ``link_density`` / ``short_linky``).
    This is what a 10^12-page pipeline writes next to the extracted
    text so "why did the extractor drop my paragraph" is answerable
    without re-parsing the page.

    INVARIANT (pinned by tests): joining the kept records' ``text``
    with ``\n`` reproduces :func:`extract_text`'s output byte for
    byte — same blocks (``_page_blocks``), same thresholds, same order.
    """
    out: List[dict] = []
    for idx, (norm, density) in enumerate(_page_blocks(html, encoding)):
        if density >= max_link_density:
            kept, reason = False, "link_density"
        elif len(norm) < min_block_chars and density > 0.0:
            kept, reason = False, "short_linky"
        else:
            kept, reason = True, "kept"
        out.append(
            {
                "block_idx": idx,
                "n_chars": len(norm),
                "link_density_bp": int(density * 10000),
                "kept": kept,
                "reason": reason,
                "text": norm,
            }
        )
    return out


def detect_encoding(data: bytes, sample: int = 500 * 1024) -> str:
    """S8 (fileio.py:56-66): UnicodeDammit-style sniff of the first
    500 KB — utf-8 if it decodes cleanly, else windows-1252 (the same
    two-candidate policy as the reference)."""
    head = bytes(data[:sample])
    try:
        head.decode("utf-8")
        return "utf-8"
    except UnicodeDecodeError:
        return "windows-1252"


def extract_text(
    html: Union[bytes, str, None],
    encoding: Optional[str] = None,
    min_block_chars: int = 8,
    max_link_density: float = 0.5,
) -> str:
    """Strip boilerplate from an HTML page and return main-content text.

    Bytes are decoded via :func:`detect_encoding` unless an encoding is
    given (mirrors the reference's sniffing policy, fileio.py:56-66).
    """
    return "\n".join(
        norm
        for norm, density in _page_blocks(html, encoding)
        if density < max_link_density and not (len(norm) < min_block_chars and density > 0.0)
    )


# ---------------------------------------------------------------------------
# jusText-style block classification (optional alternative extractor)
# ---------------------------------------------------------------------------

#: tiny deterministic stopword profiles per language: the jusText
#: classifier's default stopword set (their union), the language id of
#: ``spark.warc.extract_pages`` and ``ops.textstats.language_id``
STOPWORDS: Dict[str, List[str]] = {
    "en": "the of and to in is was for that with on as at by from this be are he she it they we you not".split(),
    "da": "og i at det er en til på de som med han af for ikke der var den hun et men sig jeg".split(),
    "es": "el la de que y en un ser se no haber por con su para como estar tener le lo todo".split(),
}


def _default_stopwords() -> frozenset:
    return frozenset(w for ws in STOPWORDS.values() for w in ws)


def classify_blocks(
    html,
    encoding=None,
    stopwords=None,
    length_low: int = 70,
    length_high: int = 200,
    stopword_low: float = 0.30,
    stopword_high: float = 0.32,
    max_link_density: float = 0.5,
):
    """jusText-style two-pass block classification (Pomikálek 2011,
    published algorithm; from-scratch implementation over the same
    block segmentation as :func:`extract_text`).

    Pass 1 (context-free), per block: ``bad`` if link-dominated;
    ``short`` if under ``length_low`` chars; else ``good`` /
    ``near_good`` / ``bad`` by stopword density (``stopword_high`` +
    ``length_high`` chars -> good; ``stopword_low`` -> near_good).
    Pass 2 (context-sensitive): a ``short``/``near_good`` block is
    promoted to ``good`` when its nearest context-free ``good``/``bad``
    neighbors on BOTH sides are good (edges count as bad, matching
    jusText's header/footer prior); ``near_good`` also promotes when
    exactly one side is good. Everything else demotes to ``bad``.

    Returns ``[(block_text, label)]`` with labels in
    {good, near_good, short, bad} REFLECTING PASS 1 for the middle
    classes — the final keep-set is pass 2's, exposed via
    :func:`justext_extract`."""
    sw = stopwords if stopwords is not None else _default_stopwords()
    blocks = []
    for norm, density in _page_blocks(html, encoding):
        words = norm.lower().split()
        sw_density = sum(1 for w in words if w in sw) / max(1, len(words))
        if density >= max_link_density:
            label = "bad"
        elif len(norm) < length_low:
            label = "bad" if density > 0.0 else "short"
        elif sw_density >= stopword_high:
            label = "good" if len(norm) >= length_high else "near_good"
        elif sw_density >= stopword_low:
            label = "near_good"
        else:
            label = "bad"
        blocks.append((norm, label))
    return blocks


def _resolve_labels(labels):
    """Pass 2: context-sensitive resolution -> final keep decisions."""
    # nearest context-free good/bad on each side; document edges are bad
    resolved = []
    hard = [i for i, lab in enumerate(labels) if lab in ("good", "bad")]

    def side(i, direction):
        js = [j for j in hard if (j < i if direction < 0 else j > i)]
        if not js:
            return "bad"
        j = max(js) if direction < 0 else min(js)
        return labels[j]

    for i, lab in enumerate(labels):
        if lab == "good":
            resolved.append(True)
        elif lab == "bad":
            resolved.append(False)
        elif lab == "near_good":
            resolved.append(side(i, -1) == "good" or side(i, +1) == "good")
        else:  # short
            resolved.append(side(i, -1) == "good" and side(i, +1) == "good")
    return resolved


def justext_extract(html, encoding=None, **kwargs) -> str:
    """Main-content text via jusText-style classification: pass-1
    labels + pass-2 context resolution, kept blocks joined with
    newlines (the same output contract as :func:`extract_text`)."""
    blocks = classify_blocks(html, encoding=encoding, **kwargs)
    keep = _resolve_labels([lab for _, lab in blocks])
    return "\n".join(text for (text, _), k in zip(blocks, keep) if k)


class _TableParser(HTMLParser):
    """Streaming ``<table>`` structure collector: one record per cell,
    nested tables tracked as their own tables (a pushed context — the
    inner table's cells never leak into the outer row), text outside
    cells ignored, ``<th>`` marked as header. Malformed input degrades
    gracefully: unclosed cells/rows are flushed when their parent
    closes or at EOF."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.records: List[dict] = []
        self._next_table = 0
        # stack of [table_idx, row_idx, col_idx, in_cell, header, chars]
        self._stack: List[list] = []

    # -- cell lifecycle -------------------------------------------------
    def _flush_cell(self) -> None:
        ctx = self._stack[-1]
        if not ctx[3]:
            return
        text = " ".join("".join(ctx[5]).split())
        self.records.append(
            {
                "table_idx": ctx[0],
                "row_idx": ctx[1],
                "col_idx": ctx[2],
                "header": ctx[4],
                "cell": text,
            }
        )
        ctx[2] += 1
        ctx[3] = False
        ctx[5] = []

    def handle_starttag(self, tag, attrs):
        if tag == "table":
            self._stack.append([self._next_table, -1, 0, False, False, []])
            self._next_table += 1
            return
        if not self._stack:
            return
        ctx = self._stack[-1]
        if tag == "tr":
            self._flush_cell()
            ctx[1] += 1
            ctx[2] = 0
        elif tag in ("td", "th"):
            self._flush_cell()
            if ctx[1] < 0:  # cell before any <tr>: implicit first row
                ctx[1] = 0
            ctx[3] = True
            ctx[4] = tag == "th"
            ctx[5] = []

    def handle_endtag(self, tag):
        if not self._stack:
            return
        if tag in ("td", "th", "tr"):
            self._flush_cell()
        elif tag == "table":
            self._flush_cell()
            self._stack.pop()

    def handle_data(self, data):
        if self._stack and self._stack[-1][3]:
            self._stack[-1][5].append(data)

    def close(self):
        super().close()
        while self._stack:
            self._flush_cell()
            self._stack.pop()


def table_records(
    html: Union[bytes, str, None],
    encoding: Optional[str] = None,
) -> List[dict]:
    """Structured ``<table>`` extraction: one record per cell —
    ``(table_idx, row_idx, col_idx, header, cell)`` with
    whitespace-normalized text and entities decoded. The tabular
    complement of :func:`extract_text`: density extraction keeps prose
    and drops tables as boilerplate; a training-data pipeline instead
    lifts them into rows (tables are where facts live). Nested tables
    get their own ``table_idx``; text between cells is dropped; input
    decoding mirrors :func:`block_records` (sniff + replace)."""
    if html is None:
        return []
    html = _decode(html, encoding)
    if not html:
        return []
    parser = _TableParser()
    try:
        parser.feed(html)
        parser.close()
    except Exception:
        pass
    return parser.records
