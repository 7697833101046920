"""HTML main-content extraction (boilerplate strip).

Not present in the reference (which ingests .txt/.pdf/.hocr); required by
the target pipeline: Common-Crawl-style pages carry ``html binary`` and
the extraction stage must yield the candidate text that the CorrectOCR
stages then correct.

Design: a single-pass, dependency-free DOM-ish scan (stdlib
``html.parser``) with classic text-density heuristics:

1. prune boilerplate subtrees: script/style/noscript/template/head/nav/
   header/footer/aside/form/iframe/svg/button/select/option;
2. segment text into blocks at block-level tags (p, div, li, td, h1-6,
   article, section, main, blockquote, pre, br, tr);
3. score each block by link density (chars inside <a> / total chars) and
   length; keep blocks with link_density < 0.5 — navigation chrome is
   link-dominated, body prose is not;
4. join kept blocks with ``'\\n'`` and whitespace-normalize within blocks
   (runs of whitespace -> single space).

Deterministic, pure-Python, Arrow-batch friendly: the Spark stage maps
this over ``pd.Series`` of bytes inside ``mapInPandas``.
"""

from __future__ import annotations

from html import unescape
from html.parser import HTMLParser
from typing import Dict, List, Optional, Union

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

    def text(self, min_block_chars: int, max_link_density: float) -> str:
        kept: List[str] = []
        for block in self._blocks:
            raw = "".join(block.chars)
            norm = " ".join(raw.split())
            if not norm:
                continue
            density = block.link_chars / max(1, len(raw.strip()))
            if density >= max_link_density:
                continue
            if len(norm) < min_block_chars and density > 0.0:
                continue
            kept.append(norm)
        return "\n".join(kept)


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
    byte — same parser, same thresholds, same order.
    """
    if html is None:
        return []
    if isinstance(html, (bytes, bytearray, memoryview)):
        data = bytes(html)
        html = data.decode(encoding or detect_encoding(data), errors="replace")
    if not html:
        return []
    parser = _Extractor()
    try:
        parser.feed(html)
        parser.close()
    except Exception:
        pass
    out: List[dict] = []
    idx = 0
    for block in parser._blocks:
        raw = "".join(block.chars)
        norm = " ".join(raw.split())
        if not norm:
            continue
        density = block.link_chars / max(1, len(raw.strip()))
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
        idx += 1
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
    if html is None:
        return ""
    if isinstance(html, (bytes, bytearray, memoryview)):
        data = bytes(html)
        html = data.decode(encoding or detect_encoding(data), errors="replace")
    if not html:
        return ""
    parser = _Extractor()
    try:
        parser.feed(html)
        parser.close()
    except Exception:
        # malformed markup: fall back to the text collected so far
        pass
    return parser.text(min_block_chars, max_link_density)


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
    if html is None:
        return []
    if isinstance(html, (bytes, bytearray, memoryview)):
        data = bytes(html)
        html = data.decode(encoding or detect_encoding(data), errors="replace")
    if not html:
        return []
    parser = _Extractor()
    try:
        parser.feed(html)
        parser.close()
    except Exception:
        pass
    sw = stopwords if stopwords is not None else _default_stopwords()
    blocks = []
    for block in parser._blocks:
        raw = "".join(block.chars)
        norm = " ".join(raw.split())
        if not norm:
            continue
        density = block.link_chars / max(1, len(raw.strip()))
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
    if isinstance(html, (bytes, bytearray, memoryview)):
        data = bytes(html)
        html = data.decode(encoding or detect_encoding(data), errors="replace")
    if not html:
        return []
    parser = _TableParser()
    try:
        parser.feed(html)
        parser.close()
    except Exception:
        pass
    return parser.records
