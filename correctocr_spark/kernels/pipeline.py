"""Per-document pipeline kernel with reference-exact semantics.

It reproduces the reference's step chain (document.py:166-242):

    tokenize -> dehyphenate -> kbest -> bin -> autocorrect -> reassemble

in two forms. The ``Tok`` functions (:func:`tokenize_doc` to
:func:`correct_tokens`, :func:`correct_document`) walk a list of mutable
token records step by step, as the reference does; they are the
differential-test oracle. :func:`correct_words` is the code the Spark
plan runs: one loop over a document's split words, no token records, and
one memo hit per repeated word; tests check it against
:func:`correct_document` on every output column.

Reference quirks deliberately carried over (each pinned by a test):

- dehyphenate *consumes* the following token via a shared iterator, so a
  hyphen-tail is never itself hyphen-probed, and its gold is cleared to
  ``''`` (tokens/list/_super.py:229-241);
- a final token matching the hyphen probe still gets
  ``is_hyphenated=True`` (the StopIteration lands after the flag is set);
  reassembly then merges with a dummy ``('-','-')`` token
  (_super.py:14-20,75);
- pure-punctuation tokens get ``gold = original`` at construction
  (tokens/_super.py:72-74);
- k-best is computed for the *merged* original of a hyphenated head
  (consolidated projection, _super.py:160-179), while binning compares
  the *raw* original against that merged k1 (heuristics.py:104);
- the hyphen-tail inherits the head's (heuristic, selection, bin)
  (heuristics.py:105-110) — the reference indexes ``tokens[index+1]``
  which raises IndexError when the head is the last token; we guard
  instead (the only divergence, documented);
- autocorrect (document.py:231-239) touches every token whose gold is
  falsy — including hyphen-tails: a tail under kbest/kdict reads its own
  *empty* kbest through a defaultdict and gets ``gold=''``; under
  'original' it gets its own original back;
- reassembly has two distinct contract surfaces: ``TokenList.__str__``
  (hyphen-merged, drops the head's final char; _super.py:67-79) and the
  gold sink (plain join of non-discarded ``gold or original`` plus
  ``_NEWLINE_N_`` restoration; tokens/_text.py:47-54).
"""

from __future__ import annotations

from typing import Callable, Dict, Iterable, Iterator, List, Mapping, Optional, Tuple

from .dictionary import Dictionary
from .heuristics import bin_for_word
from .hmm import HMMParams, kbest_for_word
from .textutils import hyphenRE, is_punctuation, tokenize_text

KBest = List[Tuple[str, float]]


class Tok:
    """Minimal mutable token record (tokens/_super.py:30-59)."""

    __slots__ = (
        "index",
        "original",
        "gold",
        "is_hyphenated",
        "is_discarded",
        "has_error",
        "kbest",
        "bin",
        "heuristic",
        "selection",
    )

    def __init__(self, original: str, index: int):
        self.index = index
        self.original = original
        # _super.py:72-74 — punctuation is its own gold at construction.
        self.gold: Optional[str] = original if is_punctuation(original) else None
        self.is_hyphenated = False
        self.is_discarded = False
        self.has_error = False
        self.kbest: KBest = []
        self.bin: Optional[int] = None
        self.heuristic: Optional[str] = None
        self.selection = None

    def discard(self) -> None:
        """_super.py:80-81 — discarding forces gold=''."""
        self.is_discarded = True
        self.gold = ""

    def __repr__(self):  # pragma: no cover
        return f"Tok({self.index}, {self.original!r}, gold={self.gold!r})"


def _kbest_get(kbest: KBest, rank: int) -> Tuple[str, float]:
    """defaultdict(KBestItem) read: missing rank => ('', 0.0)."""
    if 1 <= rank <= len(kbest):
        return kbest[rank - 1]
    return ("", 0.0)


def tokenize_doc(text: str) -> List[Tok]:
    """tokens/_text.py:36-45 — whitespace split, enumerate."""
    return [Tok(w, i) for i, w in enumerate(tokenize_text(text))]


def dehyphenate(tokens: List[Tok]) -> None:
    """tokens/list/_super.py:229-241 (see module docstring)."""
    it = iter(tokens)
    for token in it:
        if hyphenRE.search(token.original):
            token.is_hyphenated = True
            try:
                next(it).gold = ""
            except StopIteration:
                pass  # final token: flag stays set, no tail to clear


_DUMMY = ("-", "-")  # DummyToken.hyphen(), _super.py:14-20


def consolidated(tokens: List[Tok]) -> Iterator[Tuple[str, Optional[str], Tok]]:
    """tokens/list/_super.py:160-179."""
    it = iter(tokens)
    for token in it:
        if token.is_discarded:
            continue
        original = token.original
        gold = token.gold
        if token.is_hyphenated:
            n = next(it, None)
            n_original, n_gold = (n.original, n.gold) if n is not None else _DUMMY
            original += n_original
            if gold:
                gold += n_gold
        yield original, gold, token


def generate_kbest(
    tokens: List[Tok],
    lookup: Callable[[str], KBest],
    k: int = 4,
) -> None:
    """model/hmm.py:235-257 — k-best for each consolidated token.

    ``lookup`` maps a (merged) original to its rank-ordered candidates:
    a precomputed map or a memoized beam (see :func:`correct_document`).
    """
    for original, _gold, token in consolidated(tokens):
        if not token.kbest or len(token.kbest) != k:
            token.kbest = lookup(original)


def bin_tokens(
    tokens: List[Tok],
    dictionary: Dictionary,
    settings: Dict[int, str],
    memo: Optional[dict] = None,
) -> None:
    """heuristics.py:95-123 (tail inherits head's decision).

    ``memo`` caches the (pure) decision per ``(raw original, merged
    original)`` — the token's kbest is a function of the merged word, so
    the key fully determines the result. A memo shared across documents
    makes the dictionary predicate a per-distinct-word cost; the kernel
    probe of perfbench shares one.
    """
    n = len(tokens)
    for merged, _gold, token in consolidated(tokens):
        if token.bin is None:
            if memo is None:
                decision = bin_for_word(token.original, token.kbest, dictionary, settings)
            else:
                key = (token.original, merged)
                decision = memo.get(key)
                if decision is None:
                    decision = memo[key] = bin_for_word(
                        token.original, token.kbest, dictionary, settings
                    )
            token.heuristic, token.selection, token.bin = decision
            if token.is_hyphenated and token.index + 1 < n:
                nxt = tokens[token.index + 1]
                nxt.heuristic = token.heuristic
                nxt.selection = token.selection
                nxt.bin = token.bin


def autocorrect(tokens: List[Tok]) -> None:
    """document.py:231-239."""
    for t in tokens:
        if not t.gold:
            if t.heuristic in ("kbest", "kdict"):
                t.gold = _kbest_get(t.kbest, int(t.selection))[0]
            elif t.heuristic == "original":
                t.gold = t.original


def doc_to_string(tokens: List[Tok]) -> str:
    """TokenList.__str__ (tokens/list/_super.py:67-79): hyphen-merged."""
    output: List[str] = []
    it = iter(tokens)
    for t in it:
        output.append(t.gold or t.original)
        if t.is_hyphenated:
            n = next(it, None)
            n_str = (n.gold or n.original) if n is not None else "-"
            output[-1] = output[-1][:-1] + n_str
    return " ".join(output)


def gold_sink_text(tokens: Iterable[Tok]) -> str:
    """StringTokenizer.apply (tokens/_text.py:47-54): the gold-file body."""
    spaced = " ".join(t.gold or t.original for t in tokens if not t.is_discarded)
    return spaced.replace("_NEWLINE_N_", "\n").replace(" \n ", "\n")


def doc_bin_counts(tokens: List[Tok]) -> Dict[int, int]:
    """heuristics.py:118 — per-bin counts over consolidated tokens."""
    counts: Dict[int, int] = {}
    for _o, _g, token in consolidated(tokens):
        if token.bin is not None:
            counts[token.bin] = counts.get(token.bin, 0) + 1
    return counts


def doc_stats(tokens: List[Tok]) -> Dict[str, int]:
    """TokenList.stats (tokens/list/_super.py:110-158)."""
    stats = {
        "index_count": 0,
        "discarded_count": 0,
        "token_count": 0,
        "hyphenated_count": 0,
        "error_count": 0,
        "uncorrected_count": 0,
        "corrected_count": 0,
        "corrected_by_annotator_count": 0,
        "corrected_by_model_count": 0,
        "empty_gold": 0,
    }
    skip_next = False
    for token in tokens:
        stats["index_count"] += 1
        if skip_next:
            skip_next = False
            continue
        if token.is_discarded:
            stats["discarded_count"] += 1
            continue
        stats["token_count"] += 1
        if token.is_hyphenated:
            stats["hyphenated_count"] += 1
            skip_next = True
        if token.has_error:
            stats["error_count"] += 1
        elif token.gold is None:
            stats["uncorrected_count"] += 1
        else:
            stats["corrected_count"] += 1
            if token.heuristic == "annotator":
                stats["corrected_by_annotator_count"] += 1
            else:
                stats["corrected_by_model_count"] += 1
            if token.gold == "":
                stats["empty_gold"] += 1
    stats["done"] = int(
        stats["token_count"] > 0
        and stats["corrected_count"] == stats["token_count"]
        and stats["error_count"] == 0
    )
    return stats


def correct_tokens(
    tokens: List[Tok],
    lookup: Callable[[str], KBest],
    dictionary: Dictionary,
    settings: Dict[int, str],
    k: int = 4,
) -> Dict[str, object]:
    """The reference chain after tokenization on one document's tokens:
    k-best, bins, autocorrect, both text surfaces and the stats.

    :func:`correct_document` runs it; the Spark plan runs
    :func:`correct_words` instead, which tests check against it.
    ``lookup`` maps a consolidated word to its k-best. Returns
    :func:`doc_stats` with ``done`` as a bool, plus ``corrected``
    (gold-sink text), ``merged`` (``__str__`` text), ``bin_counts`` and
    ``tokens``.
    """
    generate_kbest(tokens, lookup, k)
    bin_tokens(tokens, dictionary, settings)
    autocorrect(tokens)
    out: Dict[str, object] = doc_stats(tokens)  # a fresh dict
    out["done"] = bool(out["done"])
    out["corrected"] = gold_sink_text(tokens)
    out["merged"] = doc_to_string(tokens)
    out["bin_counts"] = doc_bin_counts(tokens)
    out["tokens"] = tokens
    return out


def correct_document(
    text: str,
    params: HMMParams,
    dictionary: Dictionary,
    settings: Dict[int, str],
    k: int = 4,
    dehyphenate_doc: bool = True,
    kbest_map: Optional[Dict[str, KBest]] = None,
) -> Dict[str, object]:
    """The full reference chain on one document (the differential oracle).

    Returns :func:`correct_tokens`' record. ``kbest_map`` injects
    precomputed candidates; without it the scalar beam runs once per
    distinct word.
    """
    tokens = tokenize_doc(text)
    if dehyphenate_doc:
        dehyphenate(tokens)
    if kbest_map is not None:
        lookup: Callable[[str], KBest] = lambda w: kbest_map.get(w, [("", 0.0)] * k)
    else:
        memo: Dict[str, KBest] = {}

        def lookup(w: str) -> KBest:
            if w not in memo:
                memo[w] = kbest_for_word(params, w, k)
            return memo[w]

    return correct_tokens(tokens, lookup, dictionary, settings, k)


# -- the flat kernel: the chain above in one loop over the split words -------

#: ``hyphenRE.search(w) is not None`` for a token ``w`` without whitespace:
#: the regex's ``\{Pd}`` alternative is the literal ``{Pd}`` (see
#: ``textutils.hyphenRE``), so a token is a hyphen head iff it ends with
#: one of these.
HYPHEN_ENDS = ("-", "\xad", "{Pd}")


def merged_words(words: List[str], dehyphenate_doc: bool = True) -> Iterator[str]:
    """The consolidated words of a split document in order: a hyphen head
    joined to the token after it (or to ``-`` when it ends the document),
    every other token as it is; the words :func:`consolidated` yields."""
    it = iter(words)
    for w in it:
        if dehyphenate_doc and w.endswith(HYPHEN_ENDS):
            w += next(it, "-")
        yield w


def _decide(original: str, merged: str, kbest_of, dictionary, settings) -> tuple:
    """The outcome of :func:`bin_tokens` and :func:`autocorrect` for a
    token that is not a hyphen tail, a pure function of ``(original,
    merged)``::

        (piece, stat, bin, heuristic, selection, gold0, gold, kbest, merged)

    ``piece`` is the token's text on both surfaces (``gold or original``),
    ``gold0`` its gold before correction, and ``stat`` is ``16 * kind +
    bin`` with kind 0 uncorrected, 1 corrected by the annotator, 2 by the
    model (:func:`doc_stats`)."""
    kbest = kbest_of[merged]
    heuristic, selection, number = bin_for_word(original, kbest, dictionary, settings)
    gold0 = gold = original if is_punctuation(original) else None
    if not gold:
        if heuristic in ("kbest", "kdict"):
            gold = _kbest_get(kbest, int(selection))[0]
        elif heuristic == "original":
            gold = original
    kind = 0 if gold is None else 1 if heuristic == "annotator" else 2
    stat = 16 * kind + number
    return (gold or original, stat, number, heuristic, selection, gold0, gold, kbest, merged)


def _tail_decision(tail: str, head: tuple) -> tuple:
    """A hyphen tail's decision: the head's (bin, heuristic, selection),
    gold cleared by dehyphenation and refilled only under 'original' (a
    tail's own k-best is empty), no stat, k-best or consolidated word."""
    gold = tail if head[3] == "original" else ""
    return (tail, None, head[2], head[3], head[4], "", gold, None, None)


def _merge_heads(pieces: List[str], heads: List[int]) -> List[str]:
    """``TokenList.__str__``'s pieces: each head's piece drops its last
    character and takes the next token's piece (``-`` past the end)."""
    out: List[str] = []
    start = 0
    for p in heads:
        out += pieces[start:p]
        start = p + 2
        out.append(pieces[p][:-1] + (pieces[p + 1] if start <= len(pieces) else "-"))
    out += pieces[start:]
    return out


def correct_words(
    words: List[str],
    kbest_of: Mapping[str, KBest],
    dictionary,
    settings: Dict[int, str],
    dehyphenate_doc: bool = True,
    decision_memo: Optional[dict] = None,
) -> Tuple[Dict[str, object], List[tuple]]:
    """The chain of :func:`correct_document` on one document's split
    words in one loop, without ``Tok`` records.

    ``kbest_of`` maps every consolidated word (:func:`merged_words`) to
    its k-best. ``decision_memo``, shared across documents, maps a
    token's ``(original, merged)`` (a non-head's key is its word alone)
    to its whole decision and final gold, so a repeated word costs one
    dict hit; a memo serves one ``dehyphenate_doc`` setting.

    Returns ``(record, decisions)``: the ``CORRECTED_SCHEMA`` columns but
    ``url`` of :func:`correct_tokens`' record, and one decision tuple per
    token (see :func:`_decide`; hyphen tails get :func:`_tail_decision`).
    No step of the chain discards a token, so ``discarded_count`` is 0."""
    memo = {} if decision_memo is None else decision_memo
    get = memo.get
    decisions: List[tuple] = []
    add = decisions.append
    heads: List[int] = []
    tally: Dict[int, int] = {}  # stat -> consolidated tokens, first-seen order
    it = iter(words)
    for w in it:
        d = get(w)  # a hit is a word that is not a hyphen head
        if d is None:
            if dehyphenate_doc and w.endswith(HYPHEN_ENDS):
                tail = next(it, None)
                key = (w, w + ("-" if tail is None else tail))
                d = get(key)
                if d is None:
                    d = memo[key] = _decide(w, key[1], kbest_of, dictionary, settings)
                heads.append(len(decisions))
                add(d)
                if tail is not None:
                    add(_tail_decision(tail, d))
                s = d[1]
                tally[s] = tally.get(s, 0) + 1
                continue
            d = memo[w] = _decide(w, w, kbest_of, dictionary, settings)
        add(d)
        s = d[1]
        tally[s] = tally.get(s, 0) + 1

    kinds = [0, 0, 0]
    bin_counts: Dict[int, int] = {}
    for s, c in tally.items():
        kinds[s >> 4] += c
        b = s & 15
        bin_counts[b] = bin_counts.get(b, 0) + c
    pieces = [d[0] for d in decisions]
    spaced = " ".join(pieces)
    token_count = kinds[0] + kinds[1] + kinds[2]
    corrected_count = kinds[1] + kinds[2]
    record = {
        "corrected": spaced.replace("_NEWLINE_N_", "\n").replace(" \n ", "\n"),
        "merged": " ".join(_merge_heads(pieces, heads)) if heads else spaced,
        "index_count": len(words),
        "token_count": token_count,
        "corrected_count": corrected_count,
        "corrected_by_annotator_count": kinds[1],
        "corrected_by_model_count": kinds[2],
        "hyphenated_count": len(heads),
        "discarded_count": 0,
        "done": token_count > 0 and corrected_count == token_count,
        "bin_counts": bin_counts,
    }
    return record, decisions
