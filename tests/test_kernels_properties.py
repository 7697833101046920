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


# letters of several scripts (Latin, Greek, Cyrillic, Arabic, CJK,
# combining marks), digits, soft and hard hyphens, quotes, punctuation
_WORD = st.text(alphabet=list("aZæßΩж漢ا́١٢09-\xad'\"«»“„.,;!? \t"), max_size=12)


@given(_WORD)
@settings(max_examples=500, deadline=None)
def test_at_most_one_letter_is_in_any_dictionary(word):
    """A word whose cleaned form has at most one letter is in the
    dictionary by fiat (``dictionary.py:49-58``): the two-letter search
    agrees with counting every letter, and nothing else is in an empty
    dictionary."""
    from correctocr_spark.kernels.textutils import letterRE

    assert (word in Dictionary()) == (len(letterRE.findall(clean_word(word))) <= 1)


@pytest.fixture(scope="module")
def dictionary_views(mini_hmm):
    """``(Dictionary, Resources)`` over the same words, case-sensitive and
    not."""
    from correctocr_spark.spark.resources import Resources

    words = ["word", "Æble", "ab", "«quoted»", "soft\xadhyphen", "two words", "ΩЖ"]
    dictionaries = [Dictionary(words), Dictionary(words, ignore_case=True)]
    return [(d, Resources(mini_hmm, d)) for d in dictionaries]


@given(_WORD)
@settings(max_examples=300, deadline=None)
def test_resources_dictionary_is_a_shared_read_only_view(dictionary_views, word):
    """``Resources.dictionary`` shares the broadcast word set instead of
    copying it per access, and answers membership as the dictionary it
    was built from."""
    for d, res in dictionary_views:
        view = res.dictionary
        assert view.words is res.dict_words
        assert view.ignore_case == d.ignore_case
        assert (word in view) == (word in d)
        with pytest.raises(AttributeError):
            view.add("new")


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

import numpy as np  # noqa: E402

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


# --- the certified sparse step -------------------------------------------

SMOOTHING = 1e-4  # perfbench's: every emission has a non-zero floor
_LETTERS = "abcdefghijkl"  # up to 12 states; "?" and "z" stay unknown


def _smoothed(counts, smoothing=SMOOTHING):
    denom = sum(counts.values()) + smoothing * len(counts)
    return {b: (c + smoothing) / denom for b, c in counts.items()}


def _smoothed_model(states, tran_counts, confusions, init_scale=1.0):
    """Smoothed counts as the trainer makes them: a dominant emission
    diagonal, a few confusions and a floor everywhere else."""
    init = {s: p * init_scale for s, p in _smoothed({s: 1 for s in states}).items()}
    tran = {a: _smoothed(dict(zip(states, row))) for a, row in zip(states, tran_counts)}
    emis = {}
    for a in states:
        counts = {b: 0 for b in states}
        counts[a] = 1000
        counts.update((read, n) for gold, read, n in confusions if gold == a)
        emis[a] = _smoothed(counts)
    return HMMParams(init, tran, emis)


@st.composite
def sparse_beam_batches(draw):
    n = draw(st.integers(8, 12))
    states = list(_LETTERS[:n])
    # few count values, and some all-zero (uniform) rows: tied and
    # identical transition rows
    row = st.one_of(
        st.just([0] * n), st.lists(st.sampled_from([0, 0, 1, 3, 20]), min_size=n, max_size=n)
    )
    tran_counts = draw(st.lists(row, min_size=n, max_size=n))
    confusions = draw(
        st.lists(st.tuples(st.sampled_from(states), st.sampled_from(states), st.sampled_from([5, 30])), max_size=4)
    )
    # a tiny initial probability underflows short words into subnormals
    params = _smoothed_model(states, tran_counts, confusions, draw(st.sampled_from([1.0, 1e-300])))
    observed = "".join(states) + _UNKNOWN
    words = draw(st.lists(st.text(alphabet=observed, min_size=1, max_size=10), min_size=1, max_size=30))
    words += [w[:j] for w in words[:10] for j in (2, 4)]  # shared prefixes
    rng = np.random.default_rng(draw(st.integers(0, 2**32 - 1)))
    letters = np.array(states)
    # normal -> subnormal -> 0 along a 300-char word
    words.append("".join(rng.choice(letters, size=300)))
    if draw(st.booleans()):  # more than one 512-prefix chunk at depth 3
        words += ["".join(rng.choice(letters, size=rng.integers(4, 8))) for _ in range(800)]
    k = draw(st.integers(1, n + 2))
    return params, draw(st.permutations(words)), k


@given(sparse_beam_batches())
@settings(max_examples=25, deadline=None)
def test_sparse_beam_equals_scalar_beam(batch):
    params, words, k = batch
    assert _hexed(kbest_for_words(params, words, k)) == _hexed(
        [kbest_for_word(params, w, k) for w in words]
    )


@pytest.mark.parametrize(
    "states, p, kept, excluded",
    [
        # equal tran*emis products whose computed p*tran*emis differ: the
        # excluded extension (higher j, dropped on the tie) computes larger
        # and the bound equals the kept value
        ("xyz", float.fromhex("0x1.a9f4760b83f69p-1"), (0.3, 0.2), (0.2, 0.3)),
        # a smaller product whose computed value exceeds the kept one,
        # which in turn exceeds the computed bound by less than the margin
        (
            "xyz",
            float.fromhex("0x1.f225d56d3bae2p-3"),
            (float.fromhex("0x1.29d81622f437ap-1"), float.fromhex("0x1.7bd2ab71dd33bp-1")),
            (float.fromhex("0x1.08fa18d45fda3p-1"), float.fromhex("0x1.aaef70bd16ae1p-1")),
        ),
        # a smaller tran*emis product that, in subnormals, computes equal
        # to the kept one and wins the tie by its lower index
        (
            "xzy",
            float.fromhex("0x0.00000000001c0p-1022"),
            (float.fromhex("0x1.2dd451dab0dd9p-2"), float.fromhex("0x1.5bec202273e14p-1")),
            (float.fromhex("0x1.9d454c8630e82p-2"), float.fromhex("0x1.faabac53a40aep-2")),
        ),
    ],
    ids=["tie", "margin", "subnormal"],
)
def test_sparse_beam_uncertified_rows(states, p, kept, excluded):
    """Hand-made rows whose top-1 is not the best extension of its path
    by ``tran * emis`` (kept: state y, excluded: state z): only the
    certificate, the margin over the bound and the normal-float guard,
    sends them to the full step."""
    init = {s: (p if s == "x" else 0.0) for s in states}
    tran = {a: {b: 0.0 for b in states} for a in states}
    emis = {a: {b: float(a == b) for b in states} for a in states}
    (tran["x"]["y"], emis["y"]["z"]), (tran["x"]["z"], emis["z"]["z"]) = kept, excluded
    params = HMMParams(init, tran, emis)
    assert kbest_for_word(params, "xz", 1)[0][0] == "xz"
    words = ["xz", "z", "x", "xzz"]
    assert _hexed(kbest_for_words(params, words, 1)) == _hexed([kbest_for_word(params, w, 1) for w in words])


def test_sparse_step_carries_the_beam(monkeypatch):
    """On a smoothed model with N > k and transition counts as varied as
    a trained model's, the full-step fallback redoes at most 1% of the
    (prefix, depth) rows: a bound that never certifies would pass every
    equality test while running the dense step. (Transition rows of a
    few distinct counts tie far more often and fall back on ~3%.)"""
    from correctocr_spark.kernels import hmm

    rng = np.random.default_rng(5)
    n = len(_LETTERS)
    tran_counts = (rng.integers(1, 60, size=(n, n)) * (rng.random((n, n)) < 0.6)).tolist()
    confusions = [("a", "e", 30), ("c", "e", 5), ("h", "b", 30), ("l", "i", 30)]
    params = _smoothed_model(list(_LETTERS), tran_counts, confusions)
    letters = np.array(list(_LETTERS))
    words = sorted({"".join(rng.choice(letters, size=rng.integers(2, 12))) for _ in range(2000)})
    redone = []
    full_step = hmm._full_step
    monkeypatch.setattr(hmm, "_full_step", lambda *a: redone.append(len(a[1])) or full_step(*a))
    kbest_for_words(params, words, 4)
    rows = len({w[:d] for w in words for d in range(2, len(w) + 1)})
    assert rows > 5_000 and sum(redone) <= rows // 100, (sum(redone), rows)
