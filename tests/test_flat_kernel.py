"""Differential tests of the flat per-document kernel
(``kernels.pipeline.correct_words``, the code the Spark plan runs)
against the ``Tok`` oracle ``correct_document``, on every
``CORRECTED_SCHEMA`` and ``TOKEN_TABLE_SCHEMA`` column."""

import functools
import json

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from correctocr_spark.kernels.heuristics import (
    AGGRESSIVE_SETTINGS,
    DEFAULT_SETTINGS,
    normalize_settings,
)
from correctocr_spark.kernels.hmm import HMMParams, kbest_for_words
from correctocr_spark.kernels.pipeline import (
    HYPHEN_ENDS,
    consolidated,
    correct_document,
    correct_words,
    dehyphenate,
    merged_words,
    tokenize_doc,
)
from correctocr_spark.kernels.textutils import hyphenRE, tokenize_text

pytestmark = pytest.mark.engine

#: bins 2, 5 and 8 have no in-dictionary candidate, so ``kdict`` there
#: raises the reference's ``filtids[0]`` IndexError
KDICT_SETTINGS = normalize_settings({2: "d", 4: "k", 5: "d", 6: "d", 8: "d"})
SETTINGS = {"default": DEFAULT_SETTINGS, "aggressive": AGGRESSIVE_SETTINGS, "kdict": KDICT_SETTINGS}


@functools.lru_cache(maxsize=None)
def resources(multichar: bool):
    from correctocr_spark.spark.resources import Resources, default_resources

    res = default_resources()
    if not multichar:
        return res
    params = HMMParams.from_dicts(res.params.to_dicts(), multichars={"rn": ["m"]})
    return Resources(params, res.dictionary, res.settings, k=res.k)


def corrected_columns():
    from correctocr_spark.spark.pipeline import CORRECTED_SCHEMA

    return [f.name for f in CORRECTED_SCHEMA.fields if f.name != "url"]


def oracle_token_rows(url, text, res, settings_, dehyphenate_doc=True):
    """``TOKEN_TABLE_SCHEMA`` rows of ``text`` built from the ``Tok``
    oracle: the tokens' state after dehyphenation and after
    ``correct_document``."""
    toks = correct_document(
        text, res.params, res.dictionary, settings_, k=res.k, dehyphenate_doc=dehyphenate_doc
    )["tokens"]
    if not toks:
        return [(url,) + (None,) * 6 + (False,) + (None,) * 7]
    before = tokenize_doc(text)
    if dehyphenate_doc:
        dehyphenate(before)
    merged = {t.index: w for w, _g, t in consolidated(before)}  # not hyphen tails
    rows = []
    for t, t0 in zip(toks, before):
        beamed = t.index in merged
        h, sel = t.heuristic, t.selection
        rows.append(
            (url, t.index, t0.original, t0.gold, t0.is_hyphenated)
            + (not beamed, merged.get(t.index), False)
            + (
                t.kbest if beamed else None,
                [c in res.dictionary for c, _p in t.kbest] if beamed else None,
                t.bin,
                h,
                sel if h in ("kbest", "kdict") else None,
                json.dumps(sel) if h == "annotator" else str(sel),
                t.gold,
            )
        )
    return rows


def outcome(fn):
    """``fn()``, or ``IndexError`` when it raises one."""
    try:
        return fn()
    except IndexError:
        return IndexError


# words that reach every branch: dictionary words and OCR noise, hyphen
# heads (hard, soft, runs, the literal ``{Pd}``, bare ``-``), the en dash
# that is NOT a head, punctuation, the newline marker and multichar keys
PIECES = [
    "the", "the", "word", "wor-", "d", "A-", "B-", "C", "tbe", "c0rner", "modern",
    "rn", "-", "--", ".", "(word)", "_NEWLINE_N_", "str\xad", "\xad\xad", "ab{Pd}",
    "{Pd}", "–", "x–", "zq", "qq-", "é",
]
WORD = st.one_of(
    st.sampled_from(PIECES),
    st.text(alphabet=list("abrnmtez-\xad{Pd}–.0"), min_size=1, max_size=5),
)
TEXT = st.lists(WORD, max_size=14).flatmap(
    lambda ws: st.sampled_from([" ", "\n", "  "]).map(lambda sep: sep.join(ws))
)
FIXED = st.sampled_from(["", None, "A- B- C", "the wor-", "x – y"])
DOCS = st.lists(st.one_of(TEXT, FIXED), min_size=1, max_size=4)


@pytest.mark.parametrize("dehyphenate_doc", [True, False])
@pytest.mark.parametrize("settings_name", sorted(SETTINGS))
@pytest.mark.parametrize("multichar", [False, True])
@given(docs=DOCS)
@example(docs=["A- B- C the wor-", "the wor- d", "qq- zq", "wor- d . - _NEWLINE_N_ the"])
@example(docs=["str\xad\xad ing ab{Pd} cd x– y – z {Pd} rn", "", None, "modern rn-"])
@settings(max_examples=60, deadline=None)
def test_flat_kernel_equals_oracle(docs, multichar, settings_name, dehyphenate_doc):
    """Documents corrected by ``correct_words`` with one decision memo
    shared across them (as a Spark task shares it) equal the oracle's
    records and token-table rows, or raise ``IndexError`` where it does."""
    from correctocr_spark.spark.pipeline import _InDict, _token_rows

    res = resources(multichar)
    settings_ = SETTINGS[settings_name]
    texts = [text or "" for text in docs]
    docs_words = [tokenize_text(text) for text in texts]
    words = sorted({w for ws in docs_words for w in merged_words(ws, dehyphenate_doc)})
    kbest_map = dict(zip(words, kbest_for_words(res.params, words, res.k)))
    in_dict = _InDict(res.dictionary)
    memo: dict = {}
    columns = corrected_columns()
    for i, (text, ws) in enumerate(zip(texts, docs_words)):
        url = f"u{i}"
        got = outcome(
            lambda: correct_words(ws, kbest_map, in_dict, settings_, dehyphenate_doc, memo)
        )
        exp = outcome(
            lambda: correct_document(
                text, res.params, res.dictionary, settings_, res.k, dehyphenate_doc
            )
        )
        if exp is IndexError:
            assert got is IndexError, text
            continue
        assert got is not IndexError, text
        record, decisions = got
        assert set(record) == set(columns)
        assert {c: record[c] for c in columns} == {c: exp[c] for c in columns}, text
        assert _token_rows(url, ws, decisions, in_dict) == oracle_token_rows(
            url, text, res, settings_, dehyphenate_doc
        ), text


def test_flat_kernel_edge_cases_are_reached():
    """The cases the differential test must cover do occur: a head ending
    the document, an ``A- B- C`` chain, a tail whose gold is ``''``, a
    bare ``-`` token with punctuation gold, the newline marker, ``{Pd}``
    and ``\\xad`` heads, the en dash as a plain word, and the ``kdict``
    IndexError."""
    from correctocr_spark.spark.pipeline import _InDict

    res = resources(False)
    text = "A- B- C str\xad\xad ing ab{Pd} cd x– the _NEWLINE_N_ - wor- d wor-"
    ws = tokenize_text(text)
    words = list(merged_words(ws))
    kbest_map = dict(zip(words, kbest_for_words(res.params, words, res.k)))
    record, decisions = correct_words(ws, kbest_map, _InDict(res.dictionary), AGGRESSIVE_SETTINGS)
    cons = [d[8] for d in decisions]
    assert cons[:3] == ["A-B-", None, "C"]  # B- is A-'s tail, never a head
    assert cons[3:7] == ["str\xad\xading", None, "ab{Pd}cd", None]
    assert cons[7] == "x–"  # the en dash is no head
    assert cons[-1] == "wor--"  # the last head takes "-"
    assert any(d[8] is None and d[6] == "" for d in decisions)  # a tail whose gold is ''
    assert decisions[10][5] == decisions[10][6] == "-"  # bare "-": punctuation gold
    assert record["hyphenated_count"] == 5
    kept, _ = correct_words(ws, kbest_map, _InDict(res.dictionary), DEFAULT_SETTINGS)
    assert "\n" in kept["corrected"]  # the marker kept its original gold
    exp = correct_document(text, res.params, res.dictionary, AGGRESSIVE_SETTINGS, k=res.k)
    assert {c: record[c] for c in corrected_columns()} == {c: exp[c] for c in corrected_columns()}

    kbest_map["zq"] = kbest_for_words(res.params, ["zq"], res.k)[0]
    with pytest.raises(IndexError):
        correct_words(["zq"], kbest_map, _InDict(res.dictionary), KDICT_SETTINGS)
    with pytest.raises(IndexError):
        correct_document("zq", res.params, res.dictionary, KDICT_SETTINGS, k=res.k)


@given(
    st.text(
        alphabet=st.one_of(
            st.sampled_from(["-", "\xad", "{", "P", "d", "}", "–", "—", "a"]),
            st.characters(),
        ),
        max_size=8,
    )
)
@example("{Pd}")
@example("a{Pd}-\xad")
@example("Pd}")
@example("–")
@settings(max_examples=1000, deadline=None)
def test_hyphen_probe_is_endswith(word):
    """On every whitespace-free string, the reference's hyphen regex
    matches iff the string ends with ``-``, ``\\xad`` or ``{Pd}``."""
    if any(c.isspace() for c in word):
        return
    assert (hyphenRE.search(word) is not None) == word.endswith(HYPHEN_ENDS)
