"""The reference's own unit suite (cocrtests/*), ported verbatim against
our kernels. Every assertion cites its origin."""

import pytest

from correctocr_spark.kernels import (
    Dictionary,
    DEFAULT_SETTINGS,
    bin_for_word,
    dehyphenate,
    doc_to_string,
    hyphenRE,
    kbest_for_word,
    normalize_settings,
    tokenize_doc,
)
from correctocr_spark.kernels.aligner import alignments, apply_as_gold
from correctocr_spark.kernels.hmm import HMMParams

pytestmark = pytest.mark.engine


# --- cocrtests/model.py ----------------------------------------------------


class TestModel:
    def test_kbest_regular(self, mini_hmm):
        kbest = kbest_for_word(mini_hmm, "Slring", 4)
        assert kbest[0][0] == "String"  # model.py:36-38

    def test_kbest_hyphenated(self, mini_hmm):
        kbest = kbest_for_word(mini_hmm, "Str-ing", 4)
        assert kbest[0][0] == "Str-ing"  # model.py:41-43

    def test_kbest_soft_hyphen(self, mini_hmm):
        kbest = kbest_for_word(mini_hmm, "Str\xading", 4)
        assert kbest[0][0] == "Str\xading"  # model.py:46-48

    def test_kbest_parens(self, mini_hmm):
        kbest = kbest_for_word(mini_hmm, "(String)", 4)
        assert kbest[0][0] == "(String)"  # model.py:51-53

    def test_multichars(self, mini_hmm):
        params = HMMParams.from_dicts(mini_hmm.to_dicts(), multichars={"ce": ["æ"]})
        kbest = kbest_for_word(params, "Strceng", 4)
        assert kbest[0][0] == "Stræng"  # model.py:56-62

    def test_empty_word(self, mini_hmm):
        # hmm.py:204-205
        assert kbest_for_word(mini_hmm, "", 4) == [("", 0.0)] * 4

    def test_batched_beam_bitwise_parity(self, mini_hmm):
        """kbest_for_words must equal the scalar beam bitwise, incl.
        zero-probability tie ordering (unknown chars) and length-1 words."""
        from correctocr_spark.kernels.hmm import kbest_for_words

        words = [
            "Slring", "String", "Str-ing", "(String)", "", "S", "-",
            "ÿÿÿ", "ÿSÿ", "Stri", "ng", "Stræng", "ÿ",
        ]
        scalar = [kbest_for_word(mini_hmm, w, 4) for w in words]
        batch = kbest_for_words(mini_hmm, words, 4)
        assert scalar == batch


# --- cocrtests/hyphenation.py ----------------------------------------------


class TestHyphenation:
    def test_hyphenation_regex(self):
        # hyphenation.py:10-15
        assert hyphenRE.search("abc-")
        assert hyphenRE.search("Politi­")
        assert hyphenRE.search("Politi\xad")
        assert not hyphenRE.search("abc-def")
        assert not hyphenRE.search("Nørreherred")

    def test_auto_dehyphenation_hard(self):
        tokens = tokenize_doc("Str- ing Te-st")
        dehyphenate(tokens)
        assert doc_to_string(tokens) == "String Te-st"  # hyphenation.py:17-24

    def test_auto_dehyphenation_soft(self):
        tokens = tokenize_doc("Str\xad ing Te\xadst")
        dehyphenate(tokens)
        assert doc_to_string(tokens) == "String Te\xadst"  # hyphenation.py:26-33

    def test_manual_dehyphenation(self):
        tokens = tokenize_doc("Str- ing")
        assert doc_to_string(tokens) == "Str- ing"
        tokens[0].is_hyphenated = True
        assert doc_to_string(tokens) == "String"  # hyphenation.py:35-45

    def test_final_hyphen(self):
        tokens = tokenize_doc("Str-")
        assert doc_to_string(tokens) == "Str-"
        tokens[0].is_hyphenated = True
        assert doc_to_string(tokens) == "Str-"  # hyphenation.py:47-58

    def test_dehyphenate_consumes_tail(self):
        # _super.py:229-241 — the tail is consumed by the shared iterator:
        # 'B-' is NOT probed, so only 'A-' becomes a head.
        tokens = tokenize_doc("A- B- C")
        dehyphenate(tokens)
        assert [t.is_hyphenated for t in tokens] == [True, False, False]
        assert tokens[1].gold == ""
        assert tokens[2].gold is None

    def test_final_token_flag_set_on_stopiteration(self):
        tokens = tokenize_doc("Str-")
        dehyphenate(tokens)
        assert tokens[0].is_hyphenated is True  # flag set before StopIteration


# --- cocrtests/dictionary.py -----------------------------------------------


class TestDictionary:
    def test_dictionary(self):
        d = Dictionary()
        assert "word" not in d
        d.add("word")
        assert "word" in d  # dictionary.py:9-16

    def test_strange(self):
        d = Dictionary(["word"])
        words_ok = [
            "123", ".", "", "A4", "[word", "word! ", " word ",
            "wo\xadrd", "wo-rd", "(wo\xadrd)", "(wo-rd)", "»word«",
        ]
        for w in words_ok:
            assert w in d, w  # dictionary.py:22-41
        for w in ["test", "wo!rd"]:
            assert w not in d, w  # dictionary.py:43-47

    def test_spaces(self):
        d = Dictionary()
        d.add("test testing")
        assert "test" in d and "testing" in d  # dictionary.py:49-62
        assert "test´testing" not in d  # dictionary.py:64-67


# --- cocrtests/heuristics.py -----------------------------------------------


class TestHeuristics:
    def test_bin1(self):
        # heuristics.py:10-32 — k1 == original, both in dict -> bin 1,
        # settings {1: 'o'} accepted as single-letter code.
        settings = normalize_settings({1: "o"})
        d = Dictionary(["String"])
        heuristic, selection, number = bin_for_word("String", [("String", 1.0)], d, settings)
        assert number == 1
        assert heuristic == "original"
        assert selection == "String"

    def test_all_bins(self):
        d = Dictionary(["good", "fine"])
        s = DEFAULT_SETTINGS
        # (original, kbest, expected bin)
        cases = [
            ("good", [("good", 0.9), ("xzq", 0.1)], 1),
            ("xzq", [("xzq", 0.9), ("bzq", 0.1)], 2),
            ("xzq", [("xzq", 0.9), ("good", 0.1)], 3),
            ("xzq", [("good", 0.9), ("bzq", 0.1)], 4),
            ("xzq", [("bzq", 0.9), ("czq", 0.1)], 5),
            ("xzq", [("bzq", 0.9), ("good", 0.1)], 6),
            ("good", [("fine", 0.9), ("xzq", 0.1)], 7),
            ("good", [("xzq", 0.9), ("bzq", 0.1)], 8),
            ("good", [("xzq", 0.9), ("fine", 0.1)], 9),
        ]
        for original, kbest, expected in cases:
            _h, _sel, number = bin_for_word(original, kbest, d, s)
            assert number == expected, (original, kbest, number)

    def test_kdict_selection_rank(self):
        d = Dictionary(["good", "fine"])
        settings = normalize_settings({6: "d"})
        h, sel, n = bin_for_word("xzq", [("bzq", 0.9), ("good", 0.1)], d, settings)
        assert n == 6 and h == "kdict" and sel == 2  # first in-dict rank

    def test_annotator_selection_is_filtids(self):
        d = Dictionary(["good", "fine"])
        h, sel, n = bin_for_word("xzq", [("bzq", 0.9), ("good", 0.1)], d, DEFAULT_SETTINGS)
        assert n == 6 and h == "annotator" and sel == [2]


# --- cocrtests/aligner.py --------------------------------------------------


class TestAligner:
    def test_alignments(self):
        tokens = tokenize_doc("This is a t3st")
        for i in range(3):
            tokens[i].gold = tokens[i].original
        tokens[3].gold = "test"
        full, word_alignments, read_counts = alignments(tokens)
        assert read_counts["3"]["e"] == 1  # aligner.py:29
        assert word_alignments["t3st"] == {3: "test"}
        assert ("3", "e") in full

    def test_align_gold(self):
        left = tokenize_doc("This is a t3st")
        right = tokenize_doc("This is a test")
        apply_as_gold(left, right)
        for l, r in zip(left, right):
            assert l.gold == r.original  # aligner.py:32-42

    def test_align_gold_delete(self):
        # trailing token absent from right => 'delete' opcode => discarded
        left = tokenize_doc("This is a t3st extra")
        right = tokenize_doc("This is a t3st")
        apply_as_gold(left, right)
        assert left[4].is_discarded and left[4].gold == ""
        assert [t.gold for t in left[:4]] == ["This", "is", "a", "t3st"]


# --- cocrtests/token.py + _super.py invariants -----------------------------


class TestToken:
    def test_tokenizer(self):
        assert len(tokenize_doc("String")) == 1  # token.py:9-15

    def test_punctuation_gold_at_construction(self):
        # _super.py:72-74
        tokens = tokenize_doc("word . »« ,,")
        assert tokens[0].gold is None
        assert tokens[1].gold == "."
        assert tokens[2].gold == "»«"
        assert tokens[3].gold == ",,"

    def test_discard_clears_gold(self):
        # last_modified.py:8-25 analog (timestamps excluded from contract)
        t = tokenize_doc("word")[0]
        t.gold = "word"
        t.discard()
        assert t.gold == ""
