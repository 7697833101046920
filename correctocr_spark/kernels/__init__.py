"""Pure-Python/NumPy kernels with reference-exact semantics.

These are the only pieces of the engine that must match the reference
byte-for-byte; everything around them is native Spark DataFrame algebra.
Each kernel cites the reference location it reproduces.
"""

from .textutils import (
    punctuationRE,
    hyphenRE,
    letterRE,
    is_punctuation,
    tokenize_text,
)
from .dictionary import Dictionary, clean_word
from .hmm import HMMParams, k_best_beam, kbest_for_word, build_hmm_params
from .heuristics import bin_for_word, DEFAULT_SETTINGS, normalize_settings
from .pipeline import (
    Tok,
    tokenize_doc,
    dehyphenate,
    consolidated,
    bin_tokens,
    autocorrect,
    doc_to_string,
    gold_sink_text,
    correct_document,
    correct_words,
)
from .extract import extract_text

__all__ = [
    "punctuationRE",
    "hyphenRE",
    "letterRE",
    "is_punctuation",
    "tokenize_text",
    "Dictionary",
    "clean_word",
    "HMMParams",
    "k_best_beam",
    "kbest_for_word",
    "build_hmm_params",
    "bin_for_word",
    "DEFAULT_SETTINGS",
    "normalize_settings",
    "Tok",
    "tokenize_doc",
    "dehyphenate",
    "consolidated",
    "bin_tokens",
    "autocorrect",
    "doc_to_string",
    "gold_sink_text",
    "correct_document",
    "correct_words",
    "extract_text",
]
