"""Dictionary with the reference's nonstandard membership predicate.

Reference: /root/reference/CorrectOCR/dictionary.py:14-118.

Membership is NOT plain set lookup: the word is cleaned (soft/hard
hyphens removed, surrounding punctuation/quotes stripped) and any word
with at most one alphabetic letter is "in" the dictionary by fiat
(``dictionary.py:49-58``). In Spark this is therefore a broadcast
frozenset consulted by a computed predicate, not an equi-join.
"""

from __future__ import annotations

import string
from typing import Iterable, Optional, Set

import regex

from .textutils import letterRE

_STRIP_CHARS = string.punctuation + string.whitespace + "»«“”„›‹"

# matches iff a word has two letters or more; the search stops at the
# second letter instead of listing them all
_TWO_LETTERS_RE = regex.compile(r"\p{L}[^\p{L}]*\p{L}")


def clean_word(word: str) -> str:
    """``dictionary.py:114-118``."""
    word = word.replace("\xad", "")  # remove soft hyphens
    word = word.replace("-", "")  # remove hard hyphens
    return word.strip(_STRIP_CHARS)


class Dictionary:
    """Set-of-words wrapper with the reference membership semantics.

    ``dictionary.py:49-58``: clean first; empty or <=1 letters => True;
    optional lowercase; else set lookup.
    """

    __slots__ = ("words", "ignore_case")

    def __init__(self, words: Optional[Iterable[str]] = None, ignore_case: bool = False):
        self.ignore_case = ignore_case
        self.words: Set[str] = set()
        if words:
            for w in words:
                self.add(w)

    def __contains__(self, word: str) -> bool:
        word = clean_word(word)
        if _TWO_LETTERS_RE.search(word) is None:
            return True
        if self.ignore_case:
            word = word.lower()
        return word in self.words

    def __len__(self) -> int:
        return len(self.words)

    def __iter__(self):
        return iter(self.words)

    def add(self, word: str) -> None:
        """``dictionary.py:68-90`` (group bookkeeping dropped — storage is
        a single flat set here; groups were a save-file concept)."""
        word = clean_word(word)
        if word == "" or not letterRE.search(word):
            return
        if " " in word:
            for w in word.split(" "):
                if w not in self:
                    self.add(w)
            return
        if self.ignore_case:
            word = word.lower()
        self.words.add(word)

    def frozen(self) -> frozenset:
        """Immutable word set, suitable for ``sc.broadcast``."""
        return frozenset(self.words)

    @classmethod
    def from_frozen(cls, words: frozenset, ignore_case: bool = False) -> "Dictionary":
        """A read-only view over ``words``, which it shares instead of
        copying: membership is answered as by any ``Dictionary``, and
        ``add`` raises ``AttributeError``. A broadcast word set is viewed
        once per task, so a copy there would cost O(|dictionary|) each
        time."""
        d = cls(ignore_case=ignore_case)
        d.words = words
        return d
