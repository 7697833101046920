"""Model resources: HMM params, dictionary, heuristic settings.

The reference ships these as workspace files (workspace.py:255-277); here
they are a single picklable object, built deterministically from a
synthetic gold corpus + confusion table (so the repo is self-contained),
broadcast once per job to every executor. JSON (de)serialization keeps
the reference's artifact shape ``[init, tran, emis]``
(model/hmm.py:67-70).
"""

from __future__ import annotations

import json
import string
from pathlib import Path
from typing import Dict, List, Optional

from ..kernels.dictionary import Dictionary
from ..kernels.heuristics import DEFAULT_SETTINGS, normalize_settings
from ..kernels.hmm import HMMParams, build_hmm_params

#: Deterministic mini English vocabulary — gold corpus and dictionary for
#: the default model. Any real deployment trains from aligned documents
#: (see spark/training.py) instead.
DEFAULT_VOCAB: List[str] = """
the of and to in is was for that with his on as he it at by from they
this had not are but be have which she you were her all one their there
when who will more no if out so said what up its about into than them
can only other new some could time these two may then do first any my
now such like our over man me even most made after also did many before
must through back years where much your way well down should because
each just those people how too little state good very make world still
own see men work long get here between both life being under never day
same another know while last might us great old year off come since
against go came right used take three states himself few house use
during without again place around however home small found thought went
say part once general high upon school every don does got united left
number course war until always away something fact though water less
public put think almost hand enough far took head yet government system
better set told nothing night end why called didn eyes find going look
asked later knew point next city business case give group toward young
let days true word whole kind began different mean really string test
text page word line book read written print letter document
""".split()

#: OCR-style confusion table: gold char -> {read-as char: count}. The
#: synthetic corruptor (spark/synth.py) draws from the same table, so the
#: trained HMM genuinely corrects the injected noise.
DEFAULT_CONFUSIONS: Dict[str, Dict[str, int]] = {
    "e": {"3": 30, "c": 12},
    "l": {"1": 30, "i": 10},
    "o": {"0": 30},
    "s": {"5": 20},
    "i": {"l": 15, "1": 8},
    "t": {"f": 10},
    "n": {"m": 8, "r": 6},
    "m": {"rn": 5},  # multi-char inner key: dropped by the builder, kept
    # here to exercise that path (hmm.py:316-321)
    "a": {"u": 8},
    "u": {"v": 8, "n": 6},
    "h": {"b": 8},
    "c": {"e": 8},
    "g": {"q": 6},
    "d": {"cl": 4},
    "r": {"n": 5},
}

#: ascii + digits + the punctuation the tokenizer leaves attached + the
#: Danish/Latin-1 letters the reference's 140-state model covers
DEFAULT_CHARSET = (
    string.ascii_letters + string.digits + "()-\xad.,;:!?'\"" + "æøåÆØÅéèüö"
)

DEFAULT_K = 4  # cli.py:75
DEFAULT_SMOOTHING = 1e-4  # cli.py:144


class Resources:
    """Broadcastable bundle of model state."""

    __slots__ = ("params", "dict_words", "ignore_case", "settings", "k")

    def __init__(
        self,
        params: HMMParams,
        dictionary: Dictionary,
        settings: Optional[Dict[int, str]] = None,
        k: int = DEFAULT_K,
    ):
        self.params = params
        self.dict_words = dictionary.frozen()
        self.ignore_case = dictionary.ignore_case
        self.settings = normalize_settings(settings or DEFAULT_SETTINGS)
        self.k = k

    @property
    def dictionary(self) -> Dictionary:
        """A read-only ``Dictionary`` view over ``dict_words`` (shared,
        not copied)."""
        return Dictionary.from_frozen(self.dict_words, self.ignore_case)

    # -- persistence (reference artifact shapes) --------------------------

    def save(self, directory: str) -> None:
        d = Path(directory)
        d.mkdir(parents=True, exist_ok=True)
        (d / "hmm_parameters.json").write_text(
            json.dumps(self.params.to_dicts(), ensure_ascii=False)
        )
        (d / "dictionary.txt").write_text("\n".join(sorted(self.dict_words, key=str.lower)))
        (d / "settings.json").write_text(json.dumps({str(b): h for b, h in self.settings.items()}))
        if self.params.multichars:
            (d / "multicharacter_errors.json").write_text(json.dumps(self.params.multichars))

    @classmethod
    def load(cls, directory: str, k: int = DEFAULT_K) -> "Resources":
        d = Path(directory)
        multichars = None
        mc = d / "multicharacter_errors.json"
        if mc.is_file():
            multichars = json.loads(mc.read_text())
        params = HMMParams.from_dicts(
            json.loads((d / "hmm_parameters.json").read_text()), multichars
        )
        dictionary = Dictionary((d / "dictionary.txt").read_text().split("\n"))
        settings = json.loads((d / "settings.json").read_text())
        return cls(params, dictionary, settings, k=k)


def _default_read_counts() -> Dict[str, Dict[str, int]]:
    counts: Dict[str, Dict[str, int]] = {}
    for ch in DEFAULT_CHARSET:
        counts[ch] = {ch: 1000}
    for gold, confusion in DEFAULT_CONFUSIONS.items():
        counts.setdefault(gold, {gold: 1000}).update(
            {read: n for read, n in confusion.items()}
        )
        # keep the diagonal dominant
        counts[gold][gold] = 1000
    return counts


def default_resources(k: int = DEFAULT_K) -> Resources:
    """Deterministic self-contained model (no external data)."""
    vocab = list(dict.fromkeys(DEFAULT_VOCAB))
    gold_words = vocab + [w.capitalize() for w in vocab]
    dictionary = Dictionary(gold_words)
    params = build_hmm_params(
        sorted(dictionary.frozen()),
        DEFAULT_SMOOTHING,
        DEFAULT_CHARSET,
        _default_read_counts(),
        remove_chars=[],
        gold_words=gold_words,
    )
    return Resources(params, dictionary, DEFAULT_SETTINGS, k=k)
