"""Seeded inputs and the fixed model the benchmark measures with.

Everything here belongs to the benchmark: the gold vocabularies, the
confusion counts, the page shapes and the model built from them. An edit
to the program's own synthetic data (``spark/synth.py``) or to its
``default_resources()`` therefore cannot change what is measured.

Pages are a pure function of ``(seed, workload, page_id)``; the model is a
pure function of the workload (it does not depend on the seed).
"""

from __future__ import annotations

import datetime
import functools
import string
from typing import Dict, List, Sequence

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: OCR confusions: gold char -> {read-as char: count}. Single-character
#: reads only, so the noise the generator injects is exactly what the
#: model is trained to undo.
CONFUSIONS: Dict[str, Dict[str, int]] = {
    "e": {"3": 30, "c": 12},
    "l": {"1": 30, "i": 10},
    "o": {"0": 30},
    "s": {"5": 20},
    "i": {"l": 15, "1": 8},
    "t": {"f": 10},
    "n": {"m": 8, "r": 6},
    "a": {"u": 8},
    "u": {"v": 8, "n": 6},
    "h": {"b": 8},
    "c": {"e": 8},
    "g": {"q": 6},
    "r": {"n": 5},
}

CHARSET = string.ascii_letters + string.digits + "()-\xad.,;:!?'\""
SMOOTHING = 1e-4
K = 4

NOISE_RATE = 0.08  # share of confusable characters misread
HYPHEN_RATE = 0.04  # share of words split across a line break
PUNCT_RATE = 0.03  # share of words followed by a punctuation token
MEAN_WORDS = 60
PAGE_FILES = 8  # input parquet files per workload (one row group each)

#: gold char -> (read-as chars, cumulative read probabilities)
_NOISE = {
    gold: (list(reads), np.cumsum(list(reads.values())) / sum(reads.values()))
    for gold, reads in CONFUSIONS.items()
}
_ONSETS = "b c d f g h j k l m n p r s t v w br cr dr fr gr pr st tr ch sh th pl cl".split()
_VOWELS = "a e i o u ea ou ai io".split()
_CODAS = ["", "", "", "n", "r", "s", "t", "l", "nd", "st", "ng", "rt"]
_HOSTS_HEAVY = ["big-news.example", "mega-portal.example"]
_HOSTS_TAIL = [f"site{i:03d}.example" for i in range(200)]
_SECTIONS = ["news", "blog", "archive", "article", "story"]
_PUNCT = [".", ",", ";", ":"]

#: workload -> page shape. ``vocab`` is the gold vocabulary size;
#: ``html`` selects crawl-shaped HTML (text column null) or text-only
#: pages (html column null); ``salt`` keeps the workloads' pages apart at
#: one seed.
SHAPES = {
    "html_zipf": {"vocab": 400, "html": True, "salt": 0},
    "text_longtail": {"vocab": 50_000, "html": False, "salt": 2},
}


@functools.lru_cache(maxsize=None)
def gold_vocabulary(size: int) -> List[str]:
    """``size`` distinct pronounceable lower-case words, fixed forever
    (seeded by the size only). Rank 1 is the most frequent word. Cached:
    the vocabulary is benchmark input, not part of the model build that
    set-up time covers."""
    rng = np.random.RandomState(7919 + size)
    words: Dict[str, None] = {}
    while len(words) < size:
        batch = 2 * (size - len(words)) + 16
        syllables = 1 + np.minimum(rng.poisson(0.6, batch), 3)
        parts = np.stack(
            [
                rng.randint(len(_ONSETS), size=(batch, 4)),
                rng.randint(len(_VOWELS), size=(batch, 4)),
                rng.randint(len(_CODAS), size=(batch, 4)),
            ],
            axis=-1,
        ).tolist()
        for n, word_parts in zip(syllables.tolist(), parts):
            w = "".join(_ONSETS[o] + _VOWELS[v] + _CODAS[c] for o, v, c in word_parts[:n])
            words.setdefault(w)
            if len(words) == size:
                break
    return list(words)


def _zipf_cdf(size: int) -> np.ndarray:
    weights = 1.0 / np.arange(1, size + 1)
    return np.cumsum(weights / weights.sum())


class PageMaker:
    """Builds the pages of one workload; the vocabulary and its Zipf CDF
    are computed once and shared by every page."""

    def __init__(self, workload: str, seed: int):
        shape = SHAPES[workload]
        self.seed = int(seed)
        self.html = shape["html"]
        self.vocab = gold_vocabulary(shape["vocab"])
        self.cdf = _zipf_cdf(len(self.vocab))
        self._salt = shape["salt"]

    def _rng(self, page_id: int) -> np.random.Generator:
        return np.random.default_rng([self.seed, self._salt, int(page_id)])

    def body(self, rng: np.random.Generator) -> str:
        """~MEAN_WORDS Zipf-drawn words with OCR noise, hyphen splits and
        punctuation tokens. All draws for a page are made up front."""
        n = max(5, int(rng.poisson(MEAN_WORDS)))
        ranks = np.minimum(np.searchsorted(self.cdf, rng.random(n)), len(self.vocab) - 1)
        caps = rng.random(n) < 0.05
        caps[0] = True
        words = [self.vocab[int(r)] for r in ranks]
        words = [w.capitalize() if c else w for w, c in zip(words, caps)]
        chars = list("".join(words))
        u = rng.random(len(chars))
        for pos in np.flatnonzero(u < NOISE_RATE):
            noise = _NOISE.get(chars[pos])
            if noise is not None:
                reads, cdf = noise
                chars[pos] = reads[int(np.searchsorted(cdf, u[pos] / NOISE_RATE))]
        noisy = "".join(chars)
        lens = np.array([len(w) for w in words])
        starts = np.concatenate([[0], np.cumsum(lens)[:-1]])
        kind = rng.random(n)
        cuts = rng.integers(1, np.maximum(lens - 1, 2))
        soft = rng.random(n) < 0.3
        punct = rng.integers(0, len(_PUNCT), n)
        tokens: List[str] = []
        for i in range(n):
            w = noisy[starts[i] : starts[i] + lens[i]]
            if kind[i] < HYPHEN_RATE and lens[i] >= 4:
                cut = int(cuts[i])
                tokens.extend([w[:cut] + ("\xad" if soft[i] else "-"), w[cut:]])
            elif kind[i] < HYPHEN_RATE + PUNCT_RATE:
                tokens.extend([w, _PUNCT[int(punct[i])]])
            else:
                tokens.append(w)
        return " ".join(tokens)

    def page(self, page_id: int) -> dict:
        rng = self._rng(page_id)
        body = self.body(rng)
        if rng.random() < 0.45:
            host = _HOSTS_HEAVY[int(rng.integers(len(_HOSTS_HEAVY)))]
        else:
            host = _HOSTS_TAIL[int(rng.integers(len(_HOSTS_TAIL)))]
        section = _SECTIONS[int(rng.integers(len(_SECTIONS)))]
        url = f"https://{host}/{section}/{page_id}"
        html = None
        text = body
        if self.html:
            text = None
            nav = " ".join(
                f'<a href="/{s}">{s.capitalize()}</a>' for s in _SECTIONS[: 2 + int(rng.integers(4))]
            )
            html = (
                f"<html><head><title>{section} {page_id}</title>"
                f"<script>var pid={page_id};function t(){{return pid*{int(rng.integers(1000))};}}</script>"
                "<style>p{margin:0}nav a{padding:2px}</style></head><body>"
                f"<nav>{nav} <a href=\"/login\">Log in</a></nav>"
                f"<main><p>{body}</p></main>"
                '<footer><a href="/privacy">Privacy policy</a> · '
                '<a href="/terms">Terms of service</a> · © Example Corp</footer>'
                "</body></html>"
            ).encode("utf-8")
        ts = datetime.datetime(2024, 1, 1) + datetime.timedelta(seconds=int(page_id) % 31_536_000)
        return {"url": url, "warc_ts": ts, "html": html, "text": text, "lang": "en"}

    def pages(self, page_ids: Sequence[int]) -> List[dict]:
        return [self.page(i) for i in page_ids]


PAGES_ARROW_SCHEMA = pa.schema(
    [
        pa.field("url", pa.string(), nullable=False),
        pa.field("warc_ts", pa.timestamp("us", tz="UTC"), nullable=False),
        pa.field("html", pa.binary()),
        pa.field("text", pa.string()),
        pa.field("lang", pa.string()),
    ]
)


def write_pages(pages: List[dict], path: str) -> None:
    """Write pages as one parquet file (one row group)."""
    pq.write_table(pa.Table.from_pylist(pages, schema=PAGES_ARROW_SCHEMA), path, compression="snappy")


def content_bytes(pages: List[dict]) -> int:
    """Bytes of what the job reads per page: html, else the text."""
    return sum(len(p["html"]) if p["html"] is not None else len(p["text"].encode("utf-8")) for p in pages)


def build_resources(workload: str):
    """The model: this workload's gold vocabulary (plus capitalised forms)
    as dictionary and gold stream, the benchmark's confusion counts, and
    the fully automatic heuristic settings."""
    from correctocr_spark.kernels.dictionary import Dictionary
    from correctocr_spark.kernels.heuristics import AGGRESSIVE_SETTINGS
    from correctocr_spark.kernels.hmm import build_hmm_params
    from correctocr_spark.spark.resources import Resources

    vocab = gold_vocabulary(SHAPES[workload]["vocab"])
    gold_words = list(vocab) + [w.capitalize() for w in vocab]
    dictionary = Dictionary(gold_words)
    read_counts: Dict[str, Dict[str, int]] = {ch: {ch: 1000} for ch in CHARSET}
    for gold, reads in CONFUSIONS.items():
        read_counts[gold].update(reads)
    params = build_hmm_params(
        sorted(dictionary.frozen()),
        SMOOTHING,
        CHARSET,
        read_counts,
        remove_chars=[],
        gold_words=gold_words,
    )
    return Resources(params, dictionary, AGGRESSIVE_SETTINGS, k=K)
