"""Single-process timing of the public kernel functions on a fixed sample.

Each timing is the fastest of ``PASSES`` passes over the sample, so a
pass disturbed by another process on the host does not count.
"""

from __future__ import annotations

import time
from typing import Dict, List

PASSES = 3


def _best(fn, passes: int = PASSES) -> float:
    best = float("inf")
    for _ in range(passes):
        t = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t)
    return best


def probe(pages: List[dict], res) -> Dict[str, float]:
    from correctocr_spark.kernels.extract import extract_text
    from correctocr_spark.kernels.hmm import kbest_for_words
    from correctocr_spark.kernels.pipeline import (
        autocorrect,
        bin_tokens,
        consolidated,
        dehyphenate,
        doc_stats,
        doc_to_string,
        generate_kbest,
        gold_sink_text,
        tokenize_doc,
    )

    n = len(pages)
    html = [p["html"] for p in pages]
    texts = [extract_text(h) if h is not None else p["text"] for h, p in zip(html, pages)]
    extract_s = _best(lambda: [extract_text(h) for h in html]) if any(h is not None for h in html) else 0.0
    html_bytes = sum(len(h) for h in html if h is not None)

    def tokenized():
        docs = [tokenize_doc(t) for t in texts]
        for toks in docs:
            dehyphenate(toks)
        return docs

    tokenize_s = _best(tokenized)
    words = sorted({w for toks in tokenized() for w, _g, _t in consolidated(toks)})
    t = time.perf_counter()
    kb_map = dict(zip(words, kbest_for_words(res.params, words, res.k)))
    beam_s = time.perf_counter() - t

    dictionary = res.dictionary
    bin_s = finish_s = float("inf")
    for _ in range(PASSES):
        docs = tokenized()
        for toks in docs:
            generate_kbest(toks, kb_map.__getitem__, res.k)
        memo: dict = {}
        t = time.perf_counter()
        for toks in docs:
            bin_tokens(toks, dictionary, res.settings, memo=memo)
        bin_s = min(bin_s, time.perf_counter() - t)
        t = time.perf_counter()
        for toks in docs:
            autocorrect(toks)
            gold_sink_text(toks)
            doc_to_string(toks)
            doc_stats(toks)
        finish_s = min(finish_s, time.perf_counter() - t)
    cons_tokens = sum(1 for toks in docs for _ in consolidated(toks))
    return {
        "extract.us_per_doc": extract_s / n * 1e6,
        "extract.text_yield": sum(len(t) for t in texts) / html_bytes if html_bytes else 0.0,
        "hmm.us_per_word": beam_s / max(len(words), 1) * 1e6,
        "kernel.tokenize_us_per_doc": tokenize_s / n * 1e6,
        "kernel.bin_us_per_token": bin_s / max(cons_tokens, 1) * 1e6,
        "kernel.finish_us_per_doc": finish_s / n * 1e6,
        "kernel.decision_memo_hit_ratio": 1.0 - len(memo) / max(cons_tokens, 1),
    }
