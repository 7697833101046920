"""Fixture preparation: input parquet and expected digests.

Runs before any timing, in a spawn pool of one process per core that is
closed and joined before Spark starts. Three pool stages, the last two
only for a seed without frozen digests:

1. generate page chunks (writing the input parquet files), extract their
   text and collect the consolidated words;
2. the scalar beam for every distinct word;
3. ``correct_document`` per page with those candidates.
"""

from __future__ import annotations

import multiprocessing
import os
from typing import Dict, List, Sequence

import numpy as np

import gen
import oracle

_RES = None  # per pool worker: the workload's model
_MAKERS: Dict[tuple, gen.PageMaker] = {}  # per pool worker


def _init(workload: str) -> None:
    global _RES
    _RES = gen.build_resources(workload)


def _texts(pages: List[dict]) -> List[str]:
    from correctocr_spark.kernels.extract import extract_text

    return [extract_text(p["html"]) if p["html"] is not None else (p["text"] or "") for p in pages]


def consolidated_words(text: str) -> List[str]:
    from correctocr_spark.kernels.pipeline import consolidated, dehyphenate, tokenize_doc

    toks = tokenize_doc(text)
    dehyphenate(toks)
    return [original for original, _gold, _t in consolidated(toks)]


def _gen_chunk(workload: str, seed: int, ids: Sequence[int], out_file: str) -> dict:
    maker = _MAKERS.get((workload, seed))
    if maker is None:
        maker = _MAKERS[(workload, seed)] = gen.PageMaker(workload, seed)
    pages = maker.pages(ids)
    gen.write_pages(pages, out_file)
    texts = _texts(pages)
    words = set()
    tokens = cons = 0
    for text in texts:
        cw = consolidated_words(text)
        tokens += len(text.split())
        cons += len(cw)
        words.update(cw)
    return {
        "urls": [p["url"] for p in pages],
        "texts": texts,
        "words": words,
        "tokens": tokens,
        "cons_tokens": cons,
        "content_bytes": gen.content_bytes(pages),
    }


def _beam_chunk(words: List[str]) -> list:
    from correctocr_spark.kernels.hmm import kbest_for_word

    return [kbest_for_word(_RES.params, w, _RES.k) for w in words]


def _correct_chunk(urls: List[str], texts: List[str], kb_map: dict) -> list:
    """``(url, digest)`` of the kernel's output per page."""
    from correctocr_spark.kernels.pipeline import correct_document

    out = []
    for url, text in zip(urls, texts):
        r = correct_document(text, _RES.params, _RES.dictionary, _RES.settings, k=_RES.k, kbest_map=kb_map)
        out.append((url, oracle.digest(r["corrected"], r["merged"])))
    return out


def _split(items: list, parts: int) -> List[list]:
    return [list(c) for c in np.array_split(np.array(items, dtype=object), parts) if len(c)]


def prepare(
    workload: str,
    seed: int,
    input_ids: Sequence[int],
    pages_dir: str,
    procs: int,
    use_frozen: bool = True,
) -> dict:
    """Write the input pages (``gen.PAGE_FILES`` parquet files under
    ``pages_dir``) and return its sizes and the expected digests per input
    url (the frozen ones when they exist and ``use_frozen``)."""
    os.makedirs(pages_dir, exist_ok=True)
    for name in os.listdir(pages_dir):
        os.remove(os.path.join(pages_dir, name))
    chunks = np.array_split(np.asarray(input_ids), gen.PAGE_FILES)
    tasks = [
        (workload, seed, c.tolist(), os.path.join(pages_dir, f"part-{i:05d}.parquet"))
        for i, c in enumerate(chunks)
    ]
    frozen = oracle.load_frozen(workload, seed, len(input_ids)) if use_frozen else None
    ctx = multiprocessing.get_context("spawn")
    with ctx.Pool(procs, initializer=_init, initargs=(workload,)) as pool:
        parts = pool.starmap(_gen_chunk, tasks)
        words = sorted(set().union(*(p["words"] for p in parts)))
        input_urls = [u for p in parts for u in p["urls"]]
        digests = frozen
        if frozen is None:
            kb_map: dict = {}
            word_chunks = _split(words, procs * 4)
            for wc, kbs in zip(word_chunks, pool.map(_beam_chunk, word_chunks)):
                kb_map.update(zip(wc, kbs))
            text_of: Dict[str, str] = {}
            for part in parts:
                text_of.update(zip(part["urls"], part["texts"]))
            digests = dict(
                pair
                for res in pool.starmap(
                    _correct_chunk, [(uc, [text_of[u] for u in uc], kb_map) for uc in _split(input_urls, procs)]
                )
                for pair in res
            )
        pool.close()
        pool.join()
    cons = sum(p["cons_tokens"] for p in parts)
    return {
        "docs": len(input_urls),
        "tokens": sum(p["tokens"] for p in parts),
        "content_bytes": sum(p["content_bytes"] for p in parts),
        "parquet_bytes": sum(os.path.getsize(os.path.join(pages_dir, f)) for f in os.listdir(pages_dir)),
        "distinct_word_ratio": len(words) / max(cons, 1),
        "distinct_words": len(words),
        "expected": digests,
        "oracle": "frozen" if frozen is not None else "kernel",
    }
