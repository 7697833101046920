"""Correctness oracle for ``wrong_doc_share``.

Expected output per url is the standalone kernel
``kernels.pipeline.correct_document`` run without Spark, with every
consolidated word's candidates from the scalar beam
``kernels.hmm.kbest_for_word`` (memoised across documents instead of per
document, which changes no result). Digests of ``(corrected, merged)``
for each workload's default seed are frozen under ``oracle/``; for any
other seed they are computed before timing (see ``fixture.py``).
"""

from __future__ import annotations

import gzip
import hashlib
import json
import os
from collections import Counter
from typing import Dict, Iterable, List, Optional, Tuple

ORACLE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "oracle")


def digest(corrected: str, merged: str) -> str:
    h = hashlib.sha256(corrected.encode("utf-8"))
    h.update(b"\x00")
    h.update(merged.encode("utf-8"))
    return h.hexdigest()[:24]


def frozen_path(workload: str, seed: int, docs: int) -> str:
    return os.path.join(ORACLE_DIR, f"{workload}-seed{seed}-{docs}.json.gz")


def load_frozen(workload: str, seed: int, docs: int) -> Optional[Dict[str, str]]:
    path = frozen_path(workload, seed, docs)
    if not os.path.exists(path):
        return None
    with gzip.open(path, "rt", encoding="utf-8") as fh:
        return json.load(fh)["digests"]


def save_frozen(workload: str, seed: int, docs: int, digests: Dict[str, str]) -> str:
    os.makedirs(ORACLE_DIR, exist_ok=True)
    path = frozen_path(workload, seed, docs)
    body = {"workload": workload, "seed": seed, "docs": docs, "digests": dict(sorted(digests.items()))}
    # mtime=0 keeps the file byte-identical when re-frozen
    with open(path, "wb") as raw, gzip.GzipFile(fileobj=raw, mode="wb", mtime=0) as fh:
        fh.write(json.dumps(body, indent=0).encode("utf-8"))
    return path


def check(expected: Dict[str, str], rows: Iterable[Tuple[str, str, str]]) -> Tuple[int, List[str]]:
    """Compare output ``(url, corrected, merged)`` rows with the expected
    digests. Returns ``(failed, failing urls)``: an expected url that is
    missing, duplicated or not byte-identical fails once, and so does an
    output url that was not expected."""
    seen: Counter = Counter()
    wrong = set()
    for url, corrected, merged in rows:
        seen[url] += 1
        want = expected.get(url)
        if want is None or corrected is None or merged is None or digest(corrected, merged) != want:
            wrong.add(url)
    bad = wrong | {u for u, n in seen.items() if n > 1} | (set(expected) - set(seen))
    return len(bad), sorted(bad)
