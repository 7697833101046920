"""Recompute the frozen oracle digests of every workload at its default seed.

    python3 perfbench/freeze_oracle.py

Run from the repository root; writes ``perfbench/oracle/*.json.gz`` (and
the input pages under ``.perfbench_work/``). The digests come from the
standalone kernel only, never from Spark output.
"""

from __future__ import annotations

import os
import sys

import fixture
import oracle
import run


def main() -> int:
    sys.path.insert(0, run.ROOT)
    run.isolate_scratch()
    for workload in run.SIZES:
        ids = list(range(run.SIZES[workload]))
        fx = fixture.prepare(
            workload, run.DEFAULT_SEED, ids, os.path.join(run.WORK, workload, "pages"), run.nproc(), use_frozen=False
        )
        path = oracle.save_frozen(workload, run.DEFAULT_SEED, len(ids), fx["expected"])
        print(f"{workload}: {len(fx['expected'])} digests -> {path}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
