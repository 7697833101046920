"""One-off large-scale scaling probe (VERDICT r4 item 7): the flagship
extraction+correction job at 10x the bench's document count, local[2]
vs local[8] interleaved, through the default one-pass plan.

Usage: python scripts/scale_probe.py [n_docs] — prints one JSON line.
Not part of bench.py (which the driver runs per-round at 300k docs);
results are recorded in BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_DOCS = int(sys.argv[1]) if len(sys.argv) > 1 else 3_000_000
REPS = int(os.environ.get("SCALE_PROBE_REPS", "1"))
CORES = (2, 8)
CACHE = f"/tmp/correctocr_bench_pages_{N_DOCS}"


def _pipeline(spark):
    from correctocr_spark.kernels.heuristics import AGGRESSIVE_SETTINGS
    from correctocr_spark.spark.pipeline import CorrectionPipeline
    from correctocr_spark.spark.resources import Resources, default_resources

    res = default_resources()
    res = Resources(res.params, res.dictionary, AGGRESSIVE_SETTINGS, k=res.k)
    return CorrectionPipeline(spark, res, use_html=True)


def materialize(df):
    df.write.format("noop").mode("overwrite").save()


def main():
    from correctocr_spark.spark.session import get_spark
    from correctocr_spark.spark.synth import synth_pages

    if not os.path.exists(os.path.join(CACHE, "_SUCCESS")):
        spark = get_spark(app_name="scale-probe-gen", cores=32)
        synth_pages(spark, N_DOCS, seed=2024, partitions=256).write.mode(
            "overwrite"
        ).parquet(CACHE)
        spark.stop()

    out = {"n_docs": N_DOCS, "cores": list(CORES)}
    times = {c: [] for c in CORES}
    for _rep in range(REPS):
        for cores in CORES:
            spark = get_spark(
                app_name=f"scale-probe-{cores}", cores=cores,
                shuffle_partitions=max(cores * 2, 16),
            )
            pages = spark.read.parquet(CACHE)
            pipe = _pipeline(spark)
            materialize(pipe.corrected(pages.limit(500)))
            t0 = time.monotonic()
            materialize(pipe.corrected(pages))
            times[cores].append(time.monotonic() - t0)
            spark.stop()
    for c in CORES:
        best = min(times[c])
        out[f"local{c}_sec"] = round(best, 2)
        out[f"local{c}_docs_per_sec"] = round(N_DOCS / best, 1)
    n, n4 = CORES
    out["scaling_efficiency"] = round(
        out[f"local{n4}_docs_per_sec"] / (4.0 * out[f"local{n}_docs_per_sec"]), 3
    )
    out["pair_efficiencies"] = [
        round(times[n][i] / (4.0 * times[n4][i]), 3) for i in range(REPS)
    ]
    print(json.dumps(out))


if __name__ == "__main__":
    main()
