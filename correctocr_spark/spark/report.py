"""Heuristics evaluation report (A2).

Reference: heuristics.py:125-274 — global counters + per-bin counters
over consolidated tokens with gold annotations, rendered as text. The
counting is one native aggregation pass; rendering is driver-side
formatting over the collected (tiny) result.
"""

from __future__ import annotations

import datetime
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..kernels.heuristics import BIN_DESCRIPTIONS
from .resources import Resources


def report_counters(tokens: DataFrame, resources: Resources, spark) -> DataFrame:
    """Per-bin counter aggregation (heuristics.py:173-207).

    Expects the pipeline token table (original, gold, kbest,
    cand_in_dict, bin, heuristic, head, tail, gold0). Consolidated-token
    semantics: tails are excluded (their head already carries the merged
    state); punctuation is counted globally, not per-bin.
    """
    b_res = spark.sparkContext.broadcast(resources)

    @F.pandas_udf(T.BooleanType())
    def gold_in_lower_kbest(batches: Iterator[pd.DataFrame]) -> Iterator[pd.Series]:
        res: Resources = b_res.value
        d = res.dictionary
        for pdf in batches:
            out = []
            for gold, kbest, flags in zip(pdf["gold"], pdf["kbest"], pdf["cand_in_dict"]):
                if gold is None or kbest is None or flags is None:
                    out.append(False)
                    continue
                # candidates ranked >1 that pass the dictionary
                # (heuristics.py:191-194)
                out.append(
                    any(
                        c["candidate"] == gold and bool(f)
                        for c, f in list(zip(kbest, flags))[1:]
                    )
                )
            yield pd.Series(out)

    toks = tokens.where(~F.col("tail") & F.col("bin").isNotNull())
    k1 = F.element_at("kbest", 1)["candidate"]
    return (
        toks.withColumn("c_lower", gold_in_lower_kbest(F.struct("gold", "kbest", "cand_in_dict")))
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("total"),
            F.sum(F.when(F.col("gold") == F.col("original"), 1).otherwise(0)).alias("a_gold_eq_orig"),
            F.sum(F.when(k1 == F.col("gold"), 1).otherwise(0)).alias("b_gold_eq_k1"),
            F.sum(F.when(F.col("c_lower"), 1).otherwise(0)).alias("c_gold_in_lower"),
            F.sum(F.when(F.col("heuristic") == "annotator", 1).otherwise(0)).alias("annotator_required"),
            F.first("heuristic").alias("heuristic"),
        )
        .orderBy("bin")
    )


def doc_totals(tokens: DataFrame) -> DataFrame:
    """Per-url ``index_count``, ``token_count`` and ``hyphenated_count`` of
    a pipeline token table, equal to those ``CorrectionPipeline.finalize``
    computes (``doc_stats``), as one JVM aggregation: no token structs
    shuffled to Python and no second kernel pass.

    ``index_count`` counts the tokens, ``token_count`` the tokens that are
    not a hyphen tail, and ``hyphenated_count`` the hyphen heads; a
    token-less page's placeholder row is null in ``idx``, ``tail`` and
    ``head`` and counts in none. The pipeline's token table marks no token
    discarded.
    """
    return tokens.groupBy("url").agg(
        F.count("idx").alias("index_count"),
        F.count(F.when(~F.col("tail"), 1)).alias("token_count"),
        F.count(F.when(F.col("head"), 1)).alias("hyphenated_count"),
    )


def render_report(counters_rows, totals: dict) -> str:
    """Driver-side text rendering (heuristics.py:213-274 shape)."""
    total_tokens = max(1, totals.get("token_count", 1))
    out = f"CorrectOCR-Spark Report for {datetime.datetime.now().isoformat()}\n\n"
    out += f"Total documents included in evaluation: {totals.get('doc_count', 0):10d}\n"
    out += f"Total tokens included in evaluation: {totals.get('index_count', 0):10d}\n"
    out += f"Hyphenated: {totals.get('hyphenated_count', 0):10d}\n"
    out += f"Tokens available for evaluation: {total_tokens:10d}\n\n"
    for row in counters_rows:
        b = row["bin"]
        out += f"BIN {b}\t\t {row['total']:10d} tokens ({row['total'] / total_tokens:6.2%} of total)\n"
        out += BIN_DESCRIPTIONS.get(int(b), "") + "\n"
        out += f"Current heuristic: {row['heuristic']}\n"
        out += f"{'(A) gold == orig':30}: {row['a_gold_eq_orig']:10d}\n"
        out += f"{'(B) gold == k1':30}: {row['b_gold_eq_k1']:10d}\n"
        out += f"{'(C) gold == lower kbest':30}: {row['c_gold_in_lower']:10d}\n"
        out += f"{'annotator required':30}: {row['annotator_required']:10d}\n\n"
    return out


def heuristics_report(tokens: DataFrame, corrected: DataFrame, resources: Resources, spark) -> str:
    """End-to-end A2: aggregate + render. ``corrected`` holds one row per
    url with its counts: ``doc_totals(tokens)`` or ``finalize(tokens)``."""
    counters = report_counters(tokens, resources, spark).collect()
    t = corrected.agg(
        F.count(F.lit(1)).alias("doc_count"),
        F.sum("index_count").alias("index_count"),
        F.sum("token_count").alias("token_count"),
        F.sum("hyphenated_count").alias("hyphenated_count"),
    ).first()
    return render_report(counters, t.asDict())
