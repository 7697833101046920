"""The correction pipeline as one Spark plan.

Reference chain (document.py:166-242):
``tokenize -> dehyphenate -> kbest -> bin -> autocorrect -> reassemble``.

``corrected()`` and ``tokens()`` are the same plan: one ``mapInPandas``
over the pages, and no Spark job before the caller's action. Per task,
and per Arrow batch:

1. extract each page once (``kernels/extract.py``: a regex block
   scanner, one match per tag, with stdlib ``html.parser`` as the
   fallback for any page outside the scanner's grammar), or take
   ``text`` when ``use_html=False``;
2. split it into words once, and collect the batch's consolidated words
   (``kernels.pipeline.merged_words``) that the task has not seen yet;
3. beam those words in one ``kbest_for_words`` call (the prefix-shared
   batched beam, bitwise equal to the scalar beam) into a task-local
   word -> k-best map;
4. run the flat kernel ``kernels.pipeline.correct_words`` on each page's
   words: one loop, no token records, with the task's decisions memoized
   per ``(original, merged)`` word and its dictionary answers per word
   (``_InDict``). The ``Tok`` chain ``correct_document`` is the oracle
   the tests check it against, column by column.

``corrected()`` emits the kernel's record as one ``CORRECTED_SCHEMA`` row
per url. ``tokens()`` emits the token table instead: one
``TOKEN_TABLE_SCHEMA`` row per token from the kernel's per-token
decisions (null k-best on hyphen tails) and one all-null placeholder row
per token-less page.

The task-local map is the reference's per-process LRU cache
(hmm.py:82-88) scoped to one task:

- memory: each task holds only its own words, never the corpus
  vocabulary;
- beam work: a word is beamed once per task that holds it instead of
  once per corpus. At seed 1 over perfbench's 4 read partitions that is
  19,187 beam calls for 10,677 distinct words (1.80x) on ``html_zipf`` and
  20,280 for 16,451 (1.23x) on ``text_longtail``;
- scale: under Heaps' law a task's distinct words grow with the task's
  size, not the corpus's, so the beam's share of per-token work depends
  on partition size. Hot words are beamed once per task, as the
  reference beams them once per process; there is no shuffle key for a
  hot word to skew.

Every task also pays a fixed cost to enter its Python worker. Before
CPython 3.13 most of it was ``importlib.invalidate_caches()``, which a
reused worker calls at the start of every task: it re-parses the central
directories of ``pyspark.zip`` and of the spark-core jar on the worker's
path, 17 reads and about 0.2 s of worker CPU per task. ``run`` first
calls ``session.keep_zip_directories``, after which a worker re-reads an
archive only when it changed. In an identity ``mapInPandas`` over 600
pages in 4 tasks, from each worker's third task on, no zip directory is
read and the worker CPU between tasks fell from 0.16-0.30 s to
0.04-0.05 s (4 vCPUs, CPython 3.11). In perfbench (seed 1, 10
alternating pairs in one window) the job went from 752 to 1,214 doc/s on
``text_longtail`` and from 1,907 to 2,823 doc/s on ``html_zipf``.
"""

from __future__ import annotations

import json
from typing import Iterator, List, Optional

import pandas as pd
import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type

from ..kernels.hmm import kbest_arrays, kbest_for_words
from ..kernels.pipeline import (
    Tok,
    correct_words,
    doc_bin_counts,
    doc_stats,
    doc_to_string,
    gold_sink_text,
    merged_words,
)
from ..kernels.extract import extract_text
from ..kernels.textutils import tokenize_text
from .resources import Resources, default_resources
from .session import freeze_worker_heap, keep_zip_directories

KBEST_STRUCT = T.StructType(
    [
        T.StructField(
            "kbest",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("candidate", T.StringType(), False),
                        T.StructField("probability", T.DoubleType(), False),
                    ]
                )
            ),
            False,
        ),
        T.StructField("cand_in_dict", T.ArrayType(T.BooleanType()), False),
    ]
)

CORRECTED_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("corrected", T.StringType(), False),
        T.StructField("merged", T.StringType(), False),
        T.StructField("index_count", T.LongType(), False),
        T.StructField("token_count", T.LongType(), False),
        T.StructField("corrected_count", T.LongType(), False),
        T.StructField("corrected_by_annotator_count", T.LongType(), False),
        T.StructField("corrected_by_model_count", T.LongType(), False),
        T.StructField("hyphenated_count", T.LongType(), False),
        T.StructField("discarded_count", T.LongType(), False),
        T.StructField("done", T.BooleanType(), False),
        T.StructField("bin_counts", T.MapType(T.IntegerType(), T.LongType()), False),
    ]
)


_KBEST_FIELDS = list(to_arrow_type(KBEST_STRUCT))

# one row per token; every token column is null on a placeholder row, and
# the k-best columns are null on hyphen tails too
TOKEN_TABLE_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("idx", T.IntegerType(), True),
        T.StructField("original", T.StringType(), True),
        T.StructField("gold0", T.StringType(), True),
        T.StructField("head", T.BooleanType(), True),
        T.StructField("tail", T.BooleanType(), True),
        T.StructField("cons_word", T.StringType(), True),
        T.StructField("discarded", T.BooleanType(), False),
    ]
    + [T.StructField(f.name, f.dataType, True) for f in KBEST_STRUCT.fields]
    + [
        T.StructField("bin", T.IntegerType(), True),
        T.StructField("heuristic", T.StringType(), True),
        T.StructField("sel_rank", T.IntegerType(), True),
        T.StructField("selection", T.StringType(), True),
        T.StructField("gold", T.StringType(), True),
    ]
)


class CorrectionPipeline:
    def __init__(
        self,
        spark: SparkSession,
        resources: Optional[Resources] = None,
        dehyphenate: bool = True,
        use_html: bool = True,
    ):
        self.spark = spark
        self.resources = resources or default_resources()
        self.k = self.resources.k
        self.use_html = use_html
        self.dehyphenate = dehyphenate
        self._b_res = spark.sparkContext.broadcast(self.resources)

    # -- stage 1: extraction ----------------------------------------------

    def extracted(self, pages: DataFrame) -> DataFrame:
        """html binary -> text (or pass through the provided text column)."""
        if not self.use_html:
            return pages

        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                pdf = pdf.copy()
                pdf["text"] = [extract_text(h) for h in pdf["html"]]
                yield pdf

        return pages.mapInPandas(run, schema=pages.schema)

    # -- the k-best table of a vocabulary ---------------------------------------

    def kbest_table(self, tokens: DataFrame) -> DataFrame:
        """``(cons_word, kbest, cand_in_dict)`` for the distinct non-null
        ``cons_word`` values of ``tokens``, one beam per word."""
        b_res = self._b_res
        k = self.k

        @F.arrow_udf(KBEST_STRUCT)  # Iterator -> Iterator: SCALAR_ITER
        def kbest_udf(batches: Iterator[pa.Array]) -> Iterator[pa.Array]:
            res: Resources = b_res.value
            in_dict = _InDict(res.dictionary)
            for words in batches:
                # prefix-shared beam over the batch, bitwise-identical to
                # the scalar beam (kernels/hmm.py::kbest_arrays)
                cands, probs, offsets = kbest_arrays(res.params, words.to_pylist(), k)
                yield pa.StructArray.from_arrays(
                    _kbest_lists(cands.tolist(), probs, offsets, in_dict),
                    fields=_KBEST_FIELDS,
                )

        words = (
            tokens.where(F.col("cons_word").isNotNull())
            .select("cons_word")
            .distinct()
            # the beam's cost is per word, not per byte: pin the stage's
            # parallelism so AQE cannot coalesce it by shuffle bytes
            .repartition(2 * self.spark.sparkContext.defaultParallelism)
        )
        return words.select(
            "cons_word", kbest_udf(F.col("cons_word")).alias("kb")
        ).select("cons_word", "kb.kbest", "kb.cand_in_dict")

    # -- the one plan: corrected documents and the token table ---------------

    def corrected(self, pages: DataFrame, strategy: str = "auto") -> DataFrame:
        """Corrected documents, one ``CORRECTED_SCHEMA`` row per url.

        ``strategy`` accepts ``"auto"`` and ``"join"``, which both run the
        one plan (see the module docstring); any other name raises."""
        if strategy not in ("auto", "join"):
            raise ValueError(f"unknown strategy {strategy!r}: expected 'auto' or 'join'")
        return self._correct(pages, per_token=False)

    def tokens(self, pages: DataFrame) -> DataFrame:
        """The full token table — the engine's relational data model
        (FIXTURES.md §6; mirrors the reference DDL with kbest as an
        ordered array column instead of a joined table), one row per
        token and one all-null placeholder row per token-less page."""
        return self._correct(pages, per_token=True)

    def _correct(self, pages: DataFrame, per_token: bool) -> DataFrame:
        """The one plan: a ``mapInPandas`` that corrects each page with
        ``correct_words`` and emits its ``CORRECTED_SCHEMA`` row, or its
        ``TOKEN_TABLE_SCHEMA`` rows when ``per_token``."""
        b_res = self._b_res
        k = self.k
        dehyph = self.dehyphenate
        texts_of = _make_texts_of(self.use_html)
        schema = TOKEN_TABLE_SCHEMA if per_token else CORRECTED_SCHEMA
        columns = [f.name for f in schema.fields]

        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            keep_zip_directories()  # this worker's later tasks skip the zip re-reads
            res: Resources = b_res.value
            freeze_worker_heap()  # the daemon's per-task gc.collect() skips the model
            in_dict = _InDict(res.dictionary)
            kbest_map: dict = {}  # this task's words only
            decision_memo: dict = {}
            for pdf in batches:
                docs = [tokenize_text(text or "") for text in texts_of(pdf)]
                fresh: dict = {}  # insertion-ordered set
                for words in docs:
                    for word in merged_words(words, dehyph):
                        if word not in kbest_map:
                            fresh[word] = None
                if fresh:
                    kbest_map.update(zip(fresh, kbest_for_words(res.params, list(fresh), k)))
                out = []
                for url, words in zip(pdf["url"], docs):
                    r, decisions = correct_words(
                        words, kbest_map, in_dict, res.settings, dehyph, decision_memo
                    )
                    if per_token:
                        out.extend(_token_rows(url, words, decisions, in_dict))
                    else:
                        r["url"] = url
                        out.append(r)
                yield pd.DataFrame(out, columns=columns)

        source = "html" if self.use_html else "text"
        return pages.select("url", source).mapInPandas(run, schema=schema)

    def vocab(self, pages: DataFrame) -> DataFrame:
        """Distinct consolidated words of the corpus — the k-best input.
        Single Python UDF (extract inlined); partition-local dedup acts
        as a map-side combine before the distinct shuffle."""
        dehyph = self.dehyphenate
        texts_of = _make_texts_of(self.use_html)

        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            seen = set()
            for pdf in batches:
                words = set()
                for text in texts_of(pdf):
                    words.update(merged_words(tokenize_text(text or ""), dehyph))
                fresh = words - seen
                seen |= fresh
                yield pd.DataFrame({"cons_word": sorted(fresh)})

        return pages.select("html" if self.use_html else "text").mapInPandas(
            run, schema=T.StructType([T.StructField("cons_word", T.StringType(), False)])
        ).distinct()

    FINALIZE_STRUCT = T.StructType([f for f in CORRECTED_SCHEMA.fields if f.name != "url"])

    @staticmethod
    def finalize(tokens: DataFrame) -> DataFrame:
        """Join-path reassembly: JVM-native ``sort_array(collect_list)``
        per url + ONE batched pandas UDF (no per-group applyInPandas
        overhead) — byte-exact via the same kernel functions."""

        @F.pandas_udf(CorrectionPipeline.FINALIZE_STRUCT)
        def fin_udf(tok_arrays: pd.Series) -> pd.DataFrame:
            out = []
            for toks_rows in tok_arrays:
                toks = []
                for r in toks_rows:
                    original = r["original"]
                    if original is None:  # explode_outer placeholder
                        continue
                    gold = r["gold"]
                    t = _restored_tok(
                        int(r["idx"]), original, gold if isinstance(gold, str) else None, bool(r["head"])
                    )
                    t.is_discarded = bool(r["discarded"])
                    b = r["bin"]
                    t.bin = int(b) if b is not None else None
                    h = r["heuristic"]
                    t.heuristic = h if isinstance(h, str) else None
                    toks.append(t)
                stats = doc_stats(toks)
                out.append(
                    {
                        "corrected": gold_sink_text(toks),
                        "merged": doc_to_string(toks),
                        "index_count": stats["index_count"],
                        "token_count": stats["token_count"],
                        "corrected_count": stats["corrected_count"],
                        "corrected_by_annotator_count": stats["corrected_by_annotator_count"],
                        "corrected_by_model_count": stats["corrected_by_model_count"],
                        "hyphenated_count": stats["hyphenated_count"],
                        "discarded_count": stats["discarded_count"],
                        "done": bool(stats["done"]),
                        "bin_counts": doc_bin_counts(toks),
                    }
                )
            return pd.DataFrame(out, columns=[f.name for f in CorrectionPipeline.FINALIZE_STRUCT.fields])

        grouped = (
            tokens.groupBy("url")
            .agg(
                F.sort_array(
                    F.collect_list(
                        F.struct(
                            "idx", "original", "gold", "head", "discarded", "heuristic", "bin"
                        )
                    )
                ).alias("toks")
            )
        )
        return grouped.select("url", fin_udf("toks").alias("o")).select("url", "o.*")


def _make_texts_of(use_html: bool):
    """Worker-safe text accessor (no ``self`` capture: the pipeline
    object holds the SparkSession and must never enter a closure)."""
    if use_html:
        return lambda pdf: [extract_text(h) for h in pdf["html"]]
    return lambda pdf: pdf["text"]


class _InDict(dict):
    """A ``Dictionary``'s membership answers, memoized per word:
    ``word in memo`` and ``memo[word]`` ask the dictionary once per word
    (its predicate cleans the word with regexes on every call), so the
    kernel takes a memo wherever it takes the dictionary."""

    __slots__ = ("dictionary",)

    def __init__(self, dictionary):
        super().__init__()
        self.dictionary = dictionary

    def __missing__(self, word: str) -> bool:
        hit = self[word] = word in self.dictionary
        return hit

    # ``word in memo`` is ``memo[word]``, without a Python frame per probe
    __contains__ = dict.__getitem__


def _kbest_lists(cands, probs, offsets, in_dict: _InDict) -> List[pa.Array]:
    """The ``kbest`` and ``cand_in_dict`` list arrays of words whose
    rank-ordered candidates lie at ``cands[offsets[i]:offsets[i + 1]]``."""
    kbest_type, flags_type = (f.type for f in _KBEST_FIELDS)
    offs = pa.array(offsets, pa.int32())
    pairs = pa.StructArray.from_arrays(
        [pa.array(cands, pa.string()), pa.array(probs, pa.float64())],
        fields=list(kbest_type.value_type),
    )
    flags = pa.array([in_dict[c] for c in cands], pa.bool_())
    return [
        pa.ListArray.from_arrays(offs, pairs, type=kbest_type),
        pa.ListArray.from_arrays(offs, flags, type=flags_type),
    ]


def _restored_tok(index: int, original: str, gold: Optional[str], head: bool) -> Tok:
    """A token-table row's token before correction: tokenized and
    dehyphenated, without the constructor's punctuation probe (``gold``
    carries it)."""
    t = Tok.__new__(Tok)
    t.index = index
    t.original = original
    t.gold = gold
    t.is_hyphenated = head
    t.is_discarded = False
    t.has_error = False
    t.kbest = []
    t.bin = None
    t.heuristic = None
    t.selection = None
    return t


def _token_rows(url: str, words: List[str], decisions: List[tuple], in_dict: _InDict) -> list:
    """One corrected document's token-table rows in ``TOKEN_TABLE_SCHEMA``
    order, from ``correct_words``' per-token decisions. A hyphen tail has
    no consolidated word and null k-best columns. A token-less page has
    one placeholder row."""
    if not words:
        return [(url,) + (None,) * 6 + (False,) + (None,) * 7]
    rows = []
    for i, (w, d) in enumerate(zip(words, decisions)):
        _piece, _stat, b, h, sel, gold0, gold, kbest, word = d
        flags = None if kbest is None else [in_dict[c] for c, _p in kbest]
        if h in ("kbest", "kdict"):
            sel_rank, selection = sel, str(sel)
        elif h == "annotator":
            sel_rank, selection = None, json.dumps(sel)
        else:
            sel_rank, selection = None, sel
        head = word is not None and word != w
        rows.append(
            (url, i, w, gold0, head, word is None, word, False)
            + (kbest, flags, b, h, sel_rank, selection, gold)
        )
    return rows
