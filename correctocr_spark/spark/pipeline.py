"""The correction pipeline as Spark plans.

Reference chain (document.py:166-242):
``tokenize -> dehyphenate -> kbest -> bin -> autocorrect -> reassemble``.
``corrected()`` has two plans for it.

``auto`` (default) — one ``mapInPandas`` over the pages, and no Spark job
before the caller's action. Per task, and per Arrow batch:

1. extract each page once (``kernels/extract.py``), or take ``text``
   when ``use_html=False``;
2. tokenize and dehyphenate it once;
3. beam the batch's consolidated words that the task has not seen yet in
   one ``kbest_for_words`` call (the prefix-shared batched beam, bitwise
   equal to the scalar beam) into a task-local word -> k-best map;
4. run ``kernels.pipeline.correct_tokens`` on those same tokens; the
   differential oracle ``correct_document`` runs the same function.

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
  reference beams them once per process.

``join`` — the token table (``tokens()``, which the CLI's report and
index commands also read), reassembled per url:

1. **extract + tokenize + dehyphenate** (``tokens_raw``, one
   ``mapInPandas``): all doc-local sequence logic — hyphen marks, tail
   gold-clears, punctuation gold, *merged* consolidated words — is
   computed inside the UDF, so no window/shuffle is spent on it;
2. **k-best**: ``distinct(cons_word) -> beam UDF -> join back``
   (``kbest_table``, ``with_kbest``); AQE turns the join into a broadcast
   when the vocabulary is small, and the shuffle join survives any
   vocabulary size;
3. **bin** (pandas UDF over (original, k1, candidate-dict-flags)): bin
   selection is boolean algebra (heuristics.py:317-358);
4. **tail copy + autocorrect**: ``lag()`` over ``(url, idx)`` copies the
   head's decision onto the hyphen tail (heuristics.py:105-110), then a
   ``CASE WHEN`` chain implements document.py:231-239;
5. **finalize**: ``groupBy(url)`` + ``sort_array(collect_list)`` + one
   batched pandas UDF reassembles both contract surfaces byte-exactly
   (gold sink tokens/_text.py:47-54 and the hyphen-merged ``__str__``
   _super.py:67-79) plus per-doc stats.
"""

from __future__ import annotations

from typing import Iterator, Optional

import pandas as pd
import pyarrow as pa

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type

from ..kernels.hmm import kbest_arrays, kbest_for_words
from ..kernels.pipeline import (
    Tok,
    consolidated,
    correct_tokens,
    dehyphenate,
    doc_bin_counts,
    doc_stats,
    doc_to_string,
    gold_sink_text,
    tokenize_doc,
)
from ..kernels.extract import extract_text
from .resources import Resources, default_resources

TOKEN_STRUCT = T.StructType(
    [
        T.StructField("idx", T.IntegerType(), False),
        T.StructField("original", T.StringType(), False),
        T.StructField("gold0", T.StringType(), True),
        T.StructField("head", T.BooleanType(), False),
        T.StructField("tail", T.BooleanType(), False),
        T.StructField("cons_word", T.StringType(), True),
    ]
)

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

DECISION_STRUCT = T.StructType(
    [
        T.StructField("bin", T.IntegerType(), True),
        T.StructField("heuristic", T.StringType(), True),
        T.StructField("sel_rank", T.IntegerType(), True),
        T.StructField("selection", T.StringType(), True),
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


def _tokenize_rows(text: Optional[str]):
    """Doc-local stages 2: tokenize, dehyphenate, consolidated originals."""
    toks = tokenize_doc(text or "")
    dehyphenate(toks)
    n = len(toks)
    rows = []
    i = 0
    tail_flags = [False] * n
    # a tail is the token immediately after a head (consumed by the
    # iterator in dehyphenate/consolidated — cannot itself be a head)
    for t in toks:
        if t.is_hyphenated and t.index + 1 < n:
            tail_flags[t.index + 1] = True
    for t in toks:
        if tail_flags[t.index]:
            cons = None
        elif t.is_hyphenated:
            nxt = toks[t.index + 1].original if t.index + 1 < n else "-"
            cons = t.original + nxt
        else:
            cons = t.original
        rows.append(
            {
                "idx": t.index,
                "original": t.original,
                "gold0": t.gold,
                "head": t.is_hyphenated,
                "tail": tail_flags[t.index],
                "cons_word": cons,
            }
        )
    return rows


class CorrectionPipeline:
    def __init__(
        self,
        spark: SparkSession,
        resources: Optional[Resources] = None,
        dehyphenate: bool = True,
        use_html: bool = True,
        broadcast_kbest: Optional[bool] = None,
        parallelism: int = 0,
    ):
        self.spark = spark
        self.resources = resources or default_resources()
        self.k = self.resources.k
        self.use_html = use_html
        self.dehyphenate = dehyphenate
        self.broadcast_kbest = broadcast_kbest
        # CPU-dense UDF stages must NOT be partitioned by shuffle bytes:
        # AQE's coalescing targets ~64MB/partition, which serializes a
        # stage whose cost is compute-per-row (the beam runs ~10^4 flops
        # per word on a few dozen bytes). Explicit repartition pins the
        # parallelism for those exchanges.
        self.parallelism = parallelism or spark.sparkContext.defaultParallelism * 2
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

    # -- stage 2: extract + tokenize + dehyphenate ---------------------------

    def _page_cols(self):
        return ["url", "html", "text"] if self.use_html else ["url", "text"]

    def tokens_raw(self, pages: DataFrame) -> DataFrame:
        """One mapInPandas for extract+tokenize+dehyphenate.

        A single Python UDF per stage matters: Spark gives each Python
        UDF in a pipelined stage its *own* worker process per task, so
        chaining extract|tokenize as two UDFs doubles the Python process
        count and oversubscribes the box at high ``local[N]``.

        Token-less docs (empty/unextractable pages) keep one all-null
        placeholder row so they still reach the output + audit —
        otherwise resume would re-process them forever.
        """
        dehyph = self.dehyphenate
        texts_of = _make_texts_of(self.use_html)
        fields = [f.name for f in TOKEN_STRUCT.fields]
        empty_row = {f: None for f in fields}

        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                rows = []
                for url, text in zip(pdf["url"], texts_of(pdf)):
                    trs = (
                        _tokenize_rows(text) if dehyph else _tokenize_rows_nodehyph(text)
                    )
                    if not trs:
                        r = dict(empty_row)
                        r["url"] = url
                        rows.append(r)
                    for r in trs:
                        r["url"] = url
                        rows.append(r)
                yield pd.DataFrame(rows, columns=["url"] + fields)

        schema = T.StructType(
            [T.StructField("url", T.StringType(), False)]
            + [
                T.StructField(f.name, f.dataType, True)  # nullable: placeholder rows
                for f in TOKEN_STRUCT.fields
            ]
        )
        return (
            pages.select(*self._page_cols())
            .mapInPandas(run, schema=schema)
            .withColumn("discarded", F.lit(False))
        )

    # -- stage 3: distinct-word k-best + join back ---------------------------

    def kbest_table(self, tokens: DataFrame) -> DataFrame:
        b_res = self._b_res
        k = self.k

        @F.arrow_udf(KBEST_STRUCT)  # Iterator -> Iterator: SCALAR_ITER
        def kbest_udf(batches: Iterator[pa.Array]) -> Iterator[pa.Array]:
            res: Resources = b_res.value
            d = res.dictionary
            out_fields = list(to_arrow_type(KBEST_STRUCT))
            kbest_type, flags_type = (f.type for f in out_fields)
            for words in batches:
                # prefix-shared beam over the batch, bitwise-identical to
                # the scalar beam (kernels/hmm.py::kbest_arrays)
                cands, probs, offsets = kbest_arrays(res.params, words.to_pylist(), k)
                cands = cands.tolist()
                in_dict = {c: c in d for c in set(cands)}
                offs = pa.array(offsets, pa.int32())
                pairs = pa.StructArray.from_arrays(
                    [pa.array(cands, pa.string()), pa.array(probs)],
                    fields=list(kbest_type.value_type),
                )
                flags = pa.array([in_dict[c] for c in cands], pa.bool_())
                yield pa.StructArray.from_arrays(
                    [
                        pa.ListArray.from_arrays(offs, pairs, type=kbest_type),
                        pa.ListArray.from_arrays(offs, flags, type=flags_type),
                    ],
                    fields=out_fields,
                )

        words = (
            tokens.where(F.col("cons_word").isNotNull())
            .select("cons_word")
            .distinct()
            .repartition(self.parallelism)  # compute-dense: see __init__
        )
        return words.select(
            "cons_word", kbest_udf(F.col("cons_word")).alias("kb")
        ).select("cons_word", "kb.kbest", "kb.cand_in_dict")

    def with_kbest(
        self, tokens: DataFrame, salt: int = 0, kb: Optional[DataFrame] = None
    ) -> DataFrame:
        """Join the per-distinct-word k-best back onto the token table.

        Word keys are Zipf-skewed ('the' is a meaningful fraction of all
        tokens); with a broadcast the skew is irrelevant, and AQE's
        skew-join splitting handles the sort-merge case. ``salt > 0``
        adds *explicit* salting for clusters without AQE: the token side
        gets a random-ish salt from (url, idx), the k-best side is
        exploded x salt, and the join key becomes (word, salt) — hot
        words spread over ``salt`` reducers.

        ``kb``: a precomputed (cons_word, kbest, cand_in_dict) table —
        the auto->join fallback passes the already-persisted vocabulary
        beam so it is never recomputed (one beam pass per corpus)."""
        if kb is None:
            kb = self.kbest_table(tokens)
        if self.broadcast_kbest:
            kb = F.broadcast(kb)
        if salt <= 0:
            return tokens.join(kb, on="cons_word", how="left")
        salted = tokens.withColumn(
            "_salt", F.pmod(F.xxhash64("url", "idx"), F.lit(salt)).cast("int")
        )
        kb_salted = kb.withColumn(
            "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
        )
        return salted.join(kb_salted, on=["cons_word", "_salt"], how="left").drop("_salt")

    # -- stage 4: heuristic bins ---------------------------------------------

    def with_decisions(self, tokens: DataFrame) -> DataFrame:
        b_res = self._b_res

        @F.pandas_udf(DECISION_STRUCT)
        def bin_udf(
            batches: Iterator[pd.DataFrame],
        ) -> Iterator[pd.DataFrame]:
            import json

            import numpy as np

            res: Resources = b_res.value
            d = res.dictionary
            settings = res.settings
            in_dict_memo: dict = {}

            for pdf in batches:
                n = len(pdf)
                orig = pdf["original"]
                k1 = pdf["k1"]
                valid = k1.notna().to_numpy()
                # candidate dict flags -> (n, k) matrix; invalid rows
                # all-False. Models with fewer than k states return
                # SHORTER k-best lists — fill the prefix and track the
                # per-row candidate count (dcode compares n_in against
                # len(kbest), heuristics.py:116-121, not against k).
                kk = res.k
                flags = np.zeros((n, kk), dtype=bool)
                n_cand = np.full(n, kk, dtype=np.int64)
                for i, f in enumerate(pdf["cand_in_dict"]):
                    if f is not None:
                        m = min(len(f), kk)
                        flags[i, :m] = f[:m]
                        n_cand[i] = len(f)
                n_in = flags.sum(axis=1)
                first_rank = flags.argmax(axis=1) + 1  # first in-dict rank
                o_eq_k = (orig == k1).to_numpy(dtype=bool)
                # dictionary predicate per distinct raw original (memoized)
                uniq = orig[valid].unique()
                for w in uniq:
                    if w not in in_dict_memo:
                        in_dict_memo[w] = w in d
                o_in_d = orig.map(in_dict_memo).to_numpy(dtype=bool, na_value=False)
                k_in_d = flags[:, 0]
                zerokd = n_in == 0
                somekd = (n_in > 0) & (n_in < n_cand)
                # heuristics.py:317-358 as np.select (first match wins)
                conds = [
                    o_eq_k & o_in_d,
                    o_eq_k & ~o_in_d & zerokd,
                    o_eq_k & ~o_in_d & somekd,
                    ~o_eq_k & ~o_in_d & k_in_d,
                    ~o_eq_k & ~o_in_d & zerokd,
                    ~o_eq_k & ~k_in_d & ~o_in_d & somekd,
                    ~o_eq_k & o_in_d & k_in_d,
                    ~o_eq_k & o_in_d & zerokd,
                    ~o_eq_k & o_in_d & ~k_in_d & somekd,
                ]
                bins = np.select(conds, list(range(1, 10)), default=10)
                heur = pd.Series(bins).map(settings).to_numpy(dtype=object)
                # 'kdict' with zero in-dictionary candidates is the
                # reference's filtids[0] IndexError (heuristics.py:132);
                # the kernel (bin_for_word, run by the ``auto`` plan)
                # raises there, so this plan must too — the two plans
                # stay result-identical for every (settings, input).
                kd_bad = (heur == "kdict") & (n_in == 0) & valid
                if kd_bad.any():
                    raise IndexError(
                        "kdict heuristic selected for a token with no "
                        "in-dictionary candidates (reference "
                        "heuristics.py:132 filtids[0])"
                    )
                sel_rank = np.select(
                    [heur == "kbest", heur == "kdict"], [np.ones(n, dtype=np.int64), first_rank], default=0
                )
                out = pd.DataFrame(
                    {
                        "bin": pd.array(np.where(valid, bins, 0), dtype="Int32"),
                        "heuristic": pd.Series(np.where(valid, heur, None), dtype=object),
                        "sel_rank": pd.array(np.where(valid, sel_rank, 0), dtype="Int32"),
                    }
                )
                out.loc[~valid, "bin"] = None
                out.loc[out["sel_rank"] == 0, "sel_rank"] = None
                # selection repr (token-table parity column; cheap paths
                # vectorized, annotator filtids JSON only where needed)
                selection = np.where(heur == "original", orig, None)
                selection = np.where(heur == "kbest", "1", selection)
                kd = heur == "kdict"
                if kd.any():
                    selection[kd] = first_rank[kd].astype(str)
                ann = (heur == "annotator") & valid
                if ann.any():
                    for i in np.flatnonzero(ann):
                        selection[i] = json.dumps((np.flatnonzero(flags[i]) + 1).tolist())
                out["selection"] = pd.Series(np.where(valid, selection, None), dtype=object)
                yield out

        with_k1 = tokens.withColumn("k1", F.element_at("kbest", 1)["candidate"])
        dec = with_k1.withColumn(
            "dec",
            bin_udf(F.struct("original", "k1", "cand_in_dict")),
        ).select("*", "dec.*").drop("dec", "k1")

        # heuristics.py:105-110 — tail inherits the head's decision.
        # One struct-valued lag (single pass); the explicit repartition
        # pins parallelism for this exchange AND the finalize groupBy,
        # which reuses the same hash partitioning (one shuffle total).
        dec = dec.repartition(self.parallelism, "url")
        w = Window.partitionBy("url").orderBy("idx")
        prev = F.lag(F.struct("bin", "heuristic", "sel_rank", "selection")).over(w)
        tail = F.col("tail")
        return (
            dec.withColumn("_prev", prev)
            .withColumn("bin", F.when(tail, F.col("_prev.bin")).otherwise(F.col("bin")))
            .withColumn("heuristic", F.when(tail, F.col("_prev.heuristic")).otherwise(F.col("heuristic")))
            .withColumn("sel_rank", F.when(tail, F.col("_prev.sel_rank")).otherwise(F.col("sel_rank")))
            .withColumn("selection", F.when(tail, F.col("_prev.selection")).otherwise(F.col("selection")))
            .drop("_prev")
        )

    # -- stage 5: autocorrect (native CASE WHEN; document.py:231-239) --------

    @staticmethod
    def _autocorrect_col() -> Column:
        gold0 = F.col("gold0")
        return (
            F.when(gold0.isNotNull() & (gold0 != F.lit("")), gold0)
            .when(
                F.col("heuristic").isin("kbest", "kdict"),
                F.coalesce(
                    F.element_at("kbest", F.col("sel_rank"))["candidate"], F.lit("")
                ),
            )
            .when(F.col("heuristic") == "original", F.col("original"))
            .otherwise(gold0)
        )

    def tokens(
        self, pages: DataFrame, salt: int = 0, kb: Optional[DataFrame] = None
    ) -> DataFrame:
        """The full token table — the engine's relational data model
        (FIXTURES.md §6; mirrors the reference DDL with kbest as an
        ordered array column instead of a joined table)."""
        t = self.tokens_raw(pages)
        t = self.with_kbest(t, salt=salt, kb=kb)
        t = self.with_decisions(t)
        return t.withColumn("gold", self._autocorrect_col())

    # -- corrected documents ----------------------------------------------------

    def corrected(self, pages: DataFrame, strategy: str = "auto") -> DataFrame:
        """Corrected documents, one row per url. ``auto`` is the one-pass
        plan, ``join`` the token-table plan (see the module docstring)."""
        if strategy == "join":
            return self.finalize(self.tokens(pages))
        if strategy != "auto":
            raise ValueError(f"unknown strategy {strategy!r}: expected 'auto' or 'join'")
        b_res = self._b_res
        k = self.k
        dehyph = self.dehyphenate
        texts_of = _make_texts_of(self.use_html)
        columns = [f.name for f in CORRECTED_SCHEMA.fields]

        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            res: Resources = b_res.value
            dictionary = res.dictionary
            kbest_map: dict = {}  # this task's words only
            decision_memo: dict = {}
            for pdf in batches:
                docs = []
                fresh: dict = {}  # insertion-ordered set
                for text in texts_of(pdf):
                    toks = tokenize_doc(text or "")
                    if dehyph:
                        dehyphenate(toks)
                    docs.append(toks)
                    for word, _gold, _tok in consolidated(toks):
                        if word not in kbest_map:
                            fresh[word] = None
                if fresh:
                    kbest_map.update(zip(fresh, kbest_for_words(res.params, list(fresh), k)))
                out = []
                for url, toks in zip(pdf["url"], docs):
                    r = correct_tokens(
                        toks, kbest_map.__getitem__, dictionary, res.settings, k, decision_memo
                    )
                    r["url"] = url
                    out.append(r)
                yield pd.DataFrame(out, columns=columns)

        source = "html" if self.use_html else "text"
        return pages.select("url", source).mapInPandas(run, schema=CORRECTED_SCHEMA)

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
                    toks = tokenize_doc(text or "")
                    if dehyph:
                        dehyphenate(toks)
                    for original, _gold, _t in consolidated(toks):
                        words.add(original)
                fresh = words - seen
                seen |= fresh
                yield pd.DataFrame({"cons_word": sorted(fresh)})

        return pages.select(*self._page_cols()).mapInPandas(
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
                    t = Tok.__new__(Tok)
                    t.index = int(r["idx"])
                    t.original = original
                    gold = r["gold"]
                    t.gold = gold if isinstance(gold, str) else None
                    t.is_hyphenated = bool(r["head"])
                    t.is_discarded = bool(r["discarded"])
                    t.has_error = False
                    t.kbest = []
                    b = r["bin"]
                    t.bin = int(b) if b is not None else None
                    h = r["heuristic"]
                    t.heuristic = h if isinstance(h, str) else None
                    t.selection = None
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


def _tokenize_rows_nodehyph(text: Optional[str]):
    toks = tokenize_doc(text or "")
    return [
        {
            "idx": t.index,
            "original": t.original,
            "gold0": t.gold,
            "head": False,
            "tail": False,
            "cons_word": t.original,
        }
        for t in toks
    ]
