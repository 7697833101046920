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
4. run ``kernels.pipeline.correct_tokens`` on those same tokens, with
   the task's dictionary answers memoized per word (``_InDict``, as in
   the join plan); the differential oracle ``correct_document`` runs the
   same function.

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

``join`` — the token plan: three Python passes over one token stream,
shared by ``corrected(strategy="join")`` and the token table
(``tokens()``, which the CLI's report and index commands read):

1. **tokenize** (``tokens_raw``, one ``mapInPandas`` over the pages):
   extract, tokenize and dehyphenate each page once. All doc-local
   sequence logic — hyphen marks, tail gold-clears, punctuation gold,
   *merged* consolidated words — is computed here, one row per token and
   one all-null placeholder row per token-less page;
2. **beam** (``repartition(parallelism, coalesce(cons_word, url))`` + one
   ``mapInArrow``): each task beams the words new to it in one
   ``kbest_for_words`` call per Arrow batch and attaches each row's
   k-best and candidate dictionary flags. Hashing on the word co-locates
   a word's rows, so each corpus word is beamed once, with no
   ``distinct`` and no join; correctness does not depend on it. A Zipf-hot
   word puts its rows in one task, but costs one beam there; ``tokens(salt=n)``
   adds ``n`` row-hash buckets to the key to spread them;
3. **correct** (``repartition(parallelism, url)`` +
   ``sortWithinPartitions(url, idx)`` + one ``mapInArrow``): each url's
   rows rebuild its ``Tok`` list, and ``correct_tokens`` — the function
   ``auto`` and the oracle run — bins, autocorrects and reassembles it,
   emitting one ``CORRECTED_SCHEMA`` row per url or the token table's
   decision columns per token. The candidates' dictionary flags from
   pass 2 answer the kernel's dictionary probes.

Passes 2 and 3 are ``mapInArrow``: the k-best column crosses as Arrow,
and only a word's first row in a task becomes Python objects.
"""

from __future__ import annotations

import json
from typing import Iterator, List, Optional, Tuple

import pandas as pd
import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema, to_arrow_type

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

# tokens_raw's rows; every column is nullable for the placeholder rows
RAW_TOKENS_SCHEMA = T.StructType(
    [T.StructField("url", T.StringType(), False)]
    + [T.StructField(f.name, f.dataType, True) for f in TOKEN_STRUCT.fields]
)

# the beam pass's rows: k-best is null on hyphen tails and placeholders
KBEST_TOKENS_SCHEMA = T.StructType(
    RAW_TOKENS_SCHEMA.fields
    + [T.StructField("discarded", T.BooleanType(), False)]
    + [T.StructField(f.name, f.dataType, True) for f in KBEST_STRUCT.fields]
)
_KBEST_TOKENS_ARROW = to_arrow_schema(KBEST_TOKENS_SCHEMA)

# the token table: the beam pass's rows plus the kernel's decisions
TOKEN_TABLE_SCHEMA = T.StructType(
    KBEST_TOKENS_SCHEMA.fields
    + [
        T.StructField("bin", T.IntegerType(), True),
        T.StructField("heuristic", T.StringType(), True),
        T.StructField("sel_rank", T.IntegerType(), True),
        T.StructField("selection", T.StringType(), True),
        T.StructField("gold", T.StringType(), True),
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
        parallelism: int = 0,
    ):
        self.spark = spark
        self.resources = resources or default_resources()
        self.k = self.resources.k
        self.use_html = use_html
        self.dehyphenate = dehyphenate
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

        def tokenize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
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

        return (
            pages.select(*self._page_cols())
            .mapInPandas(tokenize, schema=RAW_TOKENS_SCHEMA)
            .withColumn("discarded", F.lit(False))
        )

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
            .repartition(self.parallelism)  # compute-dense: see __init__
        )
        return words.select(
            "cons_word", kbest_udf(F.col("cons_word")).alias("kb")
        ).select("cons_word", "kb.kbest", "kb.cand_in_dict")

    # -- the token plan: the token table and corrected(strategy="join") ---------

    def tokens(self, pages: DataFrame, salt: int = 0) -> DataFrame:
        """The full token table — the engine's relational data model
        (FIXTURES.md §6; mirrors the reference DDL with kbest as an
        ordered array column instead of a joined table), one row per
        token and one all-null placeholder row per token-less page.

        ``salt > 0`` spreads each word's rows over up to ``salt`` word
        shuffle partitions (a hot word is then beamed once per partition
        that holds it); the table is the same for every ``salt``."""
        return self._correct_by_url(self._tokens_kbest(pages, salt), per_token=True)

    def _tokens_kbest(self, pages: DataFrame, salt: int) -> DataFrame:
        """Passes 1 and 2: ``tokens_raw``, then the word shuffle and the
        beam pass, which attaches each row's k-best (null on hyphen tails
        and placeholder rows)."""
        b_res = self._b_res
        k = self.k

        def attach_kbest(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
            res: Resources = b_res.value
            in_dict = _InDict(res.dictionary)
            kbest_map: dict = {}  # this task's words only
            for batch in batches:
                slot: dict = {}  # the batch's distinct words -> position
                rows = [
                    None if w is None else slot.setdefault(w, len(slot))
                    for w in _pylist(batch.column("cons_word"))
                ]
                fresh = [w for w in slot if w not in kbest_map]
                if fresh:
                    kbest_map.update(zip(fresh, kbest_for_words(res.params, fresh, k)))
                cands, probs, offsets = [], [], [0]
                for w in slot:
                    for c, p in kbest_map[w]:
                        cands.append(c)
                        probs.append(p)
                    offsets.append(len(cands))
                take = pa.array(rows, pa.int32())
                columns = [a.take(take) for a in _kbest_lists(cands, probs, offsets, in_dict)]
                yield pa.RecordBatch.from_arrays(batch.columns + columns, schema=_KBEST_TOKENS_ARROW)

        raw = self.tokens_raw(pages)
        # co-locate each word's rows, so that a word is beamed by one task;
        # the result does not depend on where a row lands
        key = [F.coalesce("cons_word", "url")]
        if salt > 0:
            key.append(F.pmod(F.xxhash64("url", "idx"), F.lit(salt)))
        return raw.repartition(self.parallelism, *key).mapInArrow(attach_kbest, schema=KBEST_TOKENS_SCHEMA)

    def _correct_by_url(self, tokens: DataFrame, per_token: bool) -> DataFrame:
        """Pass 3: each url's rows in ``idx`` order rebuild its ``Tok``
        list, and ``correct_tokens`` (the kernel ``auto`` and the oracle
        run) corrects it. Emits the token table (``per_token``) or one
        ``CORRECTED_SCHEMA`` row per url."""
        b_res = self._b_res
        k = self.k
        schema = TOKEN_TABLE_SCHEMA if per_token else CORRECTED_SCHEMA
        arrow_schema = to_arrow_schema(schema)

        def correct(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
            res: Resources = b_res.value
            in_dict = _InDict(res.dictionary)
            kbest_map: dict = {}  # this task's words only
            decision_memo: dict = {}
            for table in _whole_urls(batches):
                url, original, gold0, words = (
                    _pylist(table.column(c)) for c in ("url", "original", "gold0", "cons_word")
                )
                idx = _pylist(table.column("idx").fill_null(-1))
                head = _pylist(table.column("head").fill_null(False))
                # the k-best of each word new to the task, from its first row;
                # its candidates' flags answer the kernel's dictionary probes
                first: dict = {}
                for i, w in enumerate(words):
                    if w is not None and w not in kbest_map and w not in first:
                        first[w] = i
                if first:
                    kbests, cands, flags = _rows_kbest(table, list(first.values()))
                    kbest_map.update(zip(first, kbests))
                    in_dict.update(zip(cands, flags))
                docs: List[Tuple[str, List[Tok]]] = []
                row_toks: List[Optional[Tok]] = []
                for i, u in enumerate(url):
                    if not docs or docs[-1][0] != u:
                        docs.append((u, []))
                    t = None
                    if original[i] is not None:  # else a token-less page's placeholder
                        t = _restored_tok(idx[i], original[i], gold0[i], head[i])
                        docs[-1][1].append(t)
                    row_toks.append(t)
                out = []
                for u, toks in docs:
                    r = correct_tokens(
                        toks, kbest_map.__getitem__, in_dict, res.settings, k, decision_memo
                    )
                    r["url"] = u
                    out.append(r)
                if per_token:
                    decided = zip(*(_token_decision(t) for t in row_toks))
                    added = [pa.array(c, f.type) for c, f in zip(decided, list(arrow_schema)[-5:])]
                    yield from pa.Table.from_arrays(table.columns + added, schema=arrow_schema).to_batches()
                else:  # the schema picks its columns from each record
                    yield pa.RecordBatch.from_pylist(out, schema=arrow_schema)

        return (
            tokens.repartition(self.parallelism, "url")
            .sortWithinPartitions("url", "idx")
            .mapInArrow(correct, schema=schema)
        )

    # -- corrected documents ----------------------------------------------------

    def corrected(self, pages: DataFrame, strategy: str = "auto") -> DataFrame:
        """Corrected documents, one row per url. ``auto`` is the one-pass
        plan, ``join`` the token plan (see the module docstring)."""
        if strategy == "join":
            return self._correct_by_url(self._tokens_kbest(pages, 0), per_token=False)
        if strategy != "auto":
            raise ValueError(f"unknown strategy {strategy!r}: expected 'auto' or 'join'")
        b_res = self._b_res
        k = self.k
        dehyph = self.dehyphenate
        texts_of = _make_texts_of(self.use_html)
        columns = [f.name for f in CORRECTED_SCHEMA.fields]

        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            res: Resources = b_res.value
            in_dict = _InDict(res.dictionary)
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
                        toks, kbest_map.__getitem__, in_dict, res.settings, k, decision_memo
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

    def __contains__(self, word: str) -> bool:
        return self[word]


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


def _pylist(values) -> list:
    """``values.to_pylist()`` for a flat column without integer nulls,
    through numpy: an order of magnitude faster."""
    return values.to_numpy(zero_copy_only=False).tolist()


def _rows_kbest(table: pa.Table, rows: List[int]):
    """The k-best lists on ``rows`` of a beam-pass table, plus the flat
    candidates and their ``cand_in_dict`` flags."""
    take = pa.array(rows, pa.int64())
    kbest = table.column("kbest").take(take).combine_chunks()
    cands, probs = (_pylist(a) for a in kbest.flatten().flatten())
    flags = _pylist(table.column("cand_in_dict").take(take).combine_chunks().flatten())
    pairs = list(zip(cands, probs))
    kbests, lo = [], 0
    for n in _pylist(kbest.value_lengths()):
        kbests.append(pairs[lo : lo + n])
        lo += n
    return kbests, cands, flags


def _whole_urls(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.Table]:
    """Regroup url-sorted batches so that no url's rows are split between
    two yielded tables (a document may span Arrow batches)."""
    held: List[pa.RecordBatch] = []
    for batch in batches:
        urls = _pylist(batch.column("url"))
        if not urls:
            continue
        cut = len(urls)  # first row of the batch's last url
        while cut and urls[cut - 1] == urls[-1]:
            cut -= 1
        if cut:
            held.append(batch.slice(0, cut))
            yield pa.Table.from_batches(held)
            held = []
        held.append(batch.slice(cut))
    if held:
        yield pa.Table.from_batches(held)


def _restored_tok(index: int, original: str, gold: Optional[str], head: bool) -> Tok:
    """A token as ``tokens_raw`` left it: tokenized and dehyphenated,
    without the constructor's punctuation probe (``gold`` carries it)."""
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


def _token_decision(t: Optional[Tok]) -> tuple:
    """A corrected token's ``(bin, heuristic, sel_rank, selection, gold)``
    token-table columns; all null for a placeholder row."""
    if t is None:
        return (None,) * 5
    h, sel = t.heuristic, t.selection
    if h in ("kbest", "kdict"):
        sel_rank, selection = sel, str(sel)
    elif h == "annotator":
        sel_rank, selection = None, json.dumps(sel)
    else:
        sel_rank, selection = None, sel
    return t.bin, h, sel_rank, selection, t.gold
