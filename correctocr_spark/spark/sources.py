"""Token-table sources/sinks (S7/S9/S10/S15) and resource-prep jobs (S14).

The reference's MySQL token+kbest tables (docker/initdb.d/dbinit.sql)
become one denormalized parquet/Iceberg table with ``kbest`` as an
ordered array column; its tab-delimited CSV token dump with per-k columns
(fileio.py:44-53) and the externally-corrected CSV import
(commands.py:429-434, Token.from_dict) are kept for interchange.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .audit import DEFAULT_BUCKETS, with_partition_key

TOKEN_TABLE_COLS = [
    "url", "idx", "original", "gold", "head", "tail", "discarded",
    "kbest", "cand_in_dict", "bin", "heuristic", "sel_rank", "selection", "gold0",
]


def write_tokens(tokens: DataFrame, path: str, buckets: int = DEFAULT_BUCKETS) -> None:
    """S10: idempotent bucketed write — REPLACE-by-PK (_db.py:232-331)
    becomes partition overwrite keyed by url bucket."""
    (
        with_partition_key(tokens, buckets)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("pkey")
        .parquet(path)
    )


def read_tokens(spark: SparkSession, path: str) -> DataFrame:
    """S9: plain scan — the kbest array column removes the reference's
    1-to-k LEFT JOIN reassembly (_db.py:162-230) entirely."""
    return spark.read.parquet(path)


def export_tokens_csv(tokens: DataFrame, path: str, k: int = 4) -> None:
    """S7: the reference's tab-delimited token dump with per-k columns
    (fileio.py:44-53 header shape: Gold/Original/Doc ID/Index/...,
    ``N-best``/``N-best prob`` pairs)."""
    cols = [
        F.col("gold").alias("Gold"),
        F.col("original").alias("Original"),
        F.col("url").alias("Doc ID"),
        F.col("idx").alias("Index"),
        F.col("head").alias("Hyphenated"),
        F.col("discarded").alias("Discarded"),
        F.col("bin").alias("Bin"),
        F.col("heuristic").alias("Heuristic"),
        F.col("selection").alias("Selection"),
    ]
    for n in range(1, k + 1):
        item = F.element_at("kbest", n)
        cols.append(item["candidate"].alias(f"{n}-best"))
        cols.append(item["probability"].alias(f"{n}-best prob"))
    (
        tokens.select(*cols)
        .write.mode("overwrite")
        .option("sep", "\t")
        .option("header", True)
        .csv(path)
    )


def import_tokens_csv(spark: SparkSession, path: str, k: int = 4) -> DataFrame:
    """S15: externally-corrected CSV back to the token-table shape
    (the ``--apply`` path, commands.py:429-434)."""
    raw = spark.read.option("sep", "\t").option("header", True).csv(path)
    kbest = F.array(
        *[
            F.struct(
                F.col(f"`{n}-best`").alias("candidate"),
                F.col(f"`{n}-best prob`").cast("double").alias("probability"),
            )
            for n in range(1, k + 1)
        ]
    )
    return raw.select(
        F.col("`Doc ID`").alias("url"),
        F.col("Index").cast("int").alias("idx"),
        F.col("Original").alias("original"),
        F.col("Gold").alias("gold"),
        F.col("Hyphenated").cast("boolean").alias("head"),
        F.col("Discarded").cast("boolean").alias("discarded"),
        F.col("Bin").cast("int").alias("bin"),
        F.col("Heuristic").alias("heuristic"),
        F.col("Selection").alias("selection"),
        kbest.alias("kbest"),
    )


def _clean_word_col(col):
    """``Dictionary.add`` cleaning (dictionary.py:68-90) as a column:
    strip hyphens/soft-hyphens, then leading/trailing non-word chars."""
    return F.regexp_replace(
        F.regexp_replace(col, r"[\xad-]", ""), r"^[\W_]+|[\W_]+$", ""
    )


def build_dictionary_df(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """S14 (commands.py:31-169; the http/zip/TEI corpus walk is
    `.corpus.corpus_dictionary_df`): gold corpus -> cleaned distinct
    dictionary words. Cleaning matches ``Dictionary.add``
    (dictionary.py:68-90): strip hyphens/punctuation, drop
    non-letter-bearing strings."""
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    exploded = docs.select(F.explode(words).alias("raw"))
    cleaned = _clean_word_col(F.col("raw"))
    return (
        exploded.select(cleaned.alias("word"))
        .where((F.col("word") != "") & F.col("word").rlike(r"\p{L}"))
        .distinct()
    )


def term_index(
    tokens: DataFrame,
    tagged_terms: dict,
    min_run: int = 2,
) -> DataFrame:
    """S17/J6 (commands.py:478-566): term-match runs -> index rows.

    Per consolidated token the key is ``(gold or original)`` stripped of
    surrounding punctuation/whitespace, lowercased; a token matches if
    the key is in any term list (collecting all matching tags). Runs of
    consecutive matching tokens with length > 1 (``min_run``) are
    emitted. Run grouping is the classic gaps-and-islands double
    row_number; term membership is a broadcast-literal lookup.
    """
    from pyspark.sql import Window

    toks = tokens.where(~F.col("tail") & ~F.col("discarded") & F.col("idx").isNotNull())
    string = F.coalesce("gold", "original")
    key = F.lower(F.regexp_replace(string, r"^[\W_\s]+|[\W_\s]+$", ""))
    tag_cols = []
    for tag, terms in sorted(tagged_terms.items()):
        term_arr = F.array(*[F.lit(t) for t in terms])
        tag_cols.append(F.when(F.array_contains(term_arr, key), F.lit(tag)))
    tags = F.array_compact(F.array(*tag_cols))
    t = toks.select(
        "url", "idx", string.alias("string"), key.alias("key"), tags.alias("tags")
    ).withColumn("matched", (F.size("tags") > 0) & (F.col("key") != ""))

    w_all = Window.partitionBy("url").orderBy("idx")
    w_matched = Window.partitionBy("url", "matched").orderBy("idx")
    islands = t.withColumn(
        "island", F.row_number().over(w_all) - F.row_number().over(w_matched)
    ).where(F.col("matched"))
    return (
        islands.groupBy("url", "island")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.array_join(
                F.sort_array(F.collect_list(F.struct("idx", "string")))["string"], " "
            ).alias("run_text"),
            F.array_join(
                F.array_sort(F.array_distinct(F.flatten(F.collect_list("tags")))), ","
            ).alias("run_tags"),
            F.min("idx").alias("start_idx"),
        )
        .where(F.col("n_tokens") >= min_run)
        .select("url", "start_idx", "n_tokens", "run_text", "run_tags")
    )


def apply_memoized_corrections(tokens: DataFrame, memo: dict) -> DataFrame:
    """J7: ``memoized_corrections`` map-side lookup (correcter.py:130-131)
    — resolve annotator-deferred tokens whose original has a known
    correction. Broadcast map -> CASE WHEN; no join."""
    if not memo:
        return tokens
    mapping = F.create_map(*[F.lit(x) for kv in memo.items() for x in kv])
    hit = mapping[F.col("original")]
    return tokens.withColumn(
        "gold",
        F.when(
            (F.col("heuristic") == "annotator")
            & (F.col("gold").isNull() | (F.col("gold") == ""))
            & hit.isNotNull(),
            hit,
        ).otherwise(F.col("gold")),
    )


def correction_tracking(tokens: DataFrame) -> DataFrame:
    """A4 producer: per (original, gold) correction counts — the feedback
    artifact the reference's interactive shell accumulates
    (correcter.py:99-101) and ``_apply`` persists (commands.py:444-450)."""
    return (
        tokens.where(
            F.col("gold").isNotNull()
            & (F.col("gold") != "")
            & (F.col("gold") != F.col("original"))
        )
        .groupBy("original", "gold")
        .agg(F.count(F.lit(1)).alias("n"))
    )


class CorrectionFeedback:
    """The correction feedback loop (commands.py:444-451) as artifacts.

    Run 1 tracks corrections -> ``record`` merges them into a persistent
    tracking table; run 2 loads ``memoized_corrections`` and feeds them
    to :func:`apply_memoized_corrections`, so previously-seen fixes
    auto-apply to annotator-deferred tokens.

    Divergence, documented: for an original with several distinct golds
    the reference overwrites ``memoizedCorrections[original]`` while
    iterating count-DESC (commands.py:446-449), so the *least* frequent
    gold wins, tie order unreproducible (dict insertion order). We take
    the MOST frequent gold, ties by lexicographic gold — deterministic
    and statistically sane. The memo is Zipf-bounded (distinct corrected
    originals), so collecting it to a broadcast map is safe.
    """

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def _existing(self) -> Optional[DataFrame]:
        try:
            return self.spark.read.parquet(self.path)
        except Exception:
            return None

    def record(self, tokens: DataFrame) -> None:
        """Merge this run's correction counts into the tracking table
        (re-aggregated union — idempotent shape, one small shuffle)."""
        fresh = correction_tracking(tokens)
        old = self._existing()
        if old is not None:
            fresh = (
                old.unionByName(fresh)
                .groupBy("original", "gold")
                .agg(F.sum("n").alias("n"))
            )
        tmp = self.path + ".staging"
        fresh.write.mode("overwrite").parquet(tmp)
        self.spark.read.parquet(tmp).write.mode("overwrite").parquet(self.path)

    def memoized_corrections(self) -> dict:
        """tracking -> {original: best gold} (see class docstring)."""
        old = self._existing()
        if old is None:
            return {}
        w = Window.partitionBy("original").orderBy(F.desc("n"), F.asc("gold"))
        best = (
            old.withColumn("_r", F.row_number().over(w))
            .where(F.col("_r") == 1)
            .select("original", "gold")
        )
        return {r["original"]: r["gold"] for r in best.collect()}

    def apply(self, tokens: DataFrame) -> DataFrame:
        return apply_memoized_corrections(tokens, self.memoized_corrections())


def write_tokens_bucketed(
    tokens: DataFrame,
    table: str,
    buckets: int = DEFAULT_BUCKETS,
    sort_cols=("url", "idx"),
) -> None:
    """S10 at cluster scale: the token table as a BUCKETED managed table
    — hash-bucketed by url and sorted by (url, idx) within buckets.

    Every downstream per-document operation (the finalize groupBy, the
    tail-copy window, J1-style joins against kbest/memo tables bucketed
    the same way, the resume anti-join) then reads its key co-located
    and pre-sorted: SortMergeJoin with ZERO Exchange on the token side
    (pinned by test_bucketed_token_join_no_shuffle). On Iceberg this is
    the ``bucket(N, url)`` partition transform; the parquet managed
    table is the sandbox twin. The write itself shuffles once — paid at
    ingest, amortized over every later pass.
    """
    (
        tokens.write.mode("overwrite")
        .bucketBy(buckets, "url")
        .sortBy(*sort_cols)
        .format("parquet")
        .saveAsTable(table)
    )


def read_tokens_bucketed(spark: SparkSession, table: str) -> DataFrame:
    """S9 twin of :func:`write_tokens_bucketed` (bucket metadata only
    survives through the catalog, not ``read.parquet``)."""
    return spark.table(table)


def apply_memoized_corrections_join(tokens: DataFrame, memo: DataFrame) -> DataFrame:
    """J7, join form: for memo tables beyond literal-map size the lookup
    becomes a plain left join on ``original`` (AQE broadcasts it while it
    fits; beyond that it is a hash join on a near-unique key). Same
    semantics as :func:`apply_memoized_corrections`."""
    m = memo.select("original", F.col("gold").alias("_memo_gold"))
    hit = F.col("_memo_gold")
    return (
        tokens.join(m, on="original", how="left")
        .withColumn(
            "gold",
            F.when(
                (F.col("heuristic") == "annotator")
                & (F.col("gold").isNull() | (F.col("gold") == ""))
                & hit.isNotNull(),
                hit,
            ).otherwise(F.col("gold")),
        )
        .drop("_memo_gold")
    )
