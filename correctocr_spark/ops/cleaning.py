"""Corpus-cleaning operators a large-scale training-data pipeline needs
beyond dedup: PII redaction, repetition (Gopher-style) quality signals,
TF-IDF term extraction, and benchmark decontamination.

All pure DataFrame algebra (no Python UDFs). Regex patterns are written
to the common subset of Java regex (Spark) and RE2 (DuckDB) so every
operator here is oracle-checkable cross-engine; floats are single
divisions rounded after, counts are integers.
"""

from __future__ import annotations

from typing import Dict, List, Optional, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..spark.warc import A_TAG_RE, ANCHOR_RE, HREF_RE
from .dedup import ensure_parallelism, normalized_words

#: PII patterns — deliberately simple, anchored forms valid in BOTH
#: Java regex and RE2 (no lookarounds, no backrefs).
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b(?:\d{1,3}\.){3}\d{1,3}\b"
PHONE_RE = r"\+?\d[\d()\- ]{6,}\d"


def pii_scrub(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Redact emails / IPv4s / phone-shaped digit runs, with counts.

    Scrub ORDER is part of the contract (email -> ipv4 -> phone, each
    applied to the previous step's output) so engines agree even when a
    later pattern could match inside an earlier one's replacement
    neighborhood. Counts are taken on the original text. One projection,
    scan-speed — the shape of every hot-path PII pass over a crawl.
    """
    text = F.col(text_col)
    scrubbed = F.regexp_replace(text, EMAIL_RE, "<EMAIL>")
    scrubbed = F.regexp_replace(scrubbed, IPV4_RE, "<IP>")
    scrubbed = F.regexp_replace(scrubbed, PHONE_RE, "<PHONE>")
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(F.regexp_extract_all(text, F.lit(EMAIL_RE), 0)).alias("n_emails"),
        F.size(F.regexp_extract_all(text, F.lit(IPV4_RE), 0)).alias("n_ipv4"),
        F.size(F.regexp_extract_all(text, F.lit(PHONE_RE), 0)).alias("n_phones"),
        scrubbed.alias("scrubbed"),
    )


def repetition_stats(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style repetition signals per document:

    - ``dup_line_frac``: 1 - distinct/total over non-blank ``\\n`` lines
      (row-local array algebra; 0.0 for single-line docs);
    - ``top_word_frac``: occurrences of the most frequent word / total
      words;
    - ``top_bigram_frac``: same at word-bigram granularity.

    Word/bigram stats are relational (explode -> count -> max/sum): the
    explode carries map-side partial aggregation and one shuffle keyed by
    (doc, gram) — the shape that survives 100 TB, vs an interpreted
    row-local frequency map. High values on any signal mark boilerplate
    and generation loops (the Gopher repetition filters).
    """
    lines = F.filter(
        F.split(F.col(text_col), "\n"), lambda ln: F.trim(ln) != ""
    )
    line_stats = docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(lines).cast("long").alias("n_lines"),
        F.when(
            F.size(lines) > 0,
            F.round(
                1 - F.size(F.array_distinct(lines)) / F.size(lines), 6
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_line_frac"),
    )
    words = ensure_parallelism(docs).select(
        F.col(id_col).alias("doc_id"),
        F.explode(normalized_words(text_col)).alias("w"),
    )
    word_stats = (
        words.groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("doc_id")
        .agg(
            F.round(F.max("n") / F.sum("n"), 6).alias("top_word_frac"),
            F.sum("n").alias("n_words"),
        )
    )
    warr = normalized_words(text_col)
    bigrams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(warr) - 2, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(warr, i + 1, 2)),
    )
    bigram_rows = (
        ensure_parallelism(docs)
        .where(F.size(warr) >= 2)
        .select(F.col(id_col).alias("doc_id"), F.explode(bigrams).alias("g"))
        .where(F.col("g").contains(" "))
    )
    bigram_stats = (
        bigram_rows.groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("doc_id")
        .agg(F.round(F.max("n") / F.sum("n"), 6).alias("top_bigram_frac"))
    )
    return (
        line_stats.join(word_stats, on="doc_id", how="left")
        .join(bigram_stats, on="doc_id", how="left")
        .select(
            "doc_id",
            "n_lines",
            "dup_line_frac",
            F.coalesce("n_words", F.lit(0)).alias("n_words"),
            F.coalesce("top_word_frac", F.lit(0.0)).alias("top_word_frac"),
            F.coalesce("top_bigram_frac", F.lit(0.0)).alias("top_bigram_frac"),
        )
    )


def truncate_docs(
    docs: DataFrame,
    max_tokens: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cap each document at its first ``max_tokens`` whitespace tokens —
    the context-length guard before sequence packing. Returns every doc
    with the (possibly shortened) text, its ORIGINAL token count, and a
    truncation flag; whitespace is normalized to single spaces in the
    output (the same canonical form the packer counts). Row-local slice,
    no shuffle."""
    ws = normalized_words(text_col)
    n = F.size(ws)
    return ensure_parallelism(docs).select(
        F.col(id_col).alias("doc_id"),
        F.concat_ws(" ", F.slice(ws, 1, max_tokens)).alias("text_trunc"),
        n.cast("long").alias("n_tokens"),
        (n > max_tokens).cast("long").alias("truncated"),
    )


def chunk_docs(
    docs: DataFrame,
    max_tokens: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split each document into consecutive ``max_tokens``-token chunks
    — the content-preserving complement of :func:`truncate_docs` for
    context-length preparation (a 10k-token page becomes ⌈10k/max⌉
    training rows instead of losing its tail). Returns
    ``(doc_id, chunk_idx, chunk_text, n_tokens)`` with ``chunk_idx``
    dense from 0 per doc and ``n_tokens`` the CHUNK's token count;
    whitespace normalizes to single spaces (the packer's canonical
    form). Every doc is represented: a wordless doc yields one empty
    chunk 0 (the same every-doc-returned policy as span removal).

    Scale shape: one row-local ``sequence``+``explode`` whose fan-out
    is ⌈doc/max⌉ — bounded by input size, no shuffle, no UDF; feed the
    output straight to ``pack_shards``/``deterministic_shuffle`` keyed
    on ``(doc_id, chunk_idx)``."""
    if max_tokens < 1:
        raise ValueError(f"max_tokens must be >= 1, got {max_tokens}")
    ws = normalized_words(text_col)
    n_chunks = F.greatest(
        F.lit(1), F.ceil(F.size("_ws") / F.lit(max_tokens))
    )
    chunk = F.explode(F.sequence(F.lit(0), (n_chunks - 1).cast("int")))
    # the word array materializes in its own projection BELOW the
    # Generate: a computed HOF next to an explode re-evaluates per
    # OUTPUT row (the dup_spans/bm25 O(len²) hazard)
    exploded = (
        ensure_parallelism(docs)
        .select(F.col(id_col).alias("doc_id"), ws.alias("_ws"))
        .select("doc_id", "_ws", chunk.alias("chunk_idx"))
    )
    piece = F.slice(
        F.col("_ws"), F.col("chunk_idx") * max_tokens + 1, max_tokens
    )
    return exploded.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.concat_ws(" ", piece).alias("chunk_text"),
        F.size(piece).cast("long").alias("n_tokens"),
    )


def ngram_repetition(
    docs: DataFrame,
    top_n: int = 3,
    dup_n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The Gopher n-gram repetition signals :func:`repetition_stats`
    stops short of: per document,

    - ``top_ngram_char_frac``: characters covered by occurrences of the
      single most frequent word ``top_n``-gram (count × gram length,
      internal single spaces included) over the characters of the
      space-normalized document (ties -> lexicographically largest
      gram, so both engines elect the same winner);
    - ``dup_ngram_char_frac``: the same character mass summed over ALL
      ``dup_n``-gram types occurring at least twice. Overlapping
      occurrences are counted per occurrence, so the sum can exceed the
      document — capped at 1.0 (documented deviation from
      position-marking implementations, which need per-character state
      this relational form deliberately avoids).

    Shape: both gram streams are tagged and unioned IN-ROW before one
    explode, so the whole operator is a single (doc, tag, gram)-keyed
    shuffle with map-side partial counts, then a doc-keyed rollup —
    the same explode→count shape as ``repetition_stats``'s word pass,
    which is what survives 100 TB. Docs shorter than ``n`` words score
    0.0 on that signal.
    """
    warr = normalized_words(text_col)

    def grams(n: int):
        return F.when(
            F.size(warr) >= n,
            F.transform(
                F.sequence(F.lit(0), F.size(warr) - n),
                lambda i: F.concat_ws(" ", F.slice(warr, i + 1, n)),
            ),
        ).otherwise(F.array().cast("array<string>"))

    base = ensure_parallelism(docs).select(
        F.col(id_col).alias("doc_id"),
        F.length(F.concat_ws(" ", warr)).cast("long").alias("_tot"),
        grams(top_n).alias("_tg"),
        grams(dup_n).alias("_dg"),
    )
    tagged = base.select(
        "doc_id",
        F.explode(
            F.concat(
                F.transform(
                    F.col("_tg"), lambda g: F.struct(F.lit("t").alias("tag"), g.alias("g"))
                ),
                F.transform(
                    F.col("_dg"), lambda g: F.struct(F.lit("d").alias("tag"), g.alias("g"))
                ),
            )
        ).alias("x"),
    ).select("doc_id", "x.tag", "x.g")
    # max(struct) = highest count, then largest gram: the deterministic
    # winner both engines agree on
    top = F.max(F.when(F.col("tag") == "t", F.struct(F.col("n"), F.col("g"))))
    roll = (
        tagged.groupBy("doc_id", "tag", "g")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("doc_id")
        .agg(
            (top.getField("n") * F.length(top.getField("g"))).alias("top_chars"),
            F.sum(
                F.when(
                    (F.col("tag") == "d") & (F.col("n") >= 2),
                    F.col("n") * F.length("g"),
                ).otherwise(0)
            ).alias("dup_chars"),
        )
    )
    denom = F.greatest(F.col("_tot"), F.lit(1))
    return (
        base.select("doc_id", "_tot")
        .join(roll, on="doc_id", how="left")
        .select(
            "doc_id",
            F.round(
                F.least(F.coalesce(F.col("top_chars"), F.lit(0)) / denom, F.lit(1.0)), 6
            ).alias("top_ngram_char_frac"),
            F.round(
                F.least(F.coalesce(F.col("dup_chars"), F.lit(0)) / denom, F.lit(1.0)), 6
            ).alias("dup_ngram_char_frac"),
        )
    )


def tfidf_top_terms(
    docs: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k characteristic terms per document by smoothed TF-IDF.

    tf = in-doc count of the lowercased word; df = number of docs
    containing it; idf = ln((N + 1) / (df + 1)); score = round(tf * idf,
    6). Ranking is a window partitioned BY DOCUMENT (keyed — never a
    global window), ties broken by term so both engines agree. Two
    shuffles: (doc, term) counts, then term -> df join; N is one scalar
    aggregate broadcast into the plan.
    """
    words = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(normalized_words(text_col)).alias("w"),
    ).select("doc_id", F.lower(F.col("w")).alias("term"))
    tf = words.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_tbl = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.select(F.countDistinct(F.col(id_col)).alias("n_docs"))
    scored = (
        tf.join(df_tbl, on="term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            F.round(
                F.col("tf") * F.log((F.col("n_docs") + 1) / (F.col("df") + 1)), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tfidf"), F.asc("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("doc_id", "rank", "term", "tf", "df", "tfidf")
    )


def deterministic_sample(
    docs: DataFrame,
    rate: float = 0.1,
    rates: Optional[Dict[str, float]] = None,
    stratify_col: str = "lang",
    key_col: str = "doc_id",
    seed: str = "s1",
) -> DataFrame:
    """Deterministic (hash-gated) sampling — the reproducible form of
    corpus downsampling: keep a row iff the first 32 bits of
    ``md5(seed|key)`` fall under ``rate``. Unlike ``DataFrame.sample``
    this is stable across runs, engines, partitionings and retries (a
    resumed job re-selects exactly the same rows), and it needs no
    shuffle — one scan-speed predicate. ``rates`` overrides the rate per
    stratum (e.g. per language), the standard corpus-mixing knob.
    """
    bucket = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"{seed}|"), F.col(key_col).cast("string"))), 1, 8
        ),
        16,
        10,
    ).cast("long")
    r = F.lit(float(rate))
    if rates:
        for sval, rv in sorted(rates.items()):
            r = F.when(F.col(stratify_col) == sval, F.lit(float(rv))).otherwise(r)
    return docs.where(bucket < r * F.lit(float(2**32)))


def mix_proportions(
    docs: DataFrame,
    targets: Dict[str, float],
    group_col: str = "lang",
    key_col: str = "doc_id",
    seed: str = "mix1",
) -> DataFrame:
    """Rebalance the corpus to TARGET mixture proportions — the data-
    mixing step of training-corpus assembly ("make the blend 50% en /
    30% fr / 20% de") — by deterministically downsampling every group
    that is over-represented relative to its target share.

    The achievable total is bottlenecked by the scarcest group:
    ``T = min_g n_g / p_g``; each group keeps ``rate_g = p_g·T / n_g``
    of its rows (the bottleneck group keeps everything) through the
    same md5 hash gate as :func:`deterministic_sample`, so the
    selection is stable across runs, engines, partitionings and
    retries. Groups absent from ``targets`` are dropped. Expected
    output shares equal the targets up to hash-Bernoulli noise; the
    SELECTED ROW SET is exact and engine-independent (oracled against
    DuckDB computing the same rates and gate).

    Scale shape: one map-side-partial groupBy over the group column
    (cardinality = number of corpus sources, tiny), a broadcast of the
    per-group rates back onto the corpus, and a scan-speed gate
    predicate — no wide shuffle of the data itself, no driver-side
    state.
    """
    if not targets:
        raise ValueError("mix_proportions: targets must be non-empty")
    for g, p in targets.items():
        if p <= 0:
            raise ValueError(f"mix_proportions: target share for {g!r} must be > 0")
    p_col = F.lit(None).cast("double")
    for g, p in sorted(targets.items()):
        p_col = F.when(F.col(group_col) == g, F.lit(float(p))).otherwise(p_col)
    counts = (
        docs.groupBy(group_col)
        .agg(F.count(F.lit(1)).alias("_n"))
        .withColumn("_p", p_col)
        .where(F.col("_p").isNotNull())
    )
    # a target group with ZERO corpus rows makes the blend unachievable
    # (its true bottleneck T is 0); silently computing the mix over the
    # present groups would return wrong proportions, so fail loudly —
    # the check rides the same tiny aggregate, no extra action
    spark = docs.sparkSession
    tgt = spark.createDataFrame(
        [(g,) for g in sorted(targets)], f"{group_col} string"
    )
    covered = tgt.join(F.broadcast(counts), on=group_col, how="left").select(
        group_col,
        F.when(
            F.assert_true(
                F.col("_n").isNotNull(),
                F.concat(
                    F.lit("mix_proportions: target group "),
                    F.col(group_col),
                    F.lit(" has no rows in the corpus; its target share is unachievable"),
                ),
            ).isNull(),
            F.col("_n"),
        ).alias("_n"),
        "_p",
    )
    total = covered.select(F.min(F.col("_n") / F.col("_p")).alias("_T"))
    rates = counts.crossJoin(F.broadcast(total)).select(
        group_col,
        (F.col("_p") * F.col("_T") / F.col("_n")).alias("_rate"),
    )
    bucket = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"{seed}|"), F.col(key_col).cast("string"))), 1, 8
        ),
        16,
        10,
    ).cast("long")
    return (
        docs.join(F.broadcast(rates), on=group_col, how="inner")
        .where(bucket < F.col("_rate") * F.lit(float(2**32)))
        .drop("_rate")
    )


def corpus_rollup(
    docs: DataFrame,
    strat_col: str = "lang",
    text_col: str = "text",
    approx: bool = False,
    approx_accuracy: int = 10000,
) -> DataFrame:
    """Per-stratum corpus statistics: doc/word totals + word-count
    quantiles. One partial-agg shuffle keyed by the stratum.

    ``approx=False`` (default, the oracle contract): exact
    linear-interpolated ``percentile`` — decision-grade and
    cross-engine reproducible, but the exact aggregator BUFFERS every
    value per group, so a 10¹²-doc stratum would hold 10¹² longs in one
    aggregation buffer. ``approx=True`` is the 100 TB form: the
    ``percentile_approx`` t-digest-style sketch with bounded memory
    (O(accuracy) per group) and map-side partial merge; rank error is
    ≤ 1/``approx_accuracy`` (pinned within tolerance of the exact twin
    by test_corpus_rollup_approx)."""
    n_words = F.size(normalized_words(text_col))
    per_doc = docs.select(
        F.col(strat_col).alias("stratum"), n_words.alias("n_words")
    )
    if approx:
        median = F.percentile_approx("n_words", 0.5, approx_accuracy).cast("double")
        p90 = F.percentile_approx("n_words", 0.9, approx_accuracy).cast("double")
    else:
        median = F.expr("percentile(n_words, 0.5)")
        p90 = F.expr("percentile(n_words, 0.9)")
    return per_doc.groupBy("stratum").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_words").alias("total_words"),
        F.round(F.avg("n_words"), 6).alias("mean_words"),
        F.round(median, 6).alias("median_words"),
        F.round(p90, 6).alias("p90_words"),
        F.min("n_words").cast("long").alias("min_words"),
        F.max("n_words").cast("long").alias("max_words"),
    )


def pack_shards(
    docs: DataFrame,
    budget: int,
    bucket_size: int = 1024,
    max_buckets: int = 65536,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokens_col: Optional[str] = None,
) -> DataFrame:
    """Greedy token-budget SHARD PACKING: assign each document (in
    deterministic ``id`` order) to training shard
    ``floor(tokens_before_it / budget)`` — the corpus → fixed-size
    training-shard step of an LLM data pipeline.

    The running total needs a GLOBAL prefix sum, and the naive form —
    one window over ``ORDER BY id`` with no partition key — moves the
    entire corpus through a single partition. This is the two-pass
    prefix-sum instead: (1) coarse ORDERED buckets of ``bucket_size``
    ids each get their token sums aggregated and prefix-summed on the
    driver (num_buckets rows — bounded and tiny, the same
    collect-small-aggregate pattern as the broadcast vocabulary); (2)
    each bucket computes its LOCAL cumulative sum in a bucket-keyed
    window (parallel across buckets) and adds its bucket's offset.
    Identical values to the global-window form (the DuckDB oracle twin),
    with no partitionless window anywhere in the plan (pinned by
    test_pack_shards_no_global_window).

    The bucket width AUTO-WIDENS so the driver never holds more than
    ``max_buckets`` offset rows: with the fixed default width a 10¹²-id
    corpus would collect 10⁹ bucket sums — the exact unbounded-driver
    shape this operator exists to avoid. Widening is semantics-free (the
    two-pass result equals the global cumsum at ANY width); it only
    trades per-bucket window size against driver rows.

    KEY TYPES: INTEGER ids pack in ascending id order (above). Any
    other id type — the north-rule pages table keys on ``url:string`` —
    packs in deterministic HASH order: the document sequence is
    ``ORDER BY md5(id), id`` and the coarse buckets are the first 16
    bits of that same md5, a monotonic prefix of the sort key, so the
    two-pass result equals the global hash-ordered cumsum exactly (the
    DuckDB oracle twin of ``pack_shards_url``). Hash order is the shape
    a crawl wants anyway: uniform bucket sizes regardless of id
    distribution (lexicographic url buckets would funnel every
    ``https://`` page together), and hosts decorrelated across training
    shards — the same url-hash-not-host-hash argument as the pipeline's
    partitioning.
    """
    import math

    n_tokens = (
        F.col(tokens_col)
        if tokens_col
        else F.size(normalized_words(text_col)).cast("long")
    )
    id_dtype = dict(docs.dtypes).get(id_col, "")
    if id_dtype in {"tinyint", "smallint", "int", "bigint"}:
        bounds = docs.agg(
            F.min(F.col(id_col)).alias("lo"), F.max(F.col(id_col)).alias("hi")
        ).first()
        if bounds["lo"] is None:  # empty corpus: keep the output shape
            return docs.select(
                F.col(id_col).alias("doc_id"),
                n_tokens.alias("n_tokens"),
                F.lit(None).cast("long").alias("shard"),
            )
        span = int(bounds["hi"]) - int(bounds["lo"]) + 1
        width = max(bucket_size, math.ceil(span / max_buckets))
        d = docs.select(
            F.col(id_col).alias("doc_id"),
            n_tokens.alias("n_tokens"),
            F.floor((F.col(id_col) - int(bounds["lo"])) / width).alias("_bucket"),
        )
        order_cols = ["doc_id"]
    else:
        # hash-ordered two-pass: bucket = first 4 hex chars of md5(id)
        # (an integer in [0, 65536), optionally widened to respect
        # max_buckets). Lowercase-hex lexicographic order equals the
        # prefix-integer numeric order, so ordering by (_bucket, _fp,
        # id) IS the global (md5(id), id) order — the invariant the
        # bucket-offset + local-window decomposition needs.
        fp = F.md5(F.col(id_col).cast("string"))
        width = max(1, math.ceil(65536 / max_buckets))
        d = docs.select(
            F.col(id_col).alias("doc_id"),
            n_tokens.alias("n_tokens"),
            fp.alias("_fp"),
            F.floor(
                F.conv(F.substring(fp, 1, 4), 16, 10).cast("long") / width
            ).alias("_bucket"),
        )
        order_cols = ["_fp", "doc_id"]
    totals = {
        r["_bucket"]: r["_tot"]
        for r in d.groupBy("_bucket").agg(F.sum("n_tokens").alias("_tot")).collect()
    }
    offsets, running = {}, 0
    for b in sorted(totals):
        offsets[b] = running
        running += totals[b]
    if not offsets:  # empty corpus: keep the output shape
        return d.select("doc_id", "n_tokens", F.lit(None).cast("long").alias("shard"))
    # offsets come back as a BROADCAST-joined table, not a create_map
    # literal: at the max_buckets ceiling a 65k-entry map literal is a
    # 131k-node expression tree — plan analysis/codegen alone cost ~25 s
    # at sf0.1 — while a 65k-row broadcast is microscopic
    offsets_df = d.sparkSession.createDataFrame(
        [(int(b), int(offsets[b])) for b in sorted(offsets)],
        "_bucket long, _offset long",
    )
    d = d.join(F.broadcast(offsets_df), "_bucket")
    w = Window.partitionBy("_bucket").orderBy(*order_cols)
    before = F.sum("n_tokens").over(w) - F.col("n_tokens") + F.col("_offset")
    return d.select(
        "doc_id",
        "n_tokens",
        F.floor(before / budget).cast("long").alias("shard"),
    )


#: tracking query parameters stripped by URL canonicalization. Anchored
#: to (and consuming) the preceding ``?``/``&`` separator so the name
#: must START at a parameter boundary — without the anchor the pattern
#: matches INSIDE longer names (``myfbclid=7`` -> ``my``), corrupting a
#: distinct parameter. No backreference in the replacement, so the same
#: constant works verbatim in Spark (Java regex) and DuckDB (RE2).
TRACKING_PARAM_RE = r"[?&](utm_[A-Za-z0-9_]*|gclid|fbclid)=[^&#]*"
_SCHEME_RE = r"^([A-Za-z][A-Za-z0-9+.\-]*)://"
_HOSTPORT_RE = r"^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)"
_REST_RE = r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*(.*)"


def canonical_url_col(url):
    """Canonical URL as one column expression — the crawl-frontier /
    URL-dedup normalization pass. Rules (each a deterministic regex step,
    so Spark and the SQL oracle agree byte-for-byte):

    1. fragment stripped; 2. scheme + host lowercased (path/query case
    preserved — they are case-sensitive); 3. default ports dropped
    (``:80`` for http, ``:443`` for https); 4. tracking parameters
    removed (``utm_*``, ``gclid``, ``fbclid``) from the QUERY STRING
    ONLY — a path segment like ``/fbclid=abc/rest`` is data, not a
    tracking param, and must survive — with separators tidied;
    5. empty path becomes ``/``. Unparseable inputs (no ``scheme://``)
    pass through trimmed — canonicalization must never destroy a key.
    """
    u = F.trim(url)
    nofrag = F.regexp_replace(u, r"#.*", "")
    scheme = F.lower(F.regexp_extract(nofrag, _SCHEME_RE, 1))
    hostport = F.lower(F.regexp_extract(nofrag, _HOSTPORT_RE, 1))
    rest = F.regexp_extract(nofrag, _REST_RE, 1)
    host = (
        F.when(scheme == "http", F.regexp_replace(hostport, r":80$", ""))
        .when(scheme == "https", F.regexp_replace(hostport, r":443$", ""))
        .otherwise(hostport)
    )
    # split path / query at the first '?': tracking-param stripping (and
    # its separator tidy-up) applies to the query alone, so a '?'-free
    # path that merely LOOKS like params is untouched
    path_part = F.regexp_extract(rest, r"^([^?]*)", 1)
    query_part = F.regexp_extract(rest, r"(\?.*)$", 1)  # '' when no query
    q1 = F.regexp_replace(query_part, TRACKING_PARAM_RE, "")
    q2 = F.regexp_replace(q1, r"&&+", "&")      # collapse doubled separators
    q3 = F.regexp_replace(q2, r"^&", "?")       # leading param stripped: '&id=' -> '?id='
    q4 = F.regexp_replace(q3, r"\?&", "?")      # '?&id=' -> '?id='
    q5 = F.regexp_replace(q4, r"[?&]+$", "")    # trailing empty query
    r4 = F.concat(path_part, q5)
    path = F.when(r4 == "", F.lit("/")).when(
        r4.startswith("?"), F.concat(F.lit("/"), r4)
    ).otherwise(r4)
    return F.when(
        scheme == "", u
    ).otherwise(F.concat(scheme, F.lit("://"), host, path))


def canonicalize_urls(
    pages: DataFrame, url_col: str = "url", id_col: Optional[str] = None
) -> DataFrame:
    """(url, canonical_url) projection — scan-speed, no shuffle; group by
    ``canonical_url`` downstream for URL-level dedup."""
    cols = [F.col(id_col).alias("doc_id")] if id_col else []
    return ensure_parallelism(pages).select(
        *cols,
        F.col(url_col).alias("url"),
        canonical_url_col(F.col(url_col)).alias("canonical_url"),
    )


def extract_links(
    pages: DataFrame, id_col: str = "doc_id", html_col: str = "html"
) -> DataFrame:
    """(url, href, anchor) link table from raw HTML — the crawl-graph
    side-product of the extraction tier (outlink harvesting for frontier
    scheduling / PageRank-style quality priors). Regex-based and
    scan-speed; full DOM-aware extraction lives in the HTML kernel, this
    is the relational fast path both engines can agree on exactly."""
    tags = F.regexp_extract_all(F.col(html_col), F.lit(A_TAG_RE), 0)
    exploded = pages.select(
        F.col(id_col).alias("doc_id"), F.explode(tags).alias("a_tag")
    )
    return exploded.select(
        "doc_id",
        F.regexp_extract("a_tag", HREF_RE, 1).alias("href"),
        F.regexp_extract("a_tag", ANCHOR_RE, 1).alias("anchor"),
    )


def decontaminate(
    docs: DataFrame,
    benchmark_texts: List[str],
    k: int = 3,
    min_overlap: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Benchmark DECONTAMINATION: flag documents sharing >= min_overlap
    word k-shingles with any benchmark text (the n-gram-overlap test-set
    leak check every serious training-data pipeline runs before
    training).

    The benchmark shingle set is small next to the corpus (eval suites,
    not crawls), so it becomes a BROADCAST side: corpus shingles explode,
    broadcast-join against the benchmark set (only hits survive — the
    filter runs before any shuffle), then per-doc dedup + aggregation
    over the hits alone. The only shuffle carries contaminated
    (doc, shingle) rows, a sliver of the corpus. Returns the
    CONTAMINATED docs with their overlap count and the offending
    shingles (sorted, for audit).
    """
    bench = set()
    for t in benchmark_texts:
        ws = [w for w in t.split() if w]
        for i in range(max(len(ws) - k + 1, 0)):
            bench.add(" ".join(ws[i : i + k]))
    spark = docs.sparkSession
    bench_df = spark.createDataFrame([(s,) for s in sorted(bench)], ["shingle"])
    words = normalized_words(text_col)
    sh = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(words) - k, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(words, i + 1, k)),
    )
    exploded = ensure_parallelism(docs).select(
        F.col(id_col).alias("doc_id"), F.explode(sh).alias("shingle")
    ).where(F.col("shingle") != "")
    hits = exploded.join(F.broadcast(bench_df), on="shingle").dropDuplicates(
        ["doc_id", "shingle"]
    )
    return (
        hits.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_overlap"),
            F.concat_ws("|", F.sort_array(F.collect_list("shingle"))).alias(
                "overlap_shingles"
            ),
        )
        .where(F.col("n_overlap") >= min_overlap)
    )


#: sentence boundary: terminal punctuation run, optional close-quote /
#: bracket, then whitespace. Deliberately a SHARED Java∩RE2 grammar
#: (no lookbehind — RE2 has none, so the DuckDB oracle could not
#: restate it): the boundary is marked via group-ref regexp_replace,
#: then split on the marker. Abbreviation handling is out of grammar
#: by design (documented simple-segmenter contract, like the BPE-ish
#: token regex).
_SENT_BOUNDARY_RE = r"([.!?]+[\"'”’)\]]*)\s+"
_SENT_MARK = "\x01"


def split_sentences(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_chars: int = 1,
) -> DataFrame:
    """Sentence segmentation — the unit every downstream text op that
    is finer than a document wants (sentence-level dedup, bitext
    mining, chunk boundaries that respect sentences): one row per
    sentence, ``(doc_id, sent_id, sentence, n_chars)``, ``sent_id``
    dense from 0 in document order. Boundaries are terminal-punctuation
    runs (with optional closing quotes/brackets) followed by
    whitespace; the trailing text is the final sentence; sentences trim
    and drop below ``min_chars``. Wordless docs yield no rows (unlike
    chunk_docs — a sentence table is a derived view, not a doc
    partition).

    Scale shape: row-local marker replace + split + posexplode — one
    Generate, no shuffle, no UDF; fan-out bounded by input bytes.
    """
    marked = F.regexp_replace(
        F.coalesce(F.col(text_col), F.lit("")),
        _SENT_BOUNDARY_RE,
        "$1" + _SENT_MARK,
    )
    parts = F.filter(
        F.transform(F.split(marked, _SENT_MARK), lambda s: F.trim(s)),
        lambda s: F.length(s) >= int(min_chars),
    )
    return (
        ensure_parallelism(docs)
        .select(F.col(id_col).alias("doc_id"), F.posexplode(parts))
        .select(
            "doc_id",
            F.col("pos").cast("long").alias("sent_id"),
            F.col("col").alias("sentence"),
            F.length("col").cast("long").alias("n_chars"),
        )
    )


def pack_batches(
    docs: DataFrame,
    batch_size: int = 16,
    bucket_width: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokens_col: Optional[str] = None,
) -> DataFrame:
    """Length-bucketed BATCH packing: group documents of similar token
    length into fixed-count training batches so per-batch padding (every
    sequence pads to the batch max) stays bounded — the batching step
    between :func:`pack_shards` (byte/token budget per shard) and the
    trainer. Random batching wastes ~half the FLOPs of a long-tailed
    corpus on pad tokens; length-sorted batching is the standard fix.

    Assignment: ``bucket = floor(n_tokens / bucket_width)`` (a partition
    key — all windows below are bucket-local), then within a bucket the
    docs are ordered ``(n_tokens DESC, id)`` and chunked into batches of
    ``batch_size``. Within a batch, lengths differ by at most
    ``bucket_width - 1``, so padding waste per doc is bounded by the
    bucket width REGARDLESS of corpus length distribution.

    Returns per-doc assignment ``(doc_id, n_tokens, bucket, batch)``
    (compose downstream: a writer partitions by (bucket, batch); the
    padding audit aggregates it). Scale shape: one hash shuffle on the
    bucket key + a bucket-local window — no global sort, no
    partitionless window (the exact trap :func:`pack_shards` documents;
    here the GLOBAL order is irrelevant by construction, so the
    bucketed form isn't even an approximation). Skew note: a corpus
    spike at one length (e.g. truncation at max_tokens) funnels that
    bucket; at 100 TB pre-split hot buckets by a salt on
    ``floor(hash/batch_size)`` — the batch ids stay dense per salt.
    """
    n_tokens = (
        F.col(tokens_col).cast("long")
        if tokens_col
        else F.size(normalized_words(text_col)).cast("long")
    )
    d = ensure_parallelism(docs).select(
        F.col(id_col).alias("doc_id"), n_tokens.alias("n_tokens")
    )
    d = d.withColumn(
        "bucket", F.floor(F.col("n_tokens") / int(bucket_width)).cast("long")
    )
    w = Window.partitionBy("bucket").orderBy(
        F.desc("n_tokens"), F.asc("doc_id")
    )
    return d.select(
        "doc_id",
        "n_tokens",
        "bucket",
        F.floor((F.row_number().over(w) - 1) / int(batch_size))
        .cast("long")
        .alias("batch"),
    )


def batch_padding_stats(packed: DataFrame) -> DataFrame:
    """Padding audit over :func:`pack_batches` output: per (bucket,
    batch) — doc count, max/sum token length, and ``padding`` = tokens
    spent on pad (``n_docs * max_len - sum_len``). All integer
    arithmetic; one map-side-combinable aggregation."""
    return packed.groupBy("bucket", "batch").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.max("n_tokens").alias("max_len"),
        F.sum("n_tokens").alias("sum_len"),
        (F.count(F.lit(1)) * F.max("n_tokens") - F.sum("n_tokens"))
        .cast("long")
        .alias("padding"),
    )


def skew_report(
    df: DataFrame,
    key_col: str = "url",
    text_col: Optional[str] = "text",
    top: int = 20,
    hot_share_bp: int = 500,
) -> DataFrame:
    """Partition-skew DIAGNOSTIC: per-key row and byte mass, integer
    basis-point shares of the corpus, and a hot flag — the report a
    100 TB job reads BEFORE choosing its shuffle keys. The north rule
    says "skew handled explicitly"; handling starts with measuring.
    This is the numeric twin of test_finalize_balanced_under_host_skew:
    a key whose ``share_bp`` exceeds the flag threshold is the key you
    salt (or re-key by url-hash) before the big shuffle.

    Returns the ``top`` keys by ``(n_rows DESC, n_bytes DESC, key)``:
    ``(key, n_rows, n_bytes, row_share_bp, byte_share_bp, hot)``. Shares
    are ``floor(x * 10000 / total)`` — exact integer inputs, one
    floored division, cross-engine stable.

    Scale shape: one map-side-combinable groupBy on the key, totals as
    a 1-row aggregate cross-joined broadcast (never a partitionless
    window over the key table), and the top-N via orderBy().limit()
    (TakeOrderedAndProject — each partition keeps its local N).
    """
    weight = (
        F.octet_length(F.coalesce(F.col(text_col), F.lit("")))
        if text_col
        else F.lit(1)
    ).cast("long")
    per_key = (
        df
        .select(F.col(key_col).alias("key"), weight.alias("_w"))
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("n_rows"), F.sum("_w").alias("n_bytes"))
    )
    # two consumers (totals + top-N) of one aggregation: persist and
    # materialize so the scan runs once
    per_key = per_key.persist()
    per_key.count()
    totals = per_key.agg(
        F.sum("n_rows").alias("_tr"), F.sum("n_bytes").alias("_tb")
    )
    out = (
        per_key.crossJoin(F.broadcast(totals))
        .select(
            "key",
            "n_rows",
            "n_bytes",
            F.floor(F.col("n_rows") * 10000.0 / F.greatest(F.col("_tr"), F.lit(1)))
            .cast("long")
            .alias("row_share_bp"),
            F.floor(F.col("n_bytes") * 10000.0 / F.greatest(F.col("_tb"), F.lit(1)))
            .cast("long")
            .alias("byte_share_bp"),
        )
        .withColumn("hot", F.col("row_share_bp") >= int(hot_share_bp))
        .orderBy(F.desc("n_rows"), F.desc("n_bytes"), F.asc("key"))
        .limit(int(top))
    )
    from .cache import register_intermediates

    return register_intermediates(out, per_key)


def dedup_paragraphs_in_doc(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Within-document paragraph scrub: templated pages repeat the same
    paragraph block several times inside ONE page (cookie banners
    re-injected per section, product blurbs under every variant, WYSIWYG
    copy-paste) — repetition that cross-document line dedup
    (:func:`~correctocr_spark.ops.dedup.dedup_lines`) never sees because
    it collapses per corpus-wide key, not per page.

    Paragraphs are the ``\\n\\n``-separated blocks; each keeps its FIRST
    occurrence in original order (Spark's ``array_distinct`` is
    documented first-occurrence-preserving) and later exact repeats are
    dropped, then the survivors re-join with ``\\n\\n``. Purely row-local
    array algebra: one projection at scan speed, no shuffle, no UDF —
    the 100 TB cost is the scan itself. Returns ``(doc_id, text,
    n_paras, n_unique_paras)`` with ``text`` scrubbed.
    """
    paras = F.split(F.coalesce(F.col(text_col), F.lit("")), r"\n\n")
    uniq = F.array_distinct(paras)
    return ensure_parallelism(docs).select(
        F.col(id_col).alias("doc_id"),
        F.array_join(uniq, "\n\n").alias("text"),
        F.size(paras).cast("long").alias("n_paras"),
        F.size(uniq).cast("long").alias("n_unique_paras"),
    )


def domain_reweight(
    domains: DataFrame,
    eta_milli: int = 100,
    smooth_milli: int = 0,
    domain_col: str = "domain",
    weight_col: str = "weight_micro",
    loss_col: str = "excess_loss_micro",
) -> DataFrame:
    """DoReMi-style domain-mixture update (Xie et al. 2023,
    arXiv:2305.10429): one EXPONENTIATED-GRADIENT step on the sampling
    weights of a grouped corpus — domains where the proxy model's
    excess loss is high get upweighted multiplicatively, then the
    distribution renormalizes and optionally mixes with uniform:
    ``α'_i ∝ α_i · exp(η · ℓ_i)``, ``α'' = (1−c)·α' + c·u``. The full
    DoReMi loop alternates proxy training with this step; the step
    itself is the distributable piece, and its output feeds
    :func:`mix_proportions` (which APPLIES target shares to the
    corpus) — plan the blend here, enforce it there.

    Exactness: weights and losses arrive as integer micro-units,
    ``η`` as an exact milli-integer; each domain's multiplier
    ``exp(η·ℓ)`` is quantized ONCE to integer micro-units, the update
    is an integer product, normalization is one integer division
    against the broadcast total, and the uniform mixing is integer
    arithmetic throughout — engine- and reduction-order-exact. To keep
    the normalization numerator inside int64, the multiplier is capped
    at 9·10⁶ micro (``exp(η·ℓ) ≤ 9``, i.e. ``η·ℓ ≤ ~2.2`` nats): a
    louder η·loss scale must be rescaled by the caller — the op RAISES
    rather than silently overflowing.

    Scale shape: the domain table is dimension-sized (one row per
    corpus source); one 1-row total broadcast, everything else
    row-local. Returns ``(domain, weight_micro, excess_loss_micro,
    factor_micro, new_weight_micro)``; new weights sum to ~10⁶ minus
    flooring.
    """
    if eta_milli < 0:
        raise ValueError(f"eta_milli must be >= 0, got {eta_milli}")
    if not (0 <= smooth_milli <= 1000):
        raise ValueError(
            f"smooth_milli must be in [0, 1000], got {smooth_milli}"
        )
    base = domains.select(
        F.col(domain_col).alias("domain"),
        F.col(weight_col).cast("long").alias("weight_micro"),
        F.col(loss_col).cast("long").alias("excess_loss_micro"),
    )
    # try_cast: under ANSI mode a plain cast THROWS on exp() overflow
    # mid-task — NULL instead routes it to the loud guard below, which
    # owns the error message
    factor = (
        F.round(
            F.exp(
                (F.lit(int(eta_milli)) / F.lit(1000.0))
                * (F.col("excess_loss_micro") / F.lit(1_000_000.0))
            )
            * F.lit(1_000_000.0)
        )
        .try_cast("long")
        .alias("factor_micro")
    )
    upd = base.select("*", factor).withColumn(
        "_raw", F.col("weight_micro") * F.col("factor_micro")
    )
    # loud overflow guard: numerator of the normalization is _raw * 1e6.
    # NULL factor = the double→long cast itself overflowed (exp(η·ℓ)
    # beyond int64) — caught by the same branch, not silently dropped.
    n_over = upd.where(
        F.col("factor_micro").isNull() | (F.col("factor_micro") > 9_000_000)
    ).count()
    if n_over:
        raise ValueError(
            f"domain_reweight: {n_over} domain(s) have exp(eta*loss) > 9 "
            "(int64 overflow in normalization) — rescale eta_milli or the "
            "loss units"
        )
    totals = upd.agg(
        F.sum("_raw").alias("_total"), F.count(F.lit(1)).alias("_k")
    )
    c = int(smooth_milli)
    out = (
        upd.crossJoin(F.broadcast(totals))
        .select(
            "domain",
            "weight_micro",
            "excess_loss_micro",
            "factor_micro",
            F.expr(
                f"(({1000 - c} * ((_raw * 1000000) div _total))"
                f" + ({c} * (1000000 div _k))) div 1000"
            )
            .cast("long")
            .alias("new_weight_micro"),
        )
    )
    return out


def alpha_sample_shares(
    counts: DataFrame,
    alpha_milli: int = 300,
    group_col: str = "lang",
    count_col: str = "n_docs",
) -> DataFrame:
    """Temperature-scaled sampling shares — the multilingual mixing
    rule of mBERT/XLM-R/mT5 (Conneau & Lample 2019; Xue et al. 2021):
    sample group ``i`` with probability ``p_i^α / Σ_j p_j^α`` where
    ``p_i`` is its corpus share and ``α ∈ (0, 1]`` flattens the Zipf
    head so low-resource languages are seen more than their raw share
    (α=1 keeps natural proportions; mT5 ships α=0.3). Output feeds
    :func:`mix_proportions` as its target dict — plan here, enforce
    there (the same division of labor as ``domain_reweight``).

    Exactness: ``p_i^α = exp(α · ln(n_i / N))`` computed in one fixed
    expression order from exact integers and quantized ONCE to integer
    micro-units; the normalization is one integer division against the
    broadcast total. Shares sum to ~10⁶ minus flooring. The group
    table is dimension-sized (languages/sources); one 1-row broadcast,
    everything else row-local.

    Returns ``(group, n_docs, raw_share_micro, alpha_share_micro)``.
    """
    if not (0 < alpha_milli <= 1000):
        raise ValueError(
            f"alpha_milli must be in (0, 1000], got {alpha_milli}"
        )
    base = counts.select(
        F.col(group_col).alias("group"),
        F.col(count_col).cast("long").alias("n_docs"),
    )
    tot = base.agg(F.sum("n_docs").alias("_n"))
    a = F.lit(int(alpha_milli)) / F.lit(1000.0)
    powed = (
        base.crossJoin(F.broadcast(tot))
        .select(
            "group",
            "n_docs",
            F.expr("(n_docs * 1000000) div _n").alias("raw_share_micro"),
            F.round(
                F.exp(a * F.log(F.col("n_docs") / F.col("_n")))
                * F.lit(1_000_000.0)
            )
            .cast("long")
            .alias("_pow_micro"),
        )
    )
    ptot = powed.agg(F.sum("_pow_micro").alias("_pt"))
    return (
        powed.crossJoin(F.broadcast(ptot))
        .select(
            "group",
            "n_docs",
            "raw_share_micro",
            F.expr("(_pow_micro * 1000000) div _pt")
            .cast("long")
            .alias("alpha_share_micro"),
        )
    )


def epoch_plan(
    domain_tokens: DataFrame,
    budget_tokens: int,
    shares_micro: dict,
    group_col: str = "group",
    tokens_col: str = "n_tokens",
    max_epochs_milli: int = 4000,
) -> DataFrame:
    """Token-budget epoch planner — the missing step between a target
    mixture (:func:`alpha_sample_shares` / :func:`domain_reweight`) and
    enforcement (:func:`mix_proportions`): given per-domain token
    inventories, a total training budget and target shares, how many
    EPOCHS (repeats) of each domain does the plan imply, and where does
    the repeat cap bind? Repeating data beyond ~4 epochs stops helping
    (Muennighoff et al. 2023, arXiv:2305.16264 — the default cap), so a
    domain whose target exceeds ``max_epochs_milli`` is CAPPED and the
    plan reports the shortfall the mixture must reallocate.

    All integer arithmetic in fixed order (micro-shares, milli-epochs)
    — reduction-order-proof and engine-exact. ``budget * share`` is
    computed by exact base-10⁶ decomposition so a 10¹³-token budget
    (a 100 TB corpus) cannot overflow int64. A domain absent from
    ``shares_micro`` plans 0 target (listed, not silently dropped); a
    0-token domain plans 0 epochs with its full target as shortfall.

    Returns ``(group, n_tokens, share_micro, target_tokens,
    epochs_raw_milli, epochs_milli, capped, planned_tokens,
    shortfall_tokens)`` — dimension-table-sized, no corpus shuffle
    beyond whatever built ``domain_tokens``.
    """
    if budget_tokens <= 0:
        raise ValueError(f"budget_tokens must be positive, got {budget_tokens}")
    if max_epochs_milli <= 0:
        raise ValueError(f"max_epochs_milli must be positive, got {max_epochs_milli}")
    if not shares_micro:
        raise ValueError("shares_micro must be a non-empty {group: micro} dict")
    bad = {k: v for k, v in shares_micro.items() if not (0 < int(v) <= 1_000_000)}
    if bad:
        raise ValueError(f"shares must be micro-units in (0, 1e6]: {bad}")
    if sum(int(v) for v in shares_micro.values()) > 1_000_000:
        raise ValueError("shares_micro sums past 1e6 (100%)")

    share_map = F.create_map(
        *[F.lit(x) for kv in sorted(shares_micro.items()) for x in (kv[0], int(kv[1]))]
    )
    hi, lo = divmod(int(budget_tokens), 1_000_000)
    base = domain_tokens.select(
        F.col(group_col).alias("group"),
        F.col(tokens_col).cast("long").alias("n_tokens"),
        F.coalesce(F.element_at(share_map, F.col(group_col)), F.lit(0))
        .cast("long")
        .alias("share_micro"),
    ).withColumn(
        # exact budget*share/1e6 without int64 overflow:
        # share*(budget div 1e6) + share*(budget mod 1e6) div 1e6
        "target_tokens",
        (
            F.col("share_micro") * F.lit(hi)
            + F.expr(f"(share_micro * {lo}) div 1000000")
        ).cast("long"),
    )
    planned = (
        base.withColumn(
            "epochs_raw_milli",
            F.when(
                F.col("n_tokens") > 0,
                F.expr("(target_tokens * 1000) div n_tokens"),
            )
            .otherwise(F.lit(0))
            .cast("long"),
        )
        .withColumn(
            "epochs_milli",
            F.least(F.col("epochs_raw_milli"), F.lit(int(max_epochs_milli)))
            .cast("long"),
        )
        .withColumn("capped", F.col("epochs_raw_milli") > F.lit(int(max_epochs_milli)))
        .withColumn(
            "planned_tokens", F.expr("(n_tokens * epochs_milli) div 1000").cast("long")
        )
        .withColumn(
            "shortfall_tokens",
            (F.col("target_tokens") - F.col("planned_tokens")).cast("long"),
        )
    )
    return planned


#: 13-19 digits with optional single space/hyphen separators, digit-
#: bounded (\b twice) — Java ∩ RE2 ∩ DuckDB subset, NO lookarounds
#: (RE2 has none); a 20+-digit run matches nowhere (interior starts
#: have no word boundary), so too-long runs are rejected identically
#: on both engines.
CARD_RE = r"\b(?:\d[ -]?){12,18}\d\b"

#: row-local Luhn checksum over the digits-only candidate `_digits`:
#: from the RIGHT, odd positions count as-is, even positions double
#: with 9 subtracted past 9; valid iff the sum ≡ 0 mod 10. Pure
#: integer SQL expression — identical in Spark and DuckDB.
_LUHN_SUM = """
    aggregate(
        transform(sequence(1, length(_digits)),
            i -> CASE WHEN i % 2 = 1
                      THEN CAST(substring(_digits, length(_digits) - i + 1, 1) AS INT)
                      ELSE CASE WHEN 2 * CAST(substring(_digits, length(_digits) - i + 1, 1) AS INT) > 9
                                THEN 2 * CAST(substring(_digits, length(_digits) - i + 1, 1) AS INT) - 9
                                ELSE 2 * CAST(substring(_digits, length(_digits) - i + 1, 1) AS INT)
                           END
                 END),
        0, (acc, x) -> acc + x)
"""


def detect_payment_cards(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Luhn-validated payment-card detection — the CHECKSUM-gated PII
    pass :func:`pii_scrub`'s regexes cannot express: a bare
    13-19-digit pattern fires on ISBNs, order numbers and tracking ids,
    so production scrubbers (e.g. the Presidio/scrubadub family) accept
    a digit run only when the Luhn checksum holds (ISO/IEC 7812), which
    rejects ~90% of random digit noise. Emits a DETECTION TABLE — one
    row per candidate occurrence, MASKED to ``(n_digits, last4)`` so
    the output never re-publishes the number — that the caller composes
    into a scrub/route decision (the dup_spans → span_removal division
    of labor).

    Returns ``(doc_id, n_digits, last4, valid)``.

    Scale shape: one regexp extraction per page, candidates exploded
    (bounded by the 13-19-digit grammar), the Luhn fold row-local
    integer algebra at scan speed; no shuffle at all.
    """
    base = ensure_parallelism(docs).select(
        F.col(id_col).alias("doc_id"),
        F.regexp_extract_all(F.col(text_col), F.lit(CARD_RE), 0).alias("_cands"),
    )
    cands = base.select("doc_id", F.explode("_cands").alias("_cand")).select(
        "doc_id", F.regexp_replace("_cand", "[ -]", "").alias("_digits")
    )
    return cands.select(
        "doc_id",
        F.length("_digits").cast("long").alias("n_digits"),
        # length-anchored (not negative-start) so the expression is
        # engine-identical verbatim
        F.expr("substring(_digits, length(_digits) - 3, 4)").alias("last4"),
        (F.expr(_LUHN_SUM) % 10 == 0).alias("valid"),
    )


def contamination_fraction(
    docs: DataFrame,
    benchmark_texts: List[str],
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """GRADED benchmark contamination: per doc, the share of its
    distinct word k-shingles that appear in any benchmark text, in
    floored basis points — the score behind contamination-aware
    weighting and leak triage, where :func:`decontaminate`'s boolean
    gate is too blunt (a 10,000-word page quoting one benchmark
    sentence and a verbatim test-set copy both trip ``min_overlap=2``;
    they differ by 400x here). Every input doc is returned:
    ``(doc_id, n_shingles, n_hits, contamination_bp)``.

    Shingling is IDENTICAL to ``decontaminate`` (same window recurrence
    incl. the sub-k short-text tail shingle, which can never match a
    full benchmark k-gram but counts in the denominator — documented
    shared contract, so the two ops grade the same universe).

    Scale shape: stricter than ``decontaminate`` — the benchmark set
    inlines as ONE broadcast array literal and the hit count is a
    row-local ``array_intersect`` over the doc's distinct-shingle
    array: zero joins, zero shuffle, zero explode, scan speed. Eval
    suites are KB-sized so the literal stays dimension-small; a
    corpus-sized contamination source belongs in ``decontaminate``'s
    broadcast-join path instead.
    """
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    bench = set()
    for t in benchmark_texts:
        ws = [w for w in t.split() if w]
        for i in range(max(len(ws) - k + 1, 0)):
            bench.add(" ".join(ws[i : i + k]))
    bench_arr = (
        F.array(*[F.lit(s) for s in sorted(bench)])
        if bench
        else F.array(F.lit("")).cast("array<string>")  # matches nothing: '' filtered from _sh
    )
    words = normalized_words(text_col)
    sh = F.array_distinct(
        F.filter(
            F.transform(
                F.sequence(F.lit(0), F.greatest(F.size(words) - k, F.lit(0))),
                lambda i: F.concat_ws(" ", F.slice(words, i + 1, k)),
            ),
            lambda s: s != "",
        )
    )
    return (
        ensure_parallelism(docs)
        .select(F.col(id_col).alias("doc_id"), sh.alias("_sh"))
        .select(
            "doc_id",
            F.size("_sh").cast("long").alias("n_shingles"),
            F.size(F.array_intersect("_sh", bench_arr)).cast("long").alias("n_hits"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_hits",
            F.expr("(n_hits * 10000) div greatest(n_shingles, 1)")
            .cast("long")
            .alias("contamination_bp"),
        )
    )


#: rel attribute containing the nofollow token, inside the (double-
#: quote-grammar) anchor tag — shared Java∩RE2 text like A_TAG_RE
NOFOLLOW_RE = r'rel="[^"]*nofollow[^"]*"'


def outlink_profile(
    pages: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """Per-page OUTLINK profile: link count, external share, nofollow
    share (floored bp) and distinct external host count — the
    link-spam feature row (SEO farms show high external share across
    few repeated hosts; comment-spam victims show high nofollow share;
    `soft404_detect` uses anchor mass, this profiles where the anchors
    POINT). Every page is returned; ``extract_links``'s double-quote
    anchor grammar, so the two ops profile the same universe.
    Relative and protocol-relative hrefs have no scheme, parse to host
    '' and count as internal (documented subset).

    Returns ``(url, n_links, n_external, n_nofollow, n_ext_hosts,
    external_bp, nofollow_bp)``.

    Scale shape: zero shuffle, zero explode — the tag array is
    materialized in its OWN projection (the Generate-recompute rule,
    though there is no Generate: one regexp_extract_all evaluation per
    row, not one per consumer), then counts are row-local array
    algebra over it.
    """
    from .filters import host_col

    tagged = pages.select(
        F.col(url_col).alias("url"),
        host_col(url_col).alias("_ph"),
        F.regexp_extract_all(F.col(html_col), F.lit(A_TAG_RE), 0).alias("_tags"),
    )
    link_hosts = F.transform(
        "_tags", lambda t: host_col(F.regexp_extract(t, HREF_RE, 1))
    )
    profiled = tagged.select(
        "url",
        F.size("_tags").cast("long").alias("n_links"),
        F.size(
            F.filter(link_hosts, lambda h: (h != "") & (h != F.col("_ph")))
        ).cast("long").alias("n_external"),
        F.size(
            F.filter("_tags", lambda t: t.rlike(NOFOLLOW_RE))
        ).cast("long").alias("n_nofollow"),
        F.size(
            F.array_distinct(
                F.filter(link_hosts, lambda h: (h != "") & (h != F.col("_ph")))
            )
        ).cast("long").alias("n_ext_hosts"),
    )
    return profiled.select(
        "url",
        "n_links",
        "n_external",
        "n_nofollow",
        "n_ext_hosts",
        F.expr("(n_external * 10000) div greatest(n_links, 1)").cast("long").alias("external_bp"),
        F.expr("(n_nofollow * 10000) div greatest(n_links, 1)").cast("long").alias("nofollow_bp"),
    )


def stratified_quotas(
    docs: DataFrame,
    group_col: str,
    total: int,
) -> DataFrame:
    """Exact integer per-stratum sample quotas by the largest-remainder
    (Hamilton) method: quotas sum to EXACTLY ``total`` and track each
    stratum's population share as closely as integers allow — the
    allocation layer under "sample 10M docs, proportional by domain".

    ``quota_g = floor(total·n_g / N)`` plus +1 for the strata with the
    largest remainders (ties broken by group value ascending, so the
    allocation is deterministic). All arithmetic is integer; both
    windows run over the per-group table (strata-cardinality sized,
    tiny), never the corpus. Output: (group, n_docs, quota).
    """
    if total < 0:
        raise ValueError(f"stratified_quotas needs total >= 0, got {total}")
    counts = (
        ensure_parallelism(docs)
        .groupBy(F.col(group_col).alias("grp"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
    w_all = Window.partitionBy()
    base = counts.select(
        "grp",
        "n_docs",
        F.sum("n_docs").over(w_all).alias("_N"),
    ).select(
        "grp",
        "n_docs",
        F.expr(f"CAST(({total} * n_docs) div _N AS BIGINT)").alias("_base"),
        F.expr(f"({total} * n_docs) % _N").alias("_rem"),
    )
    w_rem = Window.orderBy(F.col("_rem").desc(), F.col("grp").asc())
    leftover = F.lit(total) - F.sum("_base").over(w_all.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    ))
    return (
        base.withColumn("_rank", F.row_number().over(w_rem))
        .withColumn("_leftover", leftover)
        .select(
            "grp",
            "n_docs",
            (
                F.col("_base")
                + F.when(F.col("_rank") <= F.col("_leftover"), 1).otherwise(0)
            )
            .cast("long")
            .alias("quota"),
        )
        .withColumnRenamed("grp", group_col)
    )


def stratified_sample(
    docs: DataFrame,
    group_col: str,
    total: int,
    id_col: str = "doc_id",
    seed: str = "strat1",
) -> DataFrame:
    """Deterministic stratified sample honoring :func:`stratified_quotas`
    EXACTLY: within each stratum, rows are ranked by a salted md5 hash
    of their id (re-run-stable, no RNG state) and the first ``quota``
    survive. Returns the surviving rows' (group, id, hash-rank).

    Two shuffles total: the tiny quota aggregation, and one per-group
    window. The window is pre-filtered by the LITERAL bound
    ``row_number() <= total`` (every quota ≤ total by construction),
    which Spark rewrites to a WindowGroupLimit partial top-k — so at
    100 TB the shuffle carries at most ``total`` rows per group per
    input partition, never a giant stratum's full mass; the exact
    per-group ``quota`` cut is then a broadcast-join filter.
    """
    q = stratified_quotas(docs, group_col, total)
    h = F.md5(
        F.concat(F.lit(f"{seed}|"), F.col(id_col).cast("string"))
    )
    w = Window.partitionBy(group_col).orderBy(F.col("_h").asc(), F.col(id_col).asc())
    ranked = (
        docs
        .select(group_col, id_col, h.alias("_h"))
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= F.lit(int(total)))
    )
    return (
        ranked.join(F.broadcast(q.select(group_col, "quota")), on=group_col)
        .where(F.col("_rn") <= F.col("quota"))
        .select(
            group_col,
            id_col,
            F.col("_rn").cast("long").alias("sample_rank"),
        )
    )


def weighted_sample(
    docs: DataFrame,
    weight_col: str,
    k: int,
    group_col: Optional[str] = None,
    id_col: str = "doc_id",
    seed: str = "ws1",
) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis–Spirakis
    A-Res): each row draws a deterministic uniform u from a salted md5
    hash and is ranked by the exponential sort key ``ln(u) / w`` — the
    top-k ranked rows are a without-replacement sample where inclusion
    tracks weight mass. The quality-weighted "sample 10M docs, prefer
    high-quality" primitive.

    Determinism contract: u = (h32 + 1) / 2^32 from the shared md5-32
    idiom, and the sort key is quantized ONCE to integer micro units
    (round(ln(u)/w · 1e6)) — the module's standard cross-engine-safe
    ln treatment — with id ascending as the total tie-break. Rows with
    weight <= 0 or NULL are excluded (zero mass is never sampled).

    Shape: grouped top-k via ``row_number() <= k`` (WindowGroupLimit —
    map-side partial top-k); ungrouped via ``orderBy().limit(k)``
    (TakeOrderedAndProject). No RNG state, re-run-stable.

    Output: (group?,) id, weight, key_micro, sample_rank.
    """
    if k < 1:
        raise ValueError(f"weighted_sample needs k >= 1, got {k}")
    gs = [group_col] if group_col else []
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"{seed}|"), F.col(id_col).cast("string"))), 1, 8
        ),
        16,
        10,
    ).cast("long")
    u = (h + 1).cast("double") / F.lit(float(1 << 32))
    w = F.col(weight_col).cast("double")
    key_micro = F.round(F.log(u) / w * 1e6).cast("long")
    ranked = (
        ensure_parallelism(docs)
        .where(F.col(weight_col).isNotNull() & (F.col(weight_col) > 0))
        .select(
            *gs,
            F.col(id_col).alias("_id"),
            F.col(weight_col).alias("weight"),
            key_micro.alias("key_micro"),
        )
    )
    if gs:
        win = Window.partitionBy(*gs).orderBy(
            F.col("key_micro").desc(), F.col("_id").asc()
        )
        kept = (
            ranked.withColumn("_rn", F.row_number().over(win))
            .where(F.col("_rn") <= k)
        )
    else:
        kept = (
            ranked.orderBy(F.col("key_micro").desc(), F.col("_id").asc())
            .limit(k)
            .withColumn(
                "_rn",
                F.row_number().over(
                    Window.orderBy(F.col("key_micro").desc(), F.col("_id").asc())
                ),
            )
        )
    return kept.select(
        *gs,
        F.col("_id").alias(id_col),
        "weight",
        "key_micro",
        F.col("_rn").cast("long").alias("sample_rank"),
    )


def shard_manifest(
    docs: DataFrame,
    shard_col: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-shard write-verification manifest: row count, byte mass, and
    an ORDER-INDEPENDENT content checksum — how a 100 TB distributed
    write is verified without re-reading in any particular order (task
    retries, speculative duplicates and partial re-writes all surface
    as a checksum or count drift; a sorted-concat hash would force a
    global order first).

    Checksum: each row contributes the 60-bit integer prefix of
    ``md5(id ':' md5(text))``; contributions SUM (in DECIMAL(38,0) —
    an int64 sum would overflow within ~500 rows) and reduce mod 2^61.
    Addition commutes, so the checksum is partitioning-, retry- and
    order-independent, and manifests of sub-shards merge by re-summing.
    One map-side-combinable aggregation; the DuckDB twin's HUGEINT sum
    matches exactly.

    Returns ``(shard, n_docs, byte_mass, checksum)``.
    """
    fp = F.md5(
        F.concat(
            F.col(id_col).cast("string"),
            F.lit(":"),
            F.md5(F.coalesce(F.col(text_col), F.lit(""))),
        )
    )
    h60 = F.conv(F.substring(fp, 1, 15), 16, 10).cast("long")
    return (
        ensure_parallelism(docs)
        .select(
            F.col(shard_col).alias("shard"),
            F.length(F.coalesce(F.col(text_col), F.lit(""))).cast("long").alias("_b"),
            h60.cast("decimal(38,0)").alias("_h"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("_b").alias("byte_mass"),
            (F.sum("_h") % F.lit(1 << 61)).cast("long").alias("checksum"),
        )
    )


def zorder_key(
    docs: DataFrame,
    cols: List[str],
    bits: int = 16,
) -> DataFrame:
    """Z-order (Morton) storage-layout key over 2+ numeric columns:
    each column min-max-normalizes to a ``bits``-wide integer rank and
    the ranks bit-interleave into one sort key. Sorting/range-
    partitioning shards by this key clusters rows that are close in
    EVERY keyed dimension, so per-file min/max statistics prune
    multi-dimensional predicates — the lakehouse data-skipping layout
    a single-column sort can't give (sorted by time alone, a host
    predicate touches every file; z-ordered by (time, host-rank) it
    touches a band).

    All integer algebra: rank = ``(v - min)·(2^bits - 1) div
    max(max - min, 1)`` over one dimension-small min/max agg (broadcast
    back), interleave = shift-and-mask — exact in both engines, so the
    key itself is oracle-checkable. Total key width ``bits·len(cols)``
    must fit 63 bits. NULLs rank 0 (sort first). Appends ``zkey``.
    """
    if len(cols) < 2:
        raise ValueError("zorder_key needs at least 2 columns")
    if bits * len(cols) > 63:
        raise ValueError(
            f"zorder_key: {bits} bits x {len(cols)} cols exceeds 63 bits"
        )
    span = (1 << bits) - 1
    mm = docs.agg(
        *[F.min(F.col(c).cast("long")).alias(f"_min_{i}") for i, c in enumerate(cols)],
        *[F.max(F.col(c).cast("long")).alias(f"_max_{i}") for i, c in enumerate(cols)],
    )
    d = docs.crossJoin(F.broadcast(mm))
    ranks = []
    for i, c in enumerate(cols):
        v = F.col(c).cast("long")
        lo, hi = F.col(f"_min_{i}"), F.col(f"_max_{i}")
        r = F.expr(
            f"CAST(((CAST({c} AS BIGINT) - _min_{i}) * {span}) div "
            f"greatest(_max_{i} - _min_{i}, 1) AS BIGINT)"
        )
        ranks.append(F.coalesce(r, F.lit(0)).alias(f"_r_{i}"))
    d = d.select(*docs.columns, *ranks)
    n = len(cols)
    terms = []
    for bit in range(bits):
        for j in range(n):
            terms.append(
                f"(((_r_{j} >> {bit}) & 1) << {bit * n + j})"
            )
    zkey = F.expr(" + ".join(terms)).cast("long")
    return d.select(*docs.columns, zkey.alias("zkey"))


def rendezvous_assign(
    docs: DataFrame,
    key_col: str,
    nodes: List[str],
    salt: str = "hrw1",
) -> DataFrame:
    """Rendezvous (highest-random-weight) assignment of each key to one
    of ``nodes``: the node with the max ``md5(salt|node|key)`` weight
    wins — the elastic-cluster placement primitive whose defining
    property is MINIMAL DISRUPTION: removing a node reassigns ONLY the
    keys that lived on it (pinned in pytest), where mod-N hashing
    reshuffles ~half the corpus on every resize.

    Row-local column algebra (one strict-> argmax chain over the
    node-literal weights, the ``nearest_centroid_col`` discipline —
    ties broken toward the earlier node in list order), scan speed, no
    shuffle; the weight hash is the module's md5-60-bit idiom, so the
    assignment is oracle-checkable. Returns (key, node).
    """
    if not nodes:
        raise ValueError("rendezvous_assign needs at least one node")
    key = F.col(key_col).cast("string")

    def weight(node: str):
        return F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"{salt}|{node}|"), key)), 1, 15
            ),
            16,
            10,
        ).cast("long")

    best_node, best_w = F.lit(nodes[0]), weight(nodes[0])
    for nd in nodes[1:]:
        w = weight(nd)
        best_node = F.when(w > best_w, F.lit(nd)).otherwise(best_node)
        best_w = F.when(w > best_w, w).otherwise(best_w)
    return ensure_parallelism(docs).select(
        key.alias(key_col), best_node.alias("node")
    )


def select_to_budget(
    docs: DataFrame,
    budget: int,
    score_col: str,
    bucket_size: int = 256,
    max_buckets: int = 65536,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokens_col: Optional[str] = None,
) -> DataFrame:
    """Quality-greedy corpus selection under a token budget — "take the
    best documents until ``budget`` tokens": rank by ``(score DESC,
    id ASC)`` and keep every document whose running-total-before is
    still under budget (the straddling doc is kept, same boundary rule
    as :func:`pack_shards` shard 0). This is the data-selection step
    between scoring (quality/unigram-LM/DSIR/classifier) and training —
    phrased as a deterministic global rule rather than sampling, so two
    engines and two runs agree on the exact survivor set.

    Scores must be INTEGERS (micro-units — every scorer in this package
    emits them): the coarse buckets are ``(hi − score) div width``, a
    monotone function of the sort key, so bucket-ascending order IS
    score-descending order and the :func:`pack_shards` two-pass prefix
    sum applies verbatim — per-bucket sums prefix-summed on the driver
    (≤ ``max_buckets`` rows, width auto-widens), then one bucket-keyed
    LOCAL window. No partitionless window anywhere; identical values to
    the global-window oracle twin.

    Returns every input doc as ``(doc_id, n_tokens, score,
    tokens_before, selected)`` — the rejected tail stays visible (the
    gate_funnel discipline: a selection you can't audit is a bug
    magnet), ``selected`` is 1/0.
    """
    import math

    if budget < 0:
        raise ValueError(f"select_to_budget needs budget >= 0, got {budget}")
    dt = dict(docs.dtypes).get(score_col, "")
    if dt not in {"tinyint", "smallint", "int", "bigint"}:
        raise ValueError(
            f"select_to_budget needs an integer {score_col!r} (micro-unit "
            f"scores), got {dt or 'missing column'}"
        )
    n_tokens = (
        F.col(tokens_col)
        if tokens_col
        else F.size(normalized_words(text_col)).cast("long")
    )
    bounds = docs.agg(
        F.min(F.col(score_col)).alias("lo"), F.max(F.col(score_col)).alias("hi")
    ).first()
    if bounds["lo"] is None:  # empty corpus: keep the output shape
        return docs.select(
            F.col(id_col).alias("doc_id"),
            n_tokens.alias("n_tokens"),
            F.col(score_col).cast("long").alias("score"),
            F.lit(None).cast("long").alias("tokens_before"),
            F.lit(None).cast("int").alias("selected"),
        )
    span = int(bounds["hi"]) - int(bounds["lo"]) + 1
    width = max(bucket_size, math.ceil(span / max_buckets))
    d = ensure_parallelism(docs).select(
        F.col(id_col).alias("doc_id"),
        n_tokens.alias("n_tokens"),
        F.col(score_col).cast("long").alias("score"),
        F.expr(f"(cast({int(bounds['hi'])} as bigint) - cast({score_col} as bigint)) div {width}")
        .alias("_bucket"),
    )
    totals = {
        r["_bucket"]: r["_tot"]
        for r in d.groupBy("_bucket").agg(F.sum("n_tokens").alias("_tot")).collect()
    }
    offsets, running = {}, 0
    for b in sorted(totals):
        offsets[b] = running
        running += totals[b]
    offsets_df = d.sparkSession.createDataFrame(
        [(int(b), int(offsets[b])) for b in sorted(offsets)],
        "_bucket long, _offset long",
    )
    d = d.join(F.broadcast(offsets_df), "_bucket")
    w = Window.partitionBy("_bucket").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    before = F.sum("n_tokens").over(w) - F.col("n_tokens") + F.col("_offset")
    return d.select(
        "doc_id",
        "n_tokens",
        "score",
        before.cast("long").alias("tokens_before"),
        F.when(before < int(budget), 1).otherwise(0).cast("int").alias("selected"),
    )


def corpus_datacard(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    source_col: str = "source",
) -> DataFrame:
    """The "datasheets for datasets" rollup as ONE long-format integer
    table — the release artifact accompanying a training corpus:
    totals, composition shares by language and source, and the exact-
    duplicate rate, each a ``(section, metric, value)`` row so the card
    diffs cleanly across corpus versions (join on (section, metric),
    compare value — the shard_manifest drift discipline applied to the
    whole corpus). Quantiles live in :func:`corpus_rollup` (they need a
    numeric-typed column, not this table's uniform long).

    Sections: ``total`` (docs/tokens/chars), ``distinct``
    (langs/sources), ``lang=<x>`` (docs + share_bp per language),
    ``source=<x>`` (docs per source), ``dedup`` (exact_dup_docs —
    members of any md5(text) group of size > 1, the canonical INCLUDED
    — and exact_dup_bp). NULL langs/sources report under ``<null>``.
    All integers; shares in basis points with `div` floor.

    Scale: four combinable aggregations over the corpus (totals,
    per-lang, per-source, per-fingerprint) + aggregate-sized unions.
    Nothing corpus-sized is collected, windowed, or joined wide.
    """
    d = docs.select(
        F.col(id_col).alias("_id"),
        F.coalesce(F.col(lang_col).cast("string"), F.lit("<null>")).alias("_lang"),
        F.coalesce(F.col(source_col).cast("string"), F.lit("<null>")).alias("_src"),
        F.size(normalized_words(text_col)).cast("long").alias("_tok"),
        F.length(F.coalesce(F.col(text_col), F.lit(""))).cast("long").alias("_ch"),
        F.md5(F.coalesce(F.col(text_col), F.lit(""))).alias("_fp"),
    )
    totals = d.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("_tok").cast("long").alias("n_tokens"),
        F.sum("_ch").cast("long").alias("n_chars"),
        F.countDistinct("_lang").cast("long").alias("n_langs"),
        F.countDistinct("_src").cast("long").alias("n_sources"),
    )
    tot_rows = totals.selectExpr(
        "stack(5, "
        "'total', 'docs', n_docs, "
        "'total', 'tokens', n_tokens, "
        "'total', 'chars', n_chars, "
        "'distinct', 'langs', n_langs, "
        "'distinct', 'sources', n_sources"
        ") AS (section, metric, value)"
    )
    n_docs_col = F.broadcast(totals.select("n_docs"))
    by_lang = (
        d.groupBy("_lang").agg(F.count(F.lit(1)).cast("long").alias("n"))
        .crossJoin(n_docs_col)
    )
    lang_rows = by_lang.select(
        F.concat(F.lit("lang="), F.col("_lang")).alias("section"),
        F.lit("docs").alias("metric"),
        F.col("n").alias("value"),
    ).unionByName(
        by_lang.select(
            F.concat(F.lit("lang="), F.col("_lang")).alias("section"),
            F.lit("share_bp").alias("metric"),
            F.expr("(10000 * n) div n_docs").cast("long").alias("value"),
        )
    )
    src_rows = (
        d.groupBy("_src").agg(F.count(F.lit(1)).cast("long").alias("n"))
        .select(
            F.concat(F.lit("source="), F.col("_src")).alias("section"),
            F.lit("docs").alias("metric"),
            F.col("n").alias("value"),
        )
    )
    dup_docs = (
        d.groupBy("_fp").agg(F.count(F.lit(1)).cast("long").alias("n"))
        .where(F.col("n") > 1)
        .agg(F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("dups"))
    )
    dup_rows = dup_docs.crossJoin(n_docs_col).selectExpr(
        "stack(2, "
        "'dedup', 'exact_dup_docs', dups, "
        "'dedup', 'exact_dup_bp', CAST((10000 * dups) div greatest(n_docs, 1) AS BIGINT)"
        ") AS (section, metric, value)"
    )
    return (
        tot_rows.unionByName(lang_rows)
        .unionByName(src_rows)
        .unionByName(dup_rows)
        .select("section", "metric", F.col("value").cast("long").alias("value"))
    )


def concentration_gini(
    df: DataFrame,
    key_col: str,
    weight_col: Optional[str] = None,
) -> DataFrame:
    """Gini concentration of corpus mass across a key (host, domain,
    source, language) in basis points — the one-number inequality
    complement to `skew_report`'s top-N shares: 0 = perfectly even,
    → 10000 = one key owns everything. The corpus-balance gate a
    mixture designer checks before training ("40% of tokens from one
    host" is a Gini symptom long before it is a loss symptom).

    Exact integer Lorenz form over per-key masses sorted ascending
    (ties by key — deterministic): ``gini_bp = 10000 · (2·Σ i·x₍ᵢ₎ −
    (n+1)·S) div (n·S)`` — one fused division, no intermediate
    rounding. ``weight_col`` (e.g. a token count) defaults to row
    count. Empty input returns zero rows; a single key returns 0.

    Scale: one combinable corpus agg to per-key masses, then the rank
    window + final agg run on the KEY-CARDINALITY table (hosts, not
    docs — the pr_curve argument); the corpus never meets a window.

    Returns one row: ``(n_keys, total_mass, gini_bp)``.
    """
    w = F.lit(1).cast("long") if weight_col is None else F.col(weight_col).cast("long")
    per = (
        df
        .select(F.col(key_col).alias("_k"), w.alias("_w"))
        .groupBy("_k")
        .agg(F.sum("_w").cast("long").alias("_x"))
    )
    from pyspark.sql import Window

    rw = Window.orderBy(F.col("_x").asc(), F.col("_k").asc())
    ranked = per.select(
        "_x", F.row_number().over(rw).cast("long").alias("_i")
    )
    return ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum("_x").cast("long").alias("total_mass"),
        F.expr(
            "CAST((10000 * (2 * sum(_i * _x) - (count(1) + 1) * sum(_x)))"
            " div (count(1) * sum(_x)) AS BIGINT)"
        ).alias("gini_bp"),
    )


def _k_anon_classes(
    df: DataFrame,
    quasi_cols: List[str],
    sensitive_col: Optional[str] = None,
) -> DataFrame:
    """Equivalence classes over the quasi-identifier tuple: one row per
    distinct quasi combination with its ``class_size`` (and, when a
    ``sensitive_col`` is given, ``l`` = distinct sensitive values in
    the class — the l-diversity count). NULL quasi values group
    together (Spark and the SQL oracle agree on NULL grouping)."""
    if not quasi_cols:
        raise ValueError("k_anonymity needs at least one quasi-identifier column")
    aggs = [F.count(F.lit(1)).cast("long").alias("class_size")]
    if sensitive_col is not None:
        aggs.append(F.countDistinct(F.col(sensitive_col)).cast("long").alias("l"))
    return ensure_parallelism(df).groupBy(*[F.col(c) for c in quasi_cols]).agg(*aggs)


def k_anonymity(
    df: DataFrame,
    quasi_cols: List[str],
    k: int = 5,
    sensitive_col: Optional[str] = None,
) -> DataFrame:
    """k-anonymity release audit over quasi-identifier columns — the
    privacy gate a corpus datacard needs before metadata ships next to
    the text: any quasi-identifier combination (host, lang, geo bucket,
    size bucket, ...) shared by FEWER than k rows re-identifies those
    rows by linkage, no matter how well the text itself was scrubbed
    (:func:`pii_scrub` and :func:`detect_payment_cards` clean content;
    this measures the structure around it).

    One row: ``(k, n_rows, n_classes, min_class_size,
    violating_classes, rows_at_risk, at_risk_bp)`` — integer basis
    points of the corpus sitting in classes below k. With a
    ``sensitive_col``, adds ``min_l``: the l-diversity floor (minimum
    distinct sensitive values inside any class — k-anonymous but
    l=1 means the class still leaks the attribute exactly).

    Scale: ONE shuffle (groupBy the quasi tuple, map-side partials);
    the final aggregate runs on the class-cardinality table. Empty
    input yields n_rows=0 with NULL min/bp fields (0/0 surfaced, not
    fabricated). A class of size exactly k is NOT a violation.
    """
    per = _k_anon_classes(df, quasi_cols, sensitive_col)
    viol = F.col("class_size") < F.lit(int(k))
    aggs = [
        F.count(F.lit(1)).cast("long").alias("n_classes"),
        F.coalesce(F.sum("class_size"), F.lit(0)).cast("long").alias("n_rows"),
        F.min("class_size").cast("long").alias("min_class_size"),
        F.coalesce(F.sum(F.when(viol, 1).otherwise(0)), F.lit(0))
        .cast("long")
        .alias("violating_classes"),
        F.coalesce(F.sum(F.when(viol, F.col("class_size")).otherwise(0)), F.lit(0))
        .cast("long")
        .alias("rows_at_risk"),
    ]
    if sensitive_col is not None:
        aggs.append(F.min("l").cast("long").alias("min_l"))
    out = per.agg(*aggs).select(
        F.lit(int(k)).cast("long").alias("k"),
        "n_rows",
        "n_classes",
        "min_class_size",
        "violating_classes",
        "rows_at_risk",
        F.when(
            F.col("n_rows") > 0,
            F.expr("(10000 * rows_at_risk) div n_rows"),
        )
        .cast("long")
        .alias("at_risk_bp"),
        *([F.col("min_l")] if sensitive_col is not None else []),
    )
    return out


def k_anonymity_violations(
    df: DataFrame,
    quasi_cols: List[str],
    k: int = 5,
    sensitive_col: Optional[str] = None,
) -> DataFrame:
    """The actionable half of :func:`k_anonymity`: the equivalence
    classes BELOW k — ``(*quasi_cols, class_size[, l])`` — i.e. the
    exact quasi combinations to generalize (bucket coarser) or suppress
    before release. Output is bounded by the number of violating
    classes, never corpus-sized; same one-shuffle shape."""
    per = _k_anon_classes(df, quasi_cols, sensitive_col)
    return per.where(F.col("class_size") < F.lit(int(k)))


def source_overlap(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Cross-source exact-duplicate overlap matrix — the release audit
    behind "how much of source A is already inside source B": mixture
    weights (``domain_reweight``, ``alpha_shares``) silently double-count
    a slice that two sources share, and cross-source leakage is how a
    "held-out" source contaminates training. One row per UNordered
    source pair that shares at least one fingerprint:
    ``(source_a, source_b, shared_fps, fps_a, fps_b, jaccard_bp,
    containment_a_bp, containment_b_bp)`` — all integer basis points
    (``div``), containment_x = shared/fps_x. Zero-overlap pairs are
    ABSENT (inner join keeps the output bounded by actually-shared
    mass, not source-count squared; a reader treats a missing pair as
    0). Pair order is lexicographic (source_a < source_b).

    Scale: distinct (fp, source) is one md5-keyed shuffle; the fp
    self-join fans out per fingerprint by the number of sources
    holding it — bounded by SOURCE cardinality (a dimension, not the
    corpus); per-source sizes are a dimension-small broadcast.
    """
    d = (
        docs
        .select(
            F.md5(F.coalesce(F.col(text_col), F.lit(""))).alias("fp"),
            F.col(source_col).alias("_src"),
        )
        .distinct()
    )
    d = d.persist()
    d.count()  # two consumers launch below — compute the distinct once
    sizes = d.groupBy("_src").agg(F.count(F.lit(1)).cast("long").alias("n_fps"))
    a = d.select("fp", F.col("_src").alias("source_a"))
    b = d.select("fp", F.col("_src").alias("source_b"))
    pairs = (
        a.join(b, on="fp")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("long").alias("shared_fps"))
    )
    out = (
        pairs.join(
            F.broadcast(sizes.withColumnRenamed("_src", "source_a")).withColumnRenamed(
                "n_fps", "fps_a"
            ),
            on="source_a",
        )
        .join(
            F.broadcast(sizes.withColumnRenamed("_src", "source_b")).withColumnRenamed(
                "n_fps", "fps_b"
            ),
            on="source_b",
        )
        .select(
            "source_a",
            "source_b",
            "shared_fps",
            "fps_a",
            "fps_b",
            F.expr(
                "(10000 * shared_fps) div (fps_a + fps_b - shared_fps)"
            ).alias("jaccard_bp"),
            F.expr("(10000 * shared_fps) div fps_a").alias("containment_a_bp"),
            F.expr("(10000 * shared_fps) div fps_b").alias("containment_b_bp"),
        )
    )
    from .cache import register_intermediates

    register_intermediates(out, d)
    return out


def mass_tiers(
    df: DataFrame,
    key_col: str,
    weight_col: Optional[str] = None,
    head_bp: int = 5000,
    torso_bp: int = 9000,
) -> DataFrame:
    """Head/torso/tail tiering of corpus mass by key — the mixture
    designer's partition of the web: the few hosts that carry half the
    tokens (head), the mid-frequency body, and the long tail get
    DIFFERENT treatment (per-host caps, quality thresholds, sampling
    rates), and this is the table those policies key off. Complements
    :func:`skew_report` (top-N shares) and :func:`concentration_gini`
    (one number) with the full ranked Lorenz table.

    A key is **head** while the cumulative mass BEFORE it is under
    ``head_bp`` (so the key that crosses the boundary still belongs to
    the smaller tier — "smallest prefix covering ≥ head_bp"), torso
    while before ``torso_bp``, else tail. Boundaries compare
    cross-multiplied integers (``10000·cum_before < bp·total``) — no
    division, exact at any scale. Rank order: mass desc, key asc
    (deterministic ties).

    Scale: one combinable agg to per-key masses; the rank window and
    cumulative sum run on the KEY-cardinality table. Returns
    ``(key, mass, rank, cum_mass, share_bp, cum_share_bp, tier)``.
    """
    if not (0 < head_bp < torso_bp <= 10000):
        raise ValueError("need 0 < head_bp < torso_bp <= 10000")
    w = F.lit(1).cast("long") if weight_col is None else F.col(weight_col).cast("long")
    per = (
        df
        .select(F.col(key_col).alias("key"), w.alias("_w"))
        .groupBy("key")
        .agg(F.sum("_w").cast("long").alias("mass"))
    )
    rw = Window.orderBy(F.col("mass").desc(), F.col("key").asc())
    # the rank window is already one pass over the single-partition
    # key-cardinality table; the grand total rides the SAME pass as an
    # unbounded frame instead of a second consumer of `per` (which
    # would recompute the corpus aggregation)
    ranked = per.select(
        "key",
        "mass",
        F.row_number().over(rw).cast("long").alias("rank"),
        F.sum("mass").over(rw.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long")
        .alias("cum_mass"),
        F.sum("mass")
        .over(
            rw.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        )
        .cast("long")
        .alias("_total"),
    )
    out = ranked.select(
        "key",
        "mass",
        "rank",
        "cum_mass",
        F.expr("(10000 * mass) div _total").cast("long").alias("share_bp"),
        F.expr("(10000 * cum_mass) div _total").cast("long").alias("cum_share_bp"),
        F.when(
            F.lit(10000) * (F.col("cum_mass") - F.col("mass"))
            < F.lit(int(head_bp)) * F.col("_total"),
            "head",
        )
        .when(
            F.lit(10000) * (F.col("cum_mass") - F.col("mass"))
            < F.lit(int(torso_bp)) * F.col("_total"),
            "torso",
        )
        .otherwise("tail")
        .alias("tier"),
    )
    return out


def range_bounds(
    df: DataFrame,
    key_col: str,
    num_partitions: int,
) -> DataFrame:
    """EXACT equi-depth range-partition boundary planner — the
    deterministic twin of what ``repartitionByRange`` derives by
    reservoir sampling. Sampled bounds wobble run-to-run and under
    skew; a layout job that WRITES range-partitioned output (Iceberg
    sort orders, Z-order tiles' major key, manifest-pruned shards)
    wants reproducible cut points, and auditing a skewed key wants the
    true depth per range, so the planner is worth one exact pass.

    Split i (1..P−1) cuts at the smallest key whose cumulative row
    count covers fraction i/P, integer-exactly: ``bound_i = min key
    with P·cum ≥ i·N``. Per grouped-key row the covered split indices
    are the integers in ``((P·cum_prev) div N, (P·cum) div N]`` — one
    `sequence` per key row, so no per-split scan and no join.

    Scale: the only full-data pass is the combinable per-key count;
    the cumulative window runs on the DISTINCT-KEY table (the same
    distinct-table window discipline as ``ks_test``). P·N must fit a
    long — fine for P ≤ 1e6 shards over 1e12 rows. One row per split:
    ``(split_idx, bound_key, cum_rows)`` where cum_rows counts rows
    with key ≤ bound_key.
    """
    p = int(num_partitions)
    if p < 2:
        raise ValueError("num_partitions must be ≥ 2")
    per = (
        df
        .where(F.col(key_col).isNotNull())
        .groupBy(key_col)
        .agg(F.count(F.lit(1)).cast("long").alias("_c"))
    )
    w = Window.orderBy(key_col).rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = per.select(
        F.col(key_col).alias("_k"),
        F.sum("_c").over(w).alias("_cum"),
        (F.sum("_c").over(w) - F.col("_c")).alias("_prev"),
        F.sum("_c").over(wall).alias("_n"),
    )
    cum = cum.select(
        "_k",
        "_cum",
        (F.expr(f"({p} * _prev) div _n") + F.lit(1)).alias("_lo"),
        F.least(F.expr(f"({p} * _cum) div _n"), F.lit(p - 1).cast("long")).alias(
            "_hi"
        ),
    )
    return (
        cum.where(F.col("_hi") >= F.col("_lo"))
        .select(
            F.explode(F.sequence(F.col("_lo"), F.col("_hi"))).alias("_i"),
            F.col("_k").alias("bound_key"),
            F.col("_cum").cast("long").alias("cum_rows"),
        )
        .select(
            F.col("_i").cast("long").alias("split_idx"),
            "bound_key",
            "cum_rows",
        )
    )


def horvitz_thompson(
    docs: DataFrame,
    value_col: str,
    rate_bp: int = 1000,
    rates_bp: Optional[Dict[str, int]] = None,
    stratify_col: str = "lang",
    key_col: str = "doc_id",
    seed: str = "s1",
) -> DataFrame:
    """Horvitz-Thompson estimation over the :func:`deterministic_sample`
    gate — the half of the sampling story the engine asserts but never
    QUANTIFIES: pipelines profile a 1-10% hash sample because scanning
    10^12 rows for every datacard number is absurd, and HT is the
    design-unbiased way to blow a sampled total back up to the corpus
    with an honest variance. Each row's inclusion probability is KNOWN
    BY CONSTRUCTION here (the md5 gate is a fixed per-stratum
    Bernoulli π), which is exactly the regime where HT is exact:
    ``ŷ = Σ y_i/π``, ``V̂ = (1−π)/π² · Σ y_i²`` per stratum.

    Rates are INTEGER basis points (``rate_bp``/``rates_bp``, the
    per-stratum override mirroring ``deterministic_sample(rates=...)``)
    so the estimator is integer-exact end-to-end: ``est = (Σy·10000)
    div bp`` and ``var = ((10000−bp)·10⁴·Σy²) div bp²`` (the exact
    integer form of (1−π)/π²·Σy²), computed in decimal(38,0) and
    emitted as a long — envelope: fits while Σy²·(10⁴−bp)·10⁴/bp²
    < 2⁶³, i.e. any per-stratum profile sum at bp ≥ 100; for
    micro-rate whale strata lower the value unit. No float anywhere
    in est/var, the oracle hash is exact. The
    gate threshold is ``bucket < bp/10000 · 2³²`` — BIT-IDENTICAL to
    ``deterministic_sample(rate=bp/10000.0)`` (same seed, same md5
    prefix, and the float product is exact for ≤ 2^16 bp against 2^32)
    — so profiling this sample and TRAINING on that sample select the
    same rows. ``se`` (floor of the integer sqrt of var) is the
    display column; compare ``|est − other| ≤ 2·(se_a+se_b)`` across
    snapshots before alarming on drift.

    Scale: ONE scan-speed gated pass over the corpus — the entire
    point; no join, no window, one stratum-keyed combinable agg
    (stratum cardinality-sized output). Returns per stratum:
    ``(stratum, rate_bp, n_sampled, sum_sampled, est_total,
    var_total, se_total)``.
    """
    if not (0 < int(rate_bp) <= 10000):
        raise ValueError(f"horvitz_thompson: rate_bp must be in (0, 10000], got {rate_bp}")
    for sval, bp in (rates_bp or {}).items():
        if not (0 < int(bp) <= 10000):
            raise ValueError(
                f"horvitz_thompson: rates_bp[{sval!r}] must be in (0, 10000], got {bp}"
            )
    bucket = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"{seed}|"), F.col(key_col).cast("string"))), 1, 8
        ),
        16,
        10,
    ).cast("long")
    bp_col = F.lit(int(rate_bp))
    if rates_bp:
        for sval, bp in sorted(rates_bp.items()):
            bp_col = F.when(
                F.col(stratify_col) == sval, F.lit(int(bp))
            ).otherwise(bp_col)
    sampled = (
        docs.select(
            F.col(stratify_col).alias("stratum"),
            F.col(value_col).cast("long").alias("_y"),
            bp_col.cast("long").alias("_bp"),
            bucket.alias("_bk"),
        )
        .where(
            F.col("_bk")
            < (F.col("_bp").cast("double") / F.lit(10000.0))
            * F.lit(float(2**32))
        )
    )
    agg = sampled.groupBy("stratum").agg(
        F.max("_bp").cast("long").alias("rate_bp"),
        F.count(F.lit(1)).cast("long").alias("n_sampled"),
        F.sum("_y").cast("long").alias("sum_sampled"),
        F.sum(F.col("_y").cast("decimal(38,0)") * F.col("_y")).alias("_sy2"),
    )
    return agg.select(
        "stratum",
        "rate_bp",
        "n_sampled",
        "sum_sampled",
        F.expr("(CAST(sum_sampled AS DECIMAL(38,0)) * 10000) div rate_bp")
        .cast("long")
        .alias("est_total"),
        F.expr(
            "((10000 - rate_bp) * CAST(10000 AS DECIMAL(38,0)) * _sy2)"
            " div (CAST(rate_bp AS DECIMAL(38,0)) * rate_bp)"
        )
        .cast("long")
        .alias("var_total"),
        F.floor(F.sqrt(F.expr(
            "CAST(((10000 - rate_bp) * CAST(10000 AS DECIMAL(38,0)) * _sy2)"
            " div (CAST(rate_bp AS DECIMAL(38,0)) * rate_bp) AS DOUBLE)"
        )))
        .cast("long")
        .alias("se_total"),
    )


def tail_index(
    docs: DataFrame,
    value_col: str,
    k: int = 200,
    group_col: Optional[str] = None,
) -> DataFrame:
    """Hill tail-index of a size distribution — "HOW heavy is the
    tail", where `skew_report` shows the top-N and `mass_tiers` the
    Lorenz shape: the layout decisions (shard width, `pack_shards`
    budget, executor memory sizing, straggler expectations) all hinge
    on the power-law exponent of doc/host sizes. Hill's estimator over
    the top ``k`` order statistics: ``α̂ = k / Σ ln(x_(i)/x_(k))``;
    α ≤ 2 means infinite variance (whale-dominated — cap before you
    shuffle), α > 3 behaves like light tails.

    Exactness discipline: the top-k cut runs on the DISTINCT-VALUE
    table (value, count) via a cumulative window — never a corpus
    sort; ties at the k-th value are resolved by taking exactly the
    deterministic remainder from the boundary value (so the estimator
    uses exactly k order statistics, engine-independently). Per-item
    log terms ``floor(1e6·(ln x − ln x_kmin))`` are quantized FIRST
    — multiplied by their multiplicity as integers — then summed
    order-free; ``alpha_milli = 1000·k·10⁶ div Σ_micro`` (NULL when
    the top-k are all equal — no tail information). Values ≤ 0 are
    excluded (log-scale estimator, documented).

    Scale: one combinable (group, value) rollup, then windows on the
    distinct-value table (bounded by value cardinality, not corpus
    rows). Output per group: ``(grp, k, x_kmin, sum_log_micro,
    alpha_milli)``.
    """
    if k < 2:
        raise ValueError(f"tail_index: k must be >= 2, got {k}")
    g = (
        F.col(group_col).cast("string")
        if group_col
        else F.lit("all")
    )
    vals = (
        docs.select(
            g.alias("grp"), F.col(value_col).cast("long").alias("_x")
        )
        .where(F.col("_x") > 0)
        .groupBy("grp", "_x")
        .agg(F.count(F.lit(1)).cast("long").alias("_c"))
    )
    w = (
        Window.partitionBy("grp")
        .orderBy(F.col("_x").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cut = vals.select(
        "grp",
        "_x",
        "_c",
        F.coalesce(F.sum("_c").over(w), F.lit(0)).cast("long").alias("_before"),
    ).where(F.col("_before") < int(k))
    # take = full multiplicity above the boundary, the exact remainder
    # k - cum_before AT the boundary value (deterministic tie policy)
    take = cut.select(
        "grp",
        "_x",
        F.least(F.col("_c"), F.lit(int(k)) - F.col("_before"))
        .cast("long")
        .alias("_take"),
    )
    kmin = take.groupBy("grp").agg(
        F.min("_x").cast("long").alias("x_kmin"),
        F.sum("_take").cast("long").alias("_kgot"),
    )
    terms = take.join(kmin, on="grp").select(
        "grp",
        "x_kmin",
        "_kgot",
        (
            F.col("_take")
            * F.floor(
                F.lit(1000000.0)
                * (
                    F.log(F.col("_x").cast("double"))
                    - F.log(F.col("x_kmin").cast("double"))
                )
            )
        )
        .cast("long")
        .alias("_t"),
    )
    return terms.groupBy("grp", "x_kmin", "_kgot").agg(
        F.sum("_t").cast("long").alias("sum_log_micro")
    ).select(
        "grp",
        F.col("_kgot").alias("k"),
        "x_kmin",
        "sum_log_micro",
        F.when(
            F.col("sum_log_micro") > 0,
            F.expr("(1000 * _kgot * CAST(1000000 AS DECIMAL(38,0))) div sum_log_micro"),
        )
        .cast("long")
        .alias("alpha_milli"),
    )


def unimax_allocation(
    docs: DataFrame,
    budget: int,
    epochs_cap: int = 4,
    group_col: str = "lang",
    weight_col: Optional[str] = None,
) -> DataFrame:
    """UniMax mixture allocation (Chung et al. 2023, arXiv:2304.09151)
    — the third published mixing strategy next to `alpha_sample_shares`
    (mT5 temperature) and `domain_reweight` (DoReMi): spread the token
    budget as UNIFORMLY across languages as their data allows, capping
    every language at ``epochs_cap`` repeats of its corpus. Temperature
    sampling over-represents head languages at any α; UniMax's
    water-fill gives each language min(its cap, the common level λ)
    where λ solves ``Σ min(cap_i, λ) = B`` — scale-invariant by
    construction.

    Exact integer water-fill: languages sorted by cap ascending; for
    prefix position i (0-based, cum_i = Σ caps before i, L langs), the
    level candidate ``λ_i = (B − cum_i) div (L − i)`` is valid iff
    cap_{i-1} ≤ λ_i < cap_i's saturation test — resolved as: a language
    is SATURATED iff ``cap_i · (L − i) ≤ B − cum_i`` fails... concretely
    saturated ⇔ ``cap_i ≤ λ*`` with λ* from the first unsaturated
    position; the remainder ``B − Σalloc`` after flooring is handed out
    one unit per unsaturated language in (cap, group) order, so
    ``Σ alloc = min(B, Σ caps)`` EXACTLY, deterministically, in both
    engines. If total data ≤ B, every language saturates (allocation =
    its cap) and the leftover is reported, never silently inflated.

    Scale: one combinable group rollup; all windows run on the
    LANGUAGE-cardinality table. Output per group: ``(grp, available,
    cap, allocation, saturated, epochs_milli)`` where epochs_milli =
    1000·allocation div available.
    """
    if budget < 0:
        raise ValueError(f"unimax_allocation: budget must be >= 0, got {budget}")
    if epochs_cap < 1:
        raise ValueError(
            f"unimax_allocation: epochs_cap must be >= 1, got {epochs_cap}"
        )
    wcol = (
        F.col(weight_col).cast("long")
        if weight_col
        else F.lit(1).cast("long")
    )
    per = (
        docs.select(F.col(group_col).cast("string").alias("grp"), wcol.alias("_w"))
        .groupBy("grp")
        .agg(F.sum("_w").cast("long").alias("available"))
        .withColumn("cap", (F.col("available") * F.lit(int(epochs_cap))).cast("long"))
    )
    w_ord = Window.orderBy("cap", "grp")
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    staged = per.select(
        "grp",
        "available",
        "cap",
        (F.row_number().over(w_ord) - 1).cast("long").alias("_i"),
        F.coalesce(
            F.sum("cap").over(
                Window.orderBy("cap", "grp").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("_cum"),
        F.count(F.lit(1)).over(w_all).cast("long").alias("_l"),
    )
    # saturated iff granting this cap to every language from here on
    # still fits the remaining budget: cap_i * (L - i) <= B - cum_i
    staged = staged.withColumn(
        "saturated",
        (
            F.col("cap").cast("decimal(38,0)") * (F.col("_l") - F.col("_i"))
            <= F.lit(int(budget)).cast("decimal(38,0)") - F.col("_cum")
        ),
    )
    sat = staged.where(F.col("saturated")).agg(
        F.coalesce(F.sum("cap"), F.lit(0)).cast("long").alias("_satsum"),
        F.count(F.lit(1)).cast("long").alias("_nsat"),
    )
    lvl = staged.crossJoin(F.broadcast(sat)).withColumn(
        "_unsat", F.col("_l") - F.col("_nsat")
    )
    lvl = lvl.withColumn(
        "_lambda",
        F.when(
            F.col("_unsat") > 0,
            F.expr(f"(CAST({int(budget)} AS DECIMAL(38,0)) - _satsum) div _unsat"),
        ).cast("long"),
    ).withColumn(
        "_rem",
        F.when(
            F.col("_unsat") > 0,
            F.expr(
                f"(CAST({int(budget)} AS DECIMAL(38,0)) - _satsum)"
                " - CAST(_lambda AS DECIMAL(38,0)) * _unsat"
            ),
        )
        .otherwise(F.lit(0))
        .cast("long"),
    )
    w_unsat = Window.partitionBy("saturated").orderBy("cap", "grp")
    alloc = lvl.withColumn(
        "_urank",
        F.when(~F.col("saturated"), F.row_number().over(w_unsat)).cast("long"),
    ).withColumn(
        "allocation",
        F.when(F.col("saturated"), F.col("cap")).otherwise(
            F.col("_lambda")
            + F.when(F.col("_urank") <= F.col("_rem"), 1).otherwise(0)
        )
        .cast("long"),
    )
    return alloc.select(
        "grp",
        "available",
        "cap",
        "allocation",
        "saturated",
        F.expr("(1000 * allocation) div available").cast("long").alias(
            "epochs_milli"
        ),
    )


def padding_sweep(
    docs: DataFrame,
    len_col: str,
    caps: Sequence[int] = (512, 1024, 2048, 4096, 8192),
) -> DataFrame:
    """Context-length planning sweep — the sizing table behind "train
    at 2k or 8k?": for each candidate sequence cap L, what the corpus
    costs under the standard concat-pack-truncate model: per doc
    ``used = min(len, L)`` tokens enter packing, ``len − L`` beyond
    the cap are truncated away, packed sequences = ``ceil(Σused / L)``
    and the last sequence's padding is the only padding (concat
    packing crosses document boundaries — the `pack_batches` per-batch
    audit covers the padded non-concat regime). Integer exact:
    truncation share and utilization in basis points via integer div.

    Scale: one conditional-sum aggregation per cap over ONE scan (the
    caps grid is crossJoined as a broadcast literal table, so the scan
    is shared and the shuffle is caps-sized). Output per cap:
    ``(cap, n_docs, n_truncated_docs, tokens_total, tokens_used,
    tokens_truncated_bp, sequences, pad_last, utilization_bp)``.
    """
    if not caps:
        raise ValueError("padding_sweep: caps must be non-empty")
    for c in caps:
        if int(c) < 1:
            raise ValueError(f"padding_sweep: caps must be >= 1, got {c}")
    spark = docs.sparkSession
    grid = spark.createDataFrame(
        [(int(c),) for c in sorted(set(int(c) for c in caps))], "cap long"
    )
    base = docs.select(F.col(len_col).cast("long").alias("_len")).crossJoin(
        F.broadcast(grid)
    )
    agg = base.groupBy("cap").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("_len") > F.col("cap"), 1).otherwise(0))
        .cast("long")
        .alias("n_truncated_docs"),
        F.sum("_len").cast("long").alias("tokens_total"),
        F.sum(F.least(F.col("_len"), F.col("cap"))).cast("long").alias(
            "tokens_used"
        ),
    )
    return agg.select(
        "cap",
        "n_docs",
        "n_truncated_docs",
        "tokens_total",
        "tokens_used",
        F.expr("(10000 * (tokens_total - tokens_used)) div tokens_total")
        .cast("long")
        .alias("tokens_truncated_bp"),
        F.expr("(tokens_used + cap - 1) div cap").cast("long").alias("sequences"),
        F.expr("((tokens_used + cap - 1) div cap) * cap - tokens_used")
        .cast("long")
        .alias("pad_last"),
        F.expr(
            "(10000 * tokens_used) div (((tokens_used + cap - 1) div cap) * cap)"
        )
        .cast("long")
        .alias("utilization_bp"),
    )


def neyman_allocation(
    docs: DataFrame,
    group_col: str,
    value_col: str,
    total: int,
) -> DataFrame:
    """Neyman (variance-optimal) sample allocation across strata —
    `stratified_quotas` splits a labeling/eval budget ∝ stratum SIZE;
    Neyman splits it ∝ N_h·S_h, which minimizes the variance of the
    estimated corpus mean: a small but wildly-variable stratum (one
    mixed-quality host) deserves more of the budget than a huge
    uniform one. The textbook upgrade once per-stratum spread is
    measurable.

    Per stratum the weight ``w = N_h·S_h`` quantizes ONCE to micro
    (``S_h`` = sample sd from exact long moments, one fixed IEEE
    shape); the integer weights then run the exact Hamilton
    largest-remainder machinery verbatim from `stratified_quotas`
    (ties → smaller group name), so quotas sum to EXACTLY ``total``.
    Degenerate strata (N_h < 2 or zero variance) carry weight 0 —
    they cannot reduce estimator variance; give them floor coverage
    via a union with `stratified_quotas` if needed (documented).
    All-zero weights → everything allocated by the remainder rank.

    Returns one row per stratum: ``(grp, n_docs, sd_milli,
    weight_micro, quota)``.

    Scale: one combinable moment rollup; Hamilton runs on the
    strata-sized table.
    """
    if total < 0:
        raise ValueError(f"neyman_allocation needs total >= 0, got {total}")
    g = (
        docs
        .where(F.col(group_col).isNotNull() & F.col(value_col).isNotNull())
        .groupBy(F.col(group_col).alias("grp"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.col(value_col).cast("long")).cast("long").alias("_s"),
            F.sum(
                F.col(value_col).cast("long")
                * F.col(value_col).cast("long")
            )
            .cast("long")
            .alias("_q"),
        )
    )
    sd = (
        "sqrt((CAST(n_docs AS DOUBLE) * _q - CAST(_s AS DOUBLE) * _s)"
        " / (CAST(n_docs AS DOUBLE) * (n_docs - 1)))"
    )
    wts = g.select(
        "grp",
        "n_docs",
        F.when(
            (F.col("n_docs") >= 2)
            & (
                F.col("n_docs") * F.col("_q") - F.col("_s") * F.col("_s")
                > 0
            ),
            F.expr(f"CAST(floor(1000.0 * {sd}) AS BIGINT)"),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("sd_milli"),
        F.when(
            (F.col("n_docs") >= 2)
            & (
                F.col("n_docs") * F.col("_q") - F.col("_s") * F.col("_s")
                > 0
            ),
            F.expr(
                f"CAST(floor(1000000.0 * n_docs * {sd}) AS BIGINT)"
            ),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("weight_micro"),
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    base = wts.select(
        "grp",
        "n_docs",
        "sd_milli",
        "weight_micro",
        F.sum("weight_micro").over(w_all).alias("_W"),
    ).select(
        "grp",
        "n_docs",
        "sd_milli",
        "weight_micro",
        F.when(
            F.col("_W") > 0,
            F.expr(f"CAST(({int(total)} * weight_micro) div _W AS BIGINT)"),
        )
        .otherwise(F.lit(0))
        .alias("_base"),
        F.when(
            F.col("_W") > 0,
            F.expr(f"({int(total)} * weight_micro) % _W"),
        )
        .otherwise(F.lit(0))
        .alias("_rem"),
    )
    w_rem = Window.orderBy(F.col("_rem").desc(), F.col("grp").asc())
    leftover = F.lit(int(total)) - F.sum("_base").over(w_all)
    return (
        base.withColumn("_rank", F.row_number().over(w_rem))
        .withColumn("_leftover", leftover)
        .select(
            "grp",
            "n_docs",
            "sd_milli",
            "weight_micro",
            (
                F.col("_base")
                + F.when(
                    F.col("_rank") <= F.col("_leftover"), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("quota"),
        )
    )
