"""Text analysis operators: language-ID, quality scoring, token
counting, fingerprinting. Pure column algebra — whole-stage codegen,
no Python UDFs — so they run at scan speed over a 100 TB corpus.
"""

from __future__ import annotations

from typing import Dict, List, Optional, Sequence

import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: tiny deterministic stopword profiles (n-gram/stopword heuristic)
from ..kernels.extract import STOPWORDS
from .dedup import ensure_parallelism, normalized_words

def _lit_str_array(words):
    """One parsed array literal instead of a py4j round trip per
    element (escaping matches Spark's default string-literal rules)."""
    from pyspark.sql import functions as F

    quoted = ",".join(
        "'" + w.replace("\\", "\\\\").replace("'", "\\'") + "'" for w in words
    )
    return F.expr("array(" + quoted + ")")


#: BPE-ish pre-tokenizer: letter runs | digit runs | single non-space symbol
BPE_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def _stopword_hits(words: Column, lang: str) -> Column:
    sw = _lit_str_array(STOPWORDS[lang])
    return F.size(F.filter(words, lambda w: F.array_contains(sw, F.lower(w))))


def language_id(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Stopword-ratio language ID: argmax over language profiles, ties
    broken by profile order; no hits => 'und'."""
    words = normalized_words(text_col)
    langs = list(STOPWORDS)
    # interpreted HOF filters below run at the scan's partition count —
    # spread them (no-op when the input already has enough splits)
    d = ensure_parallelism(docs).select(
        F.col(id_col).alias("doc_id"),
        F.size(words).alias("n_words"),
        *[_stopword_hits(words, lang).alias(f"hits_{lang}") for lang in langs],
    )
    best_lang, best_hits = F.lit("und"), F.lit(0)
    for lang in langs:
        hits = F.col(f"hits_{lang}")
        best_lang = F.when(hits > best_hits, F.lit(lang)).otherwise(best_lang)
        best_hits = F.when(hits > best_hits, hits).otherwise(best_hits)
    return d.select(
        "doc_id",
        best_lang.alias("lang_pred"),
        F.round(best_hits / F.greatest(F.col("n_words"), F.lit(1)), 6).alias("stopword_ratio"),
    )


def quality_scores(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Heuristic quality signals + composite score in [0, 1]:
    length band, mean word length band, punctuation density, stopword
    density — the standard crawl-filtering feature set."""
    words = normalized_words(text_col)
    text = F.col(text_col)
    n_words = F.size(words)
    n_chars = F.length(text)
    mean_wlen = F.round(
        F.aggregate(words, F.lit(0.0), lambda acc, w: acc + F.length(w))
        / F.greatest(n_words, F.lit(1)),
        6,
    )
    n_punct = F.size(F.regexp_extract_all(text, F.lit(r"[^\w\s]"), 0))
    punct_ratio = F.round(n_punct / F.greatest(n_chars, F.lit(1)), 6)
    sw_all = _lit_str_array([w for ws in STOPWORDS.values() for w in ws])
    sw_ratio = F.round(
        F.size(F.filter(words, lambda w: F.array_contains(sw_all, F.lower(w))))
        / F.greatest(n_words, F.lit(1)),
        6,
    )
    score = (
        F.when((n_words >= 10) & (n_words <= 100000), 0.25).otherwise(0.0)
        + F.when((mean_wlen >= 3) & (mean_wlen <= 12), 0.25).otherwise(0.0)
        + F.when(punct_ratio <= 0.2, 0.25).otherwise(0.0)
        + F.when(sw_ratio >= 0.1, 0.25).otherwise(0.0)
    )
    return ensure_parallelism(docs).select(
        F.col(id_col).alias("doc_id"),
        n_words.alias("n_words"),
        mean_wlen.alias("mean_word_len"),
        punct_ratio.alias("punct_ratio"),
        sw_ratio.alias("stopword_ratio"),
        F.round(score, 2).alias("quality_score"),
    )


def normalize_text(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    form: str = "NFC",
) -> DataFrame:
    """Unicode normalization — the fix-encoding pass a web corpus runs
    before any hashing/dedup (the same page crawled twice can differ
    only in composed-vs-decomposed accents, which would defeat every
    exact fingerprint downstream). Returns ``(doc_id, norm_text,
    changed)``.

    Spark has no built-in Unicode-normalize expression, so this is one
    of the package's sanctioned VECTORIZED UDFs (Arrow-batched
    ``pandas_udf``, never per-row Python) wrapping
    ``unicodedata.normalize`` — a pure per-row map, scan-speed shape
    with zero shuffle. Oracled cross-engine against DuckDB's
    ``nfc_normalize`` (the default NFC form; NFKC/NFD/NFKD are
    pytest-covered only — DuckDB exposes no twin).
    """
    import unicodedata

    from pyspark.sql.functions import pandas_udf

    if form not in ("NFC", "NFD", "NFKC", "NFKD"):
        raise ValueError(f"unknown normalization form {form!r}")

    # one STRUCT-returning UDF so the normalized text is computed once
    # per row however the projection is collapsed (two scalar-UDF
    # mentions of the same expression can each survive into the
    # physical plan); null text -> null norm_text, changed = false
    @pandas_udf("norm_text string, changed boolean")
    def _norm(s: pd.Series) -> pd.DataFrame:
        normed = s.map(
            lambda t: unicodedata.normalize(form, t) if t is not None else None
        )
        changed = (normed != s) & s.notna()
        return pd.DataFrame({"norm_text": normed, "changed": changed})

    d = docs.select(
        F.col(id_col).alias("doc_id"), _norm(F.col(text_col)).alias("_n")
    )
    return d.select(
        "doc_id",
        F.col("_n.norm_text").alias("norm_text"),
        F.col("_n.changed").alias("changed"),
    )


def token_counts(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Whitespace and BPE-ish regex token counts (corpus sizing)."""
    return ensure_parallelism(docs).select(
        F.col(id_col).alias("doc_id"),
        F.size(normalized_words(text_col)).alias("ws_tokens"),
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(BPE_TOKEN_RE), 0)).alias("bpe_tokens"),
    )


def fingerprints(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Normalized content fingerprint: lowercase, collapse all
    non-alphanumerics to single spaces, trim, md5 — stable across
    formatting-only edits."""
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"[^a-z0-9]+", " "))
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.md5(norm).alias("fingerprint"),
        F.length(norm).alias("norm_len"),
    )


def unigram_lm_scores(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    smoothing_k: int = 1,
) -> DataFrame:
    """Corpus-trained unigram language-model scoring — the KenLM-style
    perplexity quality filter of a training-data pipeline, reduced to
    its distributable core: train unigram statistics over the corpus in
    one pass, then score each document by its mean per-word log
    probability (higher = more typical of the corpus; gibberish and
    OCR-mangled pages score low).

    All model arithmetic is EXACT-INTEGER so the result is engine- and
    reduction-order-independent (the integer-PageRank trick): each
    word's add-k-smoothed log probability ``ln((cnt + k) / (N + k·V))``
    is quantized ONCE to integer micro-nats (round to 1e-6), and the
    per-document aggregation sums those integers — a float sum over a
    hash-shuffled group would differ in final ulps between engines and
    break hash oracles. Returns ``(doc_id, n_words, sum_logprob_micro,
    avg_logprob)``.

    Scale shape: one (word)-keyed count aggregation with map-side
    partials (the model), one broadcast of the 1-row (N, V) totals, one
    shuffle join of exploded words against the model (Zipf-skewed on
    stopwords, but the join is AQE-skew-splittable and the payload is
    one integer), one (doc)-keyed sum. No driver-side model state, so a
    10⁹-type vocabulary never leaves the cluster.
    """
    exploded = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(normalized_words(text_col)).alias("w"),
    )
    # the model table feeds BOTH the (N, V) totals and the scoring join;
    # persist + eager count so the corpus explode + word aggregation
    # runs once, not once per consumer. Size is O(vocabulary), which is
    # what a unigram model costs anywhere it lives.
    # lazy persist (see bigram_lm_scores): the first consumer stage
    # computes and caches the vocabulary table; no extra barrier job
    model = exploded.groupBy("w").agg(F.count(F.lit(1)).alias("cnt")).persist()
    totals = model.agg(
        F.sum("cnt").alias("N"), F.count(F.lit(1)).alias("V")
    )
    k = int(smoothing_k)
    scored_model = model.crossJoin(F.broadcast(totals)).select(
        "w",
        F.round(
            F.log((F.col("cnt") + F.lit(k)) / (F.col("N") + F.lit(k) * F.col("V")))
            * F.lit(1_000_000.0)
        )
        .cast("long")
        .alias("lp_micro"),
    )
    # scoring pass: explode_outer keeps wordless docs as one null-word
    # row, so every doc reaches the doc-keyed aggregation in the same
    # pass — the former third corpus scan + doc-keyed join back are
    # gone (guide §2.4). The model covers every corpus word, so the
    # left join keyed w matches exactly the rows the inner form kept;
    # count("w") skips the null rows. Identical output.
    scored = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode_outer(normalized_words(text_col)).alias("w"),
    )
    out = (
        scored.join(scored_model, on="w", how="left")
        .groupBy("doc_id")
        .agg(
            F.count(F.col("w")).cast("long").alias("n_words"),
            F.coalesce(F.sum("lp_micro"), F.lit(0))
            .cast("long")
            .alias("sum_logprob_micro"),
        )
        .select(
            "doc_id",
            "n_words",
            "sum_logprob_micro",
            F.when(
                F.col("n_words") > 0,
                F.round(
                    F.col("sum_logprob_micro")
                    / F.col("n_words")
                    / F.lit(1_000_000.0),
                    6,
                ),
            ).alias("avg_logprob"),
        )
    )
    return out


def lm_quality_buckets(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    head: float = 0.3,
    tail: float = 0.3,
    smoothing_k: int = 1,
    scores: DataFrame = None,
) -> DataFrame:
    """CCNet-style perplexity bucketing: split the corpus into
    ``head`` / ``middle`` / ``tail`` by corpus-level quantile cuts on
    the unigram-LM mean log probability (head = most corpus-typical,
    the slice CCNet keeps for LM training; tail = the perplexity
    outliers). ``head``/``tail`` are corpus FRACTIONS (0.3/0.3 -> cuts
    at the 70th and 30th percentiles of ``avg_logprob``).

    Pass ``scores`` to reuse an existing :func:`unigram_lm_scores`
    output (the curation pipeline computes it once for the gate and the
    buckets) — or a :func:`bigram_lm_scores` output to bucket on the
    context-aware model instead (the count column carries through under
    its own name). Cuts are EXACT interpolated percentiles rounded to 6
    decimals — the same parity-proven recipe as ``corpus_rollup`` — and
    the rounded ``avg_logprob`` is compared against the rounded cuts,
    so bucket labels are engine-independent. Wordless docs (NULL score)
    land in ``tail`` by policy: a page with no extractable words is a
    quality outlier by definition.

    Scale shape: the scores plan (see :func:`unigram_lm_scores`), one
    corpus-level 2-value percentile aggregate (map-side partials), and
    the 1-row cuts table broadcast back — the corpus is never
    re-shuffled for bucketing.
    """
    from .cache import register_intermediates

    if not (0.0 < head and 0.0 < tail and head + tail <= 1.0):
        raise ValueError(f"head/tail fractions invalid: {head}, {tail}")
    if scores is None:
        scores = unigram_lm_scores(
            docs, id_col=id_col, text_col=text_col, smoothing_k=smoothing_k
        )
    # two consumers (cuts + bucketing) of the scoring plan: persist so
    # the corpus explode/model join runs once, not twice
    scores = scores.persist()
    scores.count()
    cuts = scores.agg(
        F.round(F.expr(f"percentile(avg_logprob, {1.0 - head!r})"), 6).alias("hi"),
        F.round(F.expr(f"percentile(avg_logprob, {tail!r})"), 6).alias("lo"),
    )
    # scores may come from the unigram scorer (n_words) or the bigram
    # scorer (n_bigrams) — carry whichever count the model used
    count_col = "n_words" if "n_words" in scores.columns else "n_bigrams"
    out = scores.crossJoin(F.broadcast(cuts)).select(
        "doc_id",
        count_col,
        "avg_logprob",
        F.when(F.col("avg_logprob").isNull(), F.lit("tail"))
        .when(F.col("avg_logprob") >= F.col("hi"), F.lit("head"))
        .when(F.col("avg_logprob") <= F.col("lo"), F.lit("tail"))
        .otherwise(F.lit("middle"))
        .alias("bucket"),
    )
    return register_intermediates(out, scores)


def compression_ratio(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    level: int = 6,
) -> DataFrame:
    """Per-document zlib compression ratio — the repetitiveness proxy
    web-curation pipelines keep next to the Gopher repetition signals
    (highly templated/duplicated text compresses far below prose;
    ratio = compressed/raw UTF-8 bytes, rounded to 6 digits, NULL for
    NULL text, 1.0 for empty). Returns ``(doc_id, n_bytes, ratio)``.

    A sanctioned VECTORIZED UDF (Arrow-batched ``pandas_udf``, the
    normalize_text pattern): zlib at a fixed level is deterministic
    for a given zlib build, so values are retry- and partition-stable
    — but NOT SQL-expressible, hence a rows-only driver entry with the
    value identity pinned against the kernel zlib in pytest. Pure
    per-row map: scan-speed, zero shuffle."""
    import zlib

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("n_bytes long, ratio double")
    def _ratio(s: pd.Series) -> pd.DataFrame:
        def one(t):
            if t is None:
                return (None, None)
            raw = t.encode("utf-8")
            if not raw:
                return (0, 1.0)
            return (len(raw), round(len(zlib.compress(raw, level)) / len(raw), 6))

        pairs = s.map(one)
        return pd.DataFrame(
            {"n_bytes": [p[0] for p in pairs], "ratio": [p[1] for p in pairs]}
        )

    d = ensure_parallelism(docs).select(
        F.col(id_col).alias("doc_id"), _ratio(F.col(text_col)).alias("_r")
    )
    return d.select(
        "doc_id",
        F.col("_r.n_bytes").alias("n_bytes"),
        F.col("_r.ratio").alias("ratio"),
    )


def linear_classifier_scores(
    docs: DataFrame,
    weights: DataFrame,
    dims: int,
    bias: int = 0,
    threshold: int = 0,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Apply an offline-trained HASHED linear text classifier (the
    fastText trick, and the FineWeb-Edu deployment pattern: a small
    model trained elsewhere, applied at corpus scale as a gate).

    ``weights`` is the exported model head: ``(bucket: long, weight:
    long)`` in integer micro-units over the hashing-trick feature space
    ``bucket = md5₆₀(lower(word)) mod dims`` — the same shared
    Java∩RE2/DuckDB md5 arithmetic as every hash gate here. Hashing
    keeps the weight table a FIXED ``dims`` rows no matter the corpus
    vocabulary, so it always broadcasts; absent buckets weigh 0.

    ``score = bias + (Σ weight(bucket(w))) div n_words`` — integer mean
    pooling, reduction-order independent, hence hash-oracle exact
    (a float sigmoid is monotone, so thresholding the integer logit IS
    thresholding the probability; we never emit engine-specific
    ``exp``). One explode feeds one broadcast join and one doc-keyed
    sum: a single corpus shuffle, the unigram_lm shape. Wordless docs
    score ``bias``."""
    if dims < 1:
        raise ValueError(f"dims must be >= 1, got {dims}")
    ws = normalized_words(text_col)
    # persist + eager count: the word array feeds two concurrent
    # consumers (the explode and the final n_words join) — the module
    # rule for shared subtrees; tagged for caller release via
    # register_intermediates
    base = (
        ensure_parallelism(docs)
        .select(
            F.col(id_col).alias("doc_id"),
            F.size(ws).cast("long").alias("n_words"),
            ws.alias("_ws"),
        )
        .persist()
    )
    base.count()
    bucket = (
        F.conv(F.substring(F.md5(F.lower(F.col("_w"))), 1, 15), 16, 10).cast("long")
        % dims
    )
    w = F.broadcast(
        weights.select(F.col("bucket").alias("_b"), F.col("weight").alias("_wt"))
    )
    sums = (
        base.select("doc_id", F.explode("_ws").alias("_w"))
        .select("doc_id", bucket.alias("_b"))
        .join(w, "_b")
        .groupBy("doc_id")
        .agg(F.sum("_wt").alias("_s"))
    )
    out = (
        base.drop("_ws")
        .join(sums, "doc_id", "left")
        .select(
            "doc_id",
            "n_words",
            (
                F.lit(bias)
                + F.expr("coalesce(_s, 0) div greatest(n_words, 1)")
            ).cast("long").alias("score"),
        )
        .withColumn("keep", (F.col("score") >= threshold))
    )
    from .cache import register_intermediates

    return register_intermediates(out, base)


def ngram_counts(
    docs: DataFrame,
    n: int = 2,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-level word n-gram count table — the raw material of
    count-based LM training (Kneser-Ney tables), corpus audits, and
    the cross-corpus contamination checks decontamination stops short
    of: one row per distinct ``n``-gram with total occurrence count and
    document frequency; ``min_count`` prunes the hapax tail AFTER full
    aggregation (a gram's total must be complete before it is judged).

    Scale (100 TB): grams are built in-row (sequence+slice column
    algebra, one explode — no self-joins), then counted in two
    map-side-combinable phases: (gram, doc) partial counts absorb
    within-doc repetition at the mappers, and the gram-keyed rollup
    sums occurrences while counting rows for document frequency — so
    the big shuffle carries one row per DISTINCT (gram, doc), not one
    per occurrence, and no exact-distinct double exchange is needed.
    Docs shorter than ``n`` words contribute nothing.
    """
    warr = normalized_words(text_col)
    grams = F.when(
        F.size(warr) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(warr) - n),
            lambda i: F.concat_ws(" ", F.slice(warr, i + 1, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    per_doc = (
        ensure_parallelism(docs)
        .select(F.col(id_col).alias("_doc"), F.explode(grams).alias("gram"))
        .groupBy("gram", "_doc")
        .agg(F.count(F.lit(1)).alias("_m"))
    )
    return (
        per_doc.groupBy("gram")
        .agg(
            F.sum("_m").cast("long").alias("n_occurrences"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
        )
        .where(F.col("n_occurrences") >= int(min_count))
    )


def bigram_lm_scores(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    smoothing_k: int = 1,
) -> DataFrame:
    """Corpus-trained BIGRAM language-model scoring — the context-aware
    step up from :func:`unigram_lm_scores` (word-salad pages with
    plausible unigrams but shuffled order score low here): each document
    gets its mean ``ln P(wᵢ | wᵢ₋₁)`` under add-k smoothing,
    ``P(w|c) = (cnt(c w) + k) / (ctx(c) + k·V)`` with ``ctx(c)`` = the
    corpus count of ``c`` as a bigram context and ``V`` = the distinct
    outcome vocabulary (bigram second words). A document's first word
    has no context and is skipped (``n_bigrams = n_words − 1``).

    Same exactness discipline as the unigram model: every distinct
    bigram's log probability is quantized ONCE to integer micro-nats
    and per-document aggregation sums integers, so results are engine-
    and reduction-order-exact (hash-oracle-safe).

    Scale shape: ONE corpus explode feeds everything — the bigram model
    is a (gram)-keyed combinable count; context counts and the outcome
    vocabulary both derive from the MODEL table (O(bigram types), never
    a second corpus pass); scoring is one Zipf-skewed but
    AQE-splittable join of the exploded grams against the model, then a
    doc-keyed integer sum. No driver-side model state.
    """
    warr = normalized_words(text_col)
    grams = F.when(
        F.size(warr) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(warr) - 2),
            lambda i: F.concat_ws(" ", F.slice(warr, i + 1, 2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    exploded = ensure_parallelism(docs).select(
        F.col(id_col).alias("doc_id"), F.explode(grams).alias("g")
    )
    # LAZY persist: the executed plan shows NO exchange reuse across the
    # model's consumers (ctx/cont/types/scoring each re-aggregate the
    # corpus explode — the r5 "Spark reuses the exchange" comment was
    # wrong at runtime), so the bigram-type table is cached instead;
    # lazy beats persist+count here (same-window A/B 2.07 / 1.78 / 1.88
    # s for none/lazy/eager) because the first consumer stage both
    # computes and caches it — no extra barrier job. O(bigram types) =
    # vocabulary-scale, cacheable at any corpus size (spills to disk).
    model = (
        exploded.groupBy("g").agg(F.count(F.lit(1)).alias("cnt")).persist()
    )
    first = F.split(F.col("g"), " ", 2).getItem(0)
    second = F.split(F.col("g"), " ", 2).getItem(1)
    ctx = model.groupBy(first.alias("c")).agg(F.sum("cnt").alias("ctx_cnt"))
    vocab = model.agg(F.countDistinct(second).alias("V"))
    k = int(smoothing_k)
    scored_model = (
        model.join(ctx, on=first == F.col("c"))
        .crossJoin(F.broadcast(vocab))
        .select(
            "g",
            F.round(
                F.log(
                    (F.col("cnt") + F.lit(k))
                    / (F.col("ctx_cnt") + F.lit(k) * F.col("V"))
                )
                * F.lit(1_000_000.0)
            )
            .cast("long")
            .alias("lp_micro"),
        )
    )
    # scoring re-explodes the gram stream once (the second and last
    # corpus pass — the model side reads the PERSISTED type table, so
    # the expensive gram HOF runs exactly twice overall: model build +
    # scoring). The doc-keyed join back restores empty/short docs
    # (0 counts, NULL avg) from the cheap id-only scan.
    per_doc = (
        exploded.join(scored_model, on="g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("lp_micro").alias("sum_logprob_micro"),
        )
    )
    out = (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(per_doc, on="doc_id", how="left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_bigrams"), F.lit(0)).cast("long").alias("n_bigrams"),
            F.coalesce(F.col("sum_logprob_micro"), F.lit(0))
            .cast("long")
            .alias("sum_logprob_micro"),
            F.when(
                F.col("n_bigrams") > 0,
                F.round(
                    F.col("sum_logprob_micro")
                    / F.col("n_bigrams")
                    / F.lit(1_000_000.0),
                    6,
                ),
            ).alias("avg_logprob"),
        )
    )
    from .cache import register_intermediates

    return register_intermediates(out, model)


#: Unicode script ranges as ``\x{..}`` character classes — the syntax
#: subset Java regex (Spark) and RE2 (DuckDB) both accept, so the
#: counts are oracle-checkable cross-engine. Deliberately coarse BMP
#: blocks: this is a routing signal, not a linguistic classifier.
SCRIPT_RANGES: Dict[str, str] = {
    "latin": r"[A-Za-z\x{00C0}-\x{024F}]",
    "cyrillic": r"[\x{0400}-\x{04FF}]",
    "greek": r"[\x{0370}-\x{03FF}]",
    "arabic": r"[\x{0600}-\x{06FF}]",
    "hebrew": r"[\x{0590}-\x{05FF}]",
    "devanagari": r"[\x{0900}-\x{097F}]",
    "cjk": r"[\x{4E00}-\x{9FFF}\x{3040}-\x{30FF}]",
    "hangul": r"[\x{AC00}-\x{D7AF}\x{1100}-\x{11FF}]",
}


def script_profile(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document Unicode SCRIPT composition — the routing signal a
    multilingual crawl needs BEFORE language-ID: stopword-profile
    langid (:func:`language_id`) can only separate languages it has
    profiles for, all of them Latin-script; a page that is 90%
    Cyrillic or CJK should be routed to the right model (or the
    mixed-script spam bin) by codepoint evidence alone. Mixed-script
    text inside one word is also a classic spam/homoglyph obfuscation
    signal (Cyrillic 'а' inside Latin words), which the per-script
    counts expose directly.

    Per doc: one count column per script in :data:`SCRIPT_RANGES`, the
    total lettered count, the DOMINANT script (argmax, ties to the
    earlier script in declaration order via strict ``>``; no letters
    at all => 'none'), and ``dominant_bp`` — the dominant script's
    share in floored basis points (exact integers, one floored
    division, cross-engine stable).

    Scale shape: row-local ``regexp_count`` column algebra — one scan,
    whole-stage codegen, no shuffle, no UDF. The char classes use the
    ``\\x{..}`` syntax subset shared by Java regex and RE2 so the
    DuckDB oracle twin counts identically.
    """
    t = F.coalesce(F.col(text_col), F.lit(""))
    counts = {
        name: F.regexp_count(t, F.lit(pat)).cast("long")
        for name, pat in SCRIPT_RANGES.items()
    }
    d = ensure_parallelism(docs).select(
        F.col(id_col).alias("doc_id"),
        *[c.alias(f"n_{name}") for name, c in counts.items()],
    )
    names = list(SCRIPT_RANGES)
    total = None
    for name in names:
        col = F.col(f"n_{name}")
        total = col if total is None else total + col
    dominant, best = F.lit(names[0]), F.col(f"n_{names[0]}")
    for name in names[1:]:
        col = F.col(f"n_{name}")
        dominant = F.when(col > best, F.lit(name)).otherwise(dominant)
        best = F.when(col > best, col).otherwise(best)
    return d.select(
        "doc_id",
        *[f"n_{name}" for name in names],
        total.cast("long").alias("n_scripted"),
        F.when(total > 0, dominant).otherwise(F.lit("none")).alias("dominant"),
        F.floor(best * 10000.0 / F.greatest(total, F.lit(1)))
        .cast("long")
        .alias("dominant_bp"),
    )


def extraction_token_prf(
    docs: DataFrame,
    expected_col: str = "expected",
    extracted_col: str = "extracted",
    id_col: str = "doc_id",
) -> DataFrame:
    """Extraction-quality EVAL: token-level precision/recall/F1 of an
    extracted text column against its expected (gold) column — the
    harness that turns "the boilerplate stripper looks fine" into a
    number, and the regression gate a change to the extractor (density
    vs justext, a new heuristic threshold) must pass. The engine's
    extractor already has byte-identity differentials on synthetic
    pages; this op is the GRADED metric for inputs where byte identity
    is unattainable (real-world html, OCR noise) and for comparing two
    extractors' outputs at corpus scale.

    Token multiset overlap, all exact integers: per (doc, word) the
    expected count ``n_e`` and extracted count ``n_x`` full-outer-join,
    ``inter = sum(least(n_e, n_x))``; ``precision_bp = floor(inter *
    10^4 / max(n_extracted, 1))``, recall likewise over ``n_expected``,
    and token-F1 collapses to ``floor(2 * inter * 10^4 / max(n_e + n_x,
    1))`` — one floored division each, cross-engine stable. ``exact``
    flags byte-identical rows (the differential-grade subset).

    Scale shape: two explode + map-side-combinable (doc, word) counts,
    one (doc, word)-keyed full outer join, one per-doc re-aggregation —
    every shuffle keyed on (doc, word) or doc, no windows, no UDFs.
    Empty/null sides degrade to 0 counts (precision 0 vs empty
    extraction, recall 0 vs empty gold), never a division error.
    """
    d = docs.select(
        F.col(id_col).alias("doc_id"),
        F.coalesce(F.col(expected_col), F.lit("")).alias("_e"),
        F.coalesce(F.col(extracted_col), F.lit("")).alias("_x"),
    )
    d = d.persist()
    d.count()

    def word_counts(col, out):
        return (
            d.select("doc_id", F.explode(normalized_words(col)).alias("word"))
            .groupBy("doc_id", "word")
            .agg(F.count(F.lit(1)).alias(out))
        )

    e = word_counts("_e", "n_e")
    x = word_counts("_x", "n_x")
    joined = e.join(x, on=["doc_id", "word"], how="full_outer").select(
        "doc_id",
        F.coalesce(F.col("n_e"), F.lit(0)).alias("n_e"),
        F.coalesce(F.col("n_x"), F.lit(0)).alias("n_x"),
    )
    per_doc = joined.groupBy("doc_id").agg(
        F.sum("n_e").cast("long").alias("n_expected"),
        F.sum("n_x").cast("long").alias("n_extracted"),
        F.sum(F.least(F.col("n_e"), F.col("n_x"))).cast("long").alias("n_inter"),
    )
    exact = d.select("doc_id", (F.col("_e") == F.col("_x")).alias("exact"))
    out = (
        # documents with NO words on either side vanish from the word
        # explode — re-anchor on the input so every doc gets a row
        d.select("doc_id")
        .join(per_doc, on="doc_id", how="left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_expected"), F.lit(0)).cast("long").alias("n_expected"),
            F.coalesce(F.col("n_extracted"), F.lit(0)).cast("long").alias("n_extracted"),
            F.coalesce(F.col("n_inter"), F.lit(0)).cast("long").alias("n_inter"),
        )
        .select(
            "doc_id",
            "n_expected",
            "n_extracted",
            "n_inter",
            F.floor(
                F.col("n_inter") * 10000.0 / F.greatest(F.col("n_extracted"), F.lit(1))
            )
            .cast("long")
            .alias("precision_bp"),
            F.floor(
                F.col("n_inter") * 10000.0 / F.greatest(F.col("n_expected"), F.lit(1))
            )
            .cast("long")
            .alias("recall_bp"),
            F.floor(
                2 * F.col("n_inter") * 10000.0
                / F.greatest(F.col("n_expected") + F.col("n_extracted"), F.lit(1))
            )
            .cast("long")
            .alias("f1_bp"),
        )
        .join(exact, on="doc_id")
    )
    from .cache import register_intermediates

    return register_intermediates(out, d)


def word_symbol_counts(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Distinct-word frequency table with each word split into its
    initial BPE symbol sequence (single characters). The working set of
    BPE training is VOCABULARY-sized, not corpus-sized — a 10^12-doc
    crawl collapses to its distinct words (Zipf: tens of millions) in
    one map-side-combined count, and every training round after that
    touches only this table."""
    words = ensure_parallelism(docs).select(
        F.explode(normalized_words(text_col)).alias("w")
    )
    return words.groupBy("w").agg(F.count(F.lit(1)).alias("cnt")).select(
        "w", "cnt", F.split(F.col("w"), "(?!$)").alias("syms")
    )


def bpe_pair_counts(
    symbols: DataFrame,
) -> DataFrame:
    """One BPE merge-step statistic: counts of ADJACENT symbol pairs
    across the vocabulary, weighted by word frequency — the argmax of
    this table is the next merge a byte-pair-encoding tokenizer learns
    (Sennrich et al. 2016). Input is the ``(w, cnt, syms)`` table from
    :func:`word_symbol_counts` (or a partially-merged state from
    :func:`apply_bpe_merge`).

    Scale shape: ``posexplode`` over ``sequence(1, size-1)`` keeps the
    pair enumeration row-local and codegen'd; the single shuffle is the
    (left, right)-keyed sum, whose cardinality is (symbol alphabet)^2 —
    tiny — with map-side partials absorbing the Zipf mass. Returns
    ``(left, right, n)``.
    """
    pairs = symbols.filter(F.size("syms") >= 2).select(
        "cnt",
        F.explode(F.sequence(F.lit(1), F.size("syms") - 1)).alias("i"),
        "syms",
    )
    return (
        pairs.select(
            F.element_at("syms", F.col("i")).alias("left"),
            F.element_at("syms", F.col("i") + 1).alias("right"),
            "cnt",
        )
        .groupBy("left", "right")
        .agg(F.sum("cnt").cast("long").alias("n"))
    )


def apply_bpe_merge(symbols: DataFrame, left: str, right: str) -> DataFrame:
    """Apply one learned merge ``(left, right) -> left||right`` to every
    word's symbol sequence, leftmost-greedy (the reference BPE
    behavior: 'aaa' under merge (a,a) becomes [aa, a]). Expressed as a
    row-local ``aggregate`` fold — no UDF, no shuffle: the accumulator
    appends each symbol, or replaces its own tail when (tail, symbol)
    is the merge pair. A just-merged tail is eligible as the LEFT of a
    following merge, matching the re-scan semantics of the standard
    implementation."""
    merged = F.lit(left + right)
    folded = F.aggregate(
        "syms",
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (s == F.lit(right)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(merged)),
        ).otherwise(F.concat(acc, F.array(s))),
    )
    return symbols.select("w", "cnt", folded.alias("syms"))


def bpe_train(
    docs: DataFrame,
    n_merges: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> list:
    """Learn ``n_merges`` BPE merges over the corpus: the distributed
    core of tokenizer training. Each round is one
    :func:`bpe_pair_counts` aggregation over the vocabulary-sized
    symbol table, one bounded argmax to the driver (count desc, then
    (left, right) asc — fully deterministic), and one row-local
    :func:`apply_bpe_merge`. The per-round driver traffic is ONE row;
    the symbol table is persisted each round and the previous round
    unpersisted (lineage is cut by the persist, and n_merges is small
    by construction — a tokenizer has 10^4-10^5 merges trained on a
    SAMPLE, not 10^12 docs; this function is that sample-side trainer).

    Returns the ordered merge list ``[(left, right, n), ...]``.
    """
    state = word_symbol_counts(docs, id_col=id_col, text_col=text_col).persist()
    state.count()
    merges = []
    try:
        for _ in range(int(n_merges)):
            top = (
                bpe_pair_counts(state)
                .orderBy(F.desc("n"), F.asc("left"), F.asc("right"))
                .limit(1)
                .collect()
            )
            if not top:
                break
            row = top[0]
            merges.append((row["left"], row["right"], row["n"]))
            nxt = apply_bpe_merge(state, row["left"], row["right"]).persist()
            nxt.count()
            state.unpersist()
            state = nxt
    finally:
        state.unpersist()
    return merges


#: UTF-8-read-as-cp1252 signature pairs: what '\u00e9' becomes when a
#: UTF-8 byte stream is decoded with the wrong single-byte codec, and
#: the character each signature repairs to. Ordered LONGEST-FIRST so
#: the 3-byte punctuation signatures never lose their tail to a 2-byte
#: rule. A bounded table by design: these cover the high-frequency
#: Latin-1/Windows-1252 mass of real crawls; full repair belongs to the
#: ingestion decoder (kernels/extract.py detect_encoding) -- this op is
#: the SIGNAL + cheap scrub over already-extracted text.
MOJIBAKE_PAIRS = (
    ("\u00e2\u20ac\u2122", "\u2019"),  # right single quote
    ("\u00e2\u20ac\u0153", "\u201c"),  # left double quote
    ("\u00e2\u20ac\u201c", "\u2013"),  # en dash
    ("\u00e2\u20ac\u201d", "\u2014"),  # em dash
    ("\u00e2\u20ac\u00a6", "\u2026"),  # ellipsis
    ("\u00e2\u20ac", "\u201d"),  # right double quote (bare tail)
    ("\u00c3\u00a9", "\u00e9"),  # e-acute
    ("\u00c3\u00a8", "\u00e8"),  # e-grave
    ("\u00c3\u00a4", "\u00e4"),  # a-umlaut
    ("\u00c3\u00b6", "\u00f6"),  # o-umlaut
    ("\u00c3\u00bc", "\u00fc"),  # u-umlaut
    ("\u00c3\u00b1", "\u00f1"),  # n-tilde
    ("\u00c3\u00a7", "\u00e7"),  # c-cedilla
    ("\u00c3\u00a0", "\u00e0"),  # a-grave
    ("\u00c2\u00ab", "\u00ab"),  # left guillemet
    ("\u00c2\u00bb", "\u00bb"),  # right guillemet
    ("\u00c2\u00b0", "\u00b0"),  # degree sign
    ("\u00c2\u00a0", " "),  # doubled nbsp -> plain space
)


def mojibake_stats(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Mojibake detection -- the tell that a page's bytes were decoded
    with the wrong codec upstream (UTF-8 read as cp1252/latin-1):
    per-doc counts of the :data:`MOJIBAKE_PAIRS` signatures plus U+FFFD
    replacement characters, and the combined rate in floored basis
    points of the character count. Pages over a few bp are re-decode
    candidates (route back through ``detect_encoding``), not quality
    failures -- dropping them would bias the corpus against exactly the
    languages whose characters exceed ASCII.

    Row-local: the signatures are literal (non-regex) counts via the
    split-length identity ``count(s in t) = size(split(t, s, -1)) - 1``
    -- codepoint-exact in both engines. The punctuation family is
    counted ONCE by its shared 2-char lead (every ``a-circumflex +
    euro`` continuation is one mangled codepoint, known tail or not),
    so no signature double-counts another. One projection at scan
    speed, no shuffle, no UDF."""
    import re as _re

    t = F.coalesce(F.col(text_col), F.lit(""))

    def _hits(sig: str):
        return F.size(F.split(t, _re.escape(sig), -1)) - 1

    leads = ["\u00e2\u20ac"] + [
        sig for sig, _ in MOJIBAKE_PAIRS if not sig.startswith("\u00e2\u20ac")
    ]
    sig_hits = None
    for sig in leads:
        h = _hits(sig)
        sig_hits = h if sig_hits is None else sig_hits + h
    repl = _hits("\ufffd")
    n_chars = F.length(t)
    total = sig_hits + repl
    return ensure_parallelism(docs).select(
        F.col(id_col).alias("doc_id"),
        sig_hits.cast("long").alias("sig_hits"),
        repl.cast("long").alias("replacement_chars"),
        n_chars.cast("long").alias("n_chars"),
        F.floor(total * F.lit(10000.0) / F.greatest(n_chars, F.lit(1)))
        .cast("long")
        .alias("mojibake_bp"),
    )


def fix_mojibake(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Repair the :data:`MOJIBAKE_PAIRS` signatures in place (longest
    signature first, one chained literal ``replace`` per pair -- all
    row-local, no regex, no UDF). This is the cheap scrub for text
    whose source bytes are gone; when the bytes ARE available,
    re-decoding with ``kernels.extract.detect_encoding`` is the correct
    fix and this op is the detector's companion, not its replacement.
    Returns ``(doc_id, text)`` with ``text`` repaired."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    for sig, rep in MOJIBAKE_PAIRS:
        t = F.replace(t, F.lit(sig), F.lit(rep))
    return ensure_parallelism(docs).select(
        F.col(id_col).alias("doc_id"), t.alias("text")
    )


def bpe_token_counts(
    docs: DataFrame,
    merges: list,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_merges: int = 64,
) -> DataFrame:
    """Token-cost accounting under a LEARNED tokenizer — the encode
    side of :func:`bpe_train`: how many BPE tokens each document costs
    is the number that prices training runs and packs context windows,
    and it differs from the whitespace count exactly where it matters
    (rare words explode into many symbols).

    The merge list is applied IN ORDER to the corpus's distinct-word
    vocabulary only (``word_symbol_counts``: Zipf makes this the small
    table), then the per-word token counts join back to the corpus
    explode — encode work is vocabulary-sized, corpus work is one join
    + one per-doc sum. Each merge is one row-local
    :func:`apply_bpe_merge` fold; ``max_merges`` caps the chained
    expression depth this builds in one Catalyst plan (default 64 —
    enough for tests and prefix audits; a production 10^4-merge
    tokenizer encodes the vocabulary in a vectorized Arrow UDF instead,
    which is the documented seam, and this function raises loudly
    rather than building a 10^4-deep plan).

    Returns ``(doc_id, n_words, n_tokens)`` with every input doc
    present (empty docs: zeros).
    """
    if len(merges) > int(max_merges):
        raise ValueError(
            f"bpe_token_counts applies merges as chained column folds; "
            f"{len(merges)} merges exceeds max_merges={max_merges} — "
            f"encode the vocabulary with an Arrow UDF for production-"
            f"sized merge tables"
        )
    exploded = ensure_parallelism(docs).select(
        F.col(id_col).alias("doc_id"),
        F.explode(normalized_words(text_col)).alias("w"),
    )
    vocab = exploded.groupBy("w").agg(F.count(F.lit(1)).alias("cnt")).select(
        "w", F.split(F.col("w"), "(?!$)").alias("syms")
    )
    for m in merges:
        left, right = m[0], m[1]
        vocab = apply_bpe_merge(
            vocab.select("w", F.lit(0).alias("cnt"), "syms"), left, right
        ).select("w", "syms")
    word_cost = vocab.select("w", F.size("syms").cast("long").alias("nt"))
    per_doc = (
        exploded.join(word_cost, on="w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("nt").alias("n_tokens"),
        )
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(per_doc, on="doc_id", how="left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_words"), F.lit(0)).cast("long").alias("n_words"),
            F.coalesce(F.col("n_tokens"), F.lit(0)).cast("long").alias("n_tokens"),
        )
    )


def hashed_ngram_buckets(text_col: str, dims: int) -> Column:
    """Row-local array of hashed unigram+bigram feature buckets — the
    DSIR feature map (Xie et al. 2023, arXiv:2302.03169): every word
    and every adjacent word pair, lowercased, hashed into a FIXED
    ``dims``-bucket space with the shared Java∩DuckDB md5₆₀ arithmetic
    (the linear_classifier_scores trick). Hashing keeps every model
    table O(dims) rows regardless of corpus vocabulary, so it always
    broadcasts."""
    ws = normalized_words(text_col)
    bigrams = F.when(
        F.size(ws) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(ws) - 2),
            lambda i: F.concat_ws(" ", F.slice(ws, i + 1, 2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.transform(
        F.concat(ws, bigrams),
        lambda t: F.conv(F.substring(F.md5(F.lower(t)), 1, 15), 16, 10).cast(
            "long"
        )
        % dims,
    )


def _hashed_ngram_rows(df, id_col, text_col, dims, outer=False):
    """Exploded (id, bucket) rows with the md5 AFTER the explode: the
    per-element hash inside a ``transform`` lambda runs interpreted
    (HOFs have no codegen — the duplicate_spans lesson), while the same
    md5/conv/% on a plain exploded column runs inside whole-stage
    codegen. Bucket values are identical to
    :func:`hashed_ngram_buckets`'s (same lower→md5₆₀→mod chain).
    ``outer`` keeps featureless docs as one NULL-bucket row."""
    ws = normalized_words(text_col)
    bigrams = F.when(
        F.size(ws) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(ws) - 2),
            lambda i: F.concat_ws(" ", F.slice(ws, i + 1, 2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    gen = F.explode_outer if outer else F.explode
    rows = df.select(
        F.col(id_col).alias("doc_id"), gen(F.concat(ws, bigrams)).alias("_t")
    )
    bucket = (
        F.conv(F.substring(F.md5(F.lower(F.col("_t"))), 1, 15), 16, 10).cast(
            "long"
        )
        % dims
    )
    return rows.select("doc_id", bucket.alias("b"))


def dsir_weights(
    raw: DataFrame,
    target: DataFrame,
    dims: int = 1024,
    smoothing_k: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """DSIR importance weights (Data Selection via Importance
    Resampling, Xie et al. 2023): score every raw-corpus document by
    how target-like its hashed n-gram profile is, ``log w(x) = Σ_f
    count_f(x)·(ln p_target(f) − ln q_raw(f))`` over unigram+bigram
    features hashed into ``dims`` buckets — the standard
    "select web data that looks like Wikipedia/books" pre-training
    selection pass, reduced to two bag-of-buckets distributions.

    All arithmetic is EXACT-INTEGER after one quantization (the
    unigram_lm trick): each bucket's add-k-smoothed ``ln p`` and
    ``ln q`` are quantized separately to integer micro-nats, the
    bucket's λ is their integer difference, and per-document weights
    sum integers — reduction-order independent, hash-oracle exact.

    Scale shape (100 TB raw + small target): the raw featurization is
    ONE explode persisted for its two consumers (the q-distribution agg
    and the scoring join — module rule for shared subtrees); the target
    is featurized once (it is the small side by construction). Both
    distributions aggregate map-side into ≤ ``dims`` rows, the λ table
    is ≤ ``dims`` rows and BROADCAST to the scoring join, so the only
    corpus-scale shuffle is the final doc-keyed integer sum. No model
    state ever reaches the driver. Every raw doc returns (featureless
    docs: 0 features, weight 0, NULL avg).

    Returns ``(doc_id, n_feats, logweight_micro, avg_logweight)``.
    """
    if dims < 1:
        raise ValueError(f"dims must be >= 1, got {dims}")
    if smoothing_k < 1:
        raise ValueError(f"smoothing_k must be >= 1, got {smoothing_k}")
    k = int(smoothing_k)
    # NOT persisted: raw_b's two consumers (the q-distribution and the
    # scoring join) each read it behind their own exchange, so the
    # explode runs exactly twice — measured cheaper here than the eager
    # persist+count barrier it replaced, and the only shape that works
    # at 100 TB anyway (a corpus-scale feature explode cannot be
    # cached; re-scanning is the documented trade — guide §5)
    raw_b = _hashed_ngram_rows(
        ensure_parallelism(raw), id_col, text_col, dims
    )
    tgt_b = _hashed_ngram_rows(
        ensure_parallelism(target), id_col, text_col, dims
    ).select("b")
    # LAZY persists: each distribution feeds two consumers (its totals
    # aggregate and the λ join) and the executed plan shows no exchange
    # reuse between them — uncached, the corpus/target featurization
    # ran once PER CONSUMER. Both tables are ≤ dims rows; the first
    # consumer stage computes and caches, no barrier job needed.
    q_cnt = raw_b.groupBy("b").agg(F.count(F.lit(1)).alias("qc")).persist()
    p_cnt = tgt_b.groupBy("b").agg(F.count(F.lit(1)).alias("pc")).persist()
    totals = q_cnt.agg(F.sum("qc").alias("nq")).crossJoin(
        p_cnt.agg(F.coalesce(F.sum("pc"), F.lit(0)).alias("np"))
    )
    # λ only needs raw-occurring buckets (a bucket with no raw
    # occurrence never joins); target-absent buckets smooth to pc=0.
    micro = F.lit(1_000_000.0)
    lam = (
        q_cnt.join(p_cnt, "b", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "b",
            (
                F.round(
                    F.log(
                        (F.coalesce(F.col("pc"), F.lit(0)) + F.lit(k))
                        / (F.col("np") + F.lit(k * dims))
                    )
                    * micro
                ).cast("long")
                - F.round(
                    F.log(
                        (F.col("qc") + F.lit(k)) / (F.col("nq") + F.lit(k * dims))
                    )
                    * micro
                ).cast("long")
            ).alias("lam_micro"),
        )
    )
    # scoring pass: explode_outer keeps featureless docs as one null-
    # bucket row, so EVERY raw doc reaches the doc-keyed aggregation in
    # the same pass — the former third raw scan + doc-keyed left join
    # back are gone (guide §2.4). λ covers every raw-occurring bucket,
    # so the left broadcast join matches exactly the rows the inner
    # form kept; count("b") skips the null rows. Identical output.
    scored = _hashed_ngram_rows(
        ensure_parallelism(raw), id_col, text_col, dims, outer=True
    )
    out = (
        scored.join(F.broadcast(lam), "b", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.col("b")).cast("long").alias("n_feats"),
            F.coalesce(F.sum("lam_micro"), F.lit(0))
            .cast("long")
            .alias("logweight_micro"),
        )
        .select(
            "doc_id",
            "n_feats",
            "logweight_micro",
            F.when(
                F.col("n_feats") > 0,
                F.round(F.col("logweight_micro") / F.col("n_feats") / micro, 6),
            ).alias("avg_logweight"),
        )
    )
    from .cache import register_intermediates

    return register_intermediates(out, q_cnt, p_cnt)


def dsir_topk(
    raw: DataFrame,
    target: DataFrame,
    n: int,
    seed: int = 42,
    dims: int = 1024,
    smoothing_k: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """DSIR's resampling step: Gumbel top-``n`` over the importance
    weights — adding i.i.d. Gumbel noise to log-weights and taking the
    top ``n`` IS sampling ``n`` documents without replacement with
    probability ∝ w(x) (the Gumbel-max trick), which is exactly the
    paper's sampling rule, made deterministic for a given ``seed``.

    The noise is hash-derived: ``u ∈ (0,1)`` from the top 52 md5 bits
    of ``seed:doc_id`` (52 bits so the integer is EXACT in a double —
    no engine-dependent 2^60→double rounding in sight), ``g =
    −ln(−ln(u))`` quantized to micro-nats, and the sort key is the
    integer ``logweight_micro + gumbel_micro`` with doc_id as the tie
    break. Spark compiles orderBy+limit to TakeOrderedAndProject
    (per-partition partial top-n, no global sort), so selection cost is
    one scan over the weighted corpus.

    Returns ``(doc_id, logweight_micro, gumbel_micro, key_micro)``.
    """
    w = dsir_weights(
        raw,
        target,
        dims=dims,
        smoothing_k=smoothing_k,
        id_col=id_col,
        text_col=text_col,
    )
    h52 = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit(str(int(seed))),
                    F.lit(":"),
                    F.col("doc_id").cast("string"),
                )
            ),
            1,
            13,
        ),
        16,
        10,
    ).cast("long")
    u = (h52 + F.lit(0.5)) / F.lit(float(2**52))
    g_micro = F.round(-F.log(-F.log(u)) * F.lit(1_000_000.0)).cast("long")
    return (
        w.select(
            "doc_id",
            "logweight_micro",
            g_micro.alias("gumbel_micro"),
        )
        .withColumn(
            "key_micro", F.col("logweight_micro") + F.col("gumbel_micro")
        )
        .orderBy(F.desc("key_micro"), F.asc("doc_id"))
        .limit(int(n))
    )


def kn_bigram_lm_scores(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    discount_milli: int = 750,
) -> DataFrame:
    """Corpus-trained INTERPOLATED KNESER-NEY bigram scoring — the
    standard count-based LM smoothing (Kneser & Ney 1995; Chen &
    Goodman 1999's interpolated form), the quality filter add-k
    approximations aspire to: ``P(w|v) = max(c(vw)−d, 0)/c(v·) +
    d·N₁₊(v·)/c(v·) · N₁₊(·w)/N₁₊(··)`` — absolute discounting with the
    freed mass backed off to the CONTINUATION probability (how many
    distinct contexts a word follows), which is what separates
    "Francisco" (frequent but only after "San") from genuinely
    versatile words. ``d`` arrives as an exact milli-integer so both
    engines derive the identical double (``750/1000.0``).

    Every derived statistic comes off the MODEL table (distinct bigram
    rows), never a second corpus pass: ``c(v·)`` and ``N₁₊(v·)`` are
    one first-word aggregation (sum + count over distinct-bigram rows),
    ``N₁₊(·w)`` one second-word count, ``N₁₊(··)`` the 1-row type
    total. Scoring trains on the corpus itself (the bigram_lm contract)
    so every scored gram exists in the model — no OOV path. Each
    gram's log probability is quantized ONCE to integer micro-nats in
    one fixed expression order; per-doc aggregation sums integers
    (engine- and reduction-order-exact, hash-oracle-safe).

    Scale shape: one corpus explode persisted for its two consumers
    (model count + scoring join); ctx/cont joins are O(bigram types) —
    vocabulary-sized, not corpus-sized; the 1-row type total
    broadcasts; the only corpus-scale shuffle is the final doc-keyed
    integer sum. Returns ``(doc_id, n_bigrams, sum_logprob_micro,
    avg_logprob)``; docs shorter than 2 words score NULL avg.
    """
    if not (0 < discount_milli < 1000):
        raise ValueError(
            f"discount_milli must be in (0, 1000), got {discount_milli}"
        )
    warr = normalized_words(text_col)
    grams = F.when(
        F.size(warr) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(warr) - 2),
            lambda i: F.concat_ws(" ", F.slice(warr, i + 1, 2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    exploded = ensure_parallelism(docs).select(
        F.col(id_col).alias("doc_id"), F.explode(grams).alias("g")
    )
    # LAZY persist: the executed plan shows NO exchange reuse across the
    # model's consumers (ctx/cont/types/scoring each re-aggregate the
    # corpus explode — the r5 "Spark reuses the exchange" comment was
    # wrong at runtime), so the bigram-type table is cached instead;
    # lazy beats persist+count here (same-window A/B 2.07 / 1.78 / 1.88
    # s for none/lazy/eager) because the first consumer stage both
    # computes and caches it — no extra barrier job. O(bigram types) =
    # vocabulary-scale, cacheable at any corpus size (spills to disk).
    model = (
        exploded.groupBy("g").agg(F.count(F.lit(1)).alias("cnt")).persist()
    )
    first = F.split(F.col("g"), " ", 2).getItem(0)
    second = F.split(F.col("g"), " ", 2).getItem(1)
    # over distinct-bigram rows: sum(cnt) = c(v·), count(*) = N₁₊(v·)
    ctx = model.groupBy(first.alias("c")).agg(
        F.sum("cnt").alias("ctx_cnt"), F.count(F.lit(1)).alias("n1_fwd")
    )
    cont = model.groupBy(second.alias("o")).agg(
        F.count(F.lit(1)).alias("n1_back")
    )
    types = model.agg(F.count(F.lit(1)).alias("n_types"))
    d = F.lit(int(discount_milli)) / F.lit(1000.0)
    lp = F.log(
        F.greatest(F.col("cnt") - d, F.lit(0.0)) / F.col("ctx_cnt")
        + d
        * F.col("n1_fwd")
        / F.col("ctx_cnt")
        * (F.col("n1_back") / F.col("n_types"))
    )
    scored_model = (
        model.join(ctx, on=first == F.col("c"))
        .join(cont, on=second == F.col("o"))
        .crossJoin(F.broadcast(types))
        .select(
            "g",
            F.round(lp * F.lit(1_000_000.0)).cast("long").alias("lp_micro"),
        )
    )
    # scoring re-explodes the gram stream once (the second and last
    # corpus pass — the model side reads the PERSISTED type table, so
    # the expensive gram HOF runs exactly twice overall: model build +
    # scoring). The doc-keyed join back restores empty/short docs
    # (0 counts, NULL avg) from the cheap id-only scan.
    per_doc = (
        exploded.join(scored_model, on="g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("lp_micro").alias("sum_logprob_micro"),
        )
    )
    out = (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(per_doc, on="doc_id", how="left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_bigrams"), F.lit(0)).cast("long").alias("n_bigrams"),
            F.coalesce(F.col("sum_logprob_micro"), F.lit(0))
            .cast("long")
            .alias("sum_logprob_micro"),
            F.when(
                F.col("n_bigrams") > 0,
                F.round(
                    F.col("sum_logprob_micro")
                    / F.col("n_bigrams")
                    / F.lit(1_000_000.0),
                    6,
                ),
            ).alias("avg_logprob"),
        )
    )
    from .cache import register_intermediates

    return register_intermediates(out, model)


def segment_languages(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
) -> DataFrame:
    """Paragraph-level language segmentation — the CCNet-style answer to
    MIXED-LANGUAGE pages (boilerplate in one language wrapping content
    in another, bilingual news, forum quotes): :func:`language_id`'s
    stopword-profile argmax applied per ``sep``-delimited segment, plus
    a per-document MAJORITY language (most non-'und' segments; ties
    broken by language code ascending — deterministic) and an
    ``is_foreign`` flag on every segment that disagrees with it. A
    curation pipeline keeps the majority segments, routes foreign ones
    to their own language's corpus, and never charges a page's quality
    score for its navigation chrome being in the site's language.

    Returns ``(doc_id, idx, n_words, para_lang, majority_lang,
    is_foreign)`` — one row per segment, original order preserved by
    ``idx``. 'und' segments (no stopword hits — numbers, code, blank
    lines) are never counted toward the majority and never flagged
    foreign.

    Scale shape: split materialized in its own projection, then one
    Generate (the per-output-row recompute rule); per-segment scoring
    is row-local column algebra at scan speed; the only shuffles are
    the doc-keyed majority count + window (both on ``doc_id``) and the
    join back — all one partitioning family. Segment rows are persisted
    ONCE for their two consumers (majority agg and output join).
    """
    from .cache import register_intermediates

    langs = list(STOPWORDS)
    paras = (
        ensure_parallelism(docs)
        .select(
            F.col(id_col).alias("doc_id"), F.split(F.col(text_col), sep).alias("_ps")
        )
        .select("doc_id", F.posexplode("_ps").alias("idx", "para"))
    )
    words = F.filter(F.split(F.trim(F.col("para")), r"\s+"), lambda w: w != "")
    h = paras.select(
        "doc_id",
        F.col("idx").cast("int").alias("idx"),
        F.size(words).cast("long").alias("n_words"),
        *[_stopword_hits(words, lang).alias(f"hits_{lang}") for lang in langs],
    )
    best_lang, best_hits = F.lit("und"), F.lit(0)
    for lang in langs:
        hits = F.col(f"hits_{lang}")
        best_lang = F.when(hits > best_hits, F.lit(lang)).otherwise(best_lang)
        best_hits = F.when(hits > best_hits, hits).otherwise(best_hits)
    scored = h.select("doc_id", "idx", "n_words", best_lang.alias("para_lang"))
    # one computation feeding the majority aggregation AND the output
    scored = scored.persist()
    scored.count()
    from pyspark.sql import Window

    w_maj = Window.partitionBy("doc_id").orderBy(
        F.col("_c").desc(), F.col("para_lang").asc()
    )
    maj = (
        scored.where(F.col("para_lang") != "und")
        .groupBy("doc_id", "para_lang")
        .agg(F.count(F.lit(1)).alias("_c"))
        .withColumn("_rn", F.row_number().over(w_maj))
        .where(F.col("_rn") == 1)
        .select("doc_id", F.col("para_lang").alias("majority_lang"))
    )
    out = (
        scored.join(maj, on="doc_id", how="left")
        .select(
            "doc_id",
            "idx",
            "n_words",
            "para_lang",
            F.coalesce(F.col("majority_lang"), F.lit("und")).alias("majority_lang"),
            (
                (F.col("para_lang") != F.lit("und"))
                & (F.col("para_lang") != F.coalesce(F.col("majority_lang"), F.lit("und")))
            ).alias("is_foreign"),
        )
    )
    return register_intermediates(out, scored)


def readability_scores(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Flesch Reading Ease + Flesch-Kincaid grade (Flesch 1948; Kincaid
    et al. 1975) — the readability axis of crawl quality scoring (a
    precursor signal of the educational-quality classifiers): FRE =
    206.835 − 1.015·(words/sentences) − 84.6·(syllables/word), FKG =
    0.39·(words/sentences) + 11.8·(syllables/word) − 15.59. Sentences
    are ``[.!?]+`` runs (min 1); syllables are vowel-group counts per
    word (``[aeiouy]+``, min 1 per word) — the standard programmatic
    approximation.

    Exactness: all three ratios are evaluated as INTEGER MILLI
    arithmetic in fixed order (``(1015·W) div S`` etc. on positive
    longs, where truncating and flooring division agree), so scores are
    engine- and partitioning-exact. Word-less documents report NULL
    scores rather than a fake grade. Row-local fold over the word
    array — scan speed, zero shuffle.

    Returns ``(doc_id, n_words, n_sentences, n_syllables, fre_milli,
    fkg_milli)``.
    """
    words = normalized_words(text_col)
    syl = F.aggregate(
        F.transform(
            words,
            lambda w: F.greatest(
                F.lit(1),
                F.size(F.regexp_extract_all(F.lower(w), F.lit("[aeiouy]+"), 0)),
            ),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    base = ensure_parallelism(docs).select(
        F.col(id_col).alias("doc_id"),
        F.size(words).cast("long").alias("n_words"),
        F.greatest(
            F.lit(1),
            F.size(F.regexp_extract_all(F.col(text_col), F.lit("[.!?]+"), 0)),
        )
        .cast("long")
        .alias("n_sentences"),
        syl.cast("long").alias("n_syllables"),
    )
    w_ok = F.col("n_words") > 0
    return base.select(
        "doc_id",
        "n_words",
        "n_sentences",
        "n_syllables",
        F.when(
            w_ok,
            F.lit(206835)
            - F.expr("(1015 * n_words) div n_sentences")
            - F.expr("(84600 * n_syllables) div n_words"),
        )
        .cast("long")
        .alias("fre_milli"),
        F.when(
            w_ok,
            F.expr("(390 * n_words) div n_sentences")
            + F.expr("(11800 * n_syllables) div n_words")
            - F.lit(15590),
        )
        .cast("long")
        .alias("fkg_milli"),
    )


def vocab_kl_divergence(
    docs: DataFrame, group_col: str = "lang", text_col: str = "text"
) -> DataFrame:
    """Per-group vocabulary drift: KL(P_group ‖ P_corpus) over unigram
    distributions, in integer micro-nats — the mixture diagnostic
    behind domain-shift checks (is this source's language distribution
    an outlier?), re-balancing decisions feeding
    :func:`~.cleaning.domain_reweight`, and contamination triage (a
    shard whose KL suddenly drops toward 0 got blended). Unsmoothed and
    well-defined by construction: every group term has corpus support,
    so no add-k knob to disagree about.

    Exactness: the per-term contribution
    ``(c_gw/N_g) · ln((c_gw·N)/(N_g·c_w))`` is evaluated in ONE fixed
    double expression (identical text on both engines) and quantized to
    micro-nats before the per-group sum — integer sums are
    reduction-order-proof, so the score is partitioning- and
    engine-exact.

    Returns ``(group, n_tokens, n_terms, kl_micro)``.

    Scale shape: one corpus explode into a (group, word)-keyed count
    with map-side partials — the ONLY corpus-scale shuffle; the word
    marginal and group totals derive from that table (O(distinct
    terms), never a second corpus pass); group totals and the 1-row
    corpus total join back broadcast.
    """
    from .cache import register_intermediates

    base = (
        docs
        .select(F.col(group_col).alias("group"), normalized_words(text_col).alias("_ws"))
        .select("group", F.explode("_ws").alias("w"))
    )
    gw = base.groupBy("group", "w").agg(F.count(F.lit(1)).alias("c_gw"))
    # one computation for its three consumers (marginal, totals, join)
    gw = gw.persist()
    gw.count()
    wmarg = gw.groupBy("w").agg(F.sum("c_gw").alias("c_w"))
    gtot = gw.groupBy("group").agg(F.sum("c_gw").alias("n_g"))
    tot = gtot.agg(F.sum("n_g").alias("n"))
    j = (
        gw.join(wmarg, on="w")
        .join(F.broadcast(gtot), on="group")
        .crossJoin(F.broadcast(tot))
    )
    term = (
        "CAST(round((CAST(c_gw AS DOUBLE) / CAST(n_g AS DOUBLE)) * "
        "ln((CAST(c_gw AS DOUBLE) * CAST(n AS DOUBLE)) / "
        "(CAST(n_g AS DOUBLE) * CAST(c_w AS DOUBLE))) * 1000000.0) AS BIGINT)"
    )
    out = (
        j.withColumn("_t", F.expr(term))
        .groupBy("group")
        .agg(
            F.max("n_g").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).cast("long").alias("n_terms"),
            F.sum("_t").cast("long").alias("kl_micro"),
        )
    )
    return register_intermediates(out, gw)


def fightin_z_expr(alpha_milli: int = 10) -> str:
    """The Monroe et al. log-odds z-score as ONE SQL expression over
    bare columns ``c_gw, n_g, c_w, n, v`` — shared VERBATIM between the
    Spark plan (``F.expr``) and the DuckDB oracle, so the two engines
    cannot drift on float evaluation order."""
    a = f"({int(alpha_milli)} / 1000.0)"
    return (
        f"CAST(round(("
        f"ln((CAST(c_gw AS DOUBLE) + {a}) / "
        f"(CAST(n_g AS DOUBLE) + {a} * CAST(v AS DOUBLE) - CAST(c_gw AS DOUBLE) - {a})) - "
        f"ln((CAST(c_w - c_gw AS DOUBLE) + {a}) / "
        f"(CAST(n - n_g AS DOUBLE) + {a} * CAST(v AS DOUBLE) - CAST(c_w - c_gw AS DOUBLE) - {a}))"
        f") / sqrt(1.0 / (CAST(c_gw AS DOUBLE) + {a}) + "
        f"1.0 / (CAST(c_w - c_gw AS DOUBLE) + {a})) * 1000000.0) AS BIGINT)"
    )


def domain_signature_terms(
    docs: DataFrame,
    group_col: str = "lang",
    text_col: str = "text",
    k: int = 10,
    alpha_milli: int = 10,
) -> DataFrame:
    """"Fightin' Words" domain signature terms (Monroe, Colaresi &
    Quinn 2008): per group, the ``k`` terms most OVER-represented vs
    the rest of the corpus by Dirichlet-smoothed log-odds z-score —
    the term-level complement of :func:`vocab_kl_divergence`'s scalar
    drift (that says a source moved; this says WHICH words moved it:
    leaked boilerplate, spam vocabulary, a topic shift). Raw
    log-odds/PMI over-ranks rare terms; the z normalization by
    ``sqrt(1/(c_gw+α) + 1/(c_rest+α))`` is the paper's fix.

    Exactness: the z-score is ONE fixed double expression (identical
    text on both engines, α as an exact milli literal) quantized to
    integer micro-units; ranking orders by (z_micro DESC, word ASC) —
    engine-stable.

    Returns ``(group, rank, word, c_gw, z_micro)``.

    Scale shape: the same single corpus-scale shuffle as
    ``vocab_kl_divergence`` — one (group, word) count; the word
    marginal, group totals and (N, V) corpus row derive from it;
    totals join back broadcast; the top-k is a per-group
    WindowGroupLimit, never a global sort.
    """
    from pyspark.sql import Window

    from .cache import register_intermediates

    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    if alpha_milli <= 0:
        raise ValueError(f"alpha_milli must be positive, got {alpha_milli}")
    base = (
        ensure_parallelism(docs)
        .select(F.col(group_col).alias("group"), normalized_words(text_col).alias("_ws"))
        .select("group", F.explode("_ws").alias("word"))
    )
    gw = base.groupBy("group", "word").agg(F.count(F.lit(1)).alias("c_gw"))
    gw = gw.persist()
    gw.count()
    wmarg = gw.groupBy("word").agg(F.sum("c_gw").alias("c_w"))
    gtot = gw.groupBy("group").agg(F.sum("c_gw").alias("n_g"))
    nv = wmarg.agg(F.sum("c_w").alias("n"), F.count(F.lit(1)).alias("v"))
    z = fightin_z_expr(alpha_milli)
    scored = (
        gw.join(wmarg, on="word")
        .join(F.broadcast(gtot), on="group")
        .crossJoin(F.broadcast(nv))
        .withColumn("z_micro", F.expr(z))
    )
    w = Window.partitionBy("group").orderBy(
        F.col("z_micro").desc(), F.col("word").asc()
    )
    out = (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= int(k))
        .select(
            "group",
            F.col("rank").cast("int").alias("rank"),
            "word",
            F.col("c_gw").cast("long").alias("c_gw"),
            "z_micro",
        )
    )
    return register_intermediates(out, gw)


#: ``<html ... lang="...">`` declared-language attribute. Deliberately
#: a SHARED Java∩RE2 grammar (no lookaround) so the DuckDB oracle runs
#: the IDENTICAL pattern: the html open tag's first lang attribute,
#: value optionally quoted, BCP-47 tag captured whole (primary subtag
#: split off downstream by array algebra, not regex).
_DECLARED_LANG_RE = r'(?i)<html[^>]*[\s"]lang\s*=\s*["\x27]?([A-Za-z][A-Za-z0-9-]*)'


def declared_lang_col(html) -> Column:
    """Lowercased PRIMARY subtag of the html open tag's ``lang``
    attribute (``EN-us`` -> ``en``); '' when absent/None. Row-local."""
    h = F.col(html) if isinstance(html, str) else html
    tag = F.regexp_extract(F.coalesce(h, F.lit("")), _DECLARED_LANG_RE, 1)
    return F.lower(F.element_at(F.split(tag, "-"), 1))


def lang_agreement(
    pages: DataFrame,
    id_col: str = "doc_id",
    html_col: str = "html",
    text_col: str = "text",
) -> DataFrame:
    """Declared-vs-detected language audit: the served ``<html lang>``
    attribute against :func:`language_id`'s stopword argmax over the
    extracted text — the standard crawl-QA cross-check (W3C's own
    surveys put declared-lang error rates in whole percents; CLD-family
    pipelines demote the attribute to a weak prior for exactly this
    reason). Disagreement rows route to re-detection or quarantine:
    trusting the attribute mislabels spam/templated pages, trusting the
    detector alone wastes the publisher signal on short pages.

    Returns every input page as ``(doc_id, lang_declared, lang_pred,
    status)`` with status ``agree`` / ``disagree`` / ``undeclared``
    (no usable attribute) / ``undetected`` (declared but no stopword
    evidence — short/boilerplate text, the "weak prior wins" row).

    Scale shape: ONE projection — the attribute regex, the stopword
    hit counts and the argmax are all row-local column algebra over the
    scan (same shape as ``language_id``); zero joins, zero shuffle.
    """
    words = normalized_words(text_col)
    langs = list(STOPWORDS)
    d = ensure_parallelism(pages).select(
        F.col(id_col).alias("doc_id"),
        declared_lang_col(html_col).alias("lang_declared"),
        *[_stopword_hits(words, lang).alias(f"hits_{lang}") for lang in langs],
    )
    best_lang, best_hits = F.lit("und"), F.lit(0)
    for lang in langs:
        hits = F.col(f"hits_{lang}")
        best_lang = F.when(hits > best_hits, F.lit(lang)).otherwise(best_lang)
        best_hits = F.when(hits > best_hits, hits).otherwise(best_hits)
    return d.select(
        "doc_id",
        "lang_declared",
        best_lang.alias("lang_pred"),
        F.when(F.col("lang_declared") == "", F.lit("undeclared"))
        .when(best_lang == "und", F.lit("undetected"))
        .when(F.col("lang_declared") == best_lang, F.lit("agree"))
        .otherwise(F.lit("disagree"))
        .alias("status"),
    )


def host_lang_entropy(
    pages: DataFrame,
    url_col: str = "url",
    text_col: str = "text",
) -> DataFrame:
    """Per-host language mix: majority predicted language + its share,
    and the Shannon entropy of the host's language distribution in
    integer micro-nats — the mixed-language-host spam signal (content
    farms and scraped-aggregator hosts serve many languages from one
    host; legitimate sites are near-monolingual, so entropy ranks hosts
    for quarantine and langid-disagreement triage composes per host).

    Returns ``(host, n_pages, n_langs, top_lang, top_share_bp,
    entropy_micro)`` — ties for the majority break to the
    lexicographically smallest language (engine-stable).

    Exactness: each language's entropy term ``-(c/N)·ln(c/N)`` is ONE
    fixed double expression quantized to micro-nats BEFORE the per-host
    integer sum — reduction-order-proof, like ``vocab_kl_divergence``.

    Scale shape: the language argmax is row-local (``language_id``'s
    column algebra inline); ONE corpus-scale shuffle into the
    (host, lang) count with map-side partials; host totals derive from
    that table and join back host-keyed (O(hosts x langs) rows).
    """
    from .filters import host_col

    words = normalized_words(text_col)
    langs = list(STOPWORDS)
    d = ensure_parallelism(pages).select(
        host_col(url_col).alias("host"),
        *[_stopword_hits(words, lang).alias(f"hits_{lang}") for lang in langs],
    )
    best_lang, best_hits = F.lit("und"), F.lit(0)
    for lang in langs:
        hits = F.col(f"hits_{lang}")
        best_lang = F.when(hits > best_hits, F.lit(lang)).otherwise(best_lang)
        best_hits = F.when(hits > best_hits, hits).otherwise(best_hits)
    hl = (
        d.select("host", best_lang.alias("lang_pred"))
        .groupBy("host", "lang_pred")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = hl.groupBy("host").agg(F.sum("c").alias("n"))
    term = (
        "CAST(round(-(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) * "
        "ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) * 1000000.0) AS BIGINT)"
    )
    top = F.min(F.struct((-F.col("c")).alias("nc"), F.col("lang_pred").alias("lg")))
    return (
        hl.join(tot, on="host")
        .withColumn("_t", F.expr(term))
        .groupBy("host")
        .agg(
            F.max("n").cast("long").alias("n_pages"),
            F.count(F.lit(1)).cast("long").alias("n_langs"),
            top.alias("_top"),
            F.sum("_t").cast("long").alias("entropy_micro"),
        )
        .select(
            "host",
            "n_pages",
            "n_langs",
            F.col("_top.lg").alias("top_lang"),
            F.expr("(-_top.nc * 10000) div n_pages").cast("long").alias("top_share_bp"),
            "entropy_micro",
        )
    )


def vocab_health(
    docs: DataFrame, group_col: str = "lang", text_col: str = "text"
) -> DataFrame:
    """Per-group vocabulary health: token mass, type count, type-token
    ratio and hapax-legomenon share (types seen once) in floored basis
    points — the corpus-hygiene panel read before training: OCR noise,
    mojibake and aggressive concatenation INFLATE hapax share (junk
    types), template/boilerplate floods DEFLATE TTR (few types, huge
    mass); both move before eyeballs catch them. Complements
    ``vocab_kl_divergence`` (drift between groups) with within-group
    composition.

    Returns ``(group, n_tokens, n_types, ttr_bp, hapax_types,
    hapax_share_bp)`` — all exact integers, engine-stable.

    Scale shape: one corpus explode into the (group, word) count (the
    only corpus-scale shuffle, map-side partials), then one
    dimension-keyed group agg.
    """
    base = (
        docs
        .select(F.col(group_col).alias("group"), normalized_words(text_col).alias("_ws"))
        .select("group", F.explode("_ws").alias("w"))
    )
    gw = base.groupBy("group", "w").agg(F.count(F.lit(1)).alias("c"))
    return (
        gw.groupBy("group")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).cast("long").alias("n_types"),
            F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("long").alias("hapax_types"),
        )
        .select(
            "group",
            "n_tokens",
            "n_types",
            F.expr("(n_types * 10000) div greatest(n_tokens, 1)").cast("long").alias("ttr_bp"),
            "hapax_types",
            F.expr("(hapax_types * 10000) div greatest(n_types, 1)").cast("long").alias("hapax_share_bp"),
        )
    )


def pmi_collocations(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 5,
    top_k: int = 100,
) -> DataFrame:
    """Top-k bigram collocations by pointwise mutual information — the
    corpus-profiling companion of :func:`tfidf_top_terms` (per-doc) and
    :func:`domain_signature_terms` (per-group): which adjacent word
    pairs co-occur far above chance corpus-wide. On web text the top of
    this table is multiword entities and boilerplate idioms ("privacy
    policy", "all rights reserved") — exactly the units a tokenizer
    merge list or a boilerplate lexicon wants; a corpus whose top PMI
    pairs are template fragments is under-deduplicated.

    ``pmi = ln( P(w₁w₂) / (P(w₁)·P(w₂)) )`` with all probabilities from
    the bigram population itself (marginals = the bigram table's own
    left/right sums, so the estimator is self-consistent and needs no
    separate unigram pass): ``ln(cnt·N / (l_cnt·r_cnt))``, quantized
    once to integer micro-nats (the module's standard exactness trick —
    both engines evaluate ONE double ``ln`` per distinct pair, never a
    float sum). ``min_count`` suppresses the classic PMI
    rare-pair pathology (a hapax pair maxes the score).

    Returns the top ``top_k`` rows ``(w1, w2, cnt, pmi_micro)`` ordered
    by (pmi desc, w1, w2) — a deterministic total order, so the cut is
    oracle-exact.

    Scale (100 TB): ONE corpus explode → one (gram)-keyed count with
    map-side partials (the model, O(bigram types)); marginals are two
    aggregations OVER THE MODEL (never a second corpus pass); the
    1-row total broadcasts; the final top-k is TakeOrderedAndProject
    (per-partition heaps + driver merge of k rows), never a global
    sort.
    """
    # materialize the gram array in its own projection BEFORE the
    # explode: Generate re-evaluates computed child expressions per
    # OUTPUT row (O(len²) on long docs)
    with_arr = docs.select(
        normalized_words(text_col).alias("_ws")
    ).select(
        F.when(
            F.size("_ws") >= 2,
            F.transform(
                F.sequence(F.lit(0), F.size("_ws") - 2),
                lambda i: F.concat_ws(" ", F.slice("_ws", i + 1, 2)),
            ),
        )
        .otherwise(F.array().cast("array<string>"))
        .alias("_grams")
    )
    # explode_OUTER + null filter, not a plain explode: the winnowing
    # lesson (ops/dedup.py winnow_fingerprints) — InferFiltersFromGenerate
    # would add `size(_grams) > 0` and predicate pushdown substitutes the
    # whole staged expression into a scan-level filter whose lambda
    # re-evaluates the word split per gram: a latent O(len²) on long docs
    # NOT persisted: all four consumers read the model's own groupBy
    # exchange (reused) — see bigram_lm_scores
    model = (
        with_arr.select(F.explode_outer("_grams").alias("g"))
        .where(F.col("g").isNotNull())
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w1 = F.split(F.col("g"), " ", 2).getItem(0)
    w2 = F.split(F.col("g"), " ", 2).getItem(1)
    left = model.groupBy(w1.alias("w1")).agg(F.sum("cnt").alias("l_cnt"))
    right = model.groupBy(w2.alias("w2")).agg(F.sum("cnt").alias("r_cnt"))
    total = model.agg(F.sum("cnt").alias("N"))
    out = (
        model.where(F.col("cnt") >= int(min_count))
        .select(w1.alias("w1"), w2.alias("w2"), "cnt")
        .join(left, on="w1")
        .join(right, on="w2")
        .crossJoin(F.broadcast(total))
        .select(
            "w1",
            "w2",
            F.col("cnt").cast("long").alias("cnt"),
            F.round(
                F.log(
                    (F.col("cnt") * F.col("N"))
                    / (F.col("l_cnt") * F.col("r_cnt"))
                )
                * F.lit(1_000_000.0)
            )
            .cast("long")
            .alias("pmi_micro"),
        )
        .orderBy(F.col("pmi_micro").desc(), "w1", "w2")
        .limit(int(top_k))
    )
    return out


def char_entropy(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document Shannon entropy of the CHARACTER distribution in
    integer micro-nats — the zero-model gibberish gate: binary spew and
    base64/hex blobs score anomalously HIGH (flat distribution over a
    wide alphabet), repeated-character spam and template shells score
    anomalously LOW, while natural-language text sits in a tight
    per-language band. Complements :func:`compression_ratio` (zlib
    sees longer-range structure but is not SQL-expressible; this is
    pure column algebra and oracle-hash-exact) and
    :func:`script_profile` (which classes codepoints but ignores their
    distribution).

    Returns ``(doc_id, n_chars, n_distinct, entropy_micro)`` for every
    doc with at least one character. Exactness: each codepoint's term
    ``-(k/N)·ln(k/N)`` is ONE fixed double expression quantized to
    micro-nats BEFORE the integer sum — reduction-order-proof, the
    :func:`host_lang_entropy` / ``vocab_kl_divergence`` discipline.

    Scale shape: entirely ROW-LOCAL — the histogram is built inside
    higher-order functions (``array_distinct`` + ``filter`` counting),
    so there is NO per-character explode: a 100 TB corpus never
    shuffles at all, the op runs at scan speed inside whole-stage
    codegen. Per-row cost is O(alphabet × len); text alphabets are
    ≤ a few hundred distinct codepoints, so this beats the
    explode + (doc, char) groupBy shape (which ships one row per
    CHARACTER — the corpus itself — through a shuffle). Codepoints via
    ``(?s).`` — Java and RE2 both match exactly one codepoint,
    newlines included, so the DuckDB twin sees identical histograms.
    """
    t = F.coalesce(F.col(text_col), F.lit(""))
    d = (
        ensure_parallelism(docs)
        .select(
            F.col(id_col).alias("doc_id"),
            F.regexp_extract_all(t, F.lit(r"(?s)."), 0).alias("_chars"),
        )
        .where(F.size("_chars") > 0)
        .withColumn(
            "_counts",
            F.expr(
                "transform(array_distinct(_chars), "
                "c -> size(filter(_chars, x -> x = c)))"
            ),
        )
    )
    term = (
        "CAST(round(-(CAST(k AS DOUBLE) / CAST(size(_chars) AS DOUBLE)) * "
        "ln(CAST(k AS DOUBLE) / CAST(size(_chars) AS DOUBLE)) * 1000000.0) "
        "AS BIGINT)"
    )
    return d.select(
        "doc_id",
        F.size("_chars").cast("long").alias("n_chars"),
        F.size("_counts").cast("long").alias("n_distinct"),
        F.expr(
            f"aggregate(transform(_counts, k -> {term}), "
            "CAST(0 AS BIGINT), (a, x) -> a + x)"
        ).alias("entropy_micro"),
    )


def ranking_auc(
    scored: DataFrame,
    score_col: str = "score",
    label_col: str = "label",
    group_cols=None,
) -> DataFrame:
    """ROC-AUC of a quality/classifier score against binary labels, in
    exact integer basis points — the calibration check every filter
    threshold decision rests on.

    Mann-Whitney identity, computed WITHOUT a global per-row rank: the
    rows collapse to per-distinct-score (pos, neg) counts first — one
    map-side-combinable aggregation — and the window then runs over the
    distinct-score table only (bounded by score granularity, e.g. ≤
    10^4 rows for basis-point scores, not by corpus size). Numerator is
    kept doubled so ties contribute exactly ½ without floats:

        numer2 = Σ_s pos_s · (2·neg_below(s) + neg_s)
        auc_bp = numer2 · 5000 // (n_pos · n_neg)

    Output: (groups…,) n_pos, n_neg, auc_bp.
    """
    from pyspark.sql import Window

    gs = (
        []
        if group_cols is None
        else ([group_cols] if isinstance(group_cols, str) else list(group_cols))
    )
    lbl = F.col(label_col).cast("long")
    per_score = (
        scored
        .groupBy(*gs, F.col(score_col).alias("_s"))
        .agg(
            F.sum(lbl).alias("_pos"),
            F.sum(1 - lbl).alias("_neg"),
        )
    )
    w = (
        Window.partitionBy(*[F.col(g) for g in gs])
        .orderBy(F.col("_s").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    contrib = per_score.select(
        *gs,
        "_pos",
        "_neg",
        (
            F.col("_pos")
            * (2 * F.coalesce(F.sum("_neg").over(w), F.lit(0)) + F.col("_neg"))
        ).alias("_numer2"),
    )
    out = contrib.groupBy(*gs).agg(
        F.sum("_pos").cast("long").alias("n_pos"),
        F.sum("_neg").cast("long").alias("n_neg"),
        F.sum("_numer2").alias("_n2"),
    )
    return out.select(
        *gs,
        "n_pos",
        "n_neg",
        F.expr("CAST((_n2 * 5000) div (n_pos * n_neg) AS BIGINT)").alias("auc_bp"),
    )


def agreement_kappa(
    pairs: DataFrame,
    a_col: str,
    b_col: str,
    group_cols=None,
) -> DataFrame:
    """Cohen's kappa between two categorical labelers, exact integer
    basis points — chance-corrected agreement for label-QA (e.g. the
    declared-lang attribute vs the n-gram detector, or two classifier
    versions over the same snapshot).

        kappa = (p_o - p_e) / (1 - p_e)
              = (N·agree - Σ_k na_k·nb_k) / (N² - Σ_k na_k·nb_k)

    — the closed integer form, so ``kappa_bp`` is exact; no float
    probabilities. Marginal products come from one join of the two
    per-label marginal tables (label-cardinality sized, tiny), the
    agree count from one conditional agg over the pair table; both
    map-side combinable. Output: (groups…,) n, agree, kappa_bp.
    """
    gs = (
        []
        if group_cols is None
        else ([group_cols] if isinstance(group_cols, str) else list(group_cols))
    )
    d = pairs.select(
        *gs, F.col(a_col).alias("_a"), F.col(b_col).alias("_b")
    )
    base = d.groupBy(*gs).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("_a") == F.col("_b"), 1).otherwise(0))
        .cast("long")
        .alias("agree"),
    )
    ma = d.groupBy(*gs, F.col("_a").alias("_k")).agg(
        F.count(F.lit(1)).cast("long").alias("_na")
    )
    mb = d.groupBy(*gs, F.col("_b").alias("_k")).agg(
        F.count(F.lit(1)).cast("long").alias("_nb")
    )
    prod = (
        ma.join(mb, on=gs + ["_k"], how="inner")
        .groupBy(*gs)
        .agg(F.sum(F.col("_na") * F.col("_nb")).alias("_sum_prod"))
    )
    if gs:
        out = base.join(prod, on=gs, how="left").na.fill({"_sum_prod": 0})
    else:
        out = base.crossJoin(prod)  # both sides are single-row aggregates
    kappa = F.expr(
        "CASE WHEN n * n = _sum_prod THEN 10000 "
        "ELSE CAST(((n * agree - _sum_prod) * 10000) div (n * n - _sum_prod) "
        "AS BIGINT) END"
    )
    return out.select(*gs, "n", "agree", kappa.alias("kappa_bp"))


def edit_distance_eval(
    pairs: DataFrame,
    gold_col: str = "gold",
    pred_col: str = "pred",
    id_col: str = "doc_id",
    max_chars: int = 400,
) -> DataFrame:
    """Character-level extraction-quality eval: Levenshtein distance of
    predicted vs gold text per document, plus a normalized error rate
    in basis points (CER-style: distance over the longer side).

    The complement of :func:`extraction_token_prf` — token P/R/F1 says
    WHICH words survived, edit distance prices every character of
    divergence including ordering and boilerplate residue. Both sides
    are clamped to ``max_chars`` codepoints and non-printable-ASCII is
    stripped first (``[^ -~]`` — the same class both engines support),
    bounding the O(len²) DP per row and pinning cross-engine char
    semantics. JVM-native ``levenshtein`` — no Python in the loop.
    """
    g = F.substring(
        F.regexp_replace(F.col(gold_col), r"[^ -~]", ""), 1, int(max_chars)
    )
    p = F.substring(
        F.regexp_replace(F.col(pred_col), r"[^ -~]", ""), 1, int(max_chars)
    )
    base = ensure_parallelism(pairs).select(
        F.col(id_col).alias("doc_id"),
        F.length(g).cast("long").alias("gold_chars"),
        F.length(p).cast("long").alias("pred_chars"),
        F.levenshtein(g, p).cast("long").alias("edit_distance"),
    )
    return base.select(
        "doc_id",
        "gold_chars",
        "pred_chars",
        "edit_distance",
        F.expr(
            "CAST((edit_distance * 10000) div "
            "greatest(gold_chars, pred_chars, 1) AS BIGINT)"
        ).alias("cer_bp"),
    )


def psi_drift(
    ref: DataFrame,
    cur: DataFrame,
    score_col: str = "score",
    n_buckets: int = 10,
    lo: int = 0,
    hi: int = 100,
) -> DataFrame:
    """Population Stability Index between a reference and a current
    score distribution — the standard "did my quality-filter inputs
    drift between crawls" monitor (rule of thumb: <0.10 stable,
    0.10-0.25 watch, >0.25 investigate; here in integer micro units).

    Scores bucket into ``n_buckets`` equal-width bins over [lo, hi]
    (clamped; integer arithmetic so binning is oracle-exact), each
    side reduces to per-bucket counts — two map-side-combinable aggs —
    and PSI sums ``(p - q)·ln(p/q)`` per bucket with add-1-count
    smoothing (so empty buckets stay finite) under the module's
    standard micro-nat quantization: each bucket's term quantizes ONCE
    to an integer, the total is an exact integer sum.

    Returns one row: (n_ref, n_cur, psi_micro).
    """
    if n_buckets < 2 or hi <= lo:
        raise ValueError("psi_drift needs n_buckets >= 2 and hi > lo")
    width = (hi - lo + n_buckets - 1) // n_buckets  # ceil: covers [lo, hi]

    clamp = f"greatest({lo}, least({hi}, CAST({score_col} AS BIGINT)))"
    bexpr = f"least({n_buckets - 1}, CAST(({clamp} - {lo}) div {width} AS INT))"

    def counts(df, name):
        return (
            df
            .select(F.expr(bexpr).alias("_b"))
            .groupBy("_b")
            .agg(F.count(F.lit(1)).cast("long").alias(name))
        )

    r = counts(ref, "_nr")
    c = counts(cur, "_nc")
    allb = (
        r.join(c, on="_b", how="full")
        .na.fill({"_nr": 0, "_nc": 0})
    )
    tot = allb.agg(
        F.sum("_nr").alias("n_ref"), F.sum("_nc").alias("n_cur")
    )
    j = allb.crossJoin(F.broadcast(tot))
    # add-1 smoothing on counts; p = (nr+1)/(N_ref + K), q likewise
    p = (F.col("_nr") + 1) / (F.col("n_ref") + n_buckets)
    q = (F.col("_nc") + 1) / (F.col("n_cur") + n_buckets)
    term = F.round((p - q) * F.log(p / q) * 1e6).cast("long")
    return j.groupBy().agg(
        F.max("n_ref").cast("long").alias("n_ref"),
        F.max("n_cur").cast("long").alias("n_cur"),
        F.sum(term).alias("psi_micro"),
    )


def threshold_calibration(
    docs: DataFrame,
    score_col: str,
    keep_bp: int,
    group_cols=None,
) -> DataFrame:
    """Calibrate a filter threshold to a target keep-rate: the HIGHEST
    integer score cutoff whose ``score >= cutoff`` population still
    reaches ``keep_bp`` basis points of the group (the smallest keep-set
    meeting the target) — how "keep the top 30% by quality" becomes a
    concrete per-language threshold without eyeballing histograms.

    Exact integer quantile semantics (no percentile interpolation):
    per-distinct-score counts (map-side combinable), a descending
    cumulative sum over the score-cardinality-sized table, and the
    max score with ``cum·10000 >= keep_bp·N`` wins. Returns (groups…,)
    n_docs, cutoff, kept_bp_actual.
    """
    from pyspark.sql import Window

    if not 0 < keep_bp <= 10000:
        raise ValueError(f"threshold_calibration needs 0 < keep_bp <= 10000")
    gs = (
        []
        if group_cols is None
        else ([group_cols] if isinstance(group_cols, str) else list(group_cols))
    )
    per = (
        docs
        .groupBy(*gs, F.col(score_col).cast("long").alias("_s"))
        .agg(F.count(F.lit(1)).cast("long").alias("_n"))
    )
    w = (
        Window.partitionBy(*[F.col(g) for g in gs])
        .orderBy(F.col("_s").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy(*[F.col(g) for g in gs])
    scored = per.select(
        *gs,
        "_s",
        F.sum("_n").over(w).alias("_cum"),
        F.sum("_n").over(wall).alias("_N"),
    )
    ok = scored.where(F.col("_cum") * 10000 >= F.lit(keep_bp) * F.col("_N"))
    return (
        ok.groupBy(*gs)
        .agg(
            F.max("_N").alias("n_docs"),
            F.max("_s").alias("cutoff"),
            F.min(
                F.expr("CAST((_cum * 10000) div _N AS BIGINT)")
            ).alias("kept_bp_actual"),
        )
        .select(*gs, "n_docs", "cutoff", "kept_bp_actual")
    )


def novelty_scores(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """First-occurrence shingle ATTRIBUTION: how much of each document
    is new to the corpus when documents are taken in ``id_col`` order
    (crawl/arrival order for a snapshot keyed by ingest id). Every
    distinct word ``k``-shingle is attributed to the smallest doc id
    containing it; a document's novelty is the share of its shingles it
    introduces. The curriculum/marginal-value signal exact dedup can't
    give: a page can be 0% exact-duplicate yet 2% novel (boilerplate +
    quotes + syndicated fragments), and a crawl's novelty CURVE over
    arrival order is the diminishing-returns diagnostic that decides
    when another snapshot stops paying for itself.

    Shingle universe shared with the MinHash/Jaccard suite
    (:func:`~.dedup.shingles_col` — distinct, whitespace words; a doc
    with fewer than ``k`` words contributes its whole word sequence as
    one shingle, per the shared grammar). Every input document is
    returned: shingle-less docs (empty/whitespace text) get
    ``n_shingles = n_novel = 0`` and NULL ``novelty_bp``, deciding
    nothing rather than faking 0% or 100%.

    Returns ``(doc_id, n_shingles, n_novel, novelty_bp)``,
    ``novelty_bp`` = floored bp share — all-integer, oracle-hash-exact.

    Scale (100 TB): one explode into a (shingle → min id) aggregate —
    combinable, map-side partials, the word_freq shape on a bigger
    dictionary; the attribution join back runs co-partitioned on the
    same shingle key; then one doc-keyed count. Hot shingles
    (boilerplate) concentrate COUNT mass but min() partials collapse
    them map-side; no self-joins, no windows over the corpus.
    """
    from .dedup import shingles_col

    if k < 1:
        raise ValueError(f"novelty_scores needs k >= 1, got {k}")
    base = ensure_parallelism(docs).select(
        F.col(id_col).alias("doc_id"), shingles_col(text_col, k=k).alias("_sh")
    )
    # n_shingles is the per-doc DISTINCT shingle count — exactly
    # size(_sh), row-local. n_novel needs only the (shingle -> min id)
    # aggregate REGROUPED BY the winning id: a shingle contributes one
    # novel credit to precisely the doc that is its min. That removes
    # the former attribution join back onto the exploded table (and
    # with it the persist+count barrier the two consumers forced) —
    # the corpus-scale work is now one explode into a combinable
    # min-agg plus a winner-keyed count (guide §2.3/§2.4); results are
    # identical row for row.
    novel = (
        base.select("doc_id", F.explode("_sh").alias("shingle"))
        .groupBy("shingle")
        .agg(F.min("doc_id").alias("_first"))
        .groupBy(F.col("_first").alias("doc_id"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_novel"))
    )
    out = (
        base.select("doc_id", F.size("_sh").cast("long").alias("n_shingles"))
        .join(novel, on="doc_id", how="left")
        .select(
            "doc_id",
            "n_shingles",
            F.coalesce("n_novel", F.lit(0)).cast("long").alias("n_novel"),
            F.when(
                F.col("n_shingles") > 0,
                F.expr(
                    "CAST((coalesce(n_novel, 0) * 10000)"
                    " div n_shingles AS BIGINT)"
                ),
            ).alias("novelty_bp"),
        )
    )
    return out


def novelty_curve(
    docs: DataFrame,
    bucket_size: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """The corpus-level rollup of :func:`novelty_scores`: arrival-order
    buckets of ``bucket_size`` docs, each reporting how many distinct
    word ``k``-shingles it INTRODUCES and the cumulative distinct count
    — the diminishing-returns curve that decides when another crawl
    snapshot stops paying for itself (a flattening ``cum_shingles`` is
    the stop signal; per-doc novelty can stay noisy long after the
    aggregate has saturated).

    A shingle belongs to the bucket of the smallest doc id containing
    it (the :func:`novelty_scores` attribution). Every bucket with
    documents appears, even with zero new shingles.

    Returns ``(bucket, n_docs, new_shingles, cum_shingles)`` —
    ``bucket = doc_id div bucket_size``; all-integer.

    Scale: the shingle -> min(doc_id) aggregate is the combinable
    word_freq shape; everything after runs on the BUCKET dimension
    (corpus_size / bucket_size rows), where the cumulative window is
    trivially safe — the corpus itself never meets a window.
    """
    from .dedup import shingles_col

    if bucket_size < 1:
        raise ValueError(f"novelty_curve needs bucket_size >= 1, got {bucket_size}")
    if k < 1:
        raise ValueError(f"novelty_curve needs k >= 1, got {k}")
    from pyspark.sql import Window

    base = ensure_parallelism(docs).select(
        F.col(id_col).alias("doc_id"), shingles_col(text_col, k=k).alias("_sh")
    )
    # the doc-count branch needs only doc_id — scanning through `base`
    # would re-run the (interpreted, HOF-heavy) shingle-array build for
    # rows whose arrays are then discarded; count from the pruned scan
    per_bucket_docs = ensure_parallelism(docs).select(
        F.col(id_col).alias("doc_id")
    ).groupBy(
        F.expr(f"doc_id div {int(bucket_size)}").cast("long").alias("bucket")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    firsts = (
        base.select("doc_id", F.explode("_sh").alias("shingle"))
        .groupBy("shingle")
        .agg(F.min("doc_id").alias("_first"))
        .groupBy(
            F.expr(f"_first div {int(bucket_size)}").cast("long").alias("bucket")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("new_shingles"))
    )
    curve = per_bucket_docs.join(firsts, on="bucket", how="left").select(
        "bucket",
        "n_docs",
        F.coalesce("new_shingles", F.lit(0)).cast("long").alias("new_shingles"),
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return curve.select(
        "bucket",
        "n_docs",
        "new_shingles",
        F.sum("new_shingles").over(w).cast("long").alias("cum_shingles"),
    )


def calibration_report(
    scored: DataFrame,
    n_bins: int = 10,
    score_col: str = "score_micro",
    label_col: str = "label",
) -> DataFrame:
    """Reliability-diagram bins for a quality/toxicity classifier whose
    scores gate corpus admission — the monitoring table behind "is the
    0.8 threshold still meaning 80%?": equal-width bins over micro-unit
    scores (``[0, 1_000_000]``), per bin the count, positive count,
    mean confidence, empirical accuracy and |confidence − accuracy|
    gap. A gate calibrated on last year's crawl drifts; this is the
    drift detector for the DECISION layer (PSI covers the input layer).

    All integer-exact (the hash-oracle contract): ``conf_micro =
    sum_score // n``, ``acc_micro = 1_000_000·pos // n``, and the
    expected-calibration-error numerator ``ece_term = |1_000_000·pos −
    sum_score|`` is emitted UN-divided per bin — ``ECE_micro =
    sum(ece_term) // N`` exactly, since the standard ``Σ (n_b/N)·
    |acc_b − conf_b|`` telescopes to that integer sum. No float enters.

    Out-of-range scores clamp into the edge bins (documented, not
    silent: a score > 1e6 is upstream's bug but lands visibly in the
    top bin rather than vanishing). Bin = ``score·n_bins div 1e6``
    capped at ``n_bins − 1`` so the score 1_000_000 joins the top bin.

    Returns ``(bin, n, positives, sum_score_micro, conf_micro,
    acc_micro, gap_micro, ece_term)`` — one combinable groupBy on the
    bin key; bins ≤ n_bins rows, so every downstream consumer is
    driver-cheap.
    """
    if n_bins < 1:
        raise ValueError(f"calibration_report needs n_bins >= 1, got {n_bins}")
    s = F.col(score_col).cast("long")
    lab = F.col(label_col).cast("long")
    bin_ = F.least(
        F.greatest(
            F.expr(f"(cast({score_col} as bigint) * {int(n_bins)}) div 1000000"),
            F.lit(0).cast("long"),
        ),
        F.lit(int(n_bins) - 1).cast("long"),
    )
    agg = (
        scored
        .select(bin_.alias("bin"), s.alias("_s"), lab.alias("_l"))
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("_l").cast("long").alias("positives"),
            F.sum("_s").cast("long").alias("sum_score_micro"),
        )
    )
    conf = F.expr("sum_score_micro div n")
    acc = F.expr("(1000000 * positives) div n")
    return agg.select(
        "bin",
        "n",
        "positives",
        "sum_score_micro",
        conf.cast("long").alias("conf_micro"),
        acc.cast("long").alias("acc_micro"),
        F.abs(
            F.lit(1_000_000).cast("long") * F.col("positives")
            - F.col("sum_score_micro")
        )
        .cast("long")
        .alias("ece_term"),
    ).withColumn(
        "gap_micro", F.expr("ece_term div n").cast("long")
    ).select(
        "bin", "n", "positives", "sum_score_micro", "conf_micro",
        "acc_micro", "gap_micro", "ece_term",
    )


def pr_curve(
    scored: DataFrame,
    score_col: str = "score",
    label_col: str = "label",
) -> DataFrame:
    """Exact precision/recall/F1 at EVERY distinct score threshold —
    the gate-tuning table: predict positive when ``score >= threshold``
    and report the confusion counts plus basis-point metrics per
    candidate threshold, so "what cutoff maximizes F1 / hits 95%
    precision" is one ORDER BY over this output. Complements
    `ranking_auc` (one number) and `threshold_calibration` (inverts a
    target KEEP-RATE; this inverts target QUALITY) on the same
    integer-exact terms.

    Machinery: per-distinct-score (n, positives) counts — the corpus
    meets ONE combinable aggregation — then a DESCENDING cumulative
    window over the score-cardinality-sized table (micro-unit scores
    keep that cardinality ≤ ~1e6 + 1 regardless of corpus size, the
    threshold_calibration argument). tp = cumulative positives at or
    above the threshold; fp = cumulative negatives; fn = P − tp. All
    integer: ``precision_bp = 10000·tp div (tp+fp)``, ``recall_bp =
    10000·tp div P``, ``f1_bp = 20000·tp div (2tp + fp + fn)``.

    Returns ``(threshold, n_at_or_above, tp, fp, fn, precision_bp,
    recall_bp, f1_bp)``, one row per distinct score. A corpus with no
    positives reports recall/f1 NULL (undefined, surfaced — precision
    still meaningful).
    """
    per = (
        scored
        .select(
            F.col(score_col).cast("long").alias("threshold"),
            F.col(label_col).cast("long").alias("_l"),
        )
        .groupBy("threshold")
        .agg(
            F.count(F.lit(1)).cast("long").alias("_n"),
            F.sum("_l").cast("long").alias("_pos"),
        )
    )
    from pyspark.sql import Window

    w = (
        Window.orderBy(F.col("threshold").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy()
    cum = per.select(
        "threshold",
        F.sum("_n").over(w).cast("long").alias("n_at_or_above"),
        F.sum("_pos").over(w).cast("long").alias("tp"),
        F.sum("_pos").over(wall).cast("long").alias("_P"),
    )
    fp = (F.col("n_at_or_above") - F.col("tp")).cast("long")
    fn = (F.col("_P") - F.col("tp")).cast("long")
    # 2tp + fp + fn telescopes to n_at_or_above + P (≥ 1 on every row —
    # each threshold counts at least itself), so F1's denominator never
    # needs a zero guard beyond the no-positives NULL
    return cum.select(
        "threshold",
        "n_at_or_above",
        "tp",
        fp.alias("fp"),
        fn.alias("fn"),
        F.expr("(10000 * tp) div n_at_or_above").cast("long").alias("precision_bp"),
        F.when(F.col("_P") > 0, F.expr("(10000 * tp) div _P"))
        .cast("long")
        .alias("recall_bp"),
        F.when(
            F.col("_P") > 0,
            F.expr("(20000 * tp) div (n_at_or_above + _P)"),
        ).cast("long").alias("f1_bp"),
    )


#: Characters :func:`sanitize_controls` strips — written in the
#: ``\x{hhhh}`` form BOTH Java regex (Spark) and RE2 (DuckDB oracle)
#: parse identically: C0 controls except TAB/LF/CR, DEL, C1 controls
#: (the cp1252-smuggling range), the BOM/ZWNBSP, and the bidi override
#: family (LRM/RLM, LRE..RLO, LRI..PDI) — the homoglyph-spoofing
#: vector that makes rendered text diverge from stored bytes. ZWJ and
#: ZWNJ are deliberately KEPT: they are orthographic in Indic/Persian
#: scripts and inside emoji sequences.
CONTROL_CHARS_RE = (
    r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F"
    r"\x{0080}-\x{009F}\x{FEFF}\x{200E}\x{200F}"
    r"\x{202A}-\x{202E}\x{2066}-\x{2069}]"
)


def sanitize_controls(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Strip non-printing control and direction-override characters —
    the scrub between :func:`normalize_text` (composition form) and
    :func:`fix_mojibake` (encoding damage): C0/C1 controls break
    tokenizers and terminal renderers, a mid-document BOM splits
    words invisibly, and bidi overrides make text render differently
    than it hashes (a prompt-injection / spoofing vector worth
    removing from TRAINING text, not just display). TAB/LF/CR and
    ZWJ/ZWNJ survive (structure and orthography respectively).

    Returns ``(doc_id, clean_text, n_removed)`` — every removal is a
    single code point, so ``n_removed = length(text) -
    length(clean_text)`` exactly. One ``regexp_replace`` projection,
    scan-speed, no UDF; NULL text passes through with n_removed 0.
    """
    t = F.col(text_col)
    cleaned = F.regexp_replace(t, CONTROL_CHARS_RE, "")
    return docs.select(
        F.col(id_col).alias("doc_id"),
        cleaned.alias("clean_text"),
        F.coalesce(F.length(t) - F.length(cleaned), F.lit(0))
        .cast("long")
        .alias("n_removed"),
    )


def rank_agreement(
    df: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Spearman rank agreement between two score columns — "do my two
    quality filters order the corpus the same way?": before swapping a
    cheap heuristic for a model score (or trusting a new filter
    version), measure how much of the old ordering survives. Pearson
    on ranks, with ties getting their AVERAGE rank — kept exact by
    working in HALF-RANK units (``2·avg_rank = 2·cum_before + t + 1``,
    always an integer, no .5s).

    All moments accumulate as DECIMAL(38,0) (half-ranks reach 2n, so
    ``n·Σr²`` ~ 4n⁴ overflows int64 past ~40k rows); the final
    ``rho_milli`` (−1000..1000) divides via ``sign·(abs div)`` so
    truncation is toward zero in BOTH engines (DuckDB's ``//`` floors
    negatives — div'ing the absolute value sidesteps the mismatch).
    The denominator is ONE ``floor(sqrt(double))`` of the variance
    PRODUCT — when |rho| = 1 the product is a perfect square (equal
    rank vectors up to reversal), so ±1 survive exactly where two
    separate isqrts would under-divide — with a ``least`` clamp
    absorbing the float-ulp edge on huge inputs; the double pipeline
    is deterministic cross-engine (conversion and sqrt are exactly
    rounded, identically, in the JVM and DuckDB). vx·vy ≤ 16n⁶ caps
    exact DECIMAL(38) arithmetic at n ≈ 1.4e6 scored rows — rank
    agreement past that runs on a sample (``sample_deterministic``)
    by design. Rows with a NULL on either side are dropped; a constant
    column (zero variance) yields NULL rho, never a fabricated 0.

    Scale: two distinct-value (score-cardinality) windows + two joins
    back + one combinable moment agg. Returns one row:
    ``(n_rows, rho_milli)``.
    """
    from pyspark.sql import Window

    rows = df.select(
        F.col(x_col).alias("_x"), F.col(y_col).alias("_y")
    ).where(F.col("_x").isNotNull() & F.col("_y").isNotNull())

    def _half_ranks(col: str):
        per = rows.groupBy(col).agg(F.count(F.lit(1)).alias("_t"))
        w = Window.orderBy(col).rowsBetween(Window.unboundedPreceding, -1)
        return per.select(
            col,
            (
                2 * F.coalesce(F.sum("_t").over(w), F.lit(0))
                + F.col("_t")
                + 1
            ).alias(f"_h{col}"),
        )

    hx = _half_ranks("_x")
    hy = _half_ranks("_y")
    j = rows.join(hx, on="_x").join(hy, on="_y")
    d38 = "DECIMAL(38,0)"
    m = j.agg(
        F.count(F.lit(1)).cast(d38).alias("n"),
        F.sum(F.col("_h_x").cast(d38)).alias("sx"),
        F.sum(F.col("_h_y").cast(d38)).alias("sy"),
        F.sum((F.col("_h_x") * F.col("_h_x")).cast(d38)).alias("sxx"),
        F.sum((F.col("_h_y") * F.col("_h_y")).cast(d38)).alias("syy"),
        F.sum((F.col("_h_x") * F.col("_h_y")).cast(d38)).alias("sxy"),
    )
    return m.select(
        F.col("n").cast("long").alias("n_rows"),
        F.when(
            (F.expr("n * sxx - sx * sx") > 0) & (F.expr("n * syy - sy * sy") > 0),
            F.expr(
                "CAST(sign(n * sxy - sx * sy) AS DECIMAL(38,0)) * "
                "least(CAST(1000 AS DECIMAL(38,0)), "
                "CAST((1000 * abs(n * sxy - sx * sy)) div "
                "CAST(floor(sqrt(CAST((n * sxx - sx * sx) * (n * syy - sy * sy)"
                " AS DOUBLE))) AS DECIMAL(38,0)) AS DECIMAL(38,0)))"
            ),
        )
        .cast("long")
        .alias("rho_milli"),
    )


def percentile_normalize(
    df: DataFrame,
    group_col: str,
    score_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-group mid-rank percentile of a score, in integer basis
    points — the normalization that makes ONE global threshold
    meaningful across heterogeneous sources: raw quality scores are
    not comparable between a news domain and a forum dump, but "this
    doc is in its own source's 87th percentile" is. Hazen mid-rank
    (``(2·cum_before + t) / 2n``) so ties share one percentile and the
    extremes never collapse to exactly 0/10000.

    Scale: the rank window runs per group on the (group, score)
    DISTINCT-value table (score cardinality, not corpus), then one
    join back on (group, score). Returns ``(id_col, group_col,
    score_col, pct_bp)``.
    """
    from pyspark.sql import Window

    rows = df.select(
        F.col(id_col), F.col(group_col), F.col(score_col)
    )
    per = rows.groupBy(group_col, score_col).agg(
        F.count(F.lit(1)).alias("_t")
    )
    w = (
        Window.partitionBy(group_col)
        .orderBy(score_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wn = Window.partitionBy(group_col)
    # cum-before and group-n ride the distinct-value table, never the
    # corpus
    per2 = per.select(
        group_col,
        score_col,
        "_t",
        F.coalesce(F.sum("_t").over(w), F.lit(0)).alias("_cb"),
        F.sum("_t").over(wn).alias("_n"),
    )
    pct = per2.select(
        group_col,
        score_col,
        F.expr("(10000 * (2 * _cb + _t)) div (2 * _n)")
        .cast("long")
        .alias("pct_bp"),
    )
    return rows.join(pct, on=[group_col, score_col]).select(
        id_col, group_col, score_col, "pct_bp"
    )


def ks_test(
    df: DataFrame,
    group_col: str,
    score_col: str,
    group_a: str,
    group_b: str,
) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov distance between two
    groups' score distributions — the bucket-free complement of
    ``psi_drift``: PSI needs binning and smoothing choices; KS is the
    max CDF gap over the scores the data actually took, so "did this
    crawl's quality distribution move" has one assumption-free number.

    Exact integer cross-multiplication: at every distinct score s,
    the gap ``|n_b·cum_a(s) − n_a·cum_b(s)|`` is an integer;
    ``d_milli = 1000·max_gap div (n_a·n_b)``. ``at_score`` is the
    SMALLEST score achieving the max (deterministic tie-break) — where
    the distributions diverge most, which is also the natural split
    threshold. Either group empty → NULL distance.

    Scale: per-(score) group counts are one combinable agg; the CDF
    windows and the argmax run on the DISTINCT-score table. Returns
    one row: ``(n_a, n_b, d_milli, at_score)``.
    """
    from pyspark.sql import Window

    g = F.col(group_col)
    rows = df.where(
        g.isin([group_a, group_b]) & F.col(score_col).isNotNull()
    )
    per = rows.groupBy(score_col).agg(
        F.sum(F.when(g == group_a, 1).otherwise(0)).cast("long").alias("_ca"),
        F.sum(F.when(g == group_b, 1).otherwise(0)).cast("long").alias("_cb"),
    )
    w = Window.orderBy(score_col).rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = per.select(
        F.col(score_col).alias("_s"),
        F.sum("_ca").over(w).alias("_cuma"),
        F.sum("_cb").over(w).alias("_cumb"),
        F.sum("_ca").over(wall).alias("_na"),
        F.sum("_cb").over(wall).alias("_nb"),
    ).withColumn(
        "_gap",
        F.abs(F.col("_nb") * F.col("_cuma") - F.col("_na") * F.col("_cumb")),
    )
    cum = cum.withColumn("_maxgap", F.max("_gap").over(wall))
    return cum.agg(
        F.max("_na").cast("long").alias("n_a"),
        F.max("_nb").cast("long").alias("n_b"),
        F.when(
            (F.max("_na") > 0) & (F.max("_nb") > 0),
            F.expr("(1000 * max(_gap)) div (max(_na) * max(_nb))"),
        )
        .cast("long")
        .alias("d_milli"),
        F.min(F.when(F.col("_gap") == F.col("_maxgap"), F.col("_s"))).alias(
            "at_score"
        ),
    )


def ngram_diversity(
    docs: DataFrame,
    ns: Sequence[int] = (1, 2, 3),
    group_col: Optional[str] = None,
    text_col: str = "text",
) -> DataFrame:
    """Distinct-n diversity panel — the repetitiveness complement of
    ``vocab_health``'s unigram TTR: distinct n-grams over total
    n-grams, per order, in integer basis points. Template farms and
    model-generated filler collapse distinct-2/3 long before unigram
    vocabulary looks sick; corpus release reports quote exactly these
    numbers (self-BLEU's cheap deterministic cousin).

    Scale: grams built in-row (the ``ngram_counts`` sequence+slice
    algebra, one explode per order), counted in two combinable phases;
    the distinct count rides the (gram)-keyed rollup's row count, so
    no exact-distinct double exchange. One row per (group, n):
    ``(group, n, total_grams, distinct_grams, distinct_bp)``.
    """
    outs = []
    gcol = (
        F.col(group_col).alias("_g")
        if group_col is not None
        else F.lit("all").alias("_g")
    )
    base = docs.select(
        gcol, normalized_words(text_col).alias("_w")
    )
    for n in ns:
        n = int(n)
        # NB: the transform lambda must take exactly ONE parameter — a
        # second would be interpreted as the (element, index) arity and
        # shadow n with the index column; the lambda runs eagerly, so
        # closing over the loop variable is safe
        grams = F.when(
            F.size(F.col("_w")) >= n,
            F.transform(
                F.sequence(F.lit(0), F.size(F.col("_w")) - n),
                lambda i: F.concat_ws(" ", F.slice(F.col("_w"), i + 1, n)),
            ),
        ).otherwise(F.array().cast("array<string>"))
        per_gram = (
            base.select("_g", F.explode(grams).alias("_gram"))
            .groupBy("_g", "_gram")
            .agg(F.count(F.lit(1)).cast("long").alias("_c"))
        )
        outs.append(
            per_gram.groupBy("_g")
            .agg(
                F.sum("_c").cast("long").alias("total_grams"),
                F.count(F.lit(1)).cast("long").alias("distinct_grams"),
            )
            .select(
                F.col("_g").alias("grp"),
                F.lit(n).cast("long").alias("n"),
                "total_grams",
                "distinct_grams",
                F.expr("(10000 * distinct_grams) div total_grams")
                .cast("long")
                .alias("distinct_bp"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def vocab_richness(
    docs: DataFrame,
    group_col: Optional[str] = None,
    text_col: str = "text",
) -> DataFrame:
    """Chao1 vocabulary-richness estimate plus Good–Turing unseen mass
    per group — "how much vocabulary has this crawl slice NOT seen
    yet", the question behind deciding whether another crawl of a
    language is worth the fetch budget. ``vocab_health`` describes the
    vocabulary we HAVE; this estimates the one we're missing.

    Bias-corrected Chao1 (integer-exact):
    ``chao1_milli = 1000·V + (1000·f1·(f1−1)) div (2·(f2+1))`` where V
    is the observed vocabulary and f1/f2 the singleton/doubleton word
    counts. Good–Turing unseen-probability mass ``gt_unseen_bp =
    (10000·f1) div N`` (Gale–Sampson's P0 = f1/N). All outputs are
    integer basis points / millis — no float in the pipeline, so the
    oracle hashes exactly.

    Scale: one (group, word) count rollup (combinable, the word_freq
    shuffle), then one combinable per-group agg over it; f1/f2 are
    conditional sums, never a second scan. One row per group:
    ``(grp, n_tokens, vocab, f1, f2, chao1_milli, gt_unseen_bp,
    singleton_share_bp)``.
    """
    gcol = (
        F.col(group_col).alias("_g")
        if group_col is not None
        else F.lit("all").alias("_g")
    )
    per_word = (
        docs
        .select(gcol, F.explode(normalized_words(text_col)).alias("_w"))
        .groupBy("_g", "_w")
        .agg(F.count(F.lit(1)).cast("long").alias("_c"))
    )
    return (
        per_word.groupBy("_g")
        .agg(
            F.sum("_c").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).cast("long").alias("vocab"),
            F.sum(F.when(F.col("_c") == 1, 1).otherwise(0))
            .cast("long")
            .alias("f1"),
            F.sum(F.when(F.col("_c") == 2, 1).otherwise(0))
            .cast("long")
            .alias("f2"),
        )
        .select(
            F.col("_g").alias("grp"),
            "n_tokens",
            "vocab",
            "f1",
            "f2",
            F.expr(
                "1000 * vocab + (1000 * f1 * (f1 - 1)) div (2 * (f2 + 1))"
            )
            .cast("long")
            .alias("chao1_milli"),
            F.expr("(10000 * f1) div n_tokens").cast("long").alias(
                "gt_unseen_bp"
            ),
            F.expr("(10000 * f1) div vocab").cast("long").alias(
                "singleton_share_bp"
            ),
        )
    )


def zipf_fit(
    docs: DataFrame,
    group_col: Optional[str] = None,
    text_col: str = "text",
    max_rank: int = 128,
) -> DataFrame:
    """Zipf-law head fit per group: OLS slope of log-frequency against
    log-rank over the top ``max_rank`` words. Natural text sits near
    slope −1; template farms and model-generated filler flatten the
    head (slope → 0), keyword-stuffed spam steepens it — so the slope
    is a one-number corpus-naturalness diagnostic that complements
    ``ngram_diversity`` (which looks at the tail's repetitiveness).

    Determinism: each log is quantized ONCE to integer milli-nats
    (``floor(1000·ln(·))`` — the unigram_lm micro-nat convention), and
    every downstream OLS sum is exact 64-bit integer arithmetic; with
    ranks capped at 128 the worst-case intercept numerator
    |num·Σx| + |Σy·den| < 3e18 stays inside long even for a
    10^13-count head word (Σy ≤ 128·30e3). The slope is
    reported NEGATED (``neg_slope_milli``, so ≈1000 for natural text):
    frequency is non-increasing in rank by construction, hence the
    covariance is ≤ 0 and the negated integer division is
    floor-consistent between Spark and the oracle (both engines
    truncate non-negative div identically; negative div semantics
    differ, so we never emit one).

    Rank ties break by word (ascending) — a total order, so the top-K
    head is reproducible. Groups with < 2 distinct head ranks return
    NULL fit columns.

    Scale: the (group, word) rollup is the word_freq shuffle; the
    top-K head is a per-group window over that rollup (combinable
    count first, window second), and the OLS itself is one combinable
    agg over ≤ max_rank rows per group. One row per group:
    ``(grp, n_ranks, neg_slope_milli, intercept_milli)``.
    """
    from pyspark.sql import Window

    gcol = (
        F.col(group_col).alias("_g")
        if group_col is not None
        else F.lit("all").alias("_g")
    )
    per_word = (
        docs
        .select(gcol, F.explode(normalized_words(text_col)).alias("_w"))
        .groupBy("_g", "_w")
        .agg(F.count(F.lit(1)).cast("long").alias("_c"))
    )
    w = Window.partitionBy("_g").orderBy(
        F.col("_c").desc(), F.col("_w").asc()
    )
    head = (
        per_word.withColumn("_r", F.row_number().over(w))
        .where(F.col("_r") <= int(max_rank))
        .select(
            "_g",
            F.floor(F.lit(1000.0) * F.log(F.col("_r").cast("double")))
            .cast("long")
            .alias("_x"),
            F.floor(F.lit(1000.0) * F.log(F.col("_c").cast("double")))
            .cast("long")
            .alias("_y"),
        )
    )
    sums = head.groupBy("_g").agg(
        F.count(F.lit(1)).cast("long").alias("_n"),
        F.sum("_x").cast("long").alias("_sx"),
        F.sum("_y").cast("long").alias("_sy"),
        F.sum(F.col("_x") * F.col("_x")).cast("long").alias("_sxx"),
        F.sum(F.col("_x") * F.col("_y")).cast("long").alias("_sxy"),
    )
    return sums.select(
        F.col("_g").alias("grp"),
        F.col("_n").alias("n_ranks"),
        F.expr(
            "CASE WHEN _n * _sxx - _sx * _sx > 0 THEN"
            " (1000 * (_sx * _sy - _n * _sxy))"
            " div (_n * _sxx - _sx * _sx) END"
        )
        .cast("long")
        .alias("neg_slope_milli"),
        F.expr(
            "CASE WHEN _n * _sxx - _sx * _sx > 0 THEN"
            " (_sy * (_n * _sxx - _sx * _sx)"
            "  + (_sx * _sy - _n * _sxy) * _sx)"
            " div (_n * (_n * _sxx - _sx * _sx)) END"
        )
        .cast("long")
        .alias("intercept_milli"),
    )


def mannwhitney_test(
    df: DataFrame,
    group_col: str,
    score_col: str,
    group_a: str,
    group_b: str,
) -> DataFrame:
    """Two-sample Mann–Whitney U (Wilcoxon rank-sum) between two
    groups' scores — the LOCATION-shift complement of ``ks_test``: KS
    asks "did the distribution change anywhere", U asks the release
    question "does group A score systematically higher", robustly and
    without normality assumptions.

    Tie-exact integer core: ranks never materialize per row — per
    DISTINCT score s with m = ca+cb pooled occurrences, the doubled
    mid-rank is the integer ``2·prev + m + 1``, so the doubled rank
    sum ``r2_a = Σ ca·(2·prev + m + 1)`` and the doubled statistic
    ``u2_a = r2_a − n_a·(n_a+1)`` are exact longs. The normal
    approximation uses the standard tie-corrected variance
    ``Var(U) = (n_a·n_b/12)·((n+1) − Σ(m³−m)/(n(n−1)))``; z is
    computed with one fixed IEEE expression shape (exact-integer
    inputs, only correctly-rounded ·, /, sqrt), then quantized to
    ``z_milli = floor(1000·z)`` — reproducible bit-for-bit across
    engines. All-tied data (zero variance) or an empty group → NULL z.

    Envelope: the tie term m³ needs the largest single-score tie group
    < 2e6 rows to stay in long — quantize continuous scores no coarser
    than that. Scale: one combinable per-score rollup, then windows on
    the distinct-score table only (the ``ks_test`` discipline). One
    row: ``(n_a, n_b, u2_a, z_milli)`` — u2_a is 2·U_a, so
    u2_a/(2·n_a·n_b) is the common-language effect size.
    """
    from pyspark.sql import Window

    g = F.col(group_col)
    rows = df.where(
        g.isin([group_a, group_b]) & F.col(score_col).isNotNull()
    )
    per = rows.groupBy(score_col).agg(
        F.sum(F.when(g == group_a, 1).otherwise(0)).cast("long").alias("_ca"),
        F.sum(F.when(g == group_b, 1).otherwise(0)).cast("long").alias("_cb"),
    )
    w = Window.orderBy(score_col).rowsBetween(Window.unboundedPreceding, 0)
    per = per.withColumn("_m", F.col("_ca") + F.col("_cb")).withColumn(
        "_prev", F.sum("_m").over(w) - F.col("_m")
    )
    sums = per.agg(
        F.sum("_ca").cast("long").alias("_na"),
        F.sum("_cb").cast("long").alias("_nb"),
        F.sum(F.col("_ca") * (2 * F.col("_prev") + F.col("_m") + 1))
        .cast("long")
        .alias("_r2a"),
        F.sum(F.col("_m") * F.col("_m") * F.col("_m") - F.col("_m"))
        .cast("long")
        .alias("_tsum"),
    )
    # one fixed expression shape for z so Spark and the oracle perform
    # the IDENTICAL sequence of correctly-rounded IEEE ops
    z_expr = (
        "CAST(u2_a - _na * _nb AS DOUBLE) / (2.0D * SQRT("
        "CAST(_na * _nb AS DOUBLE) * (CAST(_n + 1 AS DOUBLE)"
        " - CAST(_tsum AS DOUBLE) / CAST(_n * (_n - 1) AS DOUBLE))"
        " / 12.0D))"
    )
    out = sums.select(
        F.col("_na").alias("n_a"),
        F.col("_nb").alias("n_b"),
        (F.col("_r2a") - F.col("_na") * (F.col("_na") + 1))
        .cast("long")
        .alias("u2_a"),
        (F.col("_na") + F.col("_nb")).alias("_n"),
        F.col("_na"),
        F.col("_nb"),
        F.col("_tsum"),
    )
    cond = (
        (F.col("_na") > 0)
        & (F.col("_nb") > 0)
        & (F.col("_n") > 1)
        & (
            F.expr("CAST(_n + 1 AS DOUBLE)"
                   " - CAST(_tsum AS DOUBLE) / CAST(_n * (_n - 1) AS DOUBLE)")
            > 0
        )
    )
    return out.select(
        "n_a",
        "n_b",
        "u2_a",
        F.when(cond, F.floor(F.lit(1000.0) * F.expr(z_expr)))
        .cast("long")
        .alias("z_milli"),
    )


def term_burstiness(
    docs: DataFrame,
    ts_col: str,
    text_col: str = "text",
    min_count: int = 5,
) -> DataFrame:
    """Per-term BURSTINESS (Fano factor) over crawl days: variance over
    mean of the term's daily count, zero-filled across the corpus's
    observed days. A term drawn steadily (function words, boilerplate)
    sits near Fano ≈ 1·mean-scaled baseline; an event/spam term
    concentrates its mass in few days and its Fano explodes — this is
    the per-TERM twin of ``rate_anomalies`` (which watches per-host
    volume) and feeds trending-term reports and spam-campaign triage.

    Integer-exact over D = distinct observed days: with per-day counts
    c (zeros implicit), ``Var·D² = D·Σc² − S²`` and mean·D = S, so
    ``fano_milli = 1000·(D·Σc² − S²) div (D·S)`` never touches a
    float. The cross products run in decimal(38,0) (HUGEINT on the
    oracle side) — ``D·Σc²`` overflows a long for a head word already
    at ~1.5e8 occurrences/day over a year — and the quotient
    (≤ 1000·max-daily-count) lands back in a long.
    ``min_count`` bounds the output to terms with support.

    Scale: one (term, day) rollup (combinable), one per-term agg over
    it, and D rides a 1-row cross-joined aggregate — no per-term
    distinct-day rescan. One row per kept term:
    ``(term, n_total, days_active, fano_milli)``.
    """
    base = docs.select(
        F.col(ts_col).alias("_d"), F.explode(normalized_words(text_col)).alias("_w")
    )
    per = base.groupBy("_w", "_d").agg(
        F.count(F.lit(1)).cast("long").alias("_c")
    )
    days = per.agg(F.count_distinct("_d").cast("long").alias("_days"))
    agg = per.groupBy("_w").agg(
        F.sum("_c").cast("long").alias("_s"),
        # square in decimal — a 3e9+ single-day count would overflow the
        # long product before the sum ever saw it
        F.sum(F.col("_c").cast("decimal(38,0)") * F.col("_c")).alias("_q"),
        F.count(F.lit(1)).cast("long").alias("days_active"),
    )
    return (
        agg.where(F.col("_s") >= int(min_count))
        .crossJoin(F.broadcast(days))
        .select(
            F.col("_w").alias("term"),
            F.col("_s").alias("n_total"),
            "days_active",
            F.expr(
                "(1000 * (CAST(_days AS DECIMAL(38,0)) * _q"
                " - CAST(_s AS DECIMAL(38,0)) * _s))"
                " div (CAST(_days AS DECIMAL(38,0)) * _s)"
            )
            .cast("long")
            .alias("fano_milli"),
        )
    )


def weight_ess(
    df: DataFrame,
    weight_col: str,
    group_col: Optional[str] = None,
) -> DataFrame:
    """Effective sample size of an importance-weighted corpus slice —
    Kish's ``ESS = (Σw)²/Σw²`` — per group. The one-number health
    check on ``dsir_weights`` / ``domain_reweight`` outputs: a slice
    whose ESS collapses to a handful of documents means the reweighted
    "million docs" is statistically a few hundred, and training on it
    overfits those few. Release datacards quote exactly this.

    Integer-exact over integer weights (micro-scale float weights
    upstream): both moments accumulate in decimal(38,0) (HUGEINT on
    the oracle side — (Σw)² overflows a long at corpus scale), and the
    outputs land back in longs: ``ess_milli = (1000·(Σw)²) div Σw²``
    (thousandths of an effective document) and ``ess_share_bp =
    (10000·(Σw)²) div (n·Σw²)`` (ESS as a share of the nominal count).
    Zero-weight rows count toward n but not ESS — that is the honest
    reading of a gate that zeroes documents.

    Scale: one combinable aggregation, no window, no join. One row per
    group: ``(grp, n_rows, w_sum, ess_milli, ess_share_bp)``.
    """
    gcol = (
        F.col(group_col).alias("_g")
        if group_col is not None
        else F.lit("all").alias("_g")
    )
    w = F.col(weight_col).cast("decimal(38,0)")
    agg = (
        df
        .where(F.col(weight_col).isNotNull() & (F.col(weight_col) >= 0))
        .select(gcol, w.alias("_w"))
        .groupBy("_g")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("_w").alias("_s"),
            F.sum(F.col("_w") * F.col("_w")).alias("_q"),
        )
    )
    return agg.select(
        F.col("_g").alias("grp"),
        "n_rows",
        F.col("_s").cast("long").alias("w_sum"),
        F.when(
            F.col("_q") > 0, F.expr("(1000 * _s * _s) div _q")
        )
        .cast("long")
        .alias("ess_milli"),
        F.when(
            F.col("_q") > 0, F.expr("(10000 * _s * _s) div (n_rows * _q)")
        )
        .cast("long")
        .alias("ess_share_bp"),
    )


def heaps_fit(
    docs: DataFrame,
    group_col: Optional[str] = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_points: int = 32,
) -> DataFrame:
    """Heaps'-law fit per group: OLS of log cumulative vocabulary
    against log cumulative tokens, ``V(N) ≈ K·N^β``, measured at
    ``num_points`` id-ordered checkpoints. Natural corpora sit at
    β ≈ 0.4–0.6; β drifting toward 0 as a crawl grows means the slice
    stopped finding new language (diminishing returns — stop
    fetching); β ≈ 1 flags id-spaced noise (every doc all-new tokens).
    The GROWTH-CURVE complement of the static ``vocab_richness``
    estimate and ``zipf_fit`` head shape.

    Exactness: checkpoints are coarse doc-id buckets of driver-derived
    integer width ``max(1, ceil(span/num_points))`` (the pack_shards
    min/max recipe); a word's first-seen bucket is ``min(bucket)`` —
    monotone in id, so identical to bucketing the min id. Cumulative
    (tokens, vocab) prefix-sums run on the ≤ num_points-row per-group
    checkpoint table, logs quantize once to milli-nats, and the OLS is
    the zipf_fit exact-integer core (signed div floors identically in
    Spark and the oracle — pinned by test).

    Scale: one token-count rollup + one first-occurrence rollup (both
    combinable), windows only on the checkpoint table. One row per
    group: ``(grp, n_points, beta_milli, lnk_milli)``.
    """
    from pyspark.sql import Window

    np_ = int(num_points)
    if np_ < 2:
        raise ValueError("num_points must be ≥ 2")
    gcol = (
        F.col(group_col).alias("_g")
        if group_col is not None
        else F.lit("all").alias("_g")
    )
    bounds = docs.agg(
        F.min(F.col(id_col)).alias("lo"), F.max(F.col(id_col)).alias("hi")
    ).first()
    if bounds["lo"] is None:
        return (
            docs.limit(0)
            .select(
                F.lit("all").alias("grp"),
                F.lit(0).cast("long").alias("n_points"),
                F.lit(None).cast("long").alias("beta_milli"),
                F.lit(None).cast("long").alias("lnk_milli"),
            )
        )
    lo = int(bounds["lo"])
    span = int(bounds["hi"]) - lo + 1
    width = max(1, (span + np_ - 1) // np_)
    base = docs.select(
        gcol,
        F.expr(f"(CAST({id_col} AS BIGINT) - {lo}) div {width}").alias("_b"),
        normalized_words(text_col).alias("_ws"),
    )
    toks = base.groupBy("_g", "_b").agg(
        F.sum(F.size("_ws")).cast("long").alias("_t")
    )
    firsts = (
        base.select("_g", "_b", F.explode("_ws").alias("_w"))
        .groupBy("_g", "_w")
        .agg(F.min("_b").alias("_b"))
        .groupBy("_g", "_b")
        .agg(F.count(F.lit(1)).cast("long").alias("_v"))
    )
    per = toks.join(firsts, on=["_g", "_b"], how="full").select(
        "_g",
        "_b",
        F.coalesce("_t", F.lit(0)).alias("_t"),
        F.coalesce("_v", F.lit(0)).alias("_v"),
    )
    w = Window.partitionBy("_g").orderBy("_b").rowsBetween(
        Window.unboundedPreceding, 0
    )
    pts = (
        per.select(
            "_g",
            F.sum("_t").over(w).alias("_cn"),
            F.sum("_v").over(w).alias("_cv"),
        )
        .where((F.col("_cn") > 0) & (F.col("_cv") > 0))
        .select(
            "_g",
            F.floor(F.lit(1000.0) * F.log(F.col("_cn").cast("double")))
            .cast("long")
            .alias("_x"),
            F.floor(F.lit(1000.0) * F.log(F.col("_cv").cast("double")))
            .cast("long")
            .alias("_y"),
        )
    )
    sums = pts.groupBy("_g").agg(
        F.count(F.lit(1)).cast("long").alias("_n"),
        F.sum("_x").cast("long").alias("_sx"),
        F.sum("_y").cast("long").alias("_sy"),
        F.sum(F.col("_x") * F.col("_x")).cast("long").alias("_sxx"),
        F.sum(F.col("_x") * F.col("_y")).cast("long").alias("_sxy"),
    )
    return sums.select(
        F.col("_g").alias("grp"),
        F.col("_n").alias("n_points"),
        F.expr(
            "CASE WHEN _n * _sxx - _sx * _sx > 0 THEN"
            " (1000 * (_n * _sxy - _sx * _sy))"
            " div (_n * _sxx - _sx * _sx) END"
        )
        .cast("long")
        .alias("beta_milli"),
        F.expr(
            "CASE WHEN _n * _sxx - _sx * _sx > 0 THEN"
            " (_sy * (_n * _sxx - _sx * _sx)"
            "  - (_n * _sxy - _sx * _sy) * _sx)"
            " div (_n * (_n * _sxx - _sx * _sx)) END"
        )
        .cast("long")
        .alias("lnk_milli"),
    )


#: Benford first-digit probabilities in ppm — the standard rounded
#: constants; they sum to exactly 1,000,000, so the zero-filled χ²
#: terms partition N exactly.
BENFORD_PPM = (301030, 176091, 124939, 96910, 79181, 66947, 57992,
               51153, 45757)


def benford_deviation(
    docs: DataFrame,
    group_col: str,
    text_col: str = "text",
    min_numeric: int = 50,
) -> DataFrame:
    """Benford's-law first-digit deviation per group (host): χ² of the
    observed leading-digit distribution of in-text numbers against
    ``log10(1+1/d)``. Organic measurements (prices, populations,
    counts) follow Benford; generated/spun numeric filler and
    scraped-table spam do not — a numeric-content quality signal the
    word-level gates (``gopher_rules``, ``unigram_lm``) cannot see.

    Numeric tokens are words matching ``^[1-9][0-9]*([.,][0-9]+)?$``
    (leading-zero and signed forms excluded — decimals like 0.5 carry
    no Benford leading digit); the leading digit is the first char.
    Exactness: Benford probabilities are the standard ppm constants
    (sum exactly 10⁶), every χ² term is
    ``(1000·(10⁶·o_d − N·p_d)²) div (10⁶·N·p_d)`` — squared in
    decimal(38,0)/HUGEINT, floored per digit, then summed (order-free)
    — and missing digits zero-fill through a 9-row grid so their
    ``N·p_d`` mass still counts. χ² ≥ ~15.5 (milli 15500) rejects
    Benford at p<0.05 for 8 dof.

    Scale: one combinable (group, digit) rollup against a broadcast
    9-row grid. One row per group with ≥ ``min_numeric`` numbers:
    ``(grp, n_numeric, chi2_milli)``.
    """
    spark = docs.sparkSession
    grid = spark.createDataFrame(
        [(d + 1, p) for d, p in enumerate(BENFORD_PPM)],
        "digit long, p_ppm long",
    )
    toks = (
        docs
        .where(F.col(group_col).isNotNull())
        .select(
            F.col(group_col).alias("_g"),
            F.explode(normalized_words(text_col)).alias("_w"),
        )
        .where(F.col("_w").rlike(r"^[1-9][0-9]*([.,][0-9]+)?$"))
        .select("_g", F.substring("_w", 1, 1).cast("long").alias("digit"))
    )
    obs = toks.groupBy("_g", "digit").agg(
        F.count(F.lit(1)).cast("long").alias("_o")
    )
    totals = obs.groupBy("_g").agg(F.sum("_o").cast("long").alias("_n"))
    filled = (
        totals.where(F.col("_n") >= int(min_numeric))
        .crossJoin(F.broadcast(grid))
        .join(obs, on=["_g", "digit"], how="left")
        .select(
            "_g",
            "_n",
            "digit",
            "p_ppm",
            F.coalesce("_o", F.lit(0)).cast("long").alias("_o"),
        )
    )
    terms = filled.select(
        "_g",
        "_n",
        "digit",
        "_o",
        F.expr(
            "(1000 * (CAST(1000000 AS DECIMAL(38,0)) * _o - CAST(_n AS"
            " DECIMAL(38,0)) * p_ppm)"
            " * (CAST(1000000 AS DECIMAL(38,0)) * _o - CAST(_n AS"
            " DECIMAL(38,0)) * p_ppm))"
            " div (CAST(1000000 AS DECIMAL(38,0)) * _n * p_ppm)"
        )
        .cast("long")
        .alias("_t"),
    )
    return (
        terms.groupBy("_g")
        .agg(
            F.max("_n").cast("long").alias("n_numeric"),
            F.sum("_t").cast("long").alias("chi2_milli"),
        )
        .select(F.col("_g").alias("grp"), "n_numeric", "chi2_milli")
    )


def robust_location(
    df: DataFrame,
    value_col: str,
    group_col: Optional[str] = None,
) -> DataFrame:
    """EXACT median and MAD (median absolute deviation) per group —
    the outlier-proof location/scale pair behind robust z-scores and
    threshold setting. The sketched ``quantile_bins`` answers "roughly
    where is p50" in bounded memory; this answers it EXACTLY where the
    tails matter (gate thresholds, SLA cutoffs), still without a
    global sort.

    Integer-exact via doubled order statistics: the median of n values
    is ``(x_⌈n/2⌉ + x_⌈(n+1)/2⌉)/2``, so ``med_x2 = x_lo + x_hi`` is
    always an integer; deviations double once more (``dev2 =
    |2x − med_x2|``) and their doubled median is ``mad_x4`` = 4·MAD.
    Both passes are the ks_test discipline: per-(group, value) counts,
    cumulative windows on the DISTINCT-value table, order statistic =
    first value whose cumulative count reaches the rank — never a
    per-row global sort.

    One row per group: ``(grp, n_rows, med_x2, mad_x4)``.
    """
    from pyspark.sql import Window

    gcol = (
        F.col(group_col).alias("_g")
        if group_col is not None
        else F.lit("all").alias("_g")
    )

    def doubled_median(vals: DataFrame, vcol: str) -> DataFrame:
        """(_g, vcol, _c) counts -> (_g, n, m2 = doubled median)."""
        w = (
            Window.partitionBy("_g")
            .orderBy(vcol)
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        wall = Window.partitionBy("_g").rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        cum = vals.select(
            "_g",
            F.col(vcol).alias("_v"),
            F.sum("_c").over(w).alias("_cum"),
            F.sum("_c").over(wall).alias("_n"),
        )
        return cum.groupBy("_g").agg(
            F.max("_n").cast("long").alias("n"),
            (
                F.min(
                    F.when(
                        F.col("_cum") >= F.expr("(_n + 1) div 2"), F.col("_v")
                    )
                )
                + F.min(
                    F.when(
                        F.col("_cum") >= F.expr("(_n + 2) div 2"), F.col("_v")
                    )
                )
            )
            .cast("long")
            .alias("m2"),
        )

    base = (
        df
        .where(F.col(value_col).isNotNull())
        .select(gcol, F.col(value_col).cast("long").alias("_x"))
    )
    per = base.groupBy("_g", "_x").agg(
        F.count(F.lit(1)).cast("long").alias("_c")
    )
    med = doubled_median(per, "_x").select(
        "_g", F.col("n").alias("n_rows"), F.col("m2").alias("med_x2")
    )
    dev = (
        per.join(med.select("_g", "med_x2"), on="_g")
        .select(
            "_g",
            F.abs(2 * F.col("_x") - F.col("med_x2")).alias("_d"),
            "_c",
        )
        .groupBy("_g", "_d")
        .agg(F.sum("_c").cast("long").alias("_c"))
    )
    mad = doubled_median(dev, "_d").select(
        "_g", F.col("m2").alias("mad_x4")
    )
    return (
        med.join(mad, on="_g")
        .select(
            F.col("_g").alias("grp"), "n_rows", "med_x2", "mad_x4"
        )
    )


def entropy_rate(
    docs: DataFrame,
    group_col: Optional[str] = None,
    text_col: str = "text",
) -> DataFrame:
    """Word-level ENTROPY RATE per group: unigram entropy H₁, bigram
    entropy H₂, and the conditional rate H₂ − H₁ = H(wₙ | wₙ₋₁) in
    micro-nats. Natural language keeps the conditional rate well above
    zero (the next word stays surprising); template farms and spun
    text collapse it long before unigram entropy looks sick — the
    INFORMATION-theoretic twin of ``ngram_diversity``'s count-based
    distinct-2 share, and the corpus-level complement of
    ``char_entropy`` (which watches the character alphabet).

    Determinism: each gram's term ``(c/N)·ln(N/c)`` is evaluated with
    ONE fixed IEEE shape — ``floor(1000000.0·c/N·(ln N − ln c))`` —
    and floored to integer micro-nats BEFORE the (order-free) sum, the
    same per-term-floor convention as ``burrows_delta``; ln is shared
    by both engines' libm on identical doubles. H therefore
    under-counts by < 1 micro-nat per distinct gram, identically in
    Spark and the oracle.

    Scale: the two gram rollups are the ``ngram_diversity`` shuffles;
    the per-group totals ride the same rollup and broadcast back. One
    row per group: ``(grp, n_tokens, n_bigrams, h1_micro, h2_micro,
    rate_micro)``.
    """
    gcol = (
        F.col(group_col).alias("_g")
        if group_col is not None
        else F.lit("all").alias("_g")
    )
    base = docs.select(
        gcol, normalized_words(text_col).alias("_w")
    )

    def h_micro(grams: DataFrame) -> DataFrame:
        """(_g, _gram) rows -> (_g, n, h) with per-term floors."""
        per = grams.groupBy("_g", "_gram").agg(
            F.count(F.lit(1)).cast("long").alias("_c")
        )
        tot = per.groupBy("_g").agg(F.sum("_c").cast("long").alias("_n"))
        terms = per.join(F.broadcast(tot), on="_g").select(
            "_g",
            "_n",
            F.floor(
                F.lit(1000000.0)
                * F.col("_c").cast("double")
                / F.col("_n").cast("double")
                * (
                    F.log(F.col("_n").cast("double"))
                    - F.log(F.col("_c").cast("double"))
                )
            )
            .cast("long")
            .alias("_t"),
        )
        return terms.groupBy("_g").agg(
            F.max("_n").cast("long").alias("n"),
            F.sum("_t").cast("long").alias("h"),
        )
    uni = base.select("_g", F.explode("_w").alias("_gram"))
    bi = base.select(
        "_g",
        F.explode(
            F.when(
                F.size("_w") >= 2,
                F.transform(
                    F.sequence(F.lit(0), F.size("_w") - 2),
                    lambda i: F.concat_ws(" ", F.slice(F.col("_w"), i + 1, 2)),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("_gram"),
    )
    h1 = h_micro(uni).select(
        "_g", F.col("n").alias("n_tokens"), F.col("h").alias("h1_micro")
    )
    h2 = h_micro(bi).select(
        "_g", F.col("n").alias("n_bigrams"), F.col("h").alias("h2_micro")
    )
    return (
        h1.join(h2, on="_g", how="left")
        .select(
            F.col("_g").alias("grp"),
            "n_tokens",
            F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
            "h1_micro",
            F.coalesce("h2_micro", F.lit(0)).cast("long").alias("h2_micro"),
            (F.coalesce("h2_micro", F.lit(0)) - F.col("h1_micro"))
            .cast("long")
            .alias("rate_micro"),
        )
    )


def mcnemar_test(
    df: DataFrame,
    a_col: str,
    b_col: str,
) -> DataFrame:
    """McNemar's paired test over two boolean GATES evaluated on the
    SAME documents — the release question ``ks_test`` / ``mannwhitney``
    cannot answer: when we swap gate A (say ``gopher_rules``) for gate
    B (a classifier), are the disagreements symmetric, or does B
    systematically pass documents A rejected? Marginal homogeneity is
    exactly what a filter swap must hold fixed to keep corpus size —
    and only the DISCORDANT pairs (``only_a``/``only_b``) carry
    information, so the test is immune to the huge both-pass mass that
    drowns an unpaired comparison.

    Integer-exact: the 2×2 paired table is one combinable aggregation;
    ``chi2_milli = (1000·(only_a − only_b)²) div (only_a + only_b)``
    runs in decimal(38,0) (HUGEINT on the oracle side — the squared
    discordant gap overflows a long at crawl scale) and the quotient
    lands back in a long (chi² ≤ the discordant count ≤ n). The
    continuity correction is deliberately omitted: at corpus scale the
    discordant count is large and the correction is a sub-milli
    perturbation — documented, not hidden. Zero discordant pairs →
    NULL chi² (the gates are indistinguishable on this corpus).

    Scale: one shuffle-free combinable agg, no window, no join. One
    row: ``(n, both_pass, only_a, only_b, chi2_milli)``.
    """
    a = F.col(a_col).cast("boolean")
    b = F.col(b_col).cast("boolean")
    agg = df.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(a & b, 1).otherwise(0)).cast("long").alias("both_pass"),
        F.sum(F.when(a & ~b, 1).otherwise(0)).cast("long").alias("only_a"),
        F.sum(F.when(~a & b, 1).otherwise(0)).cast("long").alias("only_b"),
    )
    return agg.select(
        "n",
        "both_pass",
        "only_a",
        "only_b",
        F.when(
            F.col("only_a") + F.col("only_b") > 0,
            F.expr(
                "(1000 * (CAST(only_a AS DECIMAL(38,0)) - only_b)"
                " * (CAST(only_a AS DECIMAL(38,0)) - only_b))"
                " div (CAST(only_a AS DECIMAL(38,0)) + only_b)"
            ),
        )
        .cast("long")
        .alias("chi2_milli"),
    )


def contingency_chi2(
    df: DataFrame,
    row_col: str,
    col_col: str,
) -> DataFrame:
    """Pearson χ² test of independence between two categorical corpus
    facets (lang × source, mime × status class, host tier × gate
    outcome) plus Cramér's V — the association-STRENGTH companion the
    raw χ² lacks at crawl scale, where n is so large that even a
    trivial association is "significant". V² answers the question the
    datacard actually asks: how much does knowing the source tell you
    about the language mix?

    Integer-exact and reduction-order-independent: χ² = N·(Σ_ij
    O_ij²/(r_i·c_j) − 1), and each cell's term is quantized FIRST —
    ``t_ij = (1000·N·O_ij²) div (r_i·c_j)`` in decimal(38,0) — so the
    final sum is an integer sum with no float addition order anywhere
    (the ``unigram_lm`` discipline, without even the single ``ln``).
    ``chi2_milli = Σt_ij − 1000·N`` carries a per-cell floor bias of
    at most one milli-unit per OCCUPIED cell — documented envelope,
    negligible against any χ² worth acting on. ``v2_micro =
    (1000·chi2_milli) div (N·k)`` with ``k = min(R,C) − 1`` gives
    Cramér's V² in micro-units (≤ 1e6 by construction). Envelope:
    chi2_milli ≤ 1000·N·k must fit a long — holds to N·k ≈ 9e15,
    i.e. beyond 10^12 rows for any small-k facet pair. Degenerate
    single-category facets (k = 0) → NULL v2.

    Scale: one (row,col) cell rollup (combinable), margins re-derived
    FROM the cell table (no second scan of the input), broadcast back
    onto cells (margins are category-sized, tiny), one final agg. One
    row: ``(n, n_row_cats, n_col_cats, dof, chi2_milli, v2_micro)``.
    """
    cells = (
        df
        .where(F.col(row_col).isNotNull() & F.col(col_col).isNotNull())
        .groupBy(F.col(row_col).alias("_r"), F.col(col_col).alias("_c"))
        .agg(F.count(F.lit(1)).cast("long").alias("_o"))
    )
    rmarg = cells.groupBy("_r").agg(F.sum("_o").cast("long").alias("_rm"))
    cmarg = cells.groupBy("_c").agg(F.sum("_o").cast("long").alias("_cm"))
    tot = cells.agg(
        F.sum("_o").cast("long").alias("_n"),
        F.count_distinct("_r").cast("long").alias("_nr"),
        F.count_distinct("_c").cast("long").alias("_nc"),
    )
    terms = (
        cells.join(F.broadcast(rmarg), on="_r")
        .join(F.broadcast(cmarg), on="_c")
        .crossJoin(F.broadcast(tot))
        .select(
            F.expr(
                "(1000 * CAST(_n AS DECIMAL(38,0)) * _o * _o)"
                " div (CAST(_rm AS DECIMAL(38,0)) * _cm)"
            ).alias("_t")
        )
    )
    sums = terms.agg(F.sum("_t").alias("_tsum")).crossJoin(F.broadcast(tot))
    k = F.least(F.col("_nr"), F.col("_nc")) - 1
    chi2 = (
        F.col("_tsum") - F.lit(1000).cast("decimal(38,0)") * F.col("_n")
    )
    return sums.select(
        F.col("_n").alias("n"),
        F.col("_nr").alias("n_row_cats"),
        F.col("_nc").alias("n_col_cats"),
        ((F.col("_nr") - 1) * (F.col("_nc") - 1)).cast("long").alias("dof"),
        chi2.cast("long").alias("chi2_milli"),
        F.when(
            (k > 0) & (F.col("_n") > 0),
            F.expr(
                "(1000 * (_tsum - 1000 * CAST(_n AS DECIMAL(38,0))))"
                " div (CAST(_n AS DECIMAL(38,0))"
                " * (least(_nr, _nc) - 1))"
            ),
        )
        .cast("long")
        .alias("v2_micro"),
    )


def two_proportion_gate(
    df: DataFrame,
    group_col: str,
    pass_col: str,
    group_a: str,
    group_b: str,
    z_milli: int = 1960,
) -> DataFrame:
    """Two-proportion z-test + Wilson score intervals between two
    corpus slices' gate pass-rates — the UNPAIRED companion to
    :func:`mcnemar_test`: McNemar answers "did swapping the gate move
    the same documents?", this answers "does the SAME gate pass source
    A at a different rate than source B?" — the release question when
    a new crawl source or extractor variant lands and its keep-rate
    must be shown compatible before it joins the blend. The Wilson
    interval (never the Wald) is reported per slice because keep-rates
    near 0 or 1 are exactly where Wald collapses.

    Integer-exact test statistic: algebra folds the pooled z² into
    pure integers — ``z2_milli = (1000·(k_a·n_b − k_b·n_a)²·N) div
    (n_a·n_b·K·(N−K))`` with ``K = k_a+k_b``, ``N = n_a+n_b`` — one
    decimal(38,0) expression, no float anywhere in the decision value
    (compare against ``(z_milli/1000)²``, e.g. 1.96² → 3841 milli).
    The Wilson bounds are display values: IEEE-double sqrt (correctly
    rounded, safer than the ln the micro-nat ops already rely on) on
    integer-derived arguments, floored to micro-units — identical in
    both engines. Degenerate slices (n = 0) or an all-pooled edge
    (K = 0 or K = N, z² undefined: 0/0) → NULL z2_milli.

    Scale: one conditional combinable aggregation over the two slices
    — no shuffle beyond the 1-row agg, no join, no window. One row:
    ``(n_a, k_a, n_b, k_b, rate_a_micro, rate_b_micro, wilson_a_lo_micro,
    wilson_a_hi_micro, wilson_b_lo_micro, wilson_b_hi_micro, z2_milli)``.
    """
    g = F.col(group_col).cast("string")
    p = F.col(pass_col).cast("boolean")
    agg = df.agg(
        F.sum(F.when(g == group_a, 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when((g == group_a) & p, 1).otherwise(0))
        .cast("long")
        .alias("k_a"),
        F.sum(F.when(g == group_b, 1).otherwise(0)).cast("long").alias("n_b"),
        F.sum(F.when((g == group_b) & p, 1).otherwise(0))
        .cast("long")
        .alias("k_b"),
    )
    z = float(z_milli) / 1000.0

    def wilson(k: str, n: str, hi: bool):
        kk = F.col(k).cast("double")
        nn = F.col(n).cast("double")
        z2 = F.lit(z * z)
        center = kk / nn + z2 / (F.lit(2.0) * nn)
        half = F.lit(z) * F.sqrt(
            kk / nn * (F.lit(1.0) - kk / nn) / nn
            + z2 / (F.lit(4.0) * nn * nn)
        )
        denom = F.lit(1.0) + z2 / nn
        val = (center + half if hi else center - half) / denom
        return F.when(
            F.col(n) > 0, F.floor(F.lit(1000000.0) * val).cast("long")
        )

    return agg.select(
        "n_a",
        "k_a",
        "n_b",
        "k_b",
        F.when(F.col("n_a") > 0, F.expr("(1000000 * k_a) div n_a"))
        .cast("long")
        .alias("rate_a_micro"),
        F.when(F.col("n_b") > 0, F.expr("(1000000 * k_b) div n_b"))
        .cast("long")
        .alias("rate_b_micro"),
        wilson("k_a", "n_a", False).alias("wilson_a_lo_micro"),
        wilson("k_a", "n_a", True).alias("wilson_a_hi_micro"),
        wilson("k_b", "n_b", False).alias("wilson_b_lo_micro"),
        wilson("k_b", "n_b", True).alias("wilson_b_hi_micro"),
        F.when(
            (F.col("n_a") > 0)
            & (F.col("n_b") > 0)
            & (F.col("k_a") + F.col("k_b") > 0)
            & (F.col("k_a") + F.col("k_b") < F.col("n_a") + F.col("n_b")),
            F.expr(
                "(1000"
                " * (CAST(k_a AS DECIMAL(38,0)) * n_b - CAST(k_b AS DECIMAL(38,0)) * n_a)"
                " * (CAST(k_a AS DECIMAL(38,0)) * n_b - CAST(k_b AS DECIMAL(38,0)) * n_a)"
                " * (CAST(n_a AS DECIMAL(38,0)) + n_b))"
                " div (CAST(n_a AS DECIMAL(38,0)) * n_b"
                "      * (CAST(k_a AS DECIMAL(38,0)) + k_b)"
                "      * (CAST(n_a AS DECIMAL(38,0)) + n_b - k_a - k_b))"
            ),
        )
        .cast("long")
        .alias("z2_milli"),
    )


def js_divergence(
    df: DataFrame,
    group_col: str,
    group_a: str,
    group_b: str,
    text_col: str = "text",
) -> DataFrame:
    """Jensen-Shannon divergence between two corpus slices' unigram
    distributions in micro-nats — the SYMMETRIC, bounded (≤ ln 2)
    drift measure the datacard pairs with :func:`vocab_kl`: KL(A‖B)
    explodes to infinity on any word B lacks (vocab_kl documents its
    smoothing), while JSD handles disjoint support natively — each
    side's zero-opposite mass contributes exactly ``p·ln 2`` — so two
    snapshots, two sources, or pre/post-filter corpora compare without
    a smoothing knob to justify.

    Integer-exact accumulation (the house micro-nat discipline):
    per word w with shares p = a/A, q = b/B, the term ``floor(1e6 ·
    ½·(p·ln(2p/(p+q)) + q·ln(2q/(p+q))))`` is quantized FIRST (a
    one-sided word drops its absent half), then summed as integers —
    no float addition order anywhere. Terms may be negative (where
    q > p the p-half is negative); floor is toward −∞ in both engines,
    so the per-term bias envelope is one micro-nat per VOCAB word,
    documented, direction-fixed. Words are :func:`normalized_words`
    tokens — same tokenizer as `word_freq`/`unigram_lm`, so the three
    metrics read the same distribution.

    Scale: one word-keyed combinable rollup with conditional partial
    sums (one scan of both slices together, no join — the two slices
    ride the same groupBy), a 1-row totals crossJoin broadcast back,
    and a final 1-row sum. Output: ``(vocab, vocab_a, vocab_b,
    tokens_a, tokens_b, jsd_micro)``.
    """
    from .dedup import normalized_words

    g = F.col(group_col).cast("string")
    base = ensure_parallelism(df).where(g.isin([group_a, group_b])).select(
        (g == group_a).alias("_ga"),
        F.explode(normalized_words(text_col)).alias("_w"),
    )
    counts = base.groupBy("_w").agg(
        F.sum(F.when(F.col("_ga"), 1).otherwise(0)).cast("long").alias("_a"),
        F.sum(F.when(~F.col("_ga"), 1).otherwise(0)).cast("long").alias("_b"),
    )
    tot = counts.agg(
        F.sum("_a").cast("long").alias("_ta"),
        F.sum("_b").cast("long").alias("_tb"),
    )
    pq = counts.crossJoin(F.broadcast(tot)).select(
        "_a",
        "_b",
        (F.col("_a").cast("double") / F.col("_ta")).alias("_p"),
        (F.col("_b").cast("double") / F.col("_tb")).alias("_q"),
    )
    half = (
        F.when(
            F.col("_a") > 0,
            F.col("_p")
            * (
                F.log(F.lit(2.0) * F.col("_p"))
                - F.log(F.col("_p") + F.col("_q"))
            ),
        ).otherwise(F.lit(0.0))
        + F.when(
            F.col("_b") > 0,
            F.col("_q")
            * (
                F.log(F.lit(2.0) * F.col("_q"))
                - F.log(F.col("_p") + F.col("_q"))
            ),
        ).otherwise(F.lit(0.0))
    ) / F.lit(2.0)
    terms = pq.select(
        F.when(F.col("_a") > 0, 1).otherwise(0).alias("_ia"),
        F.when(F.col("_b") > 0, 1).otherwise(0).alias("_ib"),
        F.floor(F.lit(1000000.0) * half).cast("long").alias("_t"),
        "_a",
        "_b",
    )
    return terms.agg(
        F.count(F.lit(1)).cast("long").alias("vocab"),
        F.sum("_ia").cast("long").alias("vocab_a"),
        F.sum("_ib").cast("long").alias("vocab_b"),
        F.sum("_a").cast("long").alias("tokens_a"),
        F.sum("_b").cast("long").alias("tokens_b"),
        F.sum("_t").cast("long").alias("jsd_micro"),
    )


def classifier_eval(
    df: DataFrame,
    true_col: str,
    pred_col: str,
) -> DataFrame:
    """Per-class precision/recall/F1 over a (gold, predicted) label
    table — the multi-class companion of `ranking_auc`/`pr_curve`
    (binary) and `agreement_kappa` (chance-corrected agreement): when
    the langid or quality-tier classifier ships, the release question
    is per-CLASS ("Portuguese recall collapsed, everything else held"),
    which a single accuracy or kappa hides. Classes appearing in gold
    OR predictions get a row (a class the model never predicts still
    shows its zero recall; an hallucinated class shows zero precision).

    Integer-exact basis points: ``precision_bp = 10⁴·tp div n_pred``,
    ``recall_bp = 10⁴·tp div n_true``, and F1 in its telescoped form
    ``f1_bp = 2·10⁴·tp div (n_true + n_pred)`` — the harmonic mean of
    the two rates without ever forming them (no nested rounding, no
    zero guard beyond the absent side: a class with n_pred = 0 has
    NULL precision but still a well-defined f1 via the sum). No float
    anywhere; the oracle hash is exact.

    Scale: one (gold, pred) cell rollup — combinable, cell table is
    classes², tiny — then the margins derive FROM the cell table and
    join back at class cardinality. No second scan of the corpus.
    Returns ``(label, n_true, n_pred, tp, precision_bp, recall_bp,
    f1_bp)`` per class.
    """
    cells = (
        ensure_parallelism(df)
        .groupBy(
            F.col(true_col).cast("string").alias("_t"),
            F.col(pred_col).cast("string").alias("_p"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("_n"))
    )
    tmarg = cells.groupBy(F.col("_t").alias("label")).agg(
        F.sum("_n").cast("long").alias("n_true")
    )
    pmarg = cells.groupBy(F.col("_p").alias("label")).agg(
        F.sum("_n").cast("long").alias("n_pred")
    )
    tp = (
        cells.where(F.col("_t") == F.col("_p"))
        .select(F.col("_t").alias("label"), F.col("_n").alias("tp"))
    )
    return (
        tmarg.join(pmarg, on="label", how="full_outer")
        .join(tp, on="label", how="left")
        .select(
            "label",
            F.coalesce("n_true", F.lit(0)).cast("long").alias("n_true"),
            F.coalesce("n_pred", F.lit(0)).cast("long").alias("n_pred"),
            F.coalesce("tp", F.lit(0)).cast("long").alias("tp"),
            F.when(
                F.coalesce("n_pred", F.lit(0)) > 0,
                F.expr("(10000 * coalesce(tp, 0)) div n_pred"),
            )
            .cast("long")
            .alias("precision_bp"),
            F.when(
                F.coalesce("n_true", F.lit(0)) > 0,
                F.expr("(10000 * coalesce(tp, 0)) div n_true"),
            )
            .cast("long")
            .alias("recall_bp"),
            F.expr(
                "(20000 * coalesce(tp, 0))"
                " div (coalesce(n_true, 0) + coalesce(n_pred, 0))"
            )
            .cast("long")
            .alias("f1_bp"),
        )
    )


def brier_decomposition(
    df: DataFrame,
    prob_micro_col: str,
    label_col: str,
    bins: int = 20,
) -> DataFrame:
    """Murphy decomposition of the Brier score — reliability /
    resolution / uncertainty — over a calibration table of predicted
    probabilities (INTEGER micro-units, 0..10⁶, the classifier_gate /
    calibration_report convention) and boolean outcomes. The ECE in
    `calibration_report` answers "how far off are the bins on
    average"; Murphy's REL/RES split answers the sharper release
    question: is a bad Brier score mis-CALIBRATION (REL, fixable by
    remapping scores) or missing DISCRIMINATION (RES ≪ UNC, needs a
    better model)? ``brier ≈ rel − res + unc`` up to binning.

    Integer-exact via the algebraic forms (house decimal discipline):
    per bin k with n_k rows, Σp (micro) and s_k positives,
    ``rel_k = (Σp − 10⁶·s_k)² div (n_k·10⁶)`` and
    ``res_k = 10⁶·(s_k·N − S·n_k)² div (n_k·N²)`` are quantized
    per-bin FIRST (decimal(38,0) numerators), then integer-summed;
    ``unc = 10⁶·S·(N−S) div N²``; the raw Brier sums per-row squared
    residuals ``(p − 10⁶·o)²`` exactly and divides once. All in
    micro-Brier units (0..10⁶). Empty input → no row; a single bin
    gives res = 0 against the global base rate, the textbook edge.

    Scale: one combinable bin rollup (bins rows), margins broadcast
    from a 1-row agg riding the same cell table; the raw-Brier sum is
    a second combinable agg on the same scan. One output row:
    ``(n, n_bins_occupied, brier_micro, rel_micro, res_micro,
    unc_micro)``.
    """
    if bins < 1:
        raise ValueError(f"brier_decomposition: bins must be >= 1, got {bins}")
    p = F.col(prob_micro_col).cast("long")
    o = F.col(label_col).cast("boolean").cast("int")
    base = df.select(
        p.alias("_p"), o.alias("_o")
    ).withColumn(
        "_k",
        F.least(
            F.expr(f"(_p * {int(bins)}) div 1000000"),
            F.lit(int(bins) - 1).cast("long"),
        ).cast("long"),
    )
    per_bin = base.groupBy("_k").agg(
        F.count(F.lit(1)).cast("long").alias("_n"),
        F.sum("_p").cast("decimal(38,0)").alias("_sp"),
        F.sum("_o").cast("long").alias("_s"),
        F.sum(
            (F.col("_p").cast("decimal(38,0)") - F.lit(1000000) * F.col("_o"))
            * (F.col("_p").cast("decimal(38,0)") - F.lit(1000000) * F.col("_o"))
        ).alias("_sq"),
    )
    tot = per_bin.agg(
        F.sum("_n").cast("long").alias("_tot_n"),
        F.sum("_s").cast("long").alias("_tot_s"),
        F.sum("_sq").alias("_tot_sq"),
        F.count(F.lit(1)).cast("long").alias("_nb"),
    )
    terms = per_bin.crossJoin(F.broadcast(tot)).select(
        "_tot_n",
        "_tot_s",
        "_tot_sq",
        "_nb",
        F.expr(
            "((_sp - CAST(1000000 AS DECIMAL(38,0)) * _s)"
            " * (_sp - CAST(1000000 AS DECIMAL(38,0)) * _s))"
            " div (CAST(_n AS DECIMAL(38,0)) * 1000000)"
        ).alias("_rel"),
        F.expr(
            "(CAST(1000000 AS DECIMAL(38,0))"
            " * (CAST(_s AS DECIMAL(38,0)) * _tot_n"
            "    - CAST(_tot_s AS DECIMAL(38,0)) * _n)"
            " * (CAST(_s AS DECIMAL(38,0)) * _tot_n"
            "    - CAST(_tot_s AS DECIMAL(38,0)) * _n))"
            " div (CAST(_n AS DECIMAL(38,0)) * _tot_n * _tot_n)"
        ).alias("_res"),
    )
    return terms.groupBy("_tot_n", "_tot_s", "_tot_sq", "_nb").agg(
        F.sum("_rel").alias("_rl"), F.sum("_res").alias("_rs")
    ).select(
        F.col("_tot_n").alias("n"),
        F.col("_nb").alias("n_bins_occupied"),
        F.expr("_tot_sq div (CAST(_tot_n AS DECIMAL(38,0)) * 1000000)")
        .cast("long")
        .alias("brier_micro"),
        F.expr("_rl div _tot_n").cast("long").alias("rel_micro"),
        F.expr("_rs div _tot_n").cast("long").alias("res_micro"),
        F.expr(
            "(CAST(1000000 AS DECIMAL(38,0)) * _tot_s * (_tot_n - _tot_s))"
            " div (CAST(_tot_n AS DECIMAL(38,0)) * _tot_n)"
        )
        .cast("long")
        .alias("unc_micro"),
    )


def trend_test(
    df: DataFrame,
    bucket_col: str,
    pass_col: str,
) -> DataFrame:
    """Cochran-Armitage trend test: is the gate pass-rate MONOTONE in
    an ordered integer bucket (size decile, quality tier, crawl
    depth)? The pairwise `two_proportion_gate` and the global
    `contingency_chi2` both miss ordering — ten buckets can pass the
    independence test while hiding a clean monotone drift that means
    the gate is really a length proxy. CA weights each bucket by its
    integer score and concentrates all power on the linear trend.

    Integer-exact: with per-bucket (n_i, k_i), t_i the bucket value,
    N = Σn, K = Σk, the squared statistic folds to
    ``z² = N·(N·Σt·k − K·Σt·n)² / (K·(N−K)·(N·Σn·t² − (Σn·t)²))`` —
    pure integer sums (decimal(38,0) products), one div,
    ``z2_milli`` in milli. Sign of the trend is reported separately
    (``direction`` = sign(N·Σtk − K·Σtn): +1 pass-rate rises with the
    bucket). Degenerate cases (all pass, none pass, single bucket,
    zero bucket variance) → NULL z2, not a divide error.

    Scale: one combinable bucket rollup (bucket-cardinality rows),
    then a 1-row integer agg. Output: ``(n, n_buckets, k_total,
    direction, z2_milli)``.
    """
    t = F.col(bucket_col).cast("long")
    pb = F.col(pass_col).cast("boolean").cast("int")
    per = (
        df
        .select(t.alias("_t"), pb.alias("_e"))
        .groupBy("_t")
        .agg(
            F.count(F.lit(1)).cast("long").alias("_n"),
            F.sum("_e").cast("long").alias("_k"),
        )
    )
    sums = per.agg(
        F.sum("_n").cast("long").alias("_N"),
        F.sum("_k").cast("long").alias("_K"),
        F.count(F.lit(1)).cast("long").alias("_nb"),
        F.sum(F.col("_t").cast("decimal(38,0)") * F.col("_k")).alias("_tk"),
        F.sum(F.col("_t").cast("decimal(38,0)") * F.col("_n")).alias("_tn"),
        F.sum(
            F.col("_t").cast("decimal(38,0)") * F.col("_t") * F.col("_n")
        ).alias("_t2n"),
    )
    num_lin = F.expr("CAST(_N AS DECIMAL(38,0)) * _tk - CAST(_K AS DECIMAL(38,0)) * _tn")
    var_t = F.expr("CAST(_N AS DECIMAL(38,0)) * _t2n - _tn * _tn")
    return sums.select(
        F.col("_N").alias("n"),
        F.col("_nb").alias("n_buckets"),
        F.col("_K").alias("k_total"),
        F.signum(num_lin.cast("double")).cast("int").alias("direction"),
        F.when(
            (F.col("_K") > 0)
            & (F.col("_K") < F.col("_N"))
            & (var_t > F.lit(0)),
            F.expr(
                "(1000 * _N"
                " * (CAST(_N AS DECIMAL(38,0)) * _tk - CAST(_K AS DECIMAL(38,0)) * _tn)"
                " * (CAST(_N AS DECIMAL(38,0)) * _tk - CAST(_K AS DECIMAL(38,0)) * _tn))"
                " div (CAST(_K AS DECIMAL(38,0)) * (_N - _K)"
                "      * (CAST(_N AS DECIMAL(38,0)) * _t2n - _tn * _tn))"
            ),
        )
        .cast("long")
        .alias("z2_milli"),
    )


def weighted_percentiles(
    df: DataFrame,
    value_col: str,
    weight_col: str,
    qs_bp: Sequence[int] = (2500, 5000, 7500),
    group_col: Optional[str] = None,
) -> DataFrame:
    """Weighted percentiles per group — the BYTE-weighted (or
    token-weighted) twin of `robust_location`'s row-weighted median:
    "the median document is 2 KB" and "the median BYTE lives in a
    2 MB document" are both true of a heavy-tailed corpus, and
    storage/packing decisions need the second number. For each
    requested ``q_bp`` the lower weighted percentile: the smallest
    value v with ``10⁴·cumweight(≤v) ≥ q·W`` — cross-multiplied
    integers, no rate division anywhere, engine-exact.

    Scale: one (group, value) combinable weight rollup, one cumsum
    window on the DISTINCT-value table, one tiny per-(group, q) min.
    Output long format: ``(grp, q_bp, value, total_weight)``.
    """
    if not qs_bp:
        raise ValueError("weighted_percentiles: qs_bp must be non-empty")
    for q in qs_bp:
        if not (0 < int(q) <= 10000):
            raise ValueError(
                f"weighted_percentiles: q_bp must be in (0, 10000], got {q}"
            )
    g = F.col(group_col).cast("string") if group_col else F.lit("all")
    vals = (
        df
        .select(
            g.alias("grp"),
            F.col(value_col).cast("long").alias("_v"),
            F.col(weight_col).cast("long").alias("_w"),
        )
        .groupBy("grp", "_v")
        .agg(F.sum("_w").cast("long").alias("_wv"))
    )
    w = (
        Window.partitionBy("grp")
        .orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wtot = Window.partitionBy("grp").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = vals.select(
        "grp",
        "_v",
        F.sum("_wv").over(w).cast("long").alias("_cw"),
        F.sum("_wv").over(wtot).cast("long").alias("_tw"),
    )
    qdf = df.sparkSession.createDataFrame(
        [(int(q),) for q in sorted(set(int(q) for q in qs_bp))], "q_bp long"
    )
    hits = cum.crossJoin(F.broadcast(qdf)).where(
        F.lit(10000) * F.col("_cw") >= F.col("q_bp") * F.col("_tw")
    )
    return hits.groupBy("grp", "q_bp").agg(
        F.min("_v").cast("long").alias("value"),
        F.max("_tw").cast("long").alias("total_weight"),
    )


def winsorized_mean(
    df: DataFrame,
    value_col: str,
    lo_bp: int = 500,
    hi_bp: int = 9500,
    group_col: Optional[str] = None,
) -> DataFrame:
    """Winsorized mean per group — the robust location that still USES
    the tail mass (`robust_location`'s median ignores magnitudes
    entirely; the plain mean hands whales the steering wheel): values
    below the ``lo_bp`` percentile are clamped up to it, above
    ``hi_bp`` clamped down, then the mean is exact integer arithmetic.
    The standard "average doc size for capacity planning without the
    one 2 GB page deciding it" estimator.

    Percentile cuts use the same lower-percentile cross-multiplied
    rule as `weighted_percentiles` (weight = row count), clamping and
    summation run on the DISTINCT-value table as integers
    (``Σ c·clamp(v)``), and ``mean_micro = 10⁶·S div N`` — no float
    anywhere, exact hash parity.

    Scale: one (group, value) combinable rollup, one cumsum window on
    the distinct-value table, one broadcast of the two per-group cut
    values back onto it. Output: ``(grp, n, lo_cut, hi_cut,
    winsorized_mean_micro)``.
    """
    if not (0 < int(lo_bp) < int(hi_bp) <= 10000):
        raise ValueError(
            f"winsorized_mean: need 0 < lo_bp < hi_bp <= 10000, got {lo_bp}, {hi_bp}"
        )
    g = F.col(group_col).cast("string") if group_col else F.lit("all")
    vals = (
        df
        .select(g.alias("grp"), F.col(value_col).cast("long").alias("_v"))
        .groupBy("grp", "_v")
        .agg(F.count(F.lit(1)).cast("long").alias("_c"))
    )
    w = (
        Window.partitionBy("grp")
        .orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wtot = Window.partitionBy("grp").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = vals.select(
        "grp",
        "_v",
        "_c",
        F.sum("_c").over(w).cast("long").alias("_cn"),
        F.sum("_c").over(wtot).cast("long").alias("_tn"),
    )
    cuts = cum.groupBy("grp").agg(
        F.min(
            F.when(
                F.lit(10000) * F.col("_cn") >= F.lit(int(lo_bp)) * F.col("_tn"),
                F.col("_v"),
            )
        )
        .cast("long")
        .alias("lo_cut"),
        F.min(
            F.when(
                F.lit(10000) * F.col("_cn") >= F.lit(int(hi_bp)) * F.col("_tn"),
                F.col("_v"),
            )
        )
        .cast("long")
        .alias("hi_cut"),
        F.max("_tn").cast("long").alias("n"),
    )
    clamped = vals.join(F.broadcast(cuts), on="grp").select(
        "grp",
        "n",
        "lo_cut",
        "hi_cut",
        (
            F.col("_c")
            * F.greatest(F.least(F.col("_v"), F.col("hi_cut")), F.col("lo_cut"))
        )
        .cast("decimal(38,0)")
        .alias("_s"),
    )
    return clamped.groupBy("grp", "n", "lo_cut", "hi_cut").agg(
        F.sum("_s").alias("_ss")
    ).select(
        "grp",
        "n",
        "lo_cut",
        "hi_cut",
        F.expr("(CAST(1000000 AS DECIMAL(38,0)) * _ss) div n")
        .cast("long")
        .alias("winsorized_mean_micro"),
    )


def theils_u(
    df: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Theil's uncertainty coefficient U(y|x) — the ASYMMETRIC,
    information-theoretic companion to `contingency_chi2`'s Cramér's
    V: "knowing the source removes what fraction of the uncertainty
    about the language?" is directional (U(lang|source) ≠
    U(source|lang)) and V, being symmetric, can't say which way the
    association runs — exactly the datacard question when deciding
    whether a facet is worth stratifying on.

    ``U = (H(y) − H(y|x)) / H(y)``; every entropy is a sum of
    per-cell floored micro-nat terms (the entropy_rate discipline):
    ``H(y) = Σ_j floor(10⁶·(c_j/N)·ln(N/c_j))``, ``H(y|x) = Σ_ij
    floor(10⁶·(o_ij/N)·ln(r_i/o_ij))`` — integer sums, no float
    accumulation; ``u_bp = 10⁴·(hy − hyx) div hy``. Degenerate
    single-valued y (H(y) = 0) → NULL U. NULL facet values are
    excluded (they are missingness, not a category — same policy as
    contingency_chi2).

    Scale: one (x, y) cell rollup; margins derive from the cell table
    and broadcast back; two tiny sums. One row: ``(n, h_y_micro,
    h_y_given_x_micro, u_bp)``.
    """
    cells = (
        df
        .where(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
        .groupBy(
            F.col(x_col).cast("string").alias("_x"),
            F.col(y_col).cast("string").alias("_y"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("_o"))
    )
    xm = cells.groupBy("_x").agg(F.sum("_o").cast("long").alias("_r"))
    ym = cells.groupBy("_y").agg(F.sum("_o").cast("long").alias("_cy"))
    tot = cells.agg(F.sum("_o").cast("long").alias("_tot"))
    hy = (
        ym.crossJoin(F.broadcast(tot))
        .select(
            F.floor(
                F.lit(1000000.0)
                * F.col("_cy").cast("double")
                / F.col("_tot")
                * (
                    F.log(F.col("_tot").cast("double"))
                    - F.log(F.col("_cy").cast("double"))
                )
            )
            .cast("long")
            .alias("_t")
        )
        .agg(F.sum("_t").cast("long").alias("h_y_micro"))
    )
    hyx = (
        cells.join(F.broadcast(xm), on="_x")
        .crossJoin(F.broadcast(tot))
        .select(
            F.floor(
                F.lit(1000000.0)
                * F.col("_o").cast("double")
                / F.col("_tot")
                * (
                    F.log(F.col("_r").cast("double"))
                    - F.log(F.col("_o").cast("double"))
                )
            )
            .cast("long")
            .alias("_t")
        )
        .agg(F.sum("_t").cast("long").alias("h_y_given_x_micro"))
    )
    return (
        tot.crossJoin(F.broadcast(hy))
        .crossJoin(F.broadcast(hyx))
        .select(
            F.col("_tot").alias("n"),
            "h_y_micro",
            "h_y_given_x_micro",
            F.when(
                F.col("h_y_micro") > 0,
                F.expr("(10000 * (h_y_micro - h_y_given_x_micro)) div h_y_micro"),
            )
            .cast("long")
            .alias("u_bp"),
        )
    )


def conformal_threshold(
    df: DataFrame,
    score_col: str,
    alpha_bp: int = 1000,
    group_col: Optional[str] = None,
) -> DataFrame:
    """Split-conformal threshold over a calibration set of
    nonconformity scores (HIGHER = more nonconforming, e.g. a quality
    classifier's junk score): the cutoff ``q̂`` such that accepting
    future scores ≤ q̂ guarantees coverage ≥ 1 − α under
    exchangeability — the distribution-free version of the guarantee
    `threshold_calibration` approximates with a plug-in keep-rate. The
    finite-sample rank is the standard ``⌈(n+1)(1−α)⌉``-th smallest
    calibration score; with integer basis points the rank is exact:
    ``k = ceil((n+1)·(10⁴−α_bp)/10⁴) = ((n+1)·(10⁴−α_bp) + 10⁴−1) div
    10⁴``. When k > n the guarantee needs a threshold of +∞ (the
    calibration set is too small for this α) — reported as a NULL
    threshold with the rank still shown, never a fabricated max score.

    Exactness: the k-th order statistic reads off the distinct-score
    cumulative table (smallest score with cum ≥ k) — integers
    end-to-end, engine-exact ties included. Scale: one (group, score)
    combinable rollup, one cumsum window on the distinct-score table.
    Output per group: ``(grp, n, alpha_bp, k_rank, threshold)``.
    """
    if not (0 < int(alpha_bp) < 10000):
        raise ValueError(
            f"conformal_threshold: alpha_bp must be in (0, 10000), got {alpha_bp}"
        )
    g = F.col(group_col).cast("string") if group_col else F.lit("all")
    vals = (
        df
        .select(g.alias("grp"), F.col(score_col).cast("long").alias("_s"))
        .groupBy("grp", "_s")
        .agg(F.count(F.lit(1)).cast("long").alias("_c"))
    )
    w = (
        Window.partitionBy("grp")
        .orderBy("_s")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wtot = Window.partitionBy("grp").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    a = int(alpha_bp)
    cum = vals.select(
        "grp",
        "_s",
        F.sum("_c").over(w).cast("long").alias("_cn"),
        F.sum("_c").over(wtot).cast("long").alias("_tn"),
    ).withColumn(
        "_k",
        F.expr(f"((_tn + 1) * (10000 - {a}) + 9999) div 10000").cast("long"),
    )
    return cum.groupBy("grp").agg(
        F.max("_tn").cast("long").alias("n"),
        F.lit(a).cast("long").alias("alpha_bp"),
        F.max("_k").cast("long").alias("k_rank"),
        F.min(F.when(F.col("_cn") >= F.col("_k"), F.col("_s")))
        .cast("long")
        .alias("threshold"),
    )


def woe_iv(
    df: DataFrame,
    feature_col: str,
    label_col: str,
) -> DataFrame:
    """Weight-of-evidence + information value of a categorical facet
    against a binary label — the credit-scoring feature screen applied
    to corpus curation: "how much does knowing the source tell me
    about whether a doc passes the quality gate, and WHICH categories
    carry the signal?" `contingency_chi2` answers "is there any
    association"; WOE/IV ranks the categories and yields the standard
    keep/drop screen (IV < 0.02 → facet is noise, > 0.3 → strong).

    ``woe_c = ln((pos_c+1)/(P+V)) − ln((neg_c+1)/(N+V))`` with +1/V
    Laplace smoothing (V = #categories) so empty cells stay finite;
    the IV term is ``((pos_c+1)/(P+V) − (neg_c+1)/(N+V))·woe_c``.
    Each statistic quantizes ONCE to integer micro units (the module's
    entropy_rate discipline: a single floor of a fixed double
    expression built from exact integer counts, then integer sums —
    no float accumulation). NULL facet/label rows are excluded.

    Returns per category: ``(feature, pos, neg, woe_micro,
    iv_term_micro, iv_total_micro)`` — iv_total repeated per row via
    an unbounded window so the screen threshold reads off any row.

    Scale: one (feature, label) cell rollup; everything downstream
    runs on the ≤V-row cell table.
    """
    cells = (
        df
        .where(F.col(feature_col).isNotNull() & F.col(label_col).isNotNull())
        .groupBy(F.col(feature_col).cast("string").alias("feature"))
        .agg(
            F.sum(F.when(F.col(label_col).cast("boolean"), 1).otherwise(0))
            .cast("long")
            .alias("pos"),
            F.sum(F.when(F.col(label_col).cast("boolean"), 0).otherwise(1))
            .cast("long")
            .alias("neg"),
        )
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    tot = (
        cells.withColumn("_P", F.sum("pos").over(wall).cast("long"))
        .withColumn("_N", F.sum("neg").over(wall).cast("long"))
        .withColumn("_V", F.count(F.lit(1)).over(wall).cast("long"))
    )
    p_pos = "(CAST(pos + 1 AS DOUBLE) / CAST(_P + _V AS DOUBLE))"
    p_neg = "(CAST(neg + 1 AS DOUBLE) / CAST(_N + _V AS DOUBLE))"
    woe = f"(ln({p_pos}) - ln({p_neg}))"
    scored = tot.withColumn(
        "woe_micro",
        F.expr(f"CAST(floor(1000000.0 * {woe}) AS BIGINT)"),
    ).withColumn(
        "iv_term_micro",
        F.expr(
            f"CAST(floor(1000000.0 * ({p_pos} - {p_neg}) * {woe}) AS BIGINT)"
        ),
    )
    return scored.select(
        "feature",
        "pos",
        "neg",
        "woe_micro",
        "iv_term_micro",
        F.sum("iv_term_micro").over(wall).cast("long").alias("iv_total_micro"),
    )


def cohens_d(
    df: DataFrame,
    value_col: str,
    group_col: str,
) -> DataFrame:
    """One-vs-rest Cohen's d (+ Hedges' g small-sample correction) per
    group — the EFFECT-SIZE companion to `mannwhitney`/`gate_rate_ztest`:
    those answer "is the difference real?", this answers "is it BIG
    ENOUGH to matter?" — at corpus scale every difference is
    significant, so the curation decision ("does this source's doc
    length actually differ from the rest of the corpus?") rides on d,
    not p.

    ``d = (mean_g − mean_rest) / s_pooled`` with the pooled unbiased
    variance ``s² = ((n₁−1)s₁² + (n₂−1)s₂²)/(n₁+n₂−2)``; Hedges'
    ``g = d·(1 − 3/(4m−9))``, m = n₁+n₂. Group moments come from
    exact integer ``(n, Σx, Σx²)`` — the rest-side moments are the
    grand totals minus the group's (one rollup, no second scan). The
    final statistics are fixed double expressions over those integers,
    each quantized ONCE to milli units (floor). Groups with n < 2 on
    either side emit NULL d (undefined variance).

    Returns ``(grp, n, mean_micro, d_milli, g_milli)``.

    Scale: one combinable (group) rollup; the one-vs-rest algebra runs
    on the tiny per-group table via unbounded-window grand totals.
    """
    g = (
        df
        .where(F.col(group_col).isNotNull() & F.col(value_col).isNotNull())
        .select(
            F.col(group_col).cast("string").alias("grp"),
            F.col(value_col).cast("long").alias("_v"),
        )
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("_v").cast("long").alias("_s"),
            F.sum(F.col("_v") * F.col("_v")).cast("long").alias("_s2"),
        )
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    t = (
        g.withColumn("_tn", F.sum("n").over(wall).cast("long"))
        .withColumn("_ts", F.sum("_s").over(wall).cast("long"))
        .withColumn("_ts2", F.sum("_s2").over(wall).cast("long"))
        .withColumn("_rn", F.col("_tn") - F.col("n"))
        .withColumn("_rs", F.col("_ts") - F.col("_s"))
        .withColumn("_rs2", F.col("_ts2") - F.col("_s2"))
    )
    m1 = "(CAST(_s AS DOUBLE) / n)"
    m2 = "(CAST(_rs AS DOUBLE) / _rn)"
    v1 = f"((_s2 - CAST(_s AS DOUBLE) * {m1}) / (n - 1))"
    v2 = f"((_rs2 - CAST(_rs AS DOUBLE) * {m2}) / (_rn - 1))"
    sp = f"sqrt(((n - 1) * {v1} + (_rn - 1) * {v2}) / (n + _rn - 2))"
    d = f"(({m1} - {m2}) / {sp})"
    corr = "(1.0 - 3.0 / (4.0 * (n + _rn) - 9.0))"
    return t.select(
        "grp",
        "n",
        F.expr("(1000000 * _s) div n").cast("long").alias("mean_micro"),
        F.when(
            (F.col("n") >= 2) & (F.col("_rn") >= 2),
            F.expr(f"CAST(floor(1000.0 * {d}) AS BIGINT)"),
        ).alias("d_milli"),
        F.when(
            (F.col("n") >= 2) & (F.col("_rn") >= 2),
            F.expr(f"CAST(floor(1000.0 * {d} * {corr}) AS BIGINT)"),
        ).alias("g_milli"),
    )


def krippendorff_alpha(
    ratings: DataFrame,
    unit_col: str,
    rater_col: str,
    value_col: str,
) -> DataFrame:
    """Krippendorff's alpha (nominal) over a long-format
    ``(unit, rater, value)`` table — the agreement statistic
    `agreement_kappa` can't be: kappa needs exactly two raters and
    complete data; alpha handles ANY number of raters and missing
    ratings (units rated by ≥2 raters count, weighted by coverage),
    which is what a real annotation pass over a web corpus looks like.

    Coincidence formulation: within each unit u with m_u ≥ 2 ratings,
    the disagreeing-pair mass is ``Σ_{c≠c'} n_uc·n_uc' / (m_u−1)``
    = ``(m_u² − Σ_c n_uc²) / (m_u−1)``; observed disagreement
    ``O = Σ_u`` of that, expected ``E = Σ_{c≠c'} n_c·n_c' / (n−1)``
    = ``(n² − Σ_c n_c²)/(n−1)`` over the pooled value margins, and
    ``alpha = 1 − O/E``. Per-unit terms are EXACT integer division
    scaled to micro (numerator 10⁶·(m²−Σn²) is non-negative, so
    truncation = floor = the DuckDB twin); O and E are integer sums
    of those — no float anywhere; ``alpha_bp = 10⁴ − (10⁴·(O_micro
    div 100)·(n−1)) div (E_raw div 100) ... `` computed with
    pre-scaled operands to stay within BIGINT.

    Returns one row: ``(n_units, n_ratings, o_micro, e_micro,
    alpha_bp)``. Units with a single rating are dropped (no pair, no
    evidence — the canonical treatment).

    Scale: one (unit, value) cell rollup (the only full-size shuffle),
    then per-unit aggregation on the cell table; margins broadcast.
    """
    cells = (
        ratings
        .where(
            F.col(unit_col).isNotNull()
            & F.col(rater_col).isNotNull()
            & F.col(value_col).isNotNull()
        )
        .groupBy(
            F.col(unit_col).cast("string").alias("_u"),
            F.col(value_col).cast("string").alias("_c"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("_nc"))
    )
    per_unit = (
        cells.groupBy("_u")
        .agg(
            F.sum("_nc").cast("long").alias("_m"),
            F.sum(F.col("_nc") * F.col("_nc")).cast("long").alias("_sq"),
        )
        .where(F.col("_m") >= 2)
        .select(
            "_u",
            "_m",
            F.expr("(1000000 * (_m * _m - _sq)) div (_m - 1)")
            .cast("long")
            .alias("_o_u"),
        )
    )
    o_tot = per_unit.agg(
        F.count(F.lit(1)).cast("long").alias("n_units"),
        F.sum("_m").cast("long").alias("n_ratings"),
        F.sum("_o_u").cast("long").alias("o_micro"),
    )
    kept_units = per_unit.select("_u")
    margins = (
        cells.join(F.broadcast(kept_units), on="_u")
        .groupBy("_c")
        .agg(F.sum("_nc").cast("long").alias("_nm"))
    )
    e_parts = margins.agg(
        F.sum("_nm").cast("long").alias("_n"),
        F.sum(F.col("_nm") * F.col("_nm")).cast("long").alias("_nsq"),
    )
    return (
        o_tot.crossJoin(F.broadcast(e_parts))
        .select(
            "n_units",
            "n_ratings",
            "o_micro",
            F.expr("(1000000 * (_n * _n - _nsq)) div (_n - 1)")
            .cast("long")
            .alias("e_micro"),
        )
        .select(
            "n_units",
            "n_ratings",
            "o_micro",
            "e_micro",
            F.when(
                F.col("e_micro") >= 100,
                F.lit(10000)
                - F.expr("(10000 * (o_micro div 100)) div (e_micro div 100)"),
            )
            .cast("long")
            .alias("alpha_bp"),
        )
    )


def cliffs_delta(
    df: DataFrame,
    value_col: str,
    group_col: str,
) -> DataFrame:
    """One-vs-rest Cliff's delta per group — the ORDINAL effect size:
    `cohens_d` presumes the means tell the story (ruined by heavy
    tails, which web doc lengths always have); `mannwhitney` gives a
    p-value but not a magnitude. Cliff's δ = P(x_g > x_rest) −
    P(x_g < x_rest) is the probability-of-superiority difference —
    robust, bounded [−1, 1], the standard "negligible/small/medium/
    large" ladder at |δ| = 0.147/0.33/0.474.

    Pair counting runs on the DISTINCT-value table (never the raw
    pairs): per (group, value) with count ``c_g``, the rest-side mass
    strictly below/above comes from two cumulative windows — a global
    one over all groups and a per-group one — subtracted
    (``rest_below = all_below − own_below``); then ``gt = Σ c_g ·
    rest_below``, ``lt = Σ c_g · rest_above``. Both numerators are
    non-negative, so ``delta_milli = (1000·gt) div (n_g·n_r) −
    (1000·lt) div (n_g·n_r)`` floors each side separately (negative
    ``div`` disagrees between engines and is never evaluated; the ≤
    2/1000 split-floor bias is documented here and identical in the
    oracle).

    Returns ``(grp, n, n_rest, gt_pairs, lt_pairs, delta_milli)``.

    Scale: one (group, value) combinable rollup; the windows run on
    the distinct-value table (≤ groups × distinct values rows) — the
    O(n²) pair space is never materialized.
    """
    vals = (
        df
        .where(F.col(group_col).isNotNull() & F.col(value_col).isNotNull())
        .select(
            F.col(group_col).cast("string").alias("grp"),
            F.col(value_col).cast("long").alias("_v"),
        )
        .groupBy("grp", "_v")
        .agg(F.count(F.lit(1)).cast("long").alias("_c"))
    )
    # global per-value mass, joined back so each (grp, v) row sees the
    # all-groups cumulative at its own value
    allv = vals.groupBy("_v").agg(F.sum("_c").cast("long").alias("_ca"))
    wa = (
        Window.orderBy("_v").rowsBetween(Window.unboundedPreceding, -1)
    )
    wtot_a = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    allcum = allv.select(
        "_v",
        "_ca",
        F.coalesce(F.sum("_ca").over(wa), F.lit(0))
        .cast("long")
        .alias("_all_below"),
        F.sum("_ca").over(wtot_a).cast("long").alias("_all_n"),
    )
    wg = (
        Window.partitionBy("grp")
        .orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wtot_g = Window.partitionBy("grp").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    per = (
        vals.select(
            "grp",
            "_v",
            "_c",
            F.coalesce(F.sum("_c").over(wg), F.lit(0))
            .cast("long")
            .alias("_own_below"),
            F.sum("_c").over(wtot_g).cast("long").alias("_n_g"),
        )
        .join(F.broadcast(allcum), on="_v")
        .select(
            "grp",
            "_c",
            "_n_g",
            (F.col("_all_n") - F.col("_n_g")).alias("_n_r"),
            (F.col("_all_below") - F.col("_own_below")).alias("_rb"),
            (
                (F.col("_all_n") - F.col("_all_below") - F.col("_ca"))
                - (F.col("_n_g") - F.col("_own_below") - F.col("_c"))
            ).alias("_ra"),
        )
    )
    return (
        per.groupBy("grp")
        .agg(
            F.max("_n_g").cast("long").alias("n"),
            F.max("_n_r").cast("long").alias("n_rest"),
            F.sum(F.col("_c") * F.col("_rb")).cast("long").alias("gt_pairs"),
            F.sum(F.col("_c") * F.col("_ra")).cast("long").alias("lt_pairs"),
        )
        .select(
            "grp",
            "n",
            "n_rest",
            "gt_pairs",
            "lt_pairs",
            F.when(
                (F.col("n") > 0) & (F.col("n_rest") > 0),
                F.expr("(1000 * gt_pairs) div (n * n_rest)")
                - F.expr("(1000 * lt_pairs) div (n * n_rest)"),
            )
            .cast("long")
            .alias("delta_milli"),
        )
    )


def sample_size_plan(
    df: DataFrame,
    label_col: str,
    group_col: str,
    alpha_z_micro: int = 1_959_964,
    power_z_micro: int = 841_621,
) -> DataFrame:
    """Two-proportion sample-size (power) plan per group — the A/B
    harness question every curation-gate change raises: "how many docs
    per arm must the next experiment sample to DETECT the gate-rate
    difference this group already shows vs the rest of the corpus, at
    α = 5% two-sided and 80% power?" Groups whose observed lift needs
    more samples than the corpus holds are not worth testing — the
    planning twin of `gate_rate_ztest`'s after-the-fact verdict.

    ``n/arm = ceil((z_α·√(2·p̄·(1−p̄)) + z_β·√(p₁(1−p₁)+p₂(1−p₂)))²
    / (p₁−p₂)²)`` — the classic normal-approximation formula; z values
    arrive as integer micro units (defaults: 1.959964 ≈ z₀.₀₂₅,
    0.841621 ≈ z₀.₂₀) and enter the double expression via a single
    ``/1e6``. Proportions are exact integer counts over exact totals;
    the whole formula is one fixed double expression, ceil'd once.
    Groups with p₁ = p₂ (zero observed lift) emit NULL — no effect, no
    finite n.

    Returns ``(grp, pos, n, pos_rest, n_rest, n_per_arm)``.

    Scale: one combinable (group, label) rollup; the algebra runs on
    the tiny per-group table with unbounded-window grand totals.
    """
    g = (
        df
        .where(F.col(group_col).isNotNull() & F.col(label_col).isNotNull())
        .groupBy(F.col(group_col).cast("string").alias("grp"))
        .agg(
            F.sum(F.when(F.col(label_col).cast("boolean"), 1).otherwise(0))
            .cast("long")
            .alias("pos"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    t = (
        g.withColumn(
            "pos_rest",
            (F.sum("pos").over(wall) - F.col("pos")).cast("long"),
        )
        .withColumn(
            "n_rest", (F.sum("n").over(wall) - F.col("n")).cast("long")
        )
    )
    p1 = "(CAST(pos AS DOUBLE) / n)"
    p2 = "(CAST(pos_rest AS DOUBLE) / n_rest)"
    pbar = "(CAST(pos + pos_rest AS DOUBLE) / CAST(n + n_rest AS DOUBLE))"
    za = f"(CAST({int(alpha_z_micro)} AS DOUBLE) / 1000000.0)"
    zb = f"(CAST({int(power_z_micro)} AS DOUBLE) / 1000000.0)"
    num = (
        f"({za} * sqrt(2.0 * {pbar} * (1.0 - {pbar})) "
        f"+ {zb} * sqrt({p1} * (1.0 - {p1}) + {p2} * (1.0 - {p2})))"
    )
    formula = f"ceil(({num} * {num}) / (({p1} - {p2}) * ({p1} - {p2})))"
    return t.select(
        "grp",
        "pos",
        "n",
        "pos_rest",
        "n_rest",
        F.when(
            (F.col("n_rest") > 0)
            & (
                F.col("pos") * F.col("n_rest")
                != F.col("pos_rest") * F.col("n")
            ),
            F.expr(f"CAST({formula} AS BIGINT)"),
        ).alias("n_per_arm"),
    )


def best_split(
    df: DataFrame,
    value_col: str,
    label_col: str,
) -> DataFrame:
    """Exact Gini decision stump: the single threshold on a numeric
    feature that best separates a binary label — the 1-node version of
    what a quality-classifier trainer does, and the exact answer to
    "where should the length gate actually sit?" (`threshold_calibration`
    picks a threshold for a target KEEP RATE; this picks the
    label-OPTIMAL one).

    Every candidate threshold t (each distinct feature value; split is
    ``x ≤ t``) is scored by weighted Gini impurity ``(m_L² − pos_L² −
    neg_L²)/(m·m_L) + (m_R² − pos_R² − neg_R²)/(m·m_R)`` — computed as
    ONE fixed double expression over exact integer cumulative counts
    and floored ONCE to micro units; argmin breaks ties on the smaller
    threshold (fully deterministic). The max-value row (empty right
    side) is excluded.

    Returns one row: ``(threshold, impurity_micro, pos_left, neg_left,
    pos_right, neg_right)``.

    Scale: one (value) combinable rollup with conditional label sums,
    one cumsum window over the distinct-value table, one global argmin
    — the O(n·distinct) naive scoring never materializes.
    """
    vals = (
        df
        .where(F.col(value_col).isNotNull() & F.col(label_col).isNotNull())
        .groupBy(F.col(value_col).cast("long").alias("_v"))
        .agg(
            F.sum(F.when(F.col(label_col).cast("boolean"), 1).otherwise(0))
            .cast("long")
            .alias("_p"),
            F.sum(F.when(F.col(label_col).cast("boolean"), 0).otherwise(1))
            .cast("long")
            .alias("_q"),
        )
    )
    wrun = Window.orderBy("_v").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = (
        vals.withColumn("pos_left", F.sum("_p").over(wrun).cast("long"))
        .withColumn("neg_left", F.sum("_q").over(wrun).cast("long"))
        .withColumn("_tp", F.sum("_p").over(wall).cast("long"))
        .withColumn("_tq", F.sum("_q").over(wall).cast("long"))
        .withColumn("pos_right", (F.col("_tp") - F.col("pos_left")))
        .withColumn("neg_right", (F.col("_tq") - F.col("neg_left")))
        .withColumn("_ml", F.col("pos_left") + F.col("neg_left"))
        .withColumn("_mr", F.col("pos_right") + F.col("neg_right"))
        .where(F.col("_mr") > 0)
    )
    gini = (
        "(CAST(_ml * _ml - pos_left * pos_left - neg_left * neg_left"
        " AS DOUBLE) / (CAST(_ml + _mr AS DOUBLE) * _ml)"
        " + CAST(_mr * _mr - pos_right * pos_right - neg_right * neg_right"
        " AS DOUBLE) / (CAST(_ml + _mr AS DOUBLE) * _mr))"
    )
    scored = cum.withColumn(
        "impurity_micro",
        F.expr(f"CAST(floor(1000000.0 * {gini}) AS BIGINT)"),
    )
    pick = Window.orderBy("impurity_micro", "_v")
    return (
        scored.withColumn("_rk", F.row_number().over(pick))
        .where(F.col("_rk") == 1)
        .select(
            F.col("_v").alias("threshold"),
            "impurity_micro",
            "pos_left",
            "neg_left",
            "pos_right",
            "neg_right",
        )
    )


def anova_oneway(
    df: DataFrame,
    value_col: str,
    group_col: str,
) -> DataFrame:
    """One-way ANOVA F statistic across groups — the k-group
    generalization of `cohens_d`'s two-sided question: "do doc lengths
    differ across languages AT ALL?" asked once, instead of k pairwise
    tests with a multiplicity problem. The datacard gate for "is this
    facet worth stratifying".

    Sum-of-squares from exact integer per-group moments ``(n_g, Σx,
    Σx²)``, each group's between/within term quantized ONCE to micro
    (the entropy_rate discipline): ``ssb_g = floor(10⁶·s_g²/n_g)``
    summed minus ``floor(10⁶·S²/N)``; ``ssw_g = floor(10⁶·(s2_g −
    s_g²/n_g))`` summed. ``F_milli = floor(10³·(ssb/(k−1)) /
    (ssw/(N−k)))`` — a fixed double expression over the integer sums.
    Degenerate inputs (k < 2, N ≤ k, or zero within-variance) emit
    NULL F.

    Returns one row: ``(k, n, ssb_micro, ssw_micro, f_milli)``.

    Scale: one combinable (group) rollup; the SS algebra runs on the
    k-row table.
    """
    g = (
        df
        .where(F.col(group_col).isNotNull() & F.col(value_col).isNotNull())
        .select(
            F.col(group_col).cast("string").alias("grp"),
            F.col(value_col).cast("long").alias("_v"),
        )
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("_n"),
            F.sum("_v").cast("long").alias("_s"),
            F.sum(F.col("_v") * F.col("_v")).cast("long").alias("_s2"),
        )
    )
    terms = g.select(
        "_n",
        "_s",
        "_s2",
        F.expr(
            "CAST(floor(1000000.0 * (CAST(_s AS DOUBLE) * _s / _n))"
            " AS BIGINT)"
        ).alias("_ssb_t"),
        F.expr(
            "CAST(floor(1000000.0 * (_s2 - CAST(_s AS DOUBLE) * _s / _n))"
            " AS BIGINT)"
        ).alias("_ssw_t"),
    )
    agg = terms.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("_n").cast("long").alias("n"),
        F.sum("_s").cast("long").alias("_ts"),
        F.sum("_ssb_t").cast("long").alias("_ssb_sum"),
        F.sum("_ssw_t").cast("long").alias("ssw_micro"),
    )
    return agg.select(
        "k",
        "n",
        (
            F.col("_ssb_sum")
            - F.expr(
                "CAST(floor(1000000.0 * (CAST(_ts AS DOUBLE) * _ts / n))"
                " AS BIGINT)"
            )
        ).alias("ssb_micro"),
        "ssw_micro",
        F.when(
            (F.col("k") >= 2)
            & (F.col("n") > F.col("k"))
            & (F.col("ssw_micro") > 0),
            F.expr(
                "CAST(floor(1000.0 * ((CAST(_ssb_sum - CAST(floor("
                "1000000.0 * (CAST(_ts AS DOUBLE) * _ts / n)) AS BIGINT)"
                " AS DOUBLE) / (k - 1)) / (CAST(ssw_micro AS DOUBLE)"
                " / (n - k)))) AS BIGINT)"
            ),
        ).alias("f_milli"),
    )


def grubbs_outlier(
    df: DataFrame,
    value_col: str,
    group_col: str,
) -> DataFrame:
    """Grubbs' extreme-studentized-deviate per group — "what is each
    language's single most anomalous doc length, and HOW anomalous?"
    The per-group whale detector that `rate_anomalies` is for time
    series: G = max|x − mean| / sd. G above the critical value (≈ 3–4
    for corpus-sized n) marks a group whose tail needs a look before
    it skews every mean-based stat downstream.

    The deviation ranking is EXACT integer arithmetic: |n·x − Σx| is
    the deviation scaled by n, so the arg-max (ties → smaller value)
    needs no floats; only the final G quantizes — ``g_milli =
    floor(10³·(maxdev/n)/sd)`` with ``sd = sqrt((n·Σx² − (Σx)²)/
    (n·(n−1)))`` (sample sd), one fixed double expression over exact
    integers. Groups with n < 3 or zero variance emit NULL G.

    Returns ``(grp, n, outlier_value, dev_scaled, g_milli)`` —
    dev_scaled = |n·x − Σx| for the audit trail.

    Scale: a window partitioned by group would funnel every row of a
    popular language through one task — instead: one combinable
    moments rollup (map-side partial agg), the tiny per-group table
    broadcast back onto the scan, then a combinable struct-argmax
    rollup. Two map-side-combining shuffles of k rows each; the full
    table is never shuffled.
    """
    base = (
        df
        .where(F.col(group_col).isNotNull() & F.col(value_col).isNotNull())
        .select(
            F.col(group_col).cast("string").alias("grp"),
            F.col(value_col).cast("long").alias("_v"),
        )
    )
    moms = base.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("_n"),
        F.sum("_v").cast("long").alias("_s"),
        F.sum(F.col("_v") * F.col("_v")).cast("long").alias("_s2"),
    )
    rows = base.join(F.broadcast(moms), on="grp").withColumn(
        "_dev", F.abs(F.col("_n") * F.col("_v") - F.col("_s"))
    )
    # struct max = (dev DESC, value ASC) arg-max: negate the value so
    # the lexicographic max prefers the SMALLER value on dev ties
    top = (
        rows.groupBy("grp")
        .agg(
            F.max(
                F.struct(
                    F.col("_dev"),
                    (-F.col("_v")).alias("_nv"),
                    F.col("_n"),
                    F.col("_s"),
                    F.col("_s2"),
                )
            ).alias("_t")
        )
        .select(
            "grp",
            F.col("_t._dev").alias("_dev"),
            (-F.col("_t._nv")).alias("_v"),
            F.col("_t._n").alias("_n"),
            F.col("_t._s").alias("_s"),
            F.col("_t._s2").alias("_s2"),
        )
    )
    sd = (
        "sqrt(CAST(_n * _s2 - _s * _s AS DOUBLE)"
        " / (CAST(_n AS DOUBLE) * (_n - 1)))"
    )
    return top.select(
        "grp",
        F.col("_n").alias("n"),
        F.col("_v").alias("outlier_value"),
        F.col("_dev").alias("dev_scaled"),
        F.when(
            (F.col("_n") >= 3)
            & (F.col("_n") * F.col("_s2") > F.col("_s") * F.col("_s")),
            F.expr(
                f"CAST(floor(1000.0 * (CAST(_dev AS DOUBLE) / _n)"
                f" / {sd}) AS BIGINT)"
            ),
        ).alias("g_milli"),
    )


def tokenizer_fertility(
    docs: DataFrame,
    group_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """Tokenizer fertility per group — subword tokens emitted per
    whitespace word, the standard multilingual-pipeline capacity
    metric: a language whose fertility is 2× English pays 2× the
    context budget for the same text, which feeds directly into
    `unimax_plan` / `mix_proportions` decisions. Uses the corpus'
    BPE-ish regex tokenizer (same ``BPE_TOKEN_RE`` the `token_counts`
    oracle pins) against `normalized_words` whitespace words.

    Pure integer: ``fertility_milli = (10³·Σ subtokens) div Σ words``
    per group, plus the per-doc-average lens ``chars_per_subtoken
    _milli`` — both non-negative divisions (truncation == floor ==
    DuckDB).

    Returns ``(grp, n_docs, words, subtokens, fertility_milli,
    chars_per_subtoken_milli)``.

    Scale: one scan with row-local counting expressions, one
    combinable (group) rollup — scan-dominated, zero UDF.
    """
    d = ensure_parallelism(docs).select(
        F.col(group_col).cast("string").alias("grp"),
        F.size(normalized_words(text_col)).cast("long").alias("_w"),
        F.size(
            F.regexp_extract_all(F.col(text_col), F.lit(BPE_TOKEN_RE), 0)
        )
        .cast("long")
        .alias("_t"),
        F.length(F.col(text_col)).cast("long").alias("_c"),
    )
    return (
        d.groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("_w").cast("long").alias("words"),
            F.sum("_t").cast("long").alias("subtokens"),
            F.sum("_c").cast("long").alias("_chars"),
        )
        .select(
            "grp",
            "n_docs",
            "words",
            "subtokens",
            F.when(
                F.col("words") > 0,
                F.expr("(1000 * subtokens) div words"),
            )
            .cast("long")
            .alias("fertility_milli"),
            F.when(
                F.col("subtokens") > 0,
                F.expr("(1000 * _chars) div subtokens"),
            )
            .cast("long")
            .alias("chars_per_subtoken_milli"),
        )
    )


def kruskal_wallis(
    df: DataFrame,
    value_col: str,
    group_col: str,
) -> DataFrame:
    """Kruskal–Wallis H across groups — the rank-based (distribution-
    free) sibling of `anova_oneway`: "do doc-length DISTRIBUTIONS
    differ across languages?" robust to the heavy tails that make the
    F test lie on web text. The datacard gate to run when
    `grubbs_outlier` already flagged whales.

    Midranks without a global row window: ranks depend only on the
    VALUE, so they are computed on the distinct-value table —
    ``dblrank(v) = 2·cum(v) − cnt(v) + 1`` (twice the midrank, always
    an integer; ``cum`` = running count over values ≤ v). Per-group
    rank sums are then ``S2_g = Σ_v c_{g,v}·dblrank(v)``, exact
    integers. Each group's rank term quantizes ONCE to micro
    (`anova_oneway` discipline): ``term_g = floor(10⁶·S2_g²/(4·n_g))``
    — S2_g²/4 = (S2_g/2)² is the classic S_g². Tie correction is exact:
    ``tie_sum = Σ_v (cnt³ − cnt)``. The final
    ``h_milli = floor(10³ · H / C)`` with
    ``H = 12·(Σterm/10⁶)/(N(N+1)) − 3(N+1)`` and
    ``C = 1 − tie_sum/(N³−N)`` is one fixed double expression over the
    integer sums. Degenerate inputs (k < 2, N < 2, or C ≤ 0 — all
    values tied) emit NULL H.

    Returns one row: ``(k, n, tie_sum, rank_term_micro, h_milli)``.

    Scale: two combinable rollups over the scan (value counts and
    (group, value) counts); the only ordered window runs on the
    DISTINCT-VALUE table (cardinality = distinct lengths, thousands
    at most at any corpus scale — never the row table), broadcast
    back onto the small (group, value) aggregate.
    """
    base = (
        df
        .where(F.col(group_col).isNotNull() & F.col(value_col).isNotNull())
        .select(
            F.col(group_col).cast("string").alias("grp"),
            F.col(value_col).cast("long").alias("_v"),
        )
    )
    vals = base.groupBy("_v").agg(F.count(F.lit(1)).cast("long").alias("_cnt"))
    w = Window.orderBy("_v").rowsBetween(Window.unboundedPreceding, 0)
    ranked = vals.select(
        "_v",
        "_cnt",
        (2 * F.sum("_cnt").over(w) - F.col("_cnt") + 1)
        .cast("long")
        .alias("_dr"),
    )
    gv = base.groupBy("grp", "_v").agg(
        F.count(F.lit(1)).cast("long").alias("_c")
    )
    g = (
        gv.join(F.broadcast(ranked), on="_v")
        .groupBy("grp")
        .agg(
            F.sum("_c").cast("long").alias("_ng"),
            F.sum(F.col("_c") * F.col("_dr")).cast("long").alias("_s2"),
        )
    )
    terms = g.select(
        "_ng",
        F.expr(
            "CAST(floor(1000000.0 * (CAST(_s2 AS DOUBLE) * _s2"
            " / (4.0 * _ng))) AS BIGINT)"
        ).alias("_tm"),
    )
    a = terms.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("_ng").cast("long").alias("n"),
        F.sum("_tm").cast("long").alias("rank_term_micro"),
    )
    t = vals.agg(
        F.sum(
            F.col("_cnt") * F.col("_cnt") * F.col("_cnt") - F.col("_cnt")
        )
        .cast("long")
        .alias("tie_sum")
    )
    c_expr = (
        "(1.0 - CAST(tie_sum AS DOUBLE)"
        " / (CAST(n AS DOUBLE) * n * n - n))"
    )
    h_expr = (
        "(12.0 * (CAST(rank_term_micro AS DOUBLE) / 1000000.0)"
        " / (CAST(n AS DOUBLE) * (n + 1)) - 3.0 * (n + 1))"
    )
    return a.crossJoin(t).select(
        "k",
        "n",
        "tie_sum",
        "rank_term_micro",
        F.when(
            (F.col("k") >= 2)
            & (F.col("n") >= 2)
            & (F.expr(c_expr) > 0),
            F.expr(
                f"CAST(floor(1000.0 * {h_expr} / {c_expr}) AS BIGINT)"
            ),
        ).alias("h_milli"),
    )


def brown_forsythe(
    df: DataFrame,
    value_col: str,
    group_col: str,
) -> DataFrame:
    """Brown–Forsythe equal-VARIANCE test across groups — ANOVA's
    validity check and a corpus question in its own right: "is doc
    length merely centered differently per language, or differently
    SPREAD?" (a language whose length variance explodes after a crawl
    change is a template-churn signal `anova_oneway` on means misses).
    W is exactly the one-way ANOVA F statistic applied to absolute
    deviations from the GROUP MEDIAN — robust where Levene's
    mean-centered form is whale-dominated.

    Exact integer throughout the data pass: the per-group doubled
    median ``2·med = v(⌊(n+1)/2⌋) + v(⌊n/2⌋+1)`` comes from
    order-statistic cumulation on the per-group DISTINCT-VALUE table
    (no row-table window), so ``z = |2x − 2·med|`` is an exact
    integer; the SS algebra on z then reuses `anova_oneway` verbatim
    (micro-floored per-group terms, one milli-floor for W).

    Returns one row: ``(k, n, ssb_micro, ssw_micro, w_milli)`` — the
    ANOVA row shape with F relabeled W.

    Scale: one combinable (group, value) rollup; per-group medians on
    that small table (window partitioned BY GROUP over distinct
    values); the k-row median table broadcast back onto the scan; then
    the ANOVA rollup. The row table is never shuffled by a window.
    """
    base = (
        df
        .where(F.col(group_col).isNotNull() & F.col(value_col).isNotNull())
        .select(
            F.col(group_col).cast("string").alias("grp"),
            F.col(value_col).cast("long").alias("_v"),
        )
    )
    gv = base.groupBy("grp", "_v").agg(
        F.count(F.lit(1)).cast("long").alias("_c")
    )
    wcum = (
        Window.partitionBy("grp")
        .orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy("grp")
    cum = gv.select(
        "grp",
        "_v",
        "_c",
        F.sum("_c").over(wcum).cast("long").alias("_cm"),
        F.sum("_c").over(wall).cast("long").alias("_n"),
    )
    med = (
        cum.select(
            "grp",
            "_v",
            "_c",
            "_cm",
            F.expr("(_n + 1) div 2").alias("_lo"),
            F.expr("_n div 2 + 1").alias("_hi"),
        )
        .groupBy("grp")
        .agg(
            (
                F.max(
                    F.when(
                        (F.col("_cm") - F.col("_c") < F.col("_lo"))
                        & (F.col("_lo") <= F.col("_cm")),
                        F.col("_v"),
                    )
                )
                + F.max(
                    F.when(
                        (F.col("_cm") - F.col("_c") < F.col("_hi"))
                        & (F.col("_hi") <= F.col("_cm")),
                        F.col("_v"),
                    )
                )
            )
            .cast("long")
            .alias("_dm")
        )
    )
    z = base.join(F.broadcast(med), on="grp").select(
        "grp",
        F.abs(2 * F.col("_v") - F.col("_dm")).cast("long").alias("_z"),
    )
    out = anova_oneway(z, "_z", "grp")
    return out.select(
        "k", "n", "ssb_micro", "ssw_micro", F.col("f_milli").alias("w_milli")
    )


def cochran_q(
    df: DataFrame,
    gate_cols: Sequence[str],
) -> DataFrame:
    """Cochran's Q over k binary gates applied to the SAME documents —
    "do our quality gates fire at genuinely different rates, or is the
    apparent difference row-noise?" The matched-design complement to
    `gate_funnel` (which only reports marginal rates) and the k-gate
    generalization of `mcnemar_gates`: Q reduces exactly to McNemar's
    statistic at k = 2.

    FULLY integer until one floor: with per-row gate-sum ``L_i`` and
    per-gate totals ``G_j``, ``Q = (k−1)·(k·ΣG_j² − T²) /
    (k·T − ΣL_i²)`` where ``T = ΣL_i = ΣG_j`` — every term an exact
    integer sum; ``q_milli = floor(10³·Q)`` is the single
    quantization. Rows where all gates agree (all 0 or all 1)
    contribute nothing, as the theory requires. A zero denominator
    (every row unanimous) emits NULL Q.

    Returns one row: ``(k, n, t, sum_g2, sum_l2, q_milli)``.

    Scale: one scan with row-local gate algebra feeding a single
    combinable global rollup — map-side partials, one 1-row shuffle.
    """
    k = len(gate_cols)
    if k < 2:
        raise ValueError("cochran_q needs at least 2 gate columns")
    d = df.select(
        *[F.col(c).cast("long").alias(c) for c in gate_cols]
    )
    lsum = None
    for c in gate_cols:
        lsum = F.col(c) if lsum is None else lsum + F.col(c)
    d = d.select(*gate_cols, lsum.cast("long").alias("_l"))
    aggs = [
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("_l").cast("long").alias("t"),
        F.sum(F.col("_l") * F.col("_l")).cast("long").alias("sum_l2"),
    ] + [F.sum(c).cast("long").alias(f"_g{i}") for i, c in enumerate(gate_cols)]
    a = d.agg(*aggs)
    g2 = None
    for i in range(k):
        term = F.col(f"_g{i}") * F.col(f"_g{i}")
        g2 = term if g2 is None else g2 + term
    a = a.select(
        F.lit(k).cast("long").alias("k"),
        "n",
        "t",
        g2.cast("long").alias("sum_g2"),
        "sum_l2",
    )
    return a.select(
        "k",
        "n",
        "t",
        "sum_g2",
        "sum_l2",
        F.when(
            F.col("k") * F.col("t") - F.col("sum_l2") > 0,
            F.expr(
                "CAST(floor(1000.0 * (k - 1)"
                " * (CAST(k * sum_g2 - t * t AS DOUBLE))"
                " / (k * t - sum_l2)) AS BIGINT)"
            ),
        ).alias("q_milli"),
    )


def dunn_pairwise(
    df: DataFrame,
    value_col: str,
    group_col: str,
) -> DataFrame:
    """Dunn's post-hoc pairwise z after `kruskal_wallis` — once H says
    "SOME language differs", this says WHICH pairs do, on the same
    midranks (no re-ranking, no per-pair re-test): ``z_uv = (r̄_u −
    r̄_v) / sqrt(σ²·(1/n_u + 1/n_v))`` with the tie-corrected
    ``σ² = N(N+1)/12 − tie_sum/(12(N−1))``.

    All inputs exact integers (doubled rank sums ``S2_g``, group
    sizes, N, tie_sum — the `kruskal_wallis` construction verbatim);
    ``z_milli = floor(10³·z)`` is the only quantization, one per pair
    (floor toward −∞ in BOTH engines, so negative z is safe). Pairs
    emitted once with ``grp_a < grp_b``; σ² ≤ 0 (all values tied) or
    N < 3 emits NULL z.

    Returns ``(grp_a, grp_b, n_a, n_b, z_milli)`` — k(k−1)/2 rows.

    Scale: identical to `kruskal_wallis` (no row-table window); the
    pairwise stage is a self-join of the k-row group table.
    """
    base = (
        df
        .where(F.col(group_col).isNotNull() & F.col(value_col).isNotNull())
        .select(
            F.col(group_col).cast("string").alias("grp"),
            F.col(value_col).cast("long").alias("_v"),
        )
    )
    vals = base.groupBy("_v").agg(F.count(F.lit(1)).cast("long").alias("_cnt"))
    w = Window.orderBy("_v").rowsBetween(Window.unboundedPreceding, 0)
    ranked = vals.select(
        "_v",
        "_cnt",
        (2 * F.sum("_cnt").over(w) - F.col("_cnt") + 1)
        .cast("long")
        .alias("_dr"),
    )
    g = (
        base.groupBy("grp", "_v")
        .agg(F.count(F.lit(1)).cast("long").alias("_c"))
        .join(F.broadcast(ranked), on="_v")
        .groupBy("grp")
        .agg(
            F.sum("_c").cast("long").alias("_ng"),
            F.sum(F.col("_c") * F.col("_dr")).cast("long").alias("_s2"),
        )
    )
    tot = base.agg(F.count(F.lit(1)).cast("long").alias("_n")).crossJoin(
        vals.agg(
            F.sum(
                F.col("_cnt") * F.col("_cnt") * F.col("_cnt") - F.col("_cnt")
            )
            .cast("long")
            .alias("_tie")
        )
    )
    a = g.alias("a")
    b = g.alias("b")
    pairs = (
        a.join(b, F.col("a.grp") < F.col("b.grp"))
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("a.grp").alias("grp_a"),
            F.col("b.grp").alias("grp_b"),
            F.col("a._ng").alias("n_a"),
            F.col("b._ng").alias("n_b"),
            F.col("a._s2").alias("_s2a"),
            F.col("b._s2").alias("_s2b"),
            "_n",
            "_tie",
        )
    )
    var_expr = (
        "(CAST(_n AS DOUBLE) * (_n + 1) / 12.0"
        " - CAST(_tie AS DOUBLE) / (12.0 * (_n - 1)))"
    )
    diff_expr = (
        "(CAST(_s2a AS DOUBLE) / (2.0 * n_a)"
        " - CAST(_s2b AS DOUBLE) / (2.0 * n_b))"
    )
    return pairs.select(
        "grp_a",
        "grp_b",
        "n_a",
        "n_b",
        F.when(
            (F.col("_n") >= 3) & (F.expr(var_expr) > 0),
            F.expr(
                f"CAST(floor(1000.0 * {diff_expr}"
                f" / sqrt({var_expr} * (1.0 / n_a + 1.0 / n_b)))"
                f" AS BIGINT)"
            ),
        ).alias("z_milli"),
    )


def kendall_tau(
    df: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Kendall's tau-b between two non-negative integer columns,
    computed on a MONOTONE coarsening: each value maps to its binary
    bit length (``length(bin(v))`` = ⌊log₂v⌋+1 — order-preserving,
    ~20 bins at any corpus scale, byte-identical in Spark and DuckDB).
    The binned tau is the exact tau OF THE BINNED VARIABLES — ties
    within a bin are handled by the tau-b tie terms, not ignored.
    The corpus question: "does doc length actually travel with word
    count / link count / quality, monotonically?" where `rank_agreement`
    (Spearman) needs global ranks, this needs only a contingency
    rollup.

    Exact integers end to end: concordant/discordant counts are
    Σ c₁·c₂ over strictly-dominating / anti-dominating cell pairs of
    the bit-length contingency table; tie terms ``n1 = Σ t(t−1)/2``
    over x margins (t(t−1) always even — the div is exact), same for
    y; ``tau_milli = floor(10³·(C−D)/sqrt((n0−n1)(n0−n2)))`` is the
    single quantization. Degenerate margins (all mass in one x or one
    y bin) emit NULL tau.

    Returns one row: ``(n, n0, concordant, discordant, ties_x,
    ties_y, tau_milli)``.

    Scale: one combinable contingency rollup over the scan; the cell
    self-join runs on ≤ ~400 cells regardless of corpus size (bins
    are bit lengths, bounded by the value width) — never the rows.
    """
    base = (
        df
        .where(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
        .select(
            F.length(F.bin(F.col(x_col).cast("long"))).cast("long").alias("_bx"),
            F.length(F.bin(F.col(y_col).cast("long"))).cast("long").alias("_by"),
        )
    )
    cells = base.groupBy("_bx", "_by").agg(
        F.count(F.lit(1)).cast("long").alias("_c")
    )
    c1 = cells.alias("c1")
    c2 = cells.alias("c2")
    conc = (
        c1.join(
            c2,
            (F.col("c1._bx") < F.col("c2._bx"))
            & (F.col("c1._by") < F.col("c2._by")),
        )
        .agg(
            F.coalesce(
                F.sum(F.col("c1._c") * F.col("c2._c")), F.lit(0)
            )
            .cast("long")
            .alias("concordant")
        )
    )
    disc = (
        c1.join(
            c2,
            (F.col("c1._bx") < F.col("c2._bx"))
            & (F.col("c1._by") > F.col("c2._by")),
        )
        .agg(
            F.coalesce(
                F.sum(F.col("c1._c") * F.col("c2._c")), F.lit(0)
            )
            .cast("long")
            .alias("discordant")
        )
    )
    tx = (
        cells.groupBy("_bx")
        .agg(F.sum("_c").cast("long").alias("_t"))
        .agg(
            F.sum(F.expr("_t * (_t - 1) div 2"))
            .cast("long")
            .alias("ties_x")
        )
    )
    ty = (
        cells.groupBy("_by")
        .agg(F.sum("_c").cast("long").alias("_t"))
        .agg(
            F.sum(F.expr("_t * (_t - 1) div 2"))
            .cast("long")
            .alias("ties_y")
        )
    )
    n = cells.agg(F.sum("_c").cast("long").alias("n"))
    out = (
        n.crossJoin(conc)
        .crossJoin(disc)
        .crossJoin(tx)
        .crossJoin(ty)
        .select(
            "n",
            F.expr("n * (n - 1) div 2").cast("long").alias("n0"),
            "concordant",
            "discordant",
            "ties_x",
            "ties_y",
        )
    )
    return out.select(
        "n",
        "n0",
        "concordant",
        "discordant",
        "ties_x",
        "ties_y",
        F.when(
            (F.col("n0") > F.col("ties_x")) & (F.col("n0") > F.col("ties_y")),
            F.expr(
                "CAST(floor(1000.0"
                " * (CAST(concordant - discordant AS DOUBLE))"
                " / sqrt(CAST(n0 - ties_x AS DOUBLE)"
                "   * (n0 - ties_y))) AS BIGINT)"
            ),
        ).alias("tau_milli"),
    )


def pearson_corr(
    df: DataFrame,
    x_col: str,
    y_col: str,
    group_col: Optional[str] = None,
) -> DataFrame:
    """Pearson product-moment correlation between two integer signals,
    optionally per group — the LINEAR-association member of the
    correlation trio next to `rank_agreement` (Spearman) and
    `kendall_tau` (concordance): "does byte length track token count
    proportionally per language, or only monotonically?" A language
    whose Pearson r collapses while Spearman holds is a nonlinearity
    flag (markup whales, CJK segmentation) the rank statistics hide.

    Exact to the last integer until a single final expression: one
    combinable rollup collects ``(n, Σx, Σy, Σxy, Σx², Σy²)`` as
    longs, the n-scaled moment numerators ``cov = n·Σxy − Σx·Σy``,
    ``varx = n·Σx² − (Σx)²``, ``vary = n·Σy² − (Σy)²`` are exact
    BIGINT algebra on those sums, and ``r_milli = floor(1000·cov /
    (sqrt(varx)·sqrt(vary)))`` is ONE fixed IEEE shape (two sqrts —
    never sqrt(varx·vary), whose product overflows long first).
    EXACTLY-linear groups short-circuit first: cov² == varx·vary is
    tested in decimal(38,0) (safe to |cov| ~ 9e18) and emits ±1000
    directly, because the two-sqrt product can land one ulp high and
    floor a perfect r to 999.
    Degenerate inputs (n < 2 or a zero-variance side) emit NULL.
    Envelope: n·Σxy must fit a long — holds to ~9e18, e.g. 10⁹ rows
    of 10⁴-char docs; past that the rollup moves to decimal(38,0).

    Returns one row per group: ``(grp, n, cov_num, varx_num,
    vary_num, r_milli)``.

    Scale: ONE map-side-combinable aggregation over the scan — the
    cheapest statistic in the file; no window, no join, no second
    pass.
    """
    gcol = (
        F.col(group_col).cast("string").alias("grp")
        if group_col is not None
        else F.lit("all").alias("grp")
    )
    base = (
        df
        .where(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
        .select(
            gcol,
            F.col(x_col).cast("long").alias("_x"),
            F.col(y_col).cast("long").alias("_y"),
        )
    )
    a = base.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("_x").cast("long").alias("_sx"),
        F.sum("_y").cast("long").alias("_sy"),
        F.sum(F.col("_x") * F.col("_y")).cast("long").alias("_sxy"),
        F.sum(F.col("_x") * F.col("_x")).cast("long").alias("_sxx"),
        F.sum(F.col("_y") * F.col("_y")).cast("long").alias("_syy"),
    )
    cov = (F.col("n") * F.col("_sxy") - F.col("_sx") * F.col("_sy")).cast(
        "long"
    )
    varx = (F.col("n") * F.col("_sxx") - F.col("_sx") * F.col("_sx")).cast(
        "long"
    )
    vary = (F.col("n") * F.col("_syy") - F.col("_sy") * F.col("_sy")).cast(
        "long"
    )
    out = a.select(
        "grp",
        "n",
        cov.alias("cov_num"),
        varx.alias("varx_num"),
        vary.alias("vary_num"),
    )
    valid = (
        (F.col("n") >= 2)
        & (F.col("varx_num") > 0)
        & (F.col("vary_num") > 0)
    )
    # sqrt(varx)·sqrt(vary) can land one ulp ABOVE the true product,
    # flooring an exactly-linear group to 999 — so perfect correlation
    # (cov² == varx·vary, checked EXACTLY in decimal(38,0), safe to
    # |cov| ~ 9e18) short-circuits to ±1000 before any IEEE step.
    perfect = (
        F.col("cov_num").cast("decimal(38,0)") * F.col("cov_num")
        == F.col("varx_num").cast("decimal(38,0)") * F.col("vary_num")
    )
    return out.select(
        "grp",
        "n",
        "cov_num",
        "varx_num",
        "vary_num",
        F.when(
            valid & perfect,
            F.when(F.col("cov_num") >= 0, F.lit(1000)).otherwise(
                F.lit(-1000)
            ).cast("long"),
        )
        .when(
            valid,
            F.expr(
                "CAST(floor(1000.0 * CAST(cov_num AS DOUBLE)"
                " / (sqrt(CAST(varx_num AS DOUBLE))"
                "    * sqrt(CAST(vary_num AS DOUBLE)))) AS BIGINT)"
            ),
        )
        .alias("r_milli"),
    )


def cronbach_alpha(
    df: DataFrame,
    item_cols: Sequence[str],
) -> DataFrame:
    """Cronbach's alpha internal-consistency coefficient over a battery
    of k integer item scores per row — the reliability gate for a
    composite quality score: if the battery's items (length band,
    stopword density, repetition signal, ...) don't co-vary, their SUM
    is noise and every threshold tuned on it is fiction. Low alpha says
    "don't ship this composite"; the datacard question `woe_iv` and
    `threshold_calibration` both presuppose.

    alpha = k/(k−1) · (1 − Σᵢ Var(itemᵢ) / Var(Σᵢ itemᵢ)). Using the
    n²-scaled variance numerators ``v_i = n·Σx² − (Σx)²`` (exact
    longs, the `pearson_corr` moment algebra) the common scale cancels
    in the ratio, so the data pass is integer-exact; ``alpha_milli =
    floor(1000·(k/(k−1))·(1 − Σv_i / v_tot))`` is one fixed IEEE
    shape. n < 2 or zero total variance → NULL.

    Returns one row: ``(n, k, items_var_num, total_var_num,
    alpha_milli)``.

    Scale: ONE combinable aggregation computing every per-item moment
    and the row-sum moments in the same pass — no unpivot, no shuffle
    beyond the rollup; k widens the aggregate, never the row count.
    """
    k = len(item_cols)
    if k < 2:
        raise ValueError("cronbach_alpha needs at least 2 items")
    cond = F.lit(True)
    for c in item_cols:
        cond = cond & F.col(c).isNotNull()
    items = [F.col(c).cast("long") for c in item_cols]
    tot = items[0]
    for it in items[1:]:
        tot = tot + it
    base = df.where(cond).select(
        *[it.alias(f"_i{j}") for j, it in enumerate(items)],
        tot.cast("long").alias("_t"),
    )
    aggs = [F.count(F.lit(1)).cast("long").alias("n")]
    for j in range(k):
        c = F.col(f"_i{j}")
        aggs.append(F.sum(c).cast("long").alias(f"_s{j}"))
        aggs.append(F.sum(c * c).cast("long").alias(f"_q{j}"))
    aggs.append(F.sum("_t").cast("long").alias("_st"))
    aggs.append(
        F.sum(F.col("_t") * F.col("_t")).cast("long").alias("_qt")
    )
    a = base.agg(*aggs)
    iv = None
    for j in range(k):
        v = F.col("n") * F.col(f"_q{j}") - F.col(f"_s{j}") * F.col(f"_s{j}")
        iv = v if iv is None else iv + v
    tv = F.col("n") * F.col("_qt") - F.col("_st") * F.col("_st")
    out = a.select(
        "n",
        F.lit(k).cast("long").alias("k"),
        iv.cast("long").alias("items_var_num"),
        tv.cast("long").alias("total_var_num"),
    )
    return out.select(
        "n",
        "k",
        "items_var_num",
        "total_var_num",
        F.when(
            (F.col("n") >= 2) & (F.col("total_var_num") > 0),
            F.expr(
                f"CAST(floor(1000.0 * ({k}.0 / {k - 1}.0)"
                " * (1.0 - CAST(items_var_num AS DOUBLE)"
                "        / CAST(total_var_num AS DOUBLE))) AS BIGINT)"
            ),
        ).alias("alpha_milli"),
    )


def wasserstein_1d(
    df: DataFrame,
    group_col: str,
    score_col: str,
    group_a: str,
    group_b: str,
) -> DataFrame:
    """Exact 1-D Wasserstein-1 (earth mover's) distance between two
    groups' integer score distributions — the MAGNITUDE-of-shift
    complement of :func:`ks_test`'s max CDF gap: KS says the largest
    vertical divergence, W₁ integrates |F_a − F_b| over the score
    axis, so it is the average number of score units a document must
    MOVE to turn one distribution into the other. A length shift of
    +50 chars everywhere barely moves KS (one modest gap everywhere)
    but reads exactly 50 in W₁ — the statistic a re-crawl length
    audit actually wants.

    Exact integer cross-multiplication (the ``ks_test`` CDF
    machinery): at each distinct score s_t the scaled gap
    ``|n_b·cum_a − n_a·cum_b|`` is an integer; W₁'s integral is
    ``w1_num = Σ_t gap_t · (s_{t+1} − s_t)`` (exact long), and
    ``w1_milli = (1000·w1_num) div (n_a·n_b)`` — non-negative
    numerator, engine-identical truncation. Units: score units ×
    10⁻³. Either group empty → NULL. Envelope: gap ≤ n_a·n_b, so
    w1_num fits a long while n_a·n_b·range < 9e18 — e.g. two 10⁶-doc
    groups over a 10⁶-wide score axis; shard larger audits by facet.

    Scale: one combinable per-score rollup; the CDF window and the
    lead() run on the DISTINCT-score table. Returns one row:
    ``(n_a, n_b, w1_num, w1_milli)``.
    """
    from pyspark.sql import Window

    g = F.col(group_col)
    rows = df.where(
        g.isin([group_a, group_b]) & F.col(score_col).isNotNull()
    )
    per = rows.groupBy(F.col(score_col).cast("long").alias("_s")).agg(
        F.sum(F.when(g == group_a, 1).otherwise(0)).cast("long").alias("_ca"),
        F.sum(F.when(g == group_b, 1).otherwise(0)).cast("long").alias("_cb"),
    )
    w = Window.orderBy("_s").rowsBetween(Window.unboundedPreceding, 0)
    wlead = Window.orderBy("_s")
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = per.select(
        "_s",
        F.sum("_ca").over(w).alias("_cuma"),
        F.sum("_cb").over(w).alias("_cumb"),
        F.sum("_ca").over(wall).alias("_na"),
        F.sum("_cb").over(wall).alias("_nb"),
        F.lead("_s").over(wlead).alias("_next"),
    ).select(
        "_na",
        "_nb",
        (
            F.abs(
                F.col("_nb") * F.col("_cuma")
                - F.col("_na") * F.col("_cumb")
            )
            * F.coalesce(F.col("_next") - F.col("_s"), F.lit(0))
        )
        .cast("long")
        .alias("_contrib"),
    )
    return cum.agg(
        F.max("_na").cast("long").alias("n_a"),
        F.max("_nb").cast("long").alias("n_b"),
        F.sum("_contrib").cast("long").alias("w1_num"),
        F.when(
            (F.max("_na") > 0) & (F.max("_nb") > 0),
            F.expr("(1000 * sum(_contrib)) div (max(_na) * max(_nb))"),
        )
        .cast("long")
        .alias("w1_milli"),
    )


def fleiss_kappa(
    df: DataFrame,
    id_col: str,
    rater_cols: Sequence[str],
) -> DataFrame:
    """Fleiss' kappa — chance-corrected agreement among a FIXED panel
    of n ≥ 2 raters assigning one category each per subject: the
    multi-rater generalization `agreement_kappa` (Cohen, 2 raters)
    and `krippendorff_alpha` (missing-data-tolerant) bracket. The
    corpus use: k deterministic labeling heuristics (length band,
    langid variant, quality gate) vote per document; kappa says
    whether the panel agrees beyond what its marginal category rates
    guarantee — below ~0.4 the "ensemble" is noise.

    Integer-exact: with ``n_ij`` the raters placing subject i in
    category j, the data pass produces exact longs ``A = Σ_ij n_ij²``
    and ``B = Σ_j (Σ_i n_ij)²``; then ``P̄ = (A − N·n)/(N·n·(n−1))``,
    ``P_e = B/(N·n)²`` and ``kappa_milli = floor(1000·(P̄ − P_e)/(1 −
    P_e))`` is ONE fixed IEEE expression. Rows with ANY null rater
    vote are dropped (Fleiss requires complete panels — use
    Krippendorff when votes can be missing); P_e = 1 (every vote one
    category) → NULL.

    Returns one row: ``(n_subjects, n_raters, sum_nij_sq,
    cat_mass_sq, kappa_milli)``.

    Scale: the melt is a per-row array explode (no join), then ONE
    (subject, category) rollup — combinable — a category-keyed
    rollup of that small table, and two scalar aggs. Categories and
    raters are panel-sized; only the subject stream is big.
    """
    n = len(rater_cols)
    if n < 2:
        raise ValueError("fleiss_kappa needs at least 2 raters")
    cond = F.lit(True)
    for c in rater_cols:
        cond = cond & F.col(c).isNotNull()
    votes = (
        df
        .where(cond)
        .select(
            F.col(id_col).alias("_i"),
            F.explode(
                F.array(*[F.col(c).cast("string") for c in rater_cols])
            ).alias("_cat"),
        )
    )
    nij = votes.groupBy("_i", "_cat").agg(
        F.count(F.lit(1)).cast("long").alias("_c")
    )
    a = nij.agg(
        F.count_distinct("_i").cast("long").alias("n_subjects"),
        F.sum(F.col("_c") * F.col("_c")).cast("long").alias("sum_nij_sq"),
    )
    b = (
        nij.groupBy("_cat")
        .agg(F.sum("_c").cast("long").alias("_q"))
        .agg(
            F.sum(F.col("_q") * F.col("_q")).cast("long").alias("cat_mass_sq")
        )
    )
    out = a.crossJoin(F.broadcast(b)).select(
        "n_subjects",
        F.lit(n).cast("long").alias("n_raters"),
        "sum_nij_sq",
        "cat_mass_sq",
    )
    pbar = (
        "((CAST(sum_nij_sq AS DOUBLE) - CAST(n_subjects AS DOUBLE)"
        f" * {n}) / (CAST(n_subjects AS DOUBLE) * {n} * {n - 1}))"
    )
    pe = (
        "(CAST(cat_mass_sq AS DOUBLE)"
        f" / (CAST(n_subjects AS DOUBLE) * {n}"
        f"    * CAST(n_subjects AS DOUBLE) * {n}))"
    )
    return out.select(
        "n_subjects",
        "n_raters",
        "sum_nij_sq",
        "cat_mass_sq",
        F.when(
            (F.col("n_subjects") > 0)
            & (
                F.col("cat_mass_sq")
                < F.col("n_subjects") * n * F.col("n_subjects") * n
            ),
            F.expr(
                f"CAST(floor(1000.0 * ({pbar} - {pe})"
                f" / (1.0 - {pe})) AS BIGINT)"
            ),
        ).alias("kappa_milli"),
    )


def friedman_test(
    df: DataFrame,
    block_col: str,
    treatment_col: str,
    value_col: str,
) -> DataFrame:
    """Friedman test — the BLOCKED rank test completing the
    nonparametric family: `kruskal_wallis` compares independent
    groups; Friedman compares k treatments WITHIN matched blocks,
    removing between-block variation entirely. Corpus shape: blocks =
    sources (or crawl snapshots), treatments = languages (or pipeline
    variants), value = an integer per-cell rollup — "do languages
    rank consistently across sources, or is the apparent lang effect
    just source mix?"

    Cells with multiple rows are summed (document the rollup you
    mean); blocks missing any of the k global treatments are DROPPED
    (classic complete-block Friedman — the incomplete-design variants
    are a different statistic). Within each block the k cell values
    get integer DOUBLED midranks ``r2 = 2·rank_min + cnt_eq − 1``;
    with ``R2_j = Σ_blocks r2_ij`` the tie-corrected statistic is
    ``Q = (k−1)·S/D`` with exact long ``S = Σ_j (R2_j − n(k+1))²``
    and ``D = Σ_ij r2_ij² − n·k·(k+1)²`` (the doubled-rank scale
    cancels), floored once to ``q_milli``. D ≤ 0 (all values tied in
    every block) or k < 2 → NULL.

    Returns one row: ``(n_blocks, k, s_num, d_den, q_milli)``.

    Scale: one combinable (block, treatment) rollup over the scan;
    everything after runs on the cell table (blocks × k rows), whose
    within-block windows partition BY BLOCK — no global funnel. The
    treatment count k is a broadcast scalar.
    """
    cells = (
        df
        .where(
            F.col(block_col).isNotNull()
            & F.col(treatment_col).isNotNull()
            & F.col(value_col).isNotNull()
        )
        .groupBy(
            F.col(block_col).cast("string").alias("_b"),
            F.col(treatment_col).cast("string").alias("_t"),
        )
        .agg(F.sum(F.col(value_col).cast("long")).cast("long").alias("_v"))
    )
    kdf = cells.agg(F.count_distinct("_t").cast("long").alias("_k"))
    wb = Window.partitionBy("_b")
    complete = (
        cells.withColumn("_bk", F.count(F.lit(1)).over(wb))
        .crossJoin(F.broadcast(kdf))
        .where(F.col("_bk") == F.col("_k"))
    )
    wrank = Window.partitionBy("_b").orderBy("_v")
    weq = Window.partitionBy("_b", "_v")
    ranked = complete.select(
        "_b",
        "_t",
        "_k",
        (
            2 * F.rank().over(wrank) + F.count(F.lit(1)).over(weq) - 1
        )
        .cast("long")
        .alias("_r2"),
    )
    nb = ranked.agg(
        (F.count(F.lit(1)) / F.max("_k")).cast("long").alias("n_blocks"),
        F.max("_k").cast("long").alias("k"),
        F.sum(F.col("_r2") * F.col("_r2")).cast("long").alias("_sumsq"),
    )
    r2j = ranked.groupBy("_t").agg(F.sum("_r2").cast("long").alias("_R2"))
    s = (
        r2j.crossJoin(F.broadcast(nb))
        .select(
            (
                (F.col("_R2") - F.col("n_blocks") * (F.col("k") + 1))
                * (F.col("_R2") - F.col("n_blocks") * (F.col("k") + 1))
            )
            .cast("long")
            .alias("_d2")
        )
        .agg(F.sum("_d2").cast("long").alias("s_num"))
    )
    out = nb.crossJoin(F.broadcast(s)).select(
        "n_blocks",
        "k",
        "s_num",
        (
            F.col("_sumsq")
            - F.col("n_blocks")
            * F.col("k")
            * (F.col("k") + 1)
            * (F.col("k") + 1)
        )
        .cast("long")
        .alias("d_den"),
    )
    return out.select(
        "n_blocks",
        "k",
        "s_num",
        "d_den",
        F.when(
            (F.col("k") >= 2) & (F.col("d_den") > 0),
            F.expr(
                "CAST(floor(1000.0 * (k - 1) * CAST(s_num AS DOUBLE)"
                " / CAST(d_den AS DOUBLE)) AS BIGINT)"
            ),
        ).alias("q_milli"),
    )


def weighted_kappa(
    pairs: DataFrame,
    a_col: str,
    b_col: str,
    weight: str = "quadratic",
) -> DataFrame:
    """Weighted Cohen's kappa for ORDINAL labels — `agreement_kappa`
    treats "short vs medium" and "short vs long" as equally wrong;
    for graded scales (quality bands, star ratings, length tiers)
    near-misses should cost less. Disagreement weights ``v_ij =
    (i−j)²`` (quadratic — the variant that equals an ICC) or
    ``|i−j|`` (linear); labels must BE the ordinal integers.

        κ_w = 1 − Σ v_ij·O_ij / Σ v_ij·E_ij,   E_ij = ra_i·cb_j / N

    Closed integer form (the `agreement_kappa` discipline): with
    exact longs ``obs_w = Σ v·O`` and ``exp_w = Σ v·ra·cb`` the
    output is ``kappa_w_bp = 10000 − (10000·N·obs_w) div exp_w`` —
    non-negative numerators, no floats at all. ``exp_w = 0`` (all
    mass on one label for either rater, nothing to disagree about)
    → NULL. Envelope: 10000·N·obs_w must fit a long — with bands
    0..9, obs_w ≤ 81·N, so safe past N = 10¹².

    Returns one row: ``(n, n_cats, obs_weighted, exp_weighted,
    kappa_w_bp)``.

    Scale: one (a,b) cell rollup (combinable); marginals re-derived
    from the cell table; the weighted-expectation cross join runs on
    the two label-cardinality marginal tables — k² rows, driver
    trivia.
    """
    if weight not in ("quadratic", "linear"):
        raise ValueError(
            f"weight must be 'quadratic' or 'linear', got {weight!r}"
        )

    def v(i, j):
        d = F.abs(i - j)
        return (d * d) if weight == "quadratic" else d

    d = pairs.where(
        F.col(a_col).isNotNull() & F.col(b_col).isNotNull()
    ).select(
        F.col(a_col).cast("long").alias("_a"),
        F.col(b_col).cast("long").alias("_b"),
    )
    cells = d.groupBy("_a", "_b").agg(
        F.count(F.lit(1)).cast("long").alias("_o")
    )
    obs = cells.agg(
        F.sum("_o").cast("long").alias("n"),
        F.sum(v(F.col("_a"), F.col("_b")) * F.col("_o"))
        .cast("long")
        .alias("obs_weighted"),
    )
    ma = cells.groupBy("_a").agg(F.sum("_o").cast("long").alias("_ra"))
    mb = cells.groupBy("_b").agg(F.sum("_o").cast("long").alias("_cb"))
    nc = (
        cells.select(F.col("_a").alias("_k"))
        .union(cells.select("_b"))
        .distinct()
        .agg(F.count(F.lit(1)).cast("long").alias("n_cats"))
    )
    ex = ma.crossJoin(mb).agg(
        F.sum(v(F.col("_a"), F.col("_b")) * F.col("_ra") * F.col("_cb"))
        .cast("long")
        .alias("exp_weighted")
    )
    out = (
        obs.crossJoin(F.broadcast(nc))
        .crossJoin(F.broadcast(ex))
    )
    return out.select(
        "n",
        "n_cats",
        "obs_weighted",
        "exp_weighted",
        F.when(
            F.col("exp_weighted") > 0,
            F.lit(10000).cast("long")
            - F.expr("(10000 * n * obs_weighted) div exp_weighted"),
        )
        .cast("long")
        .alias("kappa_w_bp"),
    )


def mcc_eval(
    df: DataFrame,
    pred_col: str,
    truth_col: str,
) -> DataFrame:
    """Matthews correlation coefficient of a binary gate against
    truth — the single-number confusion summary that, unlike
    accuracy/F1 (`langid_eval`, `pr_curve`), stays honest under the
    class imbalance every corpus gate lives with (99% of pages pass;
    a gate that says "pass" always gets 99% accuracy and MCC 0).
    MCC is Pearson's r of the two binary indicators — the binary
    corner of `pearson_corr`.

    ``num = tp·tn − fp·fn`` and the four marginals are exact longs
    from ONE combinable rollup. Exactly like `pearson_corr`, the
    perfect case short-circuits: ``num² == (tp+fp)(tp+fn)(tn+fp)
    (tn+fn)`` compared in decimal(38,0) emits ±1000 before any IEEE
    step; otherwise ``mcc_milli = floor(1000·num / (√a·√b·√c·√d))``
    is one fixed shape. Any zero marginal (a degenerate gate or
    degenerate truth) → NULL. Envelope: the decimal comparison is
    exact while (a·b)·(c·d) < 10³⁸ — n up to ~3·10⁹ rows; beyond
    that the short-circuit silently disables (overflow → NULL
    condition → double branch) and the double path stands alone.

    Returns one row: ``(tp, fp, fn, tn, mcc_milli)``.
    """
    p = F.col(pred_col).cast("boolean")
    t = F.col(truth_col).cast("boolean")
    a = df.where(p.isNotNull() & t.isNotNull()).agg(
        F.sum(F.when(p & t, 1).otherwise(0)).cast("long").alias("tp"),
        F.sum(F.when(p & ~t, 1).otherwise(0)).cast("long").alias("fp"),
        F.sum(F.when(~p & t, 1).otherwise(0)).cast("long").alias("fn"),
        F.sum(F.when(~p & ~t, 1).otherwise(0)).cast("long").alias("tn"),
    )
    num = (F.col("tp") * F.col("tn") - F.col("fp") * F.col("fn")).cast(
        "long"
    )
    m1 = (F.col("tp") + F.col("fp")).cast("long")
    m2 = (F.col("tp") + F.col("fn")).cast("long")
    m3 = (F.col("tn") + F.col("fp")).cast("long")
    m4 = (F.col("tn") + F.col("fn")).cast("long")
    out = a.select(
        "tp", "fp", "fn", "tn",
        num.alias("_num"),
        m1.alias("_m1"), m2.alias("_m2"),
        m3.alias("_m3"), m4.alias("_m4"),
    )
    valid = (
        (F.col("_m1") > 0) & (F.col("_m2") > 0)
        & (F.col("_m3") > 0) & (F.col("_m4") > 0)
    )
    perfect = (
        F.col("_num").cast("decimal(38,0)") * F.col("_num")
        == (F.col("_m1").cast("decimal(38,0)") * F.col("_m2"))
        * (F.col("_m3").cast("decimal(38,0)") * F.col("_m4"))
    )
    return out.select(
        "tp", "fp", "fn", "tn",
        F.when(
            valid & perfect,
            F.when(F.col("_num") >= 0, F.lit(1000)).otherwise(
                F.lit(-1000)
            ).cast("long"),
        )
        .when(
            valid,
            F.expr(
                "CAST(floor(1000.0 * CAST(_num AS DOUBLE)"
                " / (sqrt(CAST(_m1 AS DOUBLE)) * sqrt(CAST(_m2 AS DOUBLE))"
                "    * sqrt(CAST(_m3 AS DOUBLE))"
                "    * sqrt(CAST(_m4 AS DOUBLE)))) AS BIGINT)"
            ),
        )
        .alias("mcc_milli"),
    )


def partial_corr(
    df: DataFrame,
    x_col: str,
    y_col: str,
    z_col: str,
    group_col: Optional[str] = None,
) -> DataFrame:
    """First-order partial correlation r_xy·z — `pearson_corr` with a
    confounder REMOVED: "does punctuation density track quality score
    after controlling for document length?" Raw pairwise r over a
    corpus is usually just length in disguise; the partial is the
    one-line fix before anyone ships a causal-sounding datacard
    claim.

    The closed form avoids ever forming the three r's: with the
    n-scaled moment numerators (exact longs, `pearson_corr` algebra)
    ``c_xy, c_xz, c_yz, v_x, v_y, v_z``,

        r_xy·z = (c_xy·v_z − c_xz·c_yz)
                 / (√(v_x·v_z − c_xz²) · √(v_y·v_z − c_yz²))

    — numerator and both radicands are EXACT products of two longs,
    computed in decimal(38,0) (Spark) / HUGEINT (the oracle), good to
    |c| ~ 10¹⁹; one final fixed IEEE shape floors to milli. The three
    raw milli-r's ride along for the datacard. Degenerate (n < 3 or a
    non-positive radicand — a zero-variance side or |r_xz| = 1) →
    NULL partial.

    Returns one row per group: ``(grp, n, r_xy_milli, r_xz_milli,
    r_yz_milli, r_partial_milli)``.

    Scale: ONE map-side-combinable rollup of ten integer moments —
    `pearson_corr`'s scan shape, nothing extra.
    """
    gcol = (
        F.col(group_col).cast("string").alias("grp")
        if group_col is not None
        else F.lit("all").alias("grp")
    )
    base = (
        df
        .where(
            F.col(x_col).isNotNull()
            & F.col(y_col).isNotNull()
            & F.col(z_col).isNotNull()
        )
        .select(
            gcol,
            F.col(x_col).cast("long").alias("_x"),
            F.col(y_col).cast("long").alias("_y"),
            F.col(z_col).cast("long").alias("_z"),
        )
    )
    a = base.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("_x").cast("long").alias("_sx"),
        F.sum("_y").cast("long").alias("_sy"),
        F.sum("_z").cast("long").alias("_sz"),
        F.sum(F.col("_x") * F.col("_y")).cast("long").alias("_sxy"),
        F.sum(F.col("_x") * F.col("_z")).cast("long").alias("_sxz"),
        F.sum(F.col("_y") * F.col("_z")).cast("long").alias("_syz"),
        F.sum(F.col("_x") * F.col("_x")).cast("long").alias("_sxx"),
        F.sum(F.col("_y") * F.col("_y")).cast("long").alias("_syy"),
        F.sum(F.col("_z") * F.col("_z")).cast("long").alias("_szz"),
    )
    d = a.select(
        "grp",
        "n",
        (F.col("n") * F.col("_sxy") - F.col("_sx") * F.col("_sy"))
        .cast("long")
        .alias("_cxy"),
        (F.col("n") * F.col("_sxz") - F.col("_sx") * F.col("_sz"))
        .cast("long")
        .alias("_cxz"),
        (F.col("n") * F.col("_syz") - F.col("_sy") * F.col("_sz"))
        .cast("long")
        .alias("_cyz"),
        (F.col("n") * F.col("_sxx") - F.col("_sx") * F.col("_sx"))
        .cast("long")
        .alias("_vx"),
        (F.col("n") * F.col("_syy") - F.col("_sy") * F.col("_sy"))
        .cast("long")
        .alias("_vy"),
        (F.col("n") * F.col("_szz") - F.col("_sz") * F.col("_sz"))
        .cast("long")
        .alias("_vz"),
    )

    def r_milli(c, va, vb):
        return F.when(
            (F.col(va) > 0) & (F.col(vb) > 0),
            F.expr(
                f"CAST(floor(1000.0 * CAST({c} AS DOUBLE)"
                f" / (sqrt(CAST({va} AS DOUBLE))"
                f"    * sqrt(CAST({vb} AS DOUBLE)))) AS BIGINT)"
            ),
        )

    dec = "decimal(38,0)"
    num = (
        F.col("_cxy").cast(dec) * F.col("_vz")
        - F.col("_cxz").cast(dec) * F.col("_cyz")
    )
    rad1 = (
        F.col("_vx").cast(dec) * F.col("_vz")
        - F.col("_cxz").cast(dec) * F.col("_cxz")
    )
    rad2 = (
        F.col("_vy").cast(dec) * F.col("_vz")
        - F.col("_cyz").cast(dec) * F.col("_cyz")
    )
    d2 = d.withColumn("_num", num).withColumn("_r1", rad1).withColumn(
        "_r2", rad2
    )
    return d2.select(
        "grp",
        "n",
        r_milli("_cxy", "_vx", "_vy").alias("r_xy_milli"),
        r_milli("_cxz", "_vx", "_vz").alias("r_xz_milli"),
        r_milli("_cyz", "_vy", "_vz").alias("r_yz_milli"),
        F.when(
            (F.col("n") >= 3) & (F.col("_r1") > 0) & (F.col("_r2") > 0),
            F.expr(
                "CAST(floor(1000.0 * CAST(_num AS DOUBLE)"
                " / (sqrt(CAST(_r1 AS DOUBLE))"
                "    * sqrt(CAST(_r2 AS DOUBLE)))) AS BIGINT)"
            ),
        ).alias("r_partial_milli"),
    )


def icc_oneway(
    df: DataFrame,
    value_col: str,
    group_col: str,
) -> DataFrame:
    """One-way random-effects intraclass correlation ICC(1) — "what
    fraction of doc-length variance lives BETWEEN hosts?" The
    clustering-strength number behind `weight_ess`'s design effect
    and every "should I stratify by host" decision: ICC near 0 means
    hosts are interchangeable; ICC near 1 means host identity IS the
    signal and host-level sampling drives the variance budget.

    Reuses `anova_oneway`'s exact machinery verbatim: per-group
    integer moments, micro-floored SS terms; the unbalanced-design
    group size ``n0 = (N − Σn_g²/N)/(G−1)`` adds one more exact long
    (Σn_g²). ``icc_milli = floor(1000·(MSB − MSW)/(MSB + (n0−1)·
    MSW))`` is one fixed IEEE expression over the integer sums
    (Fisher's classic estimator; can be < 0 by sampling noise, left
    visible). Degenerate (G < 2, N ≤ G, zero denominator) → NULL.

    Returns one row: ``(k, n, ssb_micro, ssw_micro, sum_nsq,
    icc_milli)``.

    Scale: identical to `anova_oneway` — one combinable rollup, SS
    algebra on the k-row table.
    """
    g = (
        df
        .where(F.col(group_col).isNotNull() & F.col(value_col).isNotNull())
        .select(
            F.col(group_col).cast("string").alias("grp"),
            F.col(value_col).cast("long").alias("_v"),
        )
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("_n"),
            F.sum("_v").cast("long").alias("_s"),
            F.sum(F.col("_v") * F.col("_v")).cast("long").alias("_s2"),
        )
    )
    terms = g.select(
        "_n",
        "_s",
        "_s2",
        F.expr(
            "CAST(floor(1000000.0 * (CAST(_s AS DOUBLE) * _s / _n))"
            " AS BIGINT)"
        ).alias("_ssb_t"),
        F.expr(
            "CAST(floor(1000000.0 * (_s2 - CAST(_s AS DOUBLE) * _s / _n))"
            " AS BIGINT)"
        ).alias("_ssw_t"),
    )
    agg = terms.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("_n").cast("long").alias("n"),
        F.sum("_s").cast("long").alias("_ts"),
        F.sum(F.col("_n") * F.col("_n")).cast("long").alias("sum_nsq"),
        F.sum("_ssb_t").cast("long").alias("_ssb_sum"),
        F.sum("_ssw_t").cast("long").alias("ssw_micro"),
    )
    out = agg.select(
        "k",
        "n",
        (
            F.col("_ssb_sum")
            - F.expr(
                "CAST(floor(1000000.0 * (CAST(_ts AS DOUBLE) * _ts / n))"
                " AS BIGINT)"
            )
        )
        .cast("long")
        .alias("ssb_micro"),
        "ssw_micro",
        "sum_nsq",
    )
    msb = "(CAST(ssb_micro AS DOUBLE) / 1000000.0 / (k - 1))"
    msw = "(CAST(ssw_micro AS DOUBLE) / 1000000.0 / (n - k))"
    n0 = (
        "((CAST(n AS DOUBLE) - CAST(sum_nsq AS DOUBLE) / n)"
        " / (CAST(k AS DOUBLE) - 1))"
    )
    den = f"({msb} + ({n0} - 1.0) * {msw})"
    return out.select(
        "k",
        "n",
        "ssb_micro",
        "ssw_micro",
        "sum_nsq",
        F.when(
            (F.col("k") >= 2)
            & (F.col("n") > F.col("k"))
            & (F.expr(den) > 0),
            F.expr(
                f"CAST(floor(1000.0 * ({msb} - {msw}) / {den}) AS BIGINT)"
            ),
        ).alias("icc_milli"),
    )


def cmh_test(
    df: DataFrame,
    stratum_col: str,
    exposure_col: str,
    outcome_col: str,
) -> DataFrame:
    """Cochran–Mantel–Haenszel test of exposure↔outcome association
    ACROSS strata, plus the Mantel–Haenszel common odds ratio — the
    confounding-aware version of `contingency_chi2`'s pooled 2×2:
    pooling "lang → long-doc rate" over sources invites Simpson's
    paradox; CMH tests the association WITHIN each source and
    combines. The per-stratum 2×2s are (exposure, outcome) booleans.

    Per stratum (kept when n_i ≥ 2; smaller strata carry no
    information and an undefined variance): exact integer ``a_i``
    and micro-floored fixed-shape terms (the `logrank_test`
    discipline) for ``E_i = r1·c1/n`` and ``V_i = r1·r2·c1·c2/
    (n²(n−1))``; ``cmh_milli = floor(1000·(Σa − ΣE)²/ΣV)`` (no
    continuity correction — at corpus n it is noise). The MH odds
    ratio pools ``floor(10⁶·a·d/n)`` over ``floor(10⁶·b·c/n)``:
    ``or_milli = (1000·Σad) div Σbc`` — integer div, non-negative.
    ΣV = 0 → NULL test; Σbc = 0 → NULL odds ratio.

    Returns one row: ``(n_strata, n_total, sum_a, exp_micro,
    var_micro, or_milli, cmh_milli)``.

    Scale: ONE combinable (stratum) rollup computing all four cell
    counts; everything else on the strata-sized table.
    """
    e = F.col(exposure_col).cast("boolean")
    o = F.col(outcome_col).cast("boolean")
    per = (
        df
        .where(
            F.col(stratum_col).isNotNull()
            & e.isNotNull()
            & o.isNotNull()
        )
        .groupBy(F.col(stratum_col).alias("_s"))
        .agg(
            F.sum(F.when(e & o, 1).otherwise(0)).cast("long").alias("_a"),
            F.sum(F.when(e & ~o, 1).otherwise(0)).cast("long").alias("_b"),
            F.sum(F.when(~e & o, 1).otherwise(0)).cast("long").alias("_c"),
            F.sum(F.when(~e & ~o, 1).otherwise(0)).cast("long").alias("_d"),
        )
        .withColumn(
            "_n",
            (
                F.col("_a") + F.col("_b") + F.col("_c") + F.col("_d")
            ).cast("long"),
        )
        .where(F.col("_n") >= 2)
    )
    terms = per.select(
        "_a",
        "_n",
        F.expr(
            "CAST(floor(1000000.0 * CAST((_a + _b) AS DOUBLE)"
            " * (_a + _c) / _n) AS BIGINT)"
        ).alias("_e"),
        F.expr(
            "CAST(floor(1000000.0 * CAST((_a + _b) AS DOUBLE)"
            " * (_c + _d) * (_a + _c) * (_b + _d)"
            " / (CAST(_n AS DOUBLE) * _n * (_n - 1))) AS BIGINT)"
        ).alias("_v"),
        F.expr(
            "CAST(floor(1000000.0 * CAST(_a AS DOUBLE) * _d / _n)"
            " AS BIGINT)"
        ).alias("_ad"),
        F.expr(
            "CAST(floor(1000000.0 * CAST(_b AS DOUBLE) * _c / _n)"
            " AS BIGINT)"
        ).alias("_bc"),
    )
    agg = terms.agg(
        F.count(F.lit(1)).cast("long").alias("n_strata"),
        F.sum("_n").cast("long").alias("n_total"),
        F.sum("_a").cast("long").alias("sum_a"),
        F.sum("_e").cast("long").alias("exp_micro"),
        F.sum("_v").cast("long").alias("var_micro"),
        F.sum("_ad").cast("long").alias("_sad"),
        F.sum("_bc").cast("long").alias("_sbc"),
    )
    diff = (
        "(CAST(sum_a AS DOUBLE) - CAST(exp_micro AS DOUBLE) / 1000000.0)"
    )
    return agg.select(
        "n_strata",
        "n_total",
        "sum_a",
        "exp_micro",
        "var_micro",
        F.when(
            F.col("_sbc") > 0,
            F.expr("(1000 * _sad) div _sbc"),
        )
        .cast("long")
        .alias("or_milli"),
        F.when(
            F.col("var_micro") > 0,
            F.expr(
                f"CAST(floor(1000.0 * {diff} * {diff}"
                " / (CAST(var_micro AS DOUBLE) / 1000000.0)) AS BIGINT)"
            ),
        ).alias("cmh_milli"),
    )


def page_trend(
    df: DataFrame,
    block_col: str,
    treatment_col: str,
    value_col: str,
) -> DataFrame:
    """Page's L test — `friedman_test`'s DIRECTIONAL sibling: Friedman
    asks "do the k treatments differ at all within blocks?"; Page asks
    "do they trend in THIS order?" (treatments ordered by ascending
    label — make the labels encode the hypothesis: crawl epochs,
    size tiers, pipeline versions). Far more powerful than Friedman
    when the alternative really is monotone.

    Reuses the Friedman machinery verbatim (complete blocks, integer
    doubled midranks): ``L2 = Σ_j j·R2_j`` is an exact long with
    ``E[L2] = n·k·(k+1)²/2``; the no-ties null variance gives
    ``z_milli = floor(6000·(L2 − E2)/sqrt(var144))`` with ``var144 =
    n·k²·(k+1)²·(k−1)`` (= 144·Var[L]; with ties this z is slightly
    conservative — documented, standard practice). k < 2 or var144
    ≤ 0 → NULL.

    Returns one row: ``(n_blocks, k, l2_stat, e2_stat, var144,
    z_milli)``.

    Scale: identical to `friedman_test` — one combinable cell
    rollup, block-partitioned windows on the cell table.
    """
    cells = (
        df
        .where(
            F.col(block_col).isNotNull()
            & F.col(treatment_col).isNotNull()
            & F.col(value_col).isNotNull()
        )
        .groupBy(
            F.col(block_col).cast("string").alias("_b"),
            F.col(treatment_col).cast("string").alias("_t"),
        )
        .agg(F.sum(F.col(value_col).cast("long")).cast("long").alias("_v"))
    )
    kdf = cells.agg(F.count_distinct("_t").cast("long").alias("_k"))
    wb = Window.partitionBy("_b")
    complete = (
        cells.withColumn("_bk", F.count(F.lit(1)).over(wb))
        .crossJoin(F.broadcast(kdf))
        .where(F.col("_bk") == F.col("_k"))
    )
    wrank = Window.partitionBy("_b").orderBy("_v")
    weq = Window.partitionBy("_b", "_v")
    ranked = complete.select(
        "_b",
        "_t",
        "_k",
        (2 * F.rank().over(wrank) + F.count(F.lit(1)).over(weq) - 1)
        .cast("long")
        .alias("_r2"),
    )
    r2j = ranked.groupBy("_t").agg(
        F.sum("_r2").cast("long").alias("_R2"),
        (F.count(F.lit(1))).cast("long").alias("_nb"),
    )
    wj = Window.orderBy("_t")
    l2 = r2j.select(
        (F.row_number().over(wj).cast("long") * F.col("_R2")).alias("_jr"),
        "_nb",
    ).agg(
        F.sum("_jr").cast("long").alias("l2_stat"),
        F.max("_nb").cast("long").alias("n_blocks"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    out = l2.select(
        "n_blocks",
        "k",
        "l2_stat",
        (
            F.col("n_blocks")
            * F.col("k")
            * (F.col("k") + 1)
            * (F.col("k") + 1)
        )
        .cast("long")
        .alias("e2_stat")
        .alias("e2_stat"),
        (
            F.col("n_blocks")
            * F.col("k")
            * F.col("k")
            * (F.col("k") + 1)
            * (F.col("k") + 1)
            * (F.col("k") - 1)
        )
        .cast("long")
        .alias("var144"),
    )
    return out.select(
        "n_blocks",
        "k",
        "l2_stat",
        F.expr("CAST(e2_stat div 2 AS BIGINT)").alias("e2_stat"),
        "var144",
        F.when(
            (F.col("k") >= 2) & (F.col("var144") > 0),
            F.expr(
                "CAST(floor(6000.0 * CAST(l2_stat - e2_stat div 2"
                " AS DOUBLE) / sqrt(CAST(var144 AS DOUBLE))) AS BIGINT)"
            ),
        ).alias("z_milli"),
    )


def pot_tail_fit(
    df: DataFrame,
    value_col: str,
    threshold: int,
) -> DataFrame:
    """Peaks-over-threshold GPD fit by the method of moments — the
    parametric step after `tail_index`'s Hill slope: model the doc
    lengths (bytes, token counts) ABOVE a threshold as generalized
    Pareto, so "how big is the 1-in-10⁹ document" has a number before
    one arrives and OOMs an executor. ξ > 0 is the heavy-tail regime
    (Hill's territory), ξ < 0 a bounded tail; the mean-excess rides
    along (its linearity in u is the classic GPD diagnostic).

    Hosking–Wallis moment estimators over the exceedances y = v − u:
    ``ξ̂ = ½(1 − m²/s²)``, ``σ̂ = ½·m·(1 + m²/s²)`` with the SAMPLE
    variance. Exact integer sums (the `pearson_corr` algebra): with
    ``S = Σy``, ``varnum = n·Σy² − S²``, the ratio ``m²/s² =
    S²(n−1)/(n·varnum)`` is ONE fixed IEEE shape; each output floors
    once to milli. n < 2 or zero variance → NULL fit (mean excess
    still reported for n ≥ 1).

    Returns one row: ``(n, n_exceed, exceed_ppm, mean_excess_milli,
    xi_milli, sigma_milli)``.

    Scale: one combinable rollup with a pushed-down ``v > u`` scan
    predicate — the exceedance set is tiny by construction.
    """
    v = F.col(value_col).cast("long")
    base = df.where(v.isNotNull()).select(
        v.alias("_v")
    )
    tot = base.agg(F.count(F.lit(1)).cast("long").alias("n"))
    exc = base.where(F.col("_v") > int(threshold)).select(
        (F.col("_v") - int(threshold)).alias("_y")
    )
    a = exc.agg(
        F.count(F.lit(1)).cast("long").alias("n_exceed"),
        F.coalesce(F.sum("_y"), F.lit(0)).cast("long").alias("_s"),
        F.coalesce(F.sum(F.col("_y") * F.col("_y")), F.lit(0))
        .cast("long")
        .alias("_s2"),
    )
    out = tot.crossJoin(F.broadcast(a)).select(
        "n",
        "n_exceed",
        F.expr("(1000000 * n_exceed) div n").cast("long").alias(
            "exceed_ppm"
        ),
        F.when(
            F.col("n_exceed") > 0,
            F.expr("(1000 * _s) div n_exceed"),
        )
        .cast("long")
        .alias("mean_excess_milli"),
        (
            F.col("n_exceed") * F.col("_s2") - F.col("_s") * F.col("_s")
        )
        .cast("long")
        .alias("_varnum"),
        F.col("_s").alias("_ss"),
    )
    ratio = (
        "(CAST(_ss AS DOUBLE) * _ss * (n_exceed - 1)"
        " / (CAST(n_exceed AS DOUBLE) * _varnum))"
    )
    return out.select(
        "n",
        "n_exceed",
        "exceed_ppm",
        "mean_excess_milli",
        F.when(
            (F.col("n_exceed") >= 2) & (F.col("_varnum") > 0),
            F.expr(
                f"CAST(floor(1000.0 * 0.5 * (1.0 - {ratio})) AS BIGINT)"
            ),
        ).alias("xi_milli"),
        F.when(
            (F.col("n_exceed") >= 2) & (F.col("_varnum") > 0),
            F.expr(
                "CAST(floor(1000.0 * 0.5"
                " * (CAST(_ss AS DOUBLE) / n_exceed)"
                f" * (1.0 + {ratio})) AS BIGINT)"
            ),
        ).alias("sigma_milli"),
    )


def capture_recapture(
    df: DataFrame,
    flag_a_col: str,
    flag_b_col: str,
) -> DataFrame:
    """Chapman capture–recapture estimate of a hidden population from
    two independent detectors — the dedup-coverage question neither
    detector can answer alone: MinHash flags n_a near-dup docs, the
    prefix-hash pass flags n_b, they overlap on m; if the detectors
    are (roughly) independent, the TOTAL near-dup population is about
    ``(n_a+1)(n_b+1)/(m+1) − 1`` (Chapman's bias-corrected
    Lincoln–Petersen), and est − max(n_a, n_b) of them are escaping
    BOTH passes. The honesty metric for any "we removed the
    duplicates" claim.

    ``chapman_est`` is EXACT integer arithmetic (one div, +1s keep it
    defined at m = 0); the Seber standard error
    ``√((n_a+1)(n_b+1)(n_a−m)(n_b−m)/((m+1)²(m+2)))`` is one fixed
    IEEE shape floored to milli.

    Returns one row: ``(n_rows, n_a, n_b, n_both, chapman_est,
    se_milli)``.

    Scale: ONE combinable boolean rollup over the scan.
    """
    fa = F.col(flag_a_col).cast("boolean")
    fb = F.col(flag_b_col).cast("boolean")
    a = (
        df
        .where(fa.isNotNull() & fb.isNotNull())
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.when(fa, 1).otherwise(0)).cast("long").alias("n_a"),
            F.sum(F.when(fb, 1).otherwise(0)).cast("long").alias("n_b"),
            F.sum(F.when(fa & fb, 1).otherwise(0))
            .cast("long")
            .alias("n_both"),
        )
    )
    return a.select(
        "n_rows",
        "n_a",
        "n_b",
        "n_both",
        F.expr(
            "((n_a + 1) * (n_b + 1)) div (n_both + 1) - 1"
        )
        .cast("long")
        .alias("chapman_est"),
        F.expr(
            "CAST(floor(1000.0 * sqrt("
            "CAST(n_a + 1 AS DOUBLE) * (n_b + 1)"
            " * (n_a - n_both) * (n_b - n_both)"
            " / (CAST(n_both + 1 AS DOUBLE) * (n_both + 1)"
            "    * (n_both + 2)))) AS BIGINT)"
        ).alias("se_milli"),
    )


def bh_fdr(
    df: DataFrame,
    p_col: str,
    alpha_milli: int = 50,
) -> DataFrame:
    """Benjamini–Hochberg FDR threshold over a table of milli-scale
    p-values — the multiplicity gate this library's own test battery
    needs: run `gate_rate_ztest` / `contingency_chi2` / `benford`
    over 10⁴ hosts and 500 of them are "significant" at α=0.05 by
    luck alone; BH picks the largest p* with ``p_(i) ≤ α·i/m`` so
    the EXPECTED false-discovery fraction stays at α.

    Pure integers: for each distinct p, ``cum = #items ≤ p`` IS the
    largest rank carrying that p, so the BH condition is the exact
    integer comparison ``p·m ≤ α·cum`` (milli × count — fits a long
    to m ~ 9·10¹²); the threshold is the max qualifying p and
    ``n_rejected`` its cum. No per-row window — the scan rolls up to
    distinct p values first (p is milli-quantized, so ≤ 1001 of them
    under any α worth using).

    Returns one row: ``(m, alpha_milli, n_rejected,
    p_threshold_milli)`` — zero rejections → 0 / NULL threshold.

    Scale: one combinable p-rollup; the cumulative window runs on
    the ≤1001-row distinct-p table.
    """
    if not 0 < alpha_milli <= 1000:
        raise ValueError(
            f"alpha_milli must be in (0, 1000], got {alpha_milli}"
        )
    per = (
        df
        .where(F.col(p_col).isNotNull())
        .groupBy(F.col(p_col).cast("long").alias("_p"))
        .agg(F.count(F.lit(1)).cast("long").alias("_c"))
    )
    w = Window.orderBy("_p").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = per.select(
        "_p",
        F.sum("_c").over(w).alias("_cum"),
        F.sum("_c").over(wall).alias("_m"),
    )
    ok = cum.where(
        F.col("_p") * F.col("_m") <= int(alpha_milli) * F.col("_cum")
    )
    thr = ok.agg(
        F.max("_p").cast("long").alias("p_threshold_milli"),
        F.max("_cum").cast("long").alias("_nrej"),
    )
    m = cum.agg(F.max("_m").cast("long").alias("m"))
    return m.crossJoin(F.broadcast(thr)).select(
        "m",
        F.lit(int(alpha_milli)).cast("long").alias("alpha_milli"),
        F.coalesce("_nrej", F.lit(0)).cast("long").alias("n_rejected"),
        "p_threshold_milli",
    )


def poisson_rate_test(
    df: DataFrame,
    group_col: str,
    group_a: str,
    group_b: str,
    exposure_a: int = 1,
    exposure_b: int = 1,
) -> DataFrame:
    """Two-sample Poisson rate comparison by the exact-conditional
    (binomial) z — "did the crawl rate really change between these
    two windows/configs?" Conditional on the total K = k_a + k_b,
    under equal rates k_a ~ Binomial(K, w) with ``w = t_a/(t_a+t_b)``
    — the uniformly-most-powerful construction, no Poisson variance
    estimate needed (the `gate_rate_ztest` of count data).

    ``z_milli = floor(1000·(k_a − K·w)/√(K·w·(1−w)))`` is ONE fixed
    IEEE shape over exact integer counts and exposure literals; the
    rate ratio ``(k_a/t_a)/(k_b/t_b)`` pools to the exact integer
    div ``(1000·k_a·t_b) div (k_b·t_a)``. K = 0 → NULL z; k_b = 0 →
    NULL ratio.

    Returns one row: ``(k_a, k_b, exposure_a, exposure_b,
    rate_ratio_milli, z_milli)``.

    Scale: ONE combinable conditional-count rollup over the scan.
    """
    if exposure_a < 1 or exposure_b < 1:
        raise ValueError("exposures must be positive integers")
    g = F.col(group_col)
    a = (
        df
        .where(g.isin([group_a, group_b]))
        .agg(
            F.sum(F.when(g == group_a, 1).otherwise(0))
            .cast("long")
            .alias("k_a"),
            F.sum(F.when(g == group_b, 1).otherwise(0))
            .cast("long")
            .alias("k_b"),
        )
    )
    ta, tb = int(exposure_a), int(exposure_b)
    w = f"(CAST({ta} AS DOUBLE) / ({ta} + {tb}))"
    return a.select(
        "k_a",
        "k_b",
        F.lit(ta).cast("long").alias("exposure_a"),
        F.lit(tb).cast("long").alias("exposure_b"),
        F.when(
            F.col("k_b") > 0,
            F.expr(f"(1000 * k_a * {tb}) div (k_b * {ta})"),
        )
        .cast("long")
        .alias("rate_ratio_milli"),
        F.when(
            (F.col("k_a") + F.col("k_b")) > 0,
            F.expr(
                "CAST(floor(1000.0"
                f" * (k_a - (k_a + k_b) * {w})"
                f" / sqrt((k_a + k_b) * {w} * (1.0 - {w})))"
                " AS BIGINT)"
            ),
        ).alias("z_milli"),
    )


def welch_t(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a: str,
    group_b: str,
) -> DataFrame:
    """Welch's unequal-variance two-sample t — the default two-group
    mean test (Student's equal-variance form is never safe on web
    text, where one source's length variance is 100× another's):
    ``t = (m_a − m_b)/√(s²_a/n_a + s²_b/n_b)`` with the
    Welch–Satterthwaite degrees of freedom. The TEST companion to
    `cohens_d`'s effect SIZE over the same moments.

    One combinable rollup yields exact longs (n, Σx, Σx²) per group;
    the sample-variance-over-n terms ``u_g = varnum_g/(n_g²(n_g−1))``
    (with ``varnum = n·Σx² − (Σx)²``) feed ONE fixed IEEE shape each
    for ``t_milli``, ``df_milli`` and ``mean_diff_milli``. n < 2 on
    either side or both variances zero → NULL t.

    Returns one row: ``(n_a, n_b, mean_diff_milli, t_milli,
    df_milli)``.

    Scale: one conditional-agg scan rollup; everything else is
    scalar.
    """
    g = F.col(group_col)
    a = (
        df
        .where(g.isin([group_a, group_b]) & F.col(value_col).isNotNull())
        .agg(
            F.sum(F.when(g == group_a, 1).otherwise(0))
            .cast("long")
            .alias("n_a"),
            F.sum(F.when(g == group_a, F.col(value_col)).otherwise(0))
            .cast("long")
            .alias("_sa"),
            F.sum(
                F.when(
                    g == group_a,
                    F.col(value_col) * F.col(value_col),
                ).otherwise(0)
            )
            .cast("long")
            .alias("_qa"),
            F.sum(F.when(g == group_b, 1).otherwise(0))
            .cast("long")
            .alias("n_b"),
            F.sum(F.when(g == group_b, F.col(value_col)).otherwise(0))
            .cast("long")
            .alias("_sb"),
            F.sum(
                F.when(
                    g == group_b,
                    F.col(value_col) * F.col(value_col),
                ).otherwise(0)
            )
            .cast("long")
            .alias("_qb"),
        )
    )
    va = "(CAST(n_a AS DOUBLE) * _qa - CAST(_sa AS DOUBLE) * _sa)"
    vb = "(CAST(n_b AS DOUBLE) * _qb - CAST(_sb AS DOUBLE) * _sb)"
    ua = f"({va} / (CAST(n_a AS DOUBLE) * n_a * (n_a - 1)))"
    ub = f"({vb} / (CAST(n_b AS DOUBLE) * n_b * (n_b - 1)))"
    diff = "(CAST(_sa AS DOUBLE) / n_a - CAST(_sb AS DOUBLE) / n_b)"
    valid = (
        (F.col("n_a") >= 2)
        & (F.col("n_b") >= 2)
        & (F.expr(f"{ua} + {ub}") > 0)
    )
    return a.select(
        "n_a",
        "n_b",
        F.when(
            (F.col("n_a") > 0) & (F.col("n_b") > 0),
            F.expr(f"CAST(floor(1000.0 * {diff}) AS BIGINT)"),
        ).alias("mean_diff_milli"),
        F.when(
            valid,
            F.expr(
                f"CAST(floor(1000.0 * {diff}"
                f" / sqrt({ua} + {ub})) AS BIGINT)"
            ),
        ).alias("t_milli"),
        F.when(
            valid,
            F.expr(
                f"CAST(floor(1000.0 * ({ua} + {ub}) * ({ua} + {ub})"
                f" / ({ua} * {ua} / (n_a - 1)"
                f"    + {ub} * {ub} / (n_b - 1))) AS BIGINT)"
            ),
        ).alias("df_milli"),
    )


def tukey_pairs(
    df: DataFrame,
    value_col: str,
    group_col: str,
) -> DataFrame:
    """Tukey-HSD-style pairwise studentized ranges after
    `anova_oneway` fires — WHICH language pairs differ in mean, using
    the POOLED within-group variance every pairwise Welch test
    re-estimates noisily: ``q = |m_i − m_j| / √(MSW/2·(1/n_i +
    1/n_j))`` (Tukey–Kramer for unbalanced groups). The parametric
    sibling of `dunn_pairwise` (which post-hocs Kruskal–Wallis).

    MSW comes from `anova_oneway`'s micro-floored within-SS terms —
    same integers, same discipline; each pair's q is ONE fixed IEEE
    shape floored to milli. Compare against the studentized-range
    critical value for (k, N−k) offline; the statistic table is the
    deliverable. Zero MSW or N ≤ k → NULL q's.

    Returns one row per pair (grp_a < grp_b): ``(grp_a, grp_b, n_a,
    n_b, mean_diff_milli, q_milli)``.

    Scale: the `anova_oneway` rollup plus a k-row pairwise self-join.
    """
    g = (
        df
        .where(F.col(group_col).isNotNull() & F.col(value_col).isNotNull())
        .select(
            F.col(group_col).cast("string").alias("grp"),
            F.col(value_col).cast("long").alias("_v"),
        )
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("_n"),
            F.sum("_v").cast("long").alias("_s"),
            F.sum(F.col("_v") * F.col("_v")).cast("long").alias("_s2"),
        )
    )
    terms = g.select(
        "grp",
        "_n",
        "_s",
        F.expr(
            "CAST(floor(1000000.0 * (_s2 - CAST(_s AS DOUBLE) * _s / _n))"
            " AS BIGINT)"
        ).alias("_ssw_t"),
    )
    tot = terms.agg(
        F.count(F.lit(1)).cast("long").alias("_k"),
        F.sum("_n").cast("long").alias("_nn"),
        F.sum("_ssw_t").cast("long").alias("_ssw"),
    )
    l = terms.select(
        F.col("grp").alias("grp_a"),
        F.col("_n").alias("n_a"),
        F.col("_s").alias("_sa"),
    )
    r = terms.select(
        F.col("grp").alias("grp_b"),
        F.col("_n").alias("n_b"),
        F.col("_s").alias("_sb"),
    )
    pairs = l.join(r, F.col("grp_a") < F.col("grp_b")).crossJoin(
        F.broadcast(tot)
    )
    msw = "(CAST(_ssw AS DOUBLE) / 1000000.0 / (_nn - _k))"
    diff = "(CAST(_sa AS DOUBLE) / n_a - CAST(_sb AS DOUBLE) / n_b)"
    return pairs.select(
        "grp_a",
        "grp_b",
        "n_a",
        "n_b",
        F.expr(f"CAST(floor(1000.0 * {diff}) AS BIGINT)").alias(
            "mean_diff_milli"
        ),
        F.when(
            (F.col("_nn") > F.col("_k")) & (F.col("_ssw") > 0),
            F.expr(
                f"CAST(floor(1000.0 * abs({diff})"
                f" / sqrt({msw} / 2.0"
                " * (1.0 / n_a + 1.0 / n_b))) AS BIGINT)"
            ),
        ).alias("q_milli"),
    )


def tost_equivalence(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a: str,
    group_b: str,
    delta_milli: int,
) -> DataFrame:
    """TOST equivalence test — the question a regression gate
    actually asks, which `welch_t` cannot: not "is there a
    difference?" but "is the difference WITHIN ±δ?" A non-significant
    t is silence, not equivalence; TOST's two one-sided tests
    (``t_lower`` against −δ, ``t_upper`` against +δ) make
    "pipeline B equals pipeline A to within δ chars" a positive,
    falsifiable claim.

    Same moments and Welch SE as `welch_t` (one rollup, fixed IEEE
    shapes, milli floors); δ arrives in milli value-units.
    ``equiv_95`` gates both one-sided stats at the large-sample
    normal 1.645 (documented approximation — at corpus n the t/normal
    gap is dust; use df_milli from `welch_t` when n is small). Zero
    SE → NULL stats.

    Returns one row: ``(n_a, n_b, diff_milli, se_milli, delta_milli,
    t_lower_milli, t_upper_milli, equiv_95)``.
    """
    if delta_milli <= 0:
        raise ValueError(f"delta_milli must be positive, got {delta_milli}")
    g = F.col(group_col)
    a = (
        df
        .where(g.isin([group_a, group_b]) & F.col(value_col).isNotNull())
        .agg(
            F.sum(F.when(g == group_a, 1).otherwise(0))
            .cast("long")
            .alias("n_a"),
            F.sum(F.when(g == group_a, F.col(value_col)).otherwise(0))
            .cast("long")
            .alias("_sa"),
            F.sum(
                F.when(
                    g == group_a, F.col(value_col) * F.col(value_col)
                ).otherwise(0)
            )
            .cast("long")
            .alias("_qa"),
            F.sum(F.when(g == group_b, 1).otherwise(0))
            .cast("long")
            .alias("n_b"),
            F.sum(F.when(g == group_b, F.col(value_col)).otherwise(0))
            .cast("long")
            .alias("_sb"),
            F.sum(
                F.when(
                    g == group_b, F.col(value_col) * F.col(value_col)
                ).otherwise(0)
            )
            .cast("long")
            .alias("_qb"),
        )
    )
    ua = (
        "((CAST(n_a AS DOUBLE) * _qa - CAST(_sa AS DOUBLE) * _sa)"
        " / (CAST(n_a AS DOUBLE) * n_a * (n_a - 1)))"
    )
    ub = (
        "((CAST(n_b AS DOUBLE) * _qb - CAST(_sb AS DOUBLE) * _sb)"
        " / (CAST(n_b AS DOUBLE) * n_b * (n_b - 1)))"
    )
    se = f"sqrt({ua} + {ub})"
    diff = "(CAST(_sa AS DOUBLE) / n_a - CAST(_sb AS DOUBLE) / n_b)"
    dlt = f"({int(delta_milli)} / 1000.0)"
    valid = (
        (F.col("n_a") >= 2)
        & (F.col("n_b") >= 2)
        & (F.expr(f"{ua} + {ub}") > 0)
    )
    return a.select(
        "n_a",
        "n_b",
        F.when(
            (F.col("n_a") > 0) & (F.col("n_b") > 0),
            F.expr(f"CAST(floor(1000.0 * {diff}) AS BIGINT)"),
        ).alias("diff_milli"),
        F.when(
            valid, F.expr(f"CAST(floor(1000.0 * {se}) AS BIGINT)")
        ).alias("se_milli"),
        F.lit(int(delta_milli)).cast("long").alias("delta_milli"),
        F.when(
            valid,
            F.expr(
                f"CAST(floor(1000.0 * ({diff} + {dlt}) / {se}) AS BIGINT)"
            ),
        ).alias("t_lower_milli"),
        F.when(
            valid,
            F.expr(
                f"CAST(floor(1000.0 * ({dlt} - {diff}) / {se}) AS BIGINT)"
            ),
        ).alias("t_upper_milli"),
        F.when(
            valid,
            (
                F.expr(f"floor(1000.0 * ({diff} + {dlt}) / {se})") >= 1645
            )
            & (
                F.expr(f"floor(1000.0 * ({dlt} - {diff}) / {se})") >= 1645
            ),
        ).alias("equiv_95"),
    )


def qq_shift(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a: str,
    group_b: str,
) -> DataFrame:
    """Decile-by-decile quantile shift between two groups' integer
    distributions — the TABLE behind `wasserstein_1d`'s single
    number: W₁ says the average move, this says WHERE it happens
    (head compression vs tail growth read completely differently for
    a re-crawl length audit, and identically in W₁).

    Exact order statistics, no interpolation: for decile d,
    ``idx = ⌈d·n/10⌉`` (1-based) and the value is the first distinct
    score whose cumulative count reaches idx — the `robust_location`
    cumulation idiom per group. ``diff = val_a − val_b`` is exact
    integers. Empty groups → NULL values.

    Returns one row per decile 1..9: ``(decile, idx_a, idx_b, val_a,
    val_b, diff)``.

    Scale: one per-(group, score) combinable rollup; cumulative
    windows per group on the DISTINCT-score table; the decile
    expansion is 9 rows.
    """
    g = F.col(group_col)
    per = (
        df
        .where(g.isin([group_a, group_b]) & F.col(value_col).isNotNull())
        .groupBy(
            F.when(g == group_a, F.lit("a")).otherwise(F.lit("b")).alias(
                "_g"
            ),
            F.col(value_col).cast("long").alias("_s"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("_c"))
    )
    w = Window.partitionBy("_g").orderBy("_s").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wg = Window.partitionBy("_g")
    cum = per.select(
        "_g",
        "_s",
        F.sum("_c").over(w).alias("_cum"),
        F.sum("_c").over(wg).alias("_n"),
    )
    ds = per.sparkSession.range(1, 10).select(
        F.col("id").cast("long").alias("decile")
    )
    hits = cum.crossJoin(F.broadcast(ds)).where(
        F.col("_cum") * 10 >= F.col("decile") * F.col("_n")
    )
    qa = (
        hits.where(F.col("_g") == "a")
        .groupBy("decile")
        .agg(
            F.min("_s").cast("long").alias("val_a"),
            F.expr("CAST((max(_n) * decile + 9) div 10 AS BIGINT)").alias(
                "idx_a"
            ),
        )
    )
    qb = (
        hits.where(F.col("_g") == "b")
        .groupBy("decile")
        .agg(
            F.min("_s").cast("long").alias("val_b"),
            F.expr("CAST((max(_n) * decile + 9) div 10 AS BIGINT)").alias(
                "idx_b"
            ),
        )
    )
    return (
        ds.join(qa, on="decile", how="left")
        .join(qb, on="decile", how="left")
        .select(
            "decile",
            "idx_a",
            "idx_b",
            "val_a",
            "val_b",
            (F.col("val_a") - F.col("val_b")).cast("long").alias("diff"),
        )
    )


def vocab_coverage_curve(
    words: DataFrame,
    word_col: str = "word",
    sizes: Sequence[int] = (1000, 2000, 4000, 8000, 16000),
) -> DataFrame:
    """Token-coverage curve of a frequency-truncated vocabulary —
    the tokenizer-budget question: "how many word types does a
    vocab of size V need to cover 95% of the token stream?" The
    decision table behind every BPE/word-piece budget (see
    `tokenizer_fertility` for the downstream exchange rate) and the
    head-mass complement of `heaps_fit`'s type-growth law.

    Exact integers: words ranked by (count DESC, word ASC — the
    deterministic tie-break every top-k op here uses), cumulated on
    the VOCAB table (vocabulary-sized global sort — fine at any
    corpus scale, the vocab is millions while the stream is
    trillions); per requested size V, ``covered = cum(rank ≤ V)``
    and ``coverage_ppm = (10⁶·covered) div total``.

    Returns one row per size: ``(vocab_size, n_types,
    covered_tokens, total_tokens, coverage_ppm)`` — ``n_types`` =
    min(V, distinct words), so a size past the vocabulary reads
    coverage 10⁶ with its true type count.

    Scale: one (word) combinable rollup over the stream; ranking and
    cumulation on the vocab table only.
    """
    if not sizes or any(int(s) < 1 for s in sizes):
        raise ValueError(f"sizes must be positive, got {sizes!r}")
    counts = (
        words
        .where(F.col(word_col).isNotNull())
        .groupBy(F.col(word_col).alias("_w"))
        .agg(F.count(F.lit(1)).cast("long").alias("_c"))
    )
    w = Window.orderBy(F.col("_c").desc(), F.col("_w").asc())
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = counts.select(
        F.row_number().over(w).cast("long").alias("_r"),
        F.col("_c"),
    ).select(
        "_r",
        F.sum("_c")
        .over(
            Window.orderBy("_r").rowsBetween(Window.unboundedPreceding, 0)
        )
        .alias("_cum"),
        F.sum("_c").over(wall).alias("_tot"),
        F.max("_r").over(wall).alias("_maxr"),
    )
    sz = counts.sparkSession.createDataFrame(
        [(int(s),) for s in sizes], "vocab_size long"
    )
    hits = ranked.crossJoin(F.broadcast(sz)).where(
        F.col("_r") <= F.col("vocab_size")
    )
    agg = hits.groupBy("vocab_size").agg(
        F.max("_r").cast("long").alias("n_types"),
        F.max("_cum").cast("long").alias("covered_tokens"),
        F.max("_tot").cast("long").alias("total_tokens"),
    )
    return sz.join(agg, on="vocab_size", how="left").select(
        "vocab_size",
        F.coalesce("n_types", F.lit(0)).cast("long").alias("n_types"),
        F.coalesce("covered_tokens", F.lit(0))
        .cast("long")
        .alias("covered_tokens"),
        "total_tokens",
        F.when(
            F.col("total_tokens") > 0,
            F.expr(
                "(1000000 * coalesce(covered_tokens, 0))"
                " div total_tokens"
            ),
        )
        .cast("long")
        .alias("coverage_ppm"),
    )


def chrf_eval(
    pairs: DataFrame,
    gold_col: str = "gold",
    pred_col: str = "pred",
    id_col: str = "doc_id",
    max_order: int = 3,
    beta: int = 2,
    max_chars: int = 400,
) -> DataFrame:
    """chrF (character n-gram F-score, Popović 2015) per document —
    the MT-grade extraction-quality eval completing the trio with
    `edit_distance_eval` (edit cost) and `extraction_token_prf`
    (token identity): chrF is what modern pipeline papers quote, is
    tokenization-free, and rewards partial word recovery that token
    PRF scores as zero.

    Per order o = 1..max_order: clipped n-gram matches ``m_o = Σ_g
    min(c_gold, c_pred)`` from one (doc, order, gram) full-outer
    count join — exact integers — give exact rational P_o, R_o; each
    order's ``F_o = (1+β²)·P·R/(β²·P + R)`` floors ONCE to milli,
    and ``chrf_milli = (Σ F_o) div n_orders`` (the standard
    uniform-order average; orders where either side has no grams are
    skipped per the reference implementation, tracked in
    ``n_orders``). Texts are ASCII-stripped and clamped to
    ``max_chars`` (the `edit_distance_eval` contract). β = 2 weights
    recall double, as chrF2 does — but note this is a chrF-STYLE
    variant, not sacrebleu-comparable chrF2: the standard/sacrebleu
    chrF2 uses character order 6 and strips whitespace before gram
    extraction, while this operator defaults to ``max_order=3`` and
    keeps spaces in the grams (scores are internally consistent for
    regression gating, not comparable to published chrF2 numbers).

    Returns one row per doc: ``(doc_id, n_orders, chrf_milli)`` —
    both sides empty at every order → NULL.

    Scale: per-order grams explode in-row (sequence+substring, no
    UDF) into a (doc, gram)-keyed combinable count rollup; the
    order loop multiplies the exploded stream by max_order — clamp
    max_chars accordingly.
    """
    if max_order < 1:
        raise ValueError(f"max_order must be >= 1, got {max_order}")
    g = F.substring(
        F.regexp_replace(F.col(gold_col), r"[^ -~]", ""), 1, int(max_chars)
    )
    p = F.substring(
        F.regexp_replace(F.col(pred_col), r"[^ -~]", ""), 1, int(max_chars)
    )
    base = ensure_parallelism(pairs).select(
        F.col(id_col).alias("doc_id"),
        g.alias("_g"),
        p.alias("_p"),
    )

    def grams(col, o):
        return F.when(
            F.length(col) >= o,
            F.transform(
                F.sequence(F.lit(1), F.length(col) - o + 1),
                lambda i: col.substr(i, F.lit(o)),
            ),
        ).otherwise(F.array().cast("array<string>"))

    # ONE explode for all orders and both sides (each gram tagged with
    # its order and a gold/pred flag), then one (doc, order, gram)
    # count rollup with both sides as conditional sums — this replaces
    # the former per-order pair of explodes plus a full-outer join
    # (3 orders × (2 shuffled counts + 1 join + 1 agg) collapsed to
    # 3 keyed shuffles total; guide §2.3 "aggregate before you
    # shuffle", §2.4). The counted table is identical to the old
    # full-outer-joined one: a gram key present on either side appears
    # once with both counts, absent-side count 0.
    # a gram's ORDER is recoverable as its length (order-o grams are
    # exactly the length-o substrings), so the exploded stream carries
    # only (doc_id, gram, side-flag) plain strings — no struct tagging
    gold_grams = F.concat(
        *[grams(F.col("_g"), o) for o in range(1, int(max_order) + 1)]
    )
    pred_grams = F.concat(
        *[grams(F.col("_p"), o) for o in range(1, int(max_order) + 1)]
    )
    ex = base.select(
        "doc_id", F.explode(gold_grams).alias("_gram"), F.lit(1).alias("_s")
    ).unionByName(
        base.select(
            "doc_id", F.explode(pred_grams).alias("_gram"), F.lit(0).alias("_s")
        )
    )
    cnt = ex.groupBy("doc_id", "_gram").agg(
        F.sum("_s").cast("long").alias("_cg"),
        F.sum(F.lit(1) - F.col("_s")).cast("long").alias("_cp"),
    )
    agg = cnt.withColumn("_o", F.length("_gram")).groupBy("doc_id", "_o").agg(
        F.sum(F.least("_cg", "_cp")).cast("long").alias("_m"),
        F.sum("_cg").cast("long").alias("_tg"),
        F.sum("_cp").cast("long").alias("_tp"),
    )
    b2 = int(beta) * int(beta)
    f_milli = F.when(
        (F.col("_tg") > 0)
        & (F.col("_tp") > 0)
        & (
            F.expr(
                f"{b2}.0 * (CAST(_m AS DOUBLE) / _tp)"
                " + (CAST(_m AS DOUBLE) / _tg)"
            )
            > 0
        ),
        F.expr(
            f"CAST(floor(1000.0 * (1 + {b2})"
            " * (CAST(_m AS DOUBLE) / _tp)"
            " * (CAST(_m AS DOUBLE) / _tg)"
            f" / ({b2}.0 * (CAST(_m AS DOUBLE) / _tp)"
            " + (CAST(_m AS DOUBLE) / _tg))) AS BIGINT)"
        ),
    ).otherwise(
        F.when((F.col("_tg") > 0) & (F.col("_tp") > 0), F.lit(0))
    )
    allf = agg.select("doc_id", f_milli.alias("_f")).where(
        F.col("_f").isNotNull()
    )
    out = allf.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.expr("CAST(sum(_f) div count(1) AS BIGINT)").alias(
            "chrf_milli"
        ),
    )
    ids = base.select("doc_id").distinct()
    return ids.join(out, on="doc_id", how="left").select(
        "doc_id",
        F.coalesce("n_orders", F.lit(0)).cast("long").alias("n_orders"),
        "chrf_milli",
    )


def lorenz_curve(
    df: DataFrame,
    value_col: str,
) -> DataFrame:
    """Lorenz curve decile table — the DISTRIBUTION behind
    `concentration_gini`'s scalar: "the bottom 50% of documents hold
    only 22% of the bytes" is the sentence a datacard prints, and no
    single Gini produces it. Units sort ASCENDING by value; decile d
    reports the exact mass held by the bottom ⌈d·n/10⌉ units.

    Tie-exact integer arithmetic: on the distinct-value cumulation,
    the boundary value v is the first with ``cum_cnt ≥ idx`` and the
    bottom-idx mass is ``cum_mass(v) − (cum_cnt(v) − idx)·v`` —
    splitting the tie group exactly, no interpolation. ``share_ppm =
    (10⁶·mass) div total``.

    Returns one row per decile 1..10: ``(decile, idx, mass,
    share_ppm)`` (decile 10 is the total-mass sanity row).

    Scale: one (value) combinable rollup; cumulation on the
    distinct-value table; 10-row expansion.
    """
    per = (
        df
        .where(F.col(value_col).isNotNull())
        .groupBy(F.col(value_col).cast("long").alias("_v"))
        .agg(F.count(F.lit(1)).cast("long").alias("_c"))
    )
    w = Window.orderBy("_v").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = per.select(
        "_v",
        F.sum("_c").over(w).alias("_cc"),
        F.sum(F.col("_c") * F.col("_v")).over(w).alias("_cm"),
        F.sum("_c").over(wall).alias("_n"),
        F.sum(F.col("_c") * F.col("_v")).over(wall).alias("_tot"),
    )
    ds = per.sparkSession.range(1, 11).select(
        F.col("id").cast("long").alias("decile")
    )
    hits = cum.crossJoin(F.broadcast(ds)).where(
        F.col("_cc") * 10 >= F.col("decile") * F.col("_n")
    )
    bound = hits.groupBy("decile").agg(
        F.min_by(
            F.struct("_cc", "_cm", "_v", "_n", "_tot"), F.col("_v")
        ).alias("_b")
    )
    return ds.join(bound, on="decile", how="left").select(
        "decile",
        F.expr("CAST((_b._n * decile + 9) div 10 AS BIGINT)").alias(
            "idx"
        ),
        F.expr(
            "CAST(_b._cm - (_b._cc - (_b._n * decile + 9) div 10)"
            " * _b._v AS BIGINT)"
        ).alias("mass"),
        F.expr(
            "CASE WHEN _b._tot > 0 THEN CAST((1000000 *"
            " (_b._cm - (_b._cc - (_b._n * decile + 9) div 10)"
            " * _b._v)) div _b._tot AS BIGINT) END"
        ).alias("share_ppm"),
    )


def simpson_diversity(
    df: DataFrame,
    key_col: str,
    group_col: Optional[str] = None,
) -> DataFrame:
    """Simpson diversity per group — the collision-probability view
    of concentration completing the panel with `host_lang_entropy`
    (Shannon, order-1) and `concentration_gini` (Lorenz): ``1 −
    Σp²`` is the chance two random tokens DIFFER, and its inverse
    ``n²/Σc²`` is the effective number of equally-common keys — the
    one diversity number that needs no logarithm and therefore no
    float at all until the final div.

    Exact: ``Σc²`` and ``n²`` are longs (envelope n ≤ 3·10⁹ per
    group; shard larger groups), ``simpson_ppm = (10⁶·(n² − Σc²))
    div n²`` and ``effective_keys_milli = (1000·n²) div Σc²`` are
    pure integer division. n < 1 → no row.

    Returns one row per group: ``(grp, n, n_keys, simpson_ppm,
    effective_keys_milli)``.

    Scale: one (group, key) combinable rollup, one group rollup.
    """
    gcol = (
        F.col(group_col).cast("string").alias("grp")
        if group_col is not None
        else F.lit("all").alias("grp")
    )
    per = (
        df
        .where(F.col(key_col).isNotNull())
        .groupBy(gcol, F.col(key_col).alias("_k"))
        .agg(F.count(F.lit(1)).cast("long").alias("_c"))
    )
    return (
        per.groupBy("grp")
        .agg(
            F.sum("_c").cast("long").alias("n"),
            F.count(F.lit(1)).cast("long").alias("n_keys"),
            F.sum(F.col("_c") * F.col("_c")).cast("long").alias("_s2"),
        )
        .select(
            "grp",
            "n",
            "n_keys",
            F.expr("(1000000 * (n * n - _s2)) div (n * n)")
            .cast("long")
            .alias("simpson_ppm"),
            F.expr("(1000 * n * n) div _s2")
            .cast("long")
            .alias("effective_keys_milli"),
        )
    )


def negative_sampling_table(
    words: DataFrame,
    word_col: str = "word",
    top_v: int = 10_000,
    power_milli: int = 750,
    total_ppm: int = 1_000_000,
) -> DataFrame:
    """word2vec-style negative-sampling allocation: the top-V
    vocabulary with sampling mass ∝ count^0.75 (the smoothing that
    keeps "the" from being every negative while rare words still
    appear), allocated EXACTLY — the ppm column sums to precisely
    ``total_ppm`` via the Hamilton largest-remainder machinery
    (`stratified_quotas` discipline), so a downstream alias-table
    builder needs no renormalization fudge.

    Per word the raw weight quantizes ONCE — ``w_micro =
    floor(10⁶·c^(power_milli/1000))`` (one fixed pow shape, same
    libm both engines) — then pure integers: base = (total·w) div W,
    remainders ranked (desc, word asc). Ranking into the top-V uses
    the module's deterministic (count DESC, word ASC) tie-break.

    Returns one row per kept word: ``(rank, word, n, weight_micro,
    sample_ppm)``.

    Scale: one word rollup (the corpus shuffle); ranking, pow and
    Hamilton run on the top-V table (WindowGroupLimit keeps the
    global sort bounded by V).
    """
    if top_v < 1:
        raise ValueError(f"top_v must be positive, got {top_v}")
    if not 0 < power_milli <= 1000:
        raise ValueError(
            f"power_milli must be in (0, 1000], got {power_milli}"
        )
    counts = (
        words
        .where(F.col(word_col).isNotNull())
        .groupBy(F.col(word_col).alias("word"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    w = Window.orderBy(F.col("n").desc(), F.col("word").asc())
    kept = (
        counts.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= int(top_v))
        .select(
            "rank",
            "word",
            "n",
            F.expr(
                f"CAST(floor(1000000.0 * pow(CAST(n AS DOUBLE),"
                f" {int(power_milli)} / 1000.0)) AS BIGINT)"
            ).alias("weight_micro"),
        )
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    t = int(total_ppm)
    base = kept.select(
        "rank",
        "word",
        "n",
        "weight_micro",
        F.sum("weight_micro").over(wall).alias("_W"),
    ).select(
        "rank",
        "word",
        "n",
        "weight_micro",
        F.expr(f"CAST(({t} * weight_micro) div _W AS BIGINT)").alias(
            "_base"
        ),
        F.expr(f"({t} * weight_micro) % _W").alias("_rem"),
    )
    w_rem = Window.orderBy(F.col("_rem").desc(), F.col("word").asc())
    leftover = F.lit(t) - F.sum("_base").over(wall)
    return (
        base.withColumn("_rk", F.row_number().over(w_rem))
        .withColumn("_left", leftover)
        .select(
            "rank",
            "word",
            "n",
            "weight_micro",
            (
                F.col("_base")
                + F.when(F.col("_rk") <= F.col("_left"), 1).otherwise(0)
            )
            .cast("long")
            .alias("sample_ppm"),
        )
    )


def freq_spectrum(
    words: DataFrame,
    word_col: str = "word",
    max_r: int = 10,
) -> DataFrame:
    """Frequency-of-frequencies spectrum N_r (how many word types
    occur exactly r times), r = 1..max_r plus an aggregated tail —
    the raw table behind `vocab_richness`'s Chao1/Good-Turing
    scalars, and the standard first exhibit of any corpus statistics
    section (N_1/N ratio = unseen mass, N_1/N_2 = Chao1's engine).
    Mass shares ride along so the "hapax types are half the
    vocabulary but 2% of tokens" sentence reads off one row.

    Pure integers end to end.

    Returns one row per bucket (r = 1..max_r, then r = 0 for the
    ``> max_r`` tail): ``(r, n_types, n_tokens, type_share_ppm,
    token_share_ppm)``.

    Scale: the word rollup, then a count rollup of the VOCAB table —
    two combinable shuffles, the second vocabulary-sized.
    """
    if max_r < 1:
        raise ValueError(f"max_r must be >= 1, got {max_r}")
    counts = (
        words
        .where(F.col(word_col).isNotNull())
        .groupBy(F.col(word_col).alias("_w"))
        .agg(F.count(F.lit(1)).cast("long").alias("_c"))
    )
    bucket = F.when(F.col("_c") <= int(max_r), F.col("_c")).otherwise(
        F.lit(0)
    )
    spec = counts.groupBy(bucket.cast("long").alias("r")).agg(
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum("_c").cast("long").alias("n_tokens"),
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return spec.select(
        "r",
        "n_types",
        "n_tokens",
        F.expr(
            "CAST((1000000 * n_types) div sum(n_types) OVER"
            " (ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED"
            " FOLLOWING) AS BIGINT)"
        ).alias("type_share_ppm"),
        F.expr(
            "CAST((1000000 * n_tokens) div sum(n_tokens) OVER"
            " (ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED"
            " FOLLOWING) AS BIGINT)"
        ).alias("token_share_ppm"),
    )
