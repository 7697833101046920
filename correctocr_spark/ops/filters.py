"""Crawl-filtering tier: Gopher-style document rules, domain blocklists,
and a deterministic training-order shuffle.

CorrectOCR itself has no crawl-filter stage — its corpus is a fixed,
hand-listed archive download (reference workspace.py:100-141) — so these
operators are part of the web-scale curation surface the north rule adds
on top of the reference's extraction/correction semantics: the document
rule set published with Gopher (Rae et al. 2021, arXiv:2112.11446, Table
A1) and the UT1-style domain blocklist pass every Common-Crawl pipeline
runs before content filters.

Scale notes (100 TB):

* :func:`gopher_rules` is a single row-local projection — every ratio is
  higher-order-function column algebra over the in-row word/line arrays,
  no explode, no shuffle; the plan is scan-speed.
* :func:`domain_blocklist` explodes each url's host into its (bounded)
  registrable-suffix chain and LEFT SEMI joins the blocklist — the
  blocklist side is dimension-sized (UT1 is ~4M rows ≈ tens of MB) so
  Spark's auto-broadcast takes it; the doc side never shuffles.
* :func:`deterministic_shuffle` reuses the pack_shards two-pass
  prefix-sum shape (coarse md5 buckets + driver-side offsets + per-bucket
  local windows) so the global training order needs no partitionless
  window.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..spark.warc import _CONTENT_RE, _META_TAG_RE, page_meta_cols
from .dedup import ensure_parallelism, normalized_words

__all__ = [
    "gopher_rules",
    "gopher_filter",
    "domain_blocklist",
    "blocked_doc_ids",
    "wordlist_density",
    "robots_directives",
    "robots_txt_rules",
    "robots_txt_gate",
    "deterministic_shuffle",
    "host_quota",
    "host_col",
    "page_metadata",
    "page_meta_cols",
    "bloom_bitmap",
    "bloom_gate",
    "bloom_anti_join",
    "gate_funnel",
    "curate_funnel",
    "train_val_test_split",
    "gopher_passes",
    "GOPHER_STOPWORDS",
]

#: Gopher rule 8: a document must contain at least ``min_stop_hits``
#: DISTINCT words from this list (Rae et al. 2021, Table A1).
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]

_BULLET_CHARS = ["-", "*", "•", "‣", "▪"]
_HOSTPORT_RE = r"^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)"


def _lit_str_array(words):
    """One parsed array literal instead of a py4j round trip per
    element (escaping matches Spark's default string-literal rules)."""
    from pyspark.sql import functions as F

    quoted = ",".join(
        "'" + w.replace("\\", "\\\\").replace("'", "\\'") + "'" for w in words
    )
    return F.expr("array(" + quoted + ")")

def _gopher_signals(text_col: str) -> dict:
    """The rounded per-document signal expressions, in output order.

    Shared by :func:`gopher_rules` (emits them as columns) and
    :func:`gopher_filter` (folds them into one inline predicate) so the
    two can never drift apart.
    """
    words = normalized_words(text_col)
    text = F.col(text_col)
    n_words = F.size(words)
    denom_w = F.greatest(n_words, F.lit(1))
    mean_wlen = F.round(
        F.aggregate(words, F.lit(0.0), lambda acc, w: acc + F.length(w)) / denom_w, 6
    )
    n_hash = F.length(text) - F.length(F.replace(text, F.lit("#"), F.lit("")))
    n_ellipsis = F.size(F.regexp_extract_all(text, F.lit(r"\.{3}|…"), 0))
    # non-blank lines, trimmed — blank lines are layout, not content
    lines = F.filter(
        F.transform(F.split(text, r"\n"), lambda l: F.trim(l)), lambda l: l != ""
    )
    n_lines = F.size(lines)
    denom_l = F.greatest(n_lines, F.lit(1))
    bullet = _lit_str_array(_BULLET_CHARS)
    n_bullet = F.size(
        F.filter(lines, lambda l: F.array_contains(bullet, F.substring(l, 1, 1)))
    )
    n_ell_end = F.size(
        F.filter(lines, lambda l: l.endswith("...") | l.endswith("…"))
    )
    n_alpha = F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]")))
    sw = _lit_str_array(GOPHER_STOPWORDS)
    stop_hits = F.size(F.array_intersect(F.transform(words, F.lower), sw))
    return {
        "n_words": n_words.cast("long"),
        "mean_word_len": mean_wlen,
        "hash_word_ratio": F.round(n_hash / denom_w, 6),
        "ellipsis_word_ratio": F.round(n_ellipsis / denom_w, 6),
        "bullet_line_ratio": F.round(n_bullet / denom_l, 6),
        "ellipsis_line_ratio": F.round(n_ell_end / denom_l, 6),
        "alpha_word_ratio": F.round(n_alpha / denom_w, 6),
        "stop_hits": stop_hits.cast("long"),
    }


def _gopher_passes(
    sig: dict,
    min_words: int,
    max_words: int,
    min_mean_word_len: float,
    max_mean_word_len: float,
    max_hash_ratio: float,
    max_ellipsis_word_ratio: float,
    max_bullet_line_ratio: float,
    max_ellipsis_line_ratio: float,
    min_alpha_word_ratio: float,
    min_stop_hits: int,
) -> Column:
    return (
        sig["n_words"].between(min_words, max_words)
        & sig["mean_word_len"].between(min_mean_word_len, max_mean_word_len)
        & (sig["hash_word_ratio"] <= max_hash_ratio)
        & (sig["ellipsis_word_ratio"] <= max_ellipsis_word_ratio)
        & (sig["bullet_line_ratio"] <= max_bullet_line_ratio)
        & (sig["ellipsis_line_ratio"] <= max_ellipsis_line_ratio)
        & (sig["alpha_word_ratio"] >= min_alpha_word_ratio)
        & (sig["stop_hits"] >= min_stop_hits)
    )


def gopher_rules(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_hash_ratio: float = 0.1,
    max_ellipsis_word_ratio: float = 0.1,
    max_bullet_line_ratio: float = 0.9,
    max_ellipsis_line_ratio: float = 0.3,
    min_alpha_word_ratio: float = 0.8,
    min_stop_hits: int = 2,
) -> DataFrame:
    """Per-document Gopher quality-rule signals + the conjunctive
    ``passes_gopher`` verdict.

    Emits every signal the verdict is built from (word count, mean word
    length, #-symbol and ellipsis densities, bullet/ellipsis line
    ratios, alphabetic-word ratio, distinct stop-word hits) so a caller
    can re-threshold without recomputing — the same
    signals-not-just-verdict shape as :func:`~.textstats.quality_scores`.
    Defaults are the published Gopher thresholds. Entirely row-local:
    one projection, no shuffle. To GATE a corpus (keep original columns,
    drop failures) use :func:`gopher_filter` — an inline predicate, no
    join back.
    """
    sig = _gopher_signals(text_col)
    d = ensure_parallelism(docs).select(
        F.col(id_col).alias("doc_id"),
        *[c.alias(name) for name, c in sig.items()],
    )
    passes = _gopher_passes(
        {name: F.col(name) for name in sig},
        min_words,
        max_words,
        min_mean_word_len,
        max_mean_word_len,
        max_hash_ratio,
        max_ellipsis_word_ratio,
        max_bullet_line_ratio,
        max_ellipsis_line_ratio,
        min_alpha_word_ratio,
        min_stop_hits,
    )
    return d.select("*", passes.alias("passes_gopher"))


def gopher_passes(
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_hash_ratio: float = 0.1,
    max_ellipsis_word_ratio: float = 0.1,
    max_bullet_line_ratio: float = 0.9,
    max_ellipsis_line_ratio: float = 0.3,
    min_alpha_word_ratio: float = 0.8,
    min_stop_hits: int = 2,
) -> Column:
    """The Gopher pass verdict as ONE boolean column expression (the
    published thresholds as defaults) — row-local, so it serves both
    the inline :func:`gopher_filter` gate and cumulative-flag consumers
    like :func:`curate_funnel`."""
    return _gopher_passes(
        _gopher_signals(text_col),
        min_words,
        max_words,
        min_mean_word_len,
        max_mean_word_len,
        max_hash_ratio,
        max_ellipsis_word_ratio,
        max_bullet_line_ratio,
        max_ellipsis_line_ratio,
        min_alpha_word_ratio,
        min_stop_hits,
    )


def gopher_filter(docs: DataFrame, text_col: str = "text", **overrides) -> DataFrame:
    """Rows of ``docs`` (ALL original columns) passing the Gopher rules.

    The verdict applied as a single inline Filter over the same rounded
    signal expressions as :func:`gopher_rules` — no join, no shuffle,
    so it composes into :func:`~.curate.curate` as a pre-dedup gate at
    scan speed. Keyword overrides are :func:`gopher_passes` thresholds.
    """
    return ensure_parallelism(docs).where(gopher_passes(text_col, **overrides))


def host_col(url) -> Column:
    """Lowercased host of ``url`` (port stripped); '' when unparseable.

    Regex-based (not ``parse_url``) so the exact same pattern runs in
    the DuckDB oracle; matches canonicalize_urls' host grammar."""
    u = F.col(url) if isinstance(url, str) else url
    return F.regexp_replace(F.lower(F.regexp_extract(u, _HOSTPORT_RE, 1)), r":\d+$", "")


def domain_blocklist(
    pages: DataFrame,
    blocked: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
    max_labels: int = 5,
    broadcast: bool = True,
) -> DataFrame:
    """UT1-style domain blocklist filter: a page is blocked when its
    host IS a blocked domain or is a SUBDOMAIN of one.

    ``blocked`` is a one-column (``host``) DataFrame of lowercase
    registrable domains. Matching is by suffix chain: ``a.b.example.com``
    generates suffixes [``a.b.example.com``, ``b.example.com``,
    ``example.com``, ``com``] (deepest ``max_labels`` labels — real
    hosts rarely exceed 5, and a blocklist entry deeper than the cap
    can't match a host it isn't a suffix of within the cap) and matches
    if ANY suffix equals a blocklist row. That turns the non-equi
    "endswith" predicate into an EQUI semi-join Spark can broadcast:
    the blocklist is dimension-sized, so the exploded suffix side —
    ≤ ``max_labels`` rows per page, generated and consumed in the same
    stage — never shuffles. Output keeps every input page with a
    ``blocked`` flag (filter at the call site), so the op composes with
    lineage/audit the same way the other verdict ops do.

    ``broadcast=True`` (default) pins the semi-join's build side
    explicitly: a blocklist handed in as a local DataFrame carries no
    stats, so without the hint Spark sort-merge-joins — shuffling the
    exploded page side by suffix, the exact shape this op exists to
    avoid. Set ``broadcast=False`` only for a blocklist too large for
    executor memory. The page subtree is consumed twice (suffix explode
    + final flag join) and deliberately NOT persisted: re-scanning two
    pruned columns beats caching the page table at corpus scale, and
    the second consumer's build side (the distinct hit ids) is tiny.
    """
    base = pages.select(
        F.col(id_col).alias("doc_id"),
        F.col(url_col).alias("url"),
        host_col(url_col).alias("_host"),
    )
    hit = _blocked_ids_of(base, blocked, max_labels, broadcast).withColumn(
        "_blocked", F.lit(True)
    )
    return (
        base.join(hit, "doc_id", "left")
        .select(
            "doc_id",
            "url",
            F.col("_host").alias("host"),
            F.coalesce(F.col("_blocked"), F.lit(False)).alias("blocked"),
        )
    )


def _blocked_ids_of(
    base: DataFrame, blocked: DataFrame, max_labels: int, broadcast: bool
) -> DataFrame:
    """Distinct ``doc_id`` rows of ``base`` (cols doc_id, _host) whose
    host matches the blocklist by suffix chain."""
    labels = F.split(F.col("_host"), r"\.")
    depth = F.least(F.size(labels), F.lit(max_labels))
    suffixes = F.transform(
        F.sequence(F.lit(1), depth),
        lambda i: F.array_join(F.slice(labels, -i, i), "."),
    )
    sufs = base.where(F.col("_host") != "").select(
        "doc_id", F.explode(suffixes).alias("host")
    )
    dim = blocked.select(F.lower("host").alias("host"))
    if broadcast:
        dim = F.broadcast(dim)
    return sufs.join(dim, "host", "leftsemi").select("doc_id").distinct()


def blocked_doc_ids(
    pages: DataFrame,
    blocked: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
    max_labels: int = 5,
    broadcast: bool = True,
) -> DataFrame:
    """Just the ids of blocked pages (one ``doc_id`` column) — the
    anti-join side for a curation gate, without materializing the
    flagged full table. Same matching semantics as
    :func:`domain_blocklist`; typically tiny relative to the corpus, so
    the caller can broadcast it back onto the page table."""
    base = ensure_parallelism(pages).select(
        F.col(id_col).alias("doc_id"), host_col(url_col).alias("_host")
    )
    return _blocked_ids_of(base, blocked, max_labels, broadcast)


def wordlist_density(
    pages: DataFrame,
    words,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document hit count and density against a caller-supplied
    lexicon (UT1/RefinedWeb-style "soft" bad-word scoring, topic
    lexicons, …): ``hits`` = occurrences of lexicon words (lowercased,
    duplicates counted per occurrence), ``hit_ratio`` = hits / words.

    Two shapes by lexicon size:

    * ``words`` as a Python list/tuple — folded into the plan as an
      array literal: one row-local HOF filter, scan speed, no shuffle.
      Right for lists up to a few thousand entries (the expression
      ships inside the plan).
    * ``words`` as a one-column (``word``) DataFrame — relational:
      doc words explode, broadcast INNER join against the lexicon,
      doc-keyed count, left-joined back so every page keeps a row.
      Right for dimension-sized lexicons that don't belong in a plan
      literal.

    Both shapes return identical values (pinned by
    ``test_wordlist_density_list_equals_df``).
    """
    ws = normalized_words(text_col)
    base = ensure_parallelism(pages)
    if isinstance(words, (list, tuple, set, frozenset)):
        vocab = sorted({str(w).lower() for w in words})
        if not vocab:
            # a zero-arg F.array() is array<void>: array_contains
            # against a string column fails analysis — an empty lexicon
            # trivially hits nothing
            return base.select(
                F.col(id_col).alias("doc_id"),
                F.size(ws).cast("long").alias("n_words"),
                F.lit(0).cast("long").alias("hits"),
                F.lit(0.0).alias("hit_ratio"),
            )
        lex = _lit_str_array(vocab)
        hits = F.size(F.filter(ws, lambda w: F.array_contains(lex, F.lower(w))))
        return base.select(
            F.col(id_col).alias("doc_id"),
            F.size(ws).cast("long").alias("n_words"),
            hits.cast("long").alias("hits"),
            F.round(hits / F.greatest(F.size(ws), F.lit(1)), 6).alias("hit_ratio"),
        )
    lex = F.broadcast(words.select(F.lower("word").alias("w")).distinct())
    counts = (
        base.select(F.col(id_col).alias("doc_id"), F.explode(ws).alias("w0"))
        .select("doc_id", F.lower("w0").alias("w"))
        .join(lex, "w")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    return (
        base.select(
            F.col(id_col).alias("doc_id"), F.size(ws).cast("long").alias("n_words")
        )
        .join(counts, "doc_id", "left")
        .select(
            "doc_id",
            "n_words",
            F.coalesce(F.col("hits"), F.lit(0)).cast("long").alias("hits"),
            F.round(
                F.coalesce(F.col("hits"), F.lit(0))
                / F.greatest(F.col("n_words"), F.lit(1)),
                6,
            ).alias("hit_ratio"),
        )
    )


#: robots meta name (Java∩RE2, shared verbatim with the DuckDB oracle);
#: the meta-tag and content grammar is spark.warc's, shared with
#: page_meta_cols
_ROBOTS_NAME_RE = r"(?i)name\s*=\s*['\"]?robots"


def robots_directives(
    pages: DataFrame,
    id_col: str = "doc_id",
    html_col: str = "html",
) -> DataFrame:
    """Per-page robots meta directives: ``noindex`` / ``nofollow``
    (with ``none`` implying both) from ``<meta name="robots">`` tags —
    the crawl-politeness gate a Common-Crawl pipeline applies before a
    page may enter the corpus.

    Row-local: extract all meta tags, keep the robots-named ones
    (attribute order and quoting vary in the wild, so name and content
    are matched independently), fold their content values, and flag the
    directives. Scan speed, no shuffle; every page keeps a row so the
    caller anti-joins or filters. Accepts a string html column (decode
    binary with ``F.decode`` first)."""
    html = F.col(html_col)
    metas = F.regexp_extract_all(html, F.lit(_META_TAG_RE), 0)
    robots = F.filter(metas, lambda m: m.rlike(_ROBOTS_NAME_RE))
    contents = F.transform(robots, lambda m: F.regexp_extract(m, _CONTENT_RE, 1))
    joined = F.lower(F.concat_ws(",", contents))
    none = joined.rlike(r"(^|[,\s])none($|[,\s])")
    return ensure_parallelism(pages).select(
        F.col(id_col).alias("doc_id"),
        (joined.contains("noindex") | none).cast("long").alias("noindex"),
        (joined.contains("nofollow") | none).cast("long").alias("nofollow"),
    )


def deterministic_shuffle(
    docs: DataFrame,
    seed: str = "0",
    id_col: str = "doc_id",
    max_buckets: int = 65536,
) -> DataFrame:
    """Seeded, deterministic GLOBAL training order: position =
    row_number over ``ORDER BY md5(seed || ':' || id), id``.

    The pre-training shuffle of a data pipeline — reproducible from the
    seed alone, stable under re-runs and retries, and decorrelated from
    crawl order/hosts (md5, same argument as the url-hash partitioner).
    Uses the pack_shards two-pass shape instead of a partitionless
    window: coarse buckets from the first 16 bits of the SAME md5 (a
    monotonic prefix of the sort key), per-bucket counts prefix-summed
    on the driver (≤ ``max_buckets`` rows), then a bucket-local
    row_number plus the bucket offset — value-identical to the global
    window (the DuckDB oracle), with every window partitioned.
    """
    import math

    fp = F.md5(F.concat(F.lit(str(seed)), F.lit(":"), F.col(id_col).cast("string")))
    width = max(1, math.ceil(65536 / max_buckets))
    d = docs.select(
        F.col(id_col).alias("doc_id"),
        fp.alias("_fp"),
        F.floor(F.conv(F.substring(fp, 1, 4), 16, 10).cast("long") / width).alias(
            "_bucket"
        ),
    )
    counts = {
        r["_bucket"]: r["_n"]
        for r in d.groupBy("_bucket").agg(F.count("*").alias("_n")).collect()
    }
    if not counts:
        return d.select("doc_id", F.lit(None).cast("long").alias("position"))
    offsets, running = {}, 0
    for b in sorted(counts):
        offsets[b] = running
        running += counts[b]
    # broadcast-joined offsets, NOT a create_map literal: a 65k-entry
    # map literal is a 131k-node expression tree whose analysis alone
    # cost ~25 s at sf0.1 (same fix as pack_shards)
    offsets_df = d.sparkSession.createDataFrame(
        [(int(b), int(offsets[b])) for b in sorted(offsets)],
        "_bucket long, _offset long",
    )
    d = d.join(F.broadcast(offsets_df), "_bucket")
    w = Window.partitionBy("_bucket").orderBy("_fp", "doc_id")
    return d.select(
        "doc_id",
        (F.row_number().over(w) + F.col("_offset")).cast("long").alias("position"),
    )


def host_quota(
    pages: DataFrame,
    max_per_host: int,
    url_col: str = "url",
    id_col: str = "doc_id",
    quality_col: str = "",
    salt_buckets: int = 16,
) -> DataFrame:
    """Per-host document quota: keep at most ``max_per_host`` pages per
    host, preferring higher ``quality_col`` (ties and the no-quality
    case break by ascending id) — the domain-dominance cap every
    Common-Crawl curation pipeline applies so that a handful of
    template-heavy mega-hosts cannot crowd out the corpus (the
    reference has no crawl tier; this extends its curation surface the
    same way gopher_rules does).

    Returns ONLY the surviving rows — ``(doc_id, url, host,
    host_rank)`` with ``host_rank`` the 1-based per-host rank — because
    a quota is a keep-set, not a per-row flag; semi-join on ``doc_id``
    to filter a wider table.

    Scale (100 TB): a naive ``row_number() OVER (PARTITION BY host)``
    makes one window partition per host, and a mega-host (hundreds of
    millions of rows) lands on ONE reducer. This op is salted
    two-phase: phase 1 ranks within ``(host, xxhash64(id) %
    salt_buckets)`` and keeps the local top ``max_per_host`` — every
    phase-1 partition holds ~1/``salt_buckets`` of a host's mass —
    then phase 2 re-ranks the ≤ ``max_per_host × salt_buckets``
    survivors per host exactly. The union of per-salt top-N sets is a
    superset of the global top-N under the same total order, so the
    result is IDENTICAL to the single-window form (the DuckDB oracle's
    global ``row_number``; equality also pinned by
    test_host_quota_salted_equals_unsalted). ``salt_buckets=1``
    degenerates to the single-window form for small inputs.
    """
    if max_per_host < 1:
        raise ValueError(f"max_per_host must be >= 1, got {max_per_host}")
    qcols = [F.col(quality_col).alias("_q")] if quality_col else []
    order = ([F.col("_q").desc_nulls_last()] if quality_col else []) + [
        F.col("doc_id")
    ]
    base = pages.select(
        F.col(id_col).alias("doc_id"),
        F.col(url_col).alias("url"),
        host_col(url_col).alias("host"),
        *qcols,
    )
    if salt_buckets > 1:
        w1 = Window.partitionBy("host", "_salt").orderBy(*order)
        base = (
            base.withColumn(
                "_salt", F.pmod(F.xxhash64(F.col("doc_id")), F.lit(salt_buckets))
            )
            .withColumn("_r1", F.row_number().over(w1))
            .where(F.col("_r1") <= max_per_host)
            .drop("_salt", "_r1")
        )
    w = Window.partitionBy("host").orderBy(*order)
    return (
        base.withColumn("host_rank", F.row_number().over(w).cast("long"))
        .where(F.col("host_rank") <= max_per_host)
        .select("doc_id", "url", "host", "host_rank")
    )


#: shared with the DuckDB oracle: path+query of a url (the robots match
#: target), '' when unparseable — the gate treats '' as '/'
_PATHQUERY_RE = r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*([^#]*)"

ROBOTS_RULE_SCHEMA = (
    "host string, allow boolean, raw_len int, pattern string"
)


def robots_txt_rules(
    robots: DataFrame,
    host_col: str = "host",
    content_col: str = "content",
    agent: str = "*",
) -> DataFrame:
    """Per-host robots.txt files → the flat rule table ``(host, allow,
    raw_len, pattern)`` the gate joins against — rules compiled to the
    shared Java∩RE2 regexes at parse time by the kernel
    (:func:`~..kernels.robots.parse_robots_txt`), so downstream
    matching is pure column algebra in BOTH engines.

    One stateless mapInPandas over the robots corpus — which is
    host-dimension-sized (one small file per host), never
    corpus-sized; the output is the broadcastable dimension input of
    :func:`robots_txt_gate`."""
    import pandas as pd

    from ..kernels.robots import parse_robots_txt

    def parse(batches):
        for pdf in batches:
            rows = []
            for host, content in zip(pdf["host"], pdf["content"]):
                text = (
                    bytes(content).decode("utf-8", "replace")
                    if isinstance(content, (bytes, bytearray))
                    else str(content)
                )
                for allow, raw_len, pattern in parse_robots_txt(text, agent):
                    rows.append((host, allow, raw_len, pattern))
            yield pd.DataFrame(
                rows, columns=["host", "allow", "raw_len", "pattern"]
            )

    return (
        ensure_parallelism(robots)
        .select(F.col(host_col).alias("host"), F.col(content_col).alias("content"))
        .mapInPandas(parse, schema=ROBOTS_RULE_SCHEMA)
    )


def robots_txt_gate(
    pages: DataFrame,
    rules: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
) -> DataFrame:
    """RFC 9309 fetch gate: every page keeps a row with an ``allowed``
    flag — the longest-raw-path matching rule for the page's host
    decides (Allow wins raw-length ties); hosts with no rules (or no
    robots.txt at all) are allowed.

    Scale (100 TB): the rules are collected to ONE array row per host
    (robots files are host-dimension-sized) and broadcast-joined on
    host, then the verdict is a row-local higher-order-function fold —
    filter the array by ``regexp_like`` against the page path, take
    the struct-max by ``(raw_len, allow)``. No explode of the page
    side, no re-shuffle, no window: the corpus never leaves its scan
    partitions."""
    per_host = rules.groupBy("host").agg(
        F.collect_list(
            F.struct(
                F.col("raw_len").alias("raw_len"),
                F.col("allow").alias("allow"),
                F.col("pattern").alias("pattern"),
            )
        ).alias("_rules")
    )
    path = F.regexp_extract(F.col(url_col), _PATHQUERY_RE, 1)
    base = ensure_parallelism(pages).select(
        F.col(id_col).alias("doc_id"),
        F.col(url_col).alias("url"),
        host_col(url_col).alias("host"),
        F.when(path == "", F.lit("/")).otherwise(path).alias("_path"),
    )
    j = base.join(F.broadcast(per_host), "host", "left")
    matched = F.filter(
        F.col("_rules"), lambda r: F.regexp_like(F.col("_path"), r["pattern"])
    )
    # struct comparison orders by field position: raw_len first, then
    # allow (true > false) — exactly longest-match with allow-tiebreak
    best = F.array_max(
        F.transform(
            matched,
            lambda r: F.struct(
                r["raw_len"].alias("raw_len"), r["allow"].alias("allow")
            ),
        )
    )
    return j.select(
        "doc_id",
        "url",
        "host",
        # no robots row for the host (NULL _rules) or no matching rule
        # (empty `matched` -> NULL array_max) both mean: allowed
        F.when(F.col("_rules").isNull() | best.isNull(), F.lit(True))
        .otherwise(best["allow"])
        .alias("allowed"),
    )


def page_metadata(
    pages: DataFrame,
    id_col: str = "doc_id",
    html_col: str = "html",
) -> DataFrame:
    """Per-page HTML metadata harvest: ``title`` (first ``<title>``
    text, whitespace-collapsed), ``meta_description`` (first
    ``<meta name=description>`` content) and ``canonical_url`` (first
    ``<link rel=canonical>`` href) — the curation metadata every web
    pipeline keeps next to the extracted text (dedup keys on canonical
    URLs; title/description feed quality and retrieval signals).

    Same grammar discipline as :func:`robots_directives`: tags matched
    attribute-order- and quoting-independently, name and value
    extracted separately, all patterns Java∩RE2 so the DuckDB oracle
    states them verbatim. Absent fields are empty strings (never NULL
    — downstream group-bys must not conflate 'no title' with a missing
    scan row). Row-local, scan-speed, no shuffle."""
    cols = page_meta_cols(F.col(html_col))
    return ensure_parallelism(pages).select(
        F.col(id_col).alias("doc_id"),
        *(expr.alias(name) for name, expr in cols.items()),
    )


# ---------------------------------------------------------------------------
# Bloom-filter membership gate
# ---------------------------------------------------------------------------

def _bloom_pos(key: Column, seed: int, m_bits: int) -> Column:
    """Bit position of hash ``seed`` for ``key`` in an ``m_bits`` filter.

    60 bits of md5 (15 hex chars — fits a signed BIGINT) modulo the
    filter width; the same ``('0x' || substr(md5(...)))::BIGINT``
    arithmetic every other hash gate in this package shares with its
    DuckDB oracle, so membership is engine-independent."""
    return (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(f"bf{seed}|"), key)), 1, 15), 16, 10
        ).cast("long")
        % m_bits
    )


def bloom_bitmap(
    keys: DataFrame,
    key_col: str = "key",
    m_bits: int = 1 << 20,
    num_hashes: int = 3,
) -> DataFrame:
    """Build a Bloom filter over ``keys`` as a relational bitmap:
    one row per NON-ZERO 64-bit word, ``(word_index: long, bits: long)``.

    This is the scale path for approximate membership against a key set
    too large to broadcast raw (billions of seen URLs, benchmark-doc
    fingerprints, previously-emitted shard keys): the set folds into
    ``m_bits/8`` bytes once, and :func:`bloom_gate` probes it with
    row-local bit tests — the corpus side never shuffles. False
    positives are the documented trade (rate ``(1-e^{-kn/m})^k``);
    false negatives are impossible, so a NOT-maybe verdict is exact —
    which is what an anti-join pre-filter needs.

    One explode (``num_hashes`` rows per key) feeds one word-keyed
    aggregation with at most ``m_bits/64`` groups — map-side partial
    ``bit_or`` collapses each task's contribution to at most the bitmap
    size before the (tiny) shuffle.
    """
    if num_hashes < 1:
        raise ValueError(f"num_hashes must be >= 1, got {num_hashes}")
    if m_bits < 64 or m_bits % 64:
        raise ValueError(f"m_bits must be a positive multiple of 64, got {m_bits}")
    key = F.col(key_col).cast("string")
    out = (
        keys.select(
            F.explode(
                F.array(*[_bloom_pos(key, i, m_bits) for i in range(num_hashes)])
            ).alias("pos")
        )
        .select(
            F.shiftright(F.col("pos"), 6).alias("word_index"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").alias(
                "_w"
            ),
        )
        .groupBy("word_index")
        .agg(F.bit_or("_w").alias("bits"))
    )
    # parameter stamp: a gate probing with different (m, k) is silently
    # wrong (different positions), so refuse mismatches at probe time —
    # same contract as MinHashIndex's persisted _meta params
    out._bloom_params = (m_bits, num_hashes)  # type: ignore[attr-defined]
    return out


def bloom_gate(
    df: DataFrame,
    bitmap: DataFrame,
    key_col: str = "url",
    m_bits: int = 1 << 20,
    num_hashes: int = 3,
    flag_col: str = "maybe_member",
) -> DataFrame:
    """Flag each row of ``df`` whose ``key_col`` is *possibly* in the
    set behind ``bitmap`` (built by :func:`bloom_bitmap` with the SAME
    ``m_bits``/``num_hashes`` — a stamped mismatch raises).

    The probe is ``num_hashes`` LEFT broadcast equi-joins on
    ``word_index`` (the bitmap is at most ``m_bits/64`` rows ≪ the
    auto-broadcast threshold) plus row-local bit tests: the corpus side
    keeps its partitioning — no exchange, no window, no explode. A
    missing bitmap word means those 64 bits are all zero, so a NULL
    probe coalesces to a miss. ``flag_col`` is true iff ALL
    ``num_hashes`` probed bits are set (false positives possible, false
    negatives impossible)."""
    params = getattr(bitmap, "_bloom_params", None)
    if params is not None and params != (m_bits, num_hashes):
        raise ValueError(
            f"bloom_bitmap was built with (m_bits, num_hashes)={params}, "
            f"gate called with {(m_bits, num_hashes)}"
        )
    key = F.col(key_col).cast("string")
    out = ensure_parallelism(df)
    hits = []
    tmp = []
    for i in range(num_hashes):
        pos = _bloom_pos(key, i, m_bits)
        wcol, bcol = f"_bfw{i}", f"_bfbits{i}"
        tmp += [wcol, bcol]
        out = out.withColumn(wcol, F.shiftright(pos, 6)).withColumn(
            f"_bfb{i}", (pos % 64).cast("int")
        )
        tmp.append(f"_bfb{i}")
        probe = bitmap.select(
            F.col("word_index").alias(wcol), F.col("bits").alias(bcol)
        )
        out = out.join(F.broadcast(probe), wcol, "left")
        hits.append(
            F.coalesce(
                F.expr(f"({bcol} & shiftleft(CAST(1 AS BIGINT), _bfb{i})) != 0"),
                F.lit(False),
            )
        )
    flag = hits[0]
    for h in hits[1:]:
        flag = flag & h
    return out.withColumn(flag_col, flag).drop(*tmp)


def bloom_anti_join(
    df: DataFrame,
    keys: DataFrame,
    df_key: str = "url",
    set_key: str = "key",
    m_bits: int = 1 << 20,
    num_hashes: int = 3,
) -> DataFrame:
    """EXACT anti-join of ``df`` against ``keys`` with a Bloom
    pre-filter: rows whose key the filter rules out pass through with
    no join at all (no false negatives ⇒ they are definitely absent);
    only the maybe-member sliver reaches the exact LEFT ANTI join —
    at a healthy false-positive rate the expensive join sees ~|matches|
    rows instead of the whole corpus. Output == a plain anti-join
    (pinned by ``test_bloom_anti_join_equals_plain``); the Bloom stage
    only changes HOW MUCH data the join touches, never the answer."""
    bm = bloom_bitmap(keys, set_key, m_bits=m_bits, num_hashes=num_hashes)
    flagged = bloom_gate(
        df, bm, df_key, m_bits=m_bits, num_hashes=num_hashes, flag_col="_bf_maybe"
    )
    clear = flagged.where(~F.col("_bf_maybe")).drop("_bf_maybe")
    suspect = flagged.where(F.col("_bf_maybe")).drop("_bf_maybe")
    verified = suspect.join(
        keys.select(F.col(set_key).alias(df_key)).distinct(),
        df_key,
        "left_anti",
    )
    return clear.unionByName(verified)


def gate_funnel(docs: DataFrame, gates, total_name: str = "total") -> DataFrame:
    """Single-scan attrition report for an ordered filter-gate sequence —
    the funnel table every corpus paper publishes (RefinedWeb Table 2,
    FineWeb's filtering ablations): for each gate, how many documents
    entered it, how many it removed, how many survived.

    ``gates`` is an ordered sequence of ``(name, Column)`` pairs, each
    column a boolean PASS predicate evaluated row-locally. Gate *i* is
    counted only over the survivors of gates ``1..i-1`` (cumulative
    conjunction), matching how a real pipeline applies them — cheapest
    first, later gates never see earlier gates' rejects. A NULL
    predicate counts as a FAIL (the row is unjudgeable ⇒ dropped),
    mirroring SQL ``WHERE`` semantics.

    Returns one row per stage: ``(stage int, gate string, n_in long,
    n_fail long, n_out long)``, led by a ``stage 0`` / ``total_name``
    row carrying the input count. ``n_out`` of stage *i* == ``n_in`` of
    stage *i+1*; the last ``n_out`` is the corpus that ships.

    Scale (100 TB): the whole report is ONE aggregate over ONE scan —
    every cumulative flag is row-local column algebra, the partial sums
    combine map-side, and a single one-row exchange reaches the driver.
    No per-gate pass over the corpus, no joins; cost is independent of
    the number of gates. The pivot to per-gate rows happens on the
    one-row aggregate via an inline array explode (still JVM-side).

    The reference has no filter tiers to report on (its corpus is a
    fixed hand-listed download, reference workspace.py:100-141); this is
    north-rule curation surface.
    """
    gates = list(gates)
    aggs = [F.count(F.lit(1)).alias("_n0")]
    cum = None
    for i, (_, cond) in enumerate(gates, start=1):
        c = F.coalesce(cond.cast("boolean"), F.lit(False))
        cum = c if cum is None else (cum & c)
        # coalesce: sum over ZERO rows is NULL — an empty corpus must
        # report 0 survivors, not null
        aggs.append(
            F.coalesce(F.sum(cum.cast("long")), F.lit(0).cast("long")).alias(
                f"_n{i}"
            )
        )
    row = docs.agg(*aggs)
    entries = [
        F.struct(
            F.lit(0).cast("int").alias("stage"),
            F.lit(total_name).alias("gate"),
            F.col("_n0").alias("n_in"),
            F.lit(0).cast("long").alias("n_fail"),
            F.col("_n0").alias("n_out"),
        )
    ]
    for i, (name, _) in enumerate(gates, start=1):
        entries.append(
            F.struct(
                F.lit(i).cast("int").alias("stage"),
                F.lit(name).alias("gate"),
                F.col(f"_n{i - 1}").alias("n_in"),
                (F.col(f"_n{i - 1}") - F.col(f"_n{i}")).alias("n_fail"),
                F.col(f"_n{i}").alias("n_out"),
            )
        )
    return row.select(F.explode(F.array(*entries)).alias("_e")).select("_e.*")


def curate_funnel(
    docs: DataFrame,
    text_col: str = "text",
    html_col: str = "html",
    respect_robots: bool = False,
    gopher=False,
    badwords=None,
    max_badword_ratio: float = 0.1,
) -> DataFrame:
    """Attrition report for :func:`~.curate.curate`'s ROW-LOCAL content
    gates, in curate's production order (robots-meta → gopher →
    badwords), as one :func:`gate_funnel` aggregate over one scan — the
    always-on curation dashboard a 100 TB run can afford to log per
    batch.

    Deliberately covers only the gates whose verdict is a row-local
    predicate on the doc itself. The join-tier gates (domain blocklist,
    robots.txt fetch gate, LM perplexity buckets, classifier head,
    dedup, host quota) are join/aggregate properties whose attrition is
    reported by their own oracled operators — folding them here would
    turn the one-scan report into a multi-join job and defeat its
    purpose. ``badwords`` therefore accepts only the in-plan list form
    (the DataFrame lexicon form is a broadcast join — use
    :func:`wordlist_density` directly).

    Gate verdicts match the gates curate applies — pinned by
    tests against :func:`robots_directives` / :func:`gopher_filter` /
    :func:`wordlist_density` over the same rows.
    """
    gates = []
    if respect_robots:
        metas = F.regexp_extract_all(F.col(html_col), F.lit(_META_TAG_RE), 0)
        robots = F.filter(metas, lambda m: m.rlike(_ROBOTS_NAME_RE))
        contents = F.transform(
            robots, lambda m: F.regexp_extract(m, _CONTENT_RE, 1)
        )
        joined = F.lower(F.concat_ws(",", contents))
        none = joined.rlike(r"(^|[,\s])none($|[,\s])")
        noindex = joined.contains("noindex") | none
        gates.append(("robots_meta", ~noindex))
    if gopher:
        overrides = gopher if isinstance(gopher, dict) else {}
        gates.append(("gopher", gopher_passes(text_col, **overrides)))
    if badwords is not None:
        if not isinstance(badwords, (list, tuple, set, frozenset)):
            raise TypeError(
                "curate_funnel takes the in-plan badwords list form only; "
                "DataFrame lexicons are a broadcast join — report them via "
                "wordlist_density"
            )
        ws = normalized_words(text_col)
        vocab = sorted({str(w).lower() for w in badwords})
        if vocab:
            lex = _lit_str_array(vocab)
            hits = F.size(F.filter(ws, lambda w: F.array_contains(lex, F.lower(w))))
            # the same rounded ratio curate compares against
            ratio = F.round(hits / F.greatest(F.size(ws), F.lit(1)), 6)
            gates.append(("badwords", ratio <= max_badword_ratio))
    return gate_funnel(docs, gates)


def train_val_test_split(
    docs: DataFrame,
    weights=None,
    seed: str = "0",
    id_col: str = "doc_id",
    split_col: str = "split",
) -> DataFrame:
    """Deterministic hash-based corpus split (train/val/test or any
    named weighting): each doc's split is a pure function of
    ``(seed, id)`` — reproducible across runs, retries, partitionings
    and engines, stable under corpus growth (a doc never migrates when
    OTHER docs are added, unlike row_number-range splits), and
    decorrelated from crawl order/hosts (md5, the deterministic_shuffle
    argument).

    Assignment compares the first 6 hex digits of ``md5(seed || ':' ||
    id)`` against cumulative-weight thresholds AS STRINGS (hex compares
    bytewise), so no engine-specific hex→int conversion exists to
    drift; thresholds are ``floor(cum · 16⁶)`` formatted to 6 digits.
    Granularity is 1/16⁶ ≈ 6e-8 — weights are honored to that
    resolution. Weights must sum to 1 (±1e-9); dict order defines the
    interval order.

    Row-local projection: scan speed, no shuffle, no UDF. Returns all
    input columns plus ``split_col``.
    """
    if weights is None:
        weights = {"train": 0.9, "val": 0.05, "test": 0.05}
    if not weights:
        raise ValueError("weights must be a non-empty mapping")
    total = sum(weights.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"weights must sum to 1, got {total}")
    h6 = F.substring(
        F.md5(F.concat(F.lit(str(seed)), F.lit(":"), F.col(id_col).cast("string"))),
        1,
        6,
    )
    names = list(weights)
    cum = 0.0
    expr = None
    for name in names[:-1]:
        cum += weights[name]
        thr = format(min(int(cum * 16**6), 16**6 - 1), "06x")
        cond = h6 < thr
        expr = (
            F.when(cond, F.lit(name))
            if expr is None
            else expr.when(cond, F.lit(name))
        )
    last = F.lit(names[-1])
    out_col = last if expr is None else expr.otherwise(last)
    return ensure_parallelism(docs).select("*", out_col.alias(split_col))


# ---------------------------------------------------------------------------
# DOM-template detection + soft-404 classification
# ---------------------------------------------------------------------------

_TAG_NAME_RE = r"<([a-zA-Z][a-zA-Z0-9]*)"


def template_skeletons(
    pages: DataFrame,
    id_col: str = "doc_id",
    url_col: str = "url",
    html_col: str = "html",
    min_pages: int = 3,
) -> DataFrame:
    """Host-level DOM-template detection: pages generated from the same
    CMS template share an opening-tag sequence even when their text
    differs completely, so hashing that sequence and counting it per
    host separates hand-written pages from template instances — the
    signal a boilerplate-extraction stage uses to learn PER-TEMPLATE
    strip rules instead of per-page heuristics, and a dedup stage uses
    to avoid minhashing near-identical shells.

    Skeleton = md5 of the lowercased opening-tag-name sequence
    (closing tags add no information the opening sequence lacks for
    template identity). Per page: ``(doc_id, host, skeleton, n_tags,
    n_same, templated)`` where ``n_same`` counts pages on the SAME
    host with the SAME skeleton and ``templated = n_same >=
    min_pages``.

    Scale shape: skeleton hashing is row-local regexp column algebra
    (scan speed, codegen); the only shuffle is the (host, skeleton)
    count — fully map-side combinable (template cardinality per host
    is tiny) — joined back on the same key. Both the tag regex and the
    hash are in the Java∩RE2∩DuckDB subset, so the oracle twin states
    them verbatim."""
    html = F.coalesce(F.col(html_col).cast("string"), F.lit(""))
    tags = F.transform(
        F.regexp_extract_all(html, F.lit(_TAG_NAME_RE), 1), F.lower
    )
    base = ensure_parallelism(pages).select(
        F.col(id_col).alias("doc_id"),
        host_col(url_col).alias("host"),
        F.md5(F.array_join(tags, ">")).alias("skeleton"),
        F.size(tags).cast("long").alias("n_tags"),
    )
    counts = base.groupBy("host", "skeleton").agg(
        F.count(F.lit(1)).alias("n_same")
    )
    return base.join(counts, ["host", "skeleton"]).select(
        "doc_id",
        "host",
        "skeleton",
        "n_tags",
        "n_same",
        (F.col("n_same") >= F.lit(int(min_pages))).alias("templated"),
    )


#: Error-page phrases, each anchored to lowercased text. Kept to a
#: Java∩RE2∩DuckDB-safe alternation (no lookaround, no backrefs).
_SOFT404_PHRASES = (
    r"page not found|404 not found|error 404|no longer available"
    r"|page does not exist|page you requested"
)


def soft404_detect(
    pages: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    html_col: str = "html",
    min_words: int = 30,
    score_threshold_bp: int = 5000,
) -> DataFrame:
    """Soft-404 detection: pages that return HTTP 200 but are error
    shells ("page not found") poison both dedup (thousands of
    near-identical shells per host) and training data (content-free
    text). A crawl-curation pass flags them by row-local evidence —
    no fetch replay needed:

    - ``err_phrases``: count of error-phrase hits in the lowercased
      text (``page not found``, ``error 404``, ...)
    - ``n_words``: whitespace token count (error shells are short)
    - ``link_words``: words inside anchor tags in the html — error
      shells are mostly navigation, so a high anchor share of a short
      page is corroborating evidence
    - ``soft404_bp``: evidence score in basis points — phrases are
      decisive (5000 each, capped), shortness and anchor-share add
      2500 each; ``is_soft404 = soft404_bp >= score_threshold_bp``
      (default: any phrase hit, or short+anchor-heavy together).

    All exact-integer arithmetic over row-local counts: one scan, no
    shuffle, no UDF; every expression is stated verbatim in the DuckDB
    oracle twin."""
    text = F.lower(F.coalesce(F.col(text_col), F.lit("")))
    html = F.lower(F.coalesce(F.col(html_col).cast("string"), F.lit("")))
    err_phrases = F.regexp_count(text, F.lit(_SOFT404_PHRASES)).cast("long")
    n_words = F.size(normalized_words(text_col)).cast("long")
    anchors = F.regexp_extract_all(html, F.lit(r"<a[^>]*>([^<]*)</a"), 1)
    link_words = F.aggregate(
        F.transform(
            anchors,
            lambda a: F.size(F.filter(F.split(F.trim(a), r"\s+"), lambda w: w != "")),
        ),
        F.lit(0).cast("long"),
        lambda acc, n: acc + n,
    )
    short = (n_words < F.lit(int(min_words))).cast("long")
    # anchor share >= half the words, on a page that has any words
    anchor_heavy = (
        (n_words > 0) & (link_words * 2 >= n_words)
    ).cast("long")
    score = (
        F.least(err_phrases, F.lit(2)) * F.lit(5000)
        + short * F.lit(2500)
        + anchor_heavy * F.lit(2500)
    ).cast("long")
    return ensure_parallelism(pages).select(
        F.col(id_col).alias("doc_id"),
        err_phrases.alias("err_phrases"),
        n_words.alias("n_words"),
        link_words.alias("link_words"),
        score.alias("soft404_bp"),
        (score >= F.lit(int(score_threshold_bp))).alias("is_soft404"),
    )


def extraction_density(
    pages: DataFrame,
    id_col: str = "doc_id",
    html_col: str = "html",
    text_col: str = "text",
) -> DataFrame:
    """Extraction-density audit — the per-page measure of how much of
    the markup survived as text: ``text_bp`` (extracted chars per
    markup char, floored basis points), tag count, and text chars per
    tag. Low density on a big page = boilerplate-heavy shell (nav
    farms, link directories); near-10000 density = plain-text-ish page
    the extractor barely touched. This is the monitoring metric an
    extraction fleet tracks per crawl segment to catch extractor
    regressions and template drift WITHOUT gold spans (the graded twin
    with gold is ``extraction_token_prf``).

    Row-local column algebra (lengths + one tag count), scan speed, no
    shuffle, no UDF. Returns ``(doc_id, html_chars, text_chars,
    n_tags, text_bp, chars_per_tag)``."""
    html = F.coalesce(F.col(html_col).cast("string"), F.lit(""))
    text = F.coalesce(F.col(text_col), F.lit(""))
    n_tags = F.size(
        F.regexp_extract_all(html, F.lit(_TAG_NAME_RE), 1)
    ).cast("long")
    hlen = F.length(html).cast("long")
    tlen = F.length(text).cast("long")
    return ensure_parallelism(pages).select(
        F.col(id_col).alias("doc_id"),
        hlen.alias("html_chars"),
        tlen.alias("text_chars"),
        n_tags.alias("n_tags"),
        F.floor(tlen * F.lit(10000.0) / F.greatest(hlen, F.lit(1)))
        .cast("long")
        .alias("text_bp"),
        F.floor(tlen * F.lit(1.0) / F.greatest(n_tags, F.lit(1)))
        .cast("long")
        .alias("chars_per_tag"),
    )


def grouped_split(
    docs: DataFrame,
    group_col: str,
    weights=None,
    seed: str = "0",
    split_col: str = "split",
) -> DataFrame:
    """Leakage-safe train/val/test split: the assignment hash is keyed
    on ``group_col`` (host, registered domain, url prefix, near-dup
    cluster id...), so EVERY row of a group lands in the same split —
    the eval-contamination guard a per-document split silently lacks
    (boilerplate, templates and near-duplicates within a host otherwise
    straddle train and test, inflating eval). Same hex-threshold
    determinism as :func:`train_val_test_split` (this is that operator
    keyed one level up); weights are honored at GROUP granularity —
    document-mass proportions follow only as far as group sizes are
    even, which is the price of the leakage guarantee and is the
    documented trade (measure with `skew_report` if it matters).

    Row-local projection at scan speed: no shuffle, no group
    materialization — co-assignment needs no join because the hash is
    a pure function of the group key itself.
    """
    return train_val_test_split(
        docs, weights=weights, seed=seed, id_col=group_col, split_col=split_col
    )


def coverage_diff(
    discovered: DataFrame,
    crawled: DataFrame,
    url_col: str = "url",
) -> DataFrame:
    """Per-host crawl-coverage reconciliation — the frontier QA table:
    which hosts have discovered-but-unfetched backlog (sitemap/feed/
    link discovery running ahead of fetch capacity) and which have
    OFF-PLAN fetches (crawled urls discovery never produced — trap
    params, redirect drift, seed leakage). Full outer join of the two
    distinct url sets; one row per host: ``(host, n_discovered,
    n_crawled, n_both, n_backlog, n_offplan, coverage_bp)`` with
    coverage = both/discovered in integer basis points (NULL when the
    host was never discovered — 0/0 stays honest).

    Scale: two distincts + one url-keyed full outer join + one
    combinable host agg; hosts are the output cardinality. Host
    grammar is :func:`host_col` (the oracled regex), so lookalike
    urls reconcile under the same key the blocklist/quota tiers use.
    """
    d = discovered.select(F.col(url_col).alias("_u")).distinct().withColumn(
        "_d", F.lit(1)
    )
    c = crawled.select(F.col(url_col).alias("_u")).distinct().withColumn(
        "_c", F.lit(1)
    )
    j = d.join(c, on="_u", how="full_outer").select(
        host_col("_u").alias("host"),
        F.coalesce(F.col("_d"), F.lit(0)).alias("_d"),
        F.coalesce(F.col("_c"), F.lit(0)).alias("_c"),
    )
    return j.groupBy("host").agg(
        F.sum("_d").cast("long").alias("n_discovered"),
        F.sum("_c").cast("long").alias("n_crawled"),
        F.sum(F.col("_d") * F.col("_c")).cast("long").alias("n_both"),
        F.sum(F.col("_d") * (1 - F.col("_c"))).cast("long").alias("n_backlog"),
        F.sum((1 - F.col("_d")) * F.col("_c")).cast("long").alias("n_offplan"),
        F.when(
            F.sum("_d") > 0,
            F.expr("(10000 * sum(_d * _c)) div sum(_d)"),
        )
        .cast("long")
        .alias("coverage_bp"),
    )


def eb_shrinkage(
    df: DataFrame,
    group_col: str,
    pass_col: str,
    min_n: int = 5,
) -> DataFrame:
    """Empirical-Bayes (beta-binomial) shrinkage of per-group gate
    pass-rates — the small-sample fix `host_reputation` rankings need:
    a host with 2/2 passes must not outrank one with 970/1000, and a
    host with 0/1 must not be blacklisted. Raw rates are shrunk toward
    the corpus prior with strength inversely proportional to evidence:
    ``shrunk = (k + α)/(n + α + β)`` with (α, β) fit by method of
    moments on the observed rate distribution over groups with at
    least ``min_n`` rows (small groups still GET shrunk — they just
    don't vote on the prior).

    Determinism discipline: the moment inputs are INTEGER micro-rates
    (``r_i = 10⁶·k div n``; mean and variance from exact integer sums
    over eligible groups), so both engines derive (α, β) from
    identical integers through identical IEEE-double arithmetic, and
    ``shrunk_micro = floor((10⁶·k + 10⁶·α) / (n + α + β))`` hashes
    exactly. Degenerate priors — fewer than 2 eligible groups, zero
    between-group variance, or variance ≥ m(1−m) (over-dispersion
    beyond what a beta supports, α+β ≤ 0) — yield NULL shrunk rates
    and a NULL prior, never a fabricated number.

    Scale: one combinable group rollup (group-cardinality rows), a
    1-row prior agg over it, broadcast back. Returns per group:
    ``(grp, n, k, rate_micro, prior_micro, strength_milli,
    shrunk_micro)`` where strength = α+β in milli.
    """
    g = F.col(group_col).cast("string")
    per = (
        ensure_parallelism(df)
        .select(
            g.alias("grp"),
            F.col(pass_col).cast("boolean").cast("int").alias("_e"),
        )
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("_e").cast("long").alias("k"),
        )
        .withColumn("rate_micro", F.expr("(1000000 * k) div n").cast("long"))
    )
    elig = per.where(F.col("n") >= int(min_n))
    prior = elig.agg(
        F.count(F.lit(1)).cast("long").alias("_h"),
        F.sum("rate_micro").cast("decimal(38,0)").alias("_sr"),
        F.sum(
            F.col("rate_micro").cast("decimal(38,0)") * F.col("rate_micro")
        ).alias("_sr2"),
    )
    # m, v in double FROM exact integers: m = Σr/H/1e6 (rate scale),
    # v = (H·Σr² − (Σr)²)/H²/1e12; α+β = m(1−m)/v − 1, α = m(α+β)
    joined = per.crossJoin(F.broadcast(prior))
    m = (
        F.col("_sr").cast("double")
        / F.col("_h").cast("double")
        / F.lit(1000000.0)
    )
    v = (
        (
            F.col("_h").cast("double") * F.col("_sr2").cast("double")
            - F.col("_sr").cast("double") * F.col("_sr").cast("double")
        )
        / (F.col("_h").cast("double") * F.col("_h").cast("double"))
        / F.lit(1.0e12)
    )
    ab = m * (F.lit(1.0) - m) / v - F.lit(1.0)
    ok = (
        (F.col("_h") >= 2)
        & (v > F.lit(0.0))
        & (m > F.lit(0.0))
        & (m < F.lit(1.0))
        & (ab > F.lit(0.0))
    )
    alpha = m * ab
    return joined.select(
        "grp",
        "n",
        "k",
        "rate_micro",
        F.when(ok, F.floor(F.lit(1000000.0) * m)).cast("long").alias("prior_micro"),
        F.when(ok, F.floor(F.lit(1000.0) * ab)).cast("long").alias("strength_milli"),
        F.when(
            ok,
            F.floor(
                (F.lit(1000000.0) * F.col("k").cast("double") + F.lit(1000000.0) * alpha)
                / (F.col("n").cast("double") + ab)
            ),
        )
        .cast("long")
        .alias("shrunk_micro"),
    )
