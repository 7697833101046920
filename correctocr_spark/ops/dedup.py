"""Deduplication operators for web-scale corpora.

All hashing is ``md5`` over strings: identical hex output in Spark and
DuckDB, so every operator here is oracle-checkable cross-engine. Each
operator is pure DataFrame algebra (no Python UDFs): shingling uses
higher-order array functions, candidate generation is a band-bucket
shuffle, verification is an exploded equi-join — the shapes that
survive a 100 TB corpus (the full O(n²) pairwise comparison never
materializes; only same-bucket candidates are verified).
"""

from __future__ import annotations

from typing import List, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..spark.warc import _is_scan_rooted, ensure_parallelism  # noqa: F401
from .cache import register_intermediates


def normalized_words(text_col: str = "text"):
    """Whitespace word array (empty tokens dropped)."""
    return F.filter(F.split(F.trim(F.col(text_col)), r"\s+"), lambda w: w != "")


def _read_parquet_or_none(spark, path: str) -> Optional[DataFrame]:
    """Read a parquet path, mapping ONLY path-does-not-exist to None.
    Any other failure (corrupt footer, permission, transient FS error)
    raises — the strictness contract durable-index reads share: a
    swallowed error would silently degrade recall with no signal."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(path)
    except AnalysisException as e:
        error_class = ""
        try:
            error_class = e.getCondition() or ""
        except Exception:
            pass
        if "PATH_NOT_FOUND" in error_class or "Path does not exist" in str(e):
            return None
        raise


def exact_dup_groups(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup: hash-groupBy on content fingerprint.

    Scale shape: one shuffle keyed by a 32-hex-char fingerprint — the
    canonical first pass over any crawl snapshot.
    """
    return (
        docs.select(F.md5(F.col(text_col)).alias("fp"), F.col(id_col).alias("doc_id"))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keep_id"))
        .where(F.col("n_docs") > 1)
    )


def shingles_df(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 3
) -> DataFrame:
    """Distinct word k-shingles per doc (the MinHash/Jaccard universe).

    Dedup happens ROW-LOCALLY (``array_distinct`` before the explode,
    via :func:`shingles_col`) instead of a global ``.distinct()``: the
    distinct-ness of (doc_id, shingle) is entirely within-document, so
    a corpus-wide shuffle to enforce it moved every shingle over the
    network for nothing (guide §2.4 — remove shuffles outright). Output
    is identical for the module-wide contract that ``id_col`` is unique
    per input row (every caller's contract; duplicate-id inputs belong
    to exact-dedup, upstream of any shingle pass)."""
    return (
        ensure_parallelism(docs)
        .select(
            F.col(id_col).alias("doc_id"),
            F.explode(shingles_col(text_col, k)).alias("shingle"),
        )
    )


def shingles_col(text_col: str = "text", k: int = 3):
    """Distinct word k-shingles as a row-local ARRAY column (no explode,
    no shuffle) — same universe as :func:`shingles_df`."""
    words = normalized_words(text_col)
    sh = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(words) - k, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(words, i + 1, k)),
    )
    return F.array_distinct(F.filter(sh, lambda s: s != ""))


def lsh_band_keys_col(sig_col, num_hashes: int = 12, bands: int = 4):
    """Band-key ARRAY column over a signature array — the row-local twin
    of the banding inside :func:`lsh_candidate_pairs` (same key format)."""
    rows_per_band = num_hashes // bands
    return F.array(
        *[
            F.concat_ws(
                "|",
                F.lit(str(b)),
                *[sig_col[b * rows_per_band + r] for r in range(rows_per_band)],
            )
            for b in range(bands)
        ]
    )


def minhash_signatures(
    shingles: DataFrame, num_hashes: int = 12
) -> DataFrame:
    """MinHash: per (doc, i) the min of md5(i|shingle) — one aggregation,
    signature as an ordered array column."""
    hashed = shingles.select(
        "doc_id",
        *[
            F.md5(F.concat(F.lit(f"{i}|"), F.col("shingle"))).alias(f"h{i}")
            for i in range(num_hashes)
        ],
    )
    aggs = [F.min(f"h{i}").alias(f"mh{i}") for i in range(num_hashes)]
    sig = hashed.groupBy("doc_id").agg(*aggs)
    return sig.select(
        "doc_id", F.array(*[F.col(f"mh{i}") for i in range(num_hashes)]).alias("sig")
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    num_hashes: int = 12,
    bands: int = 4,
    max_bucket: Optional[int] = None,
) -> DataFrame:
    """Band the signature, bucket-join within bands: candidates are docs
    sharing any full band. Never compares across buckets => linear-ish in
    corpus size instead of O(n²).

    ``max_bucket`` is the HOT-BUCKET guard the self-join needs at crawl
    scale: a band shared by f documents emits f(f-1)/2 pairs, so one
    boilerplate bucket of 10⁶ mirror pages would alone produce ~5·10¹¹
    join rows. Buckets larger than the cap are dropped BEFORE the
    self-join (a windowless groupBy count + semi-join) — their members
    are near-identical boilerplate that the exact-dup / duplicate-spans
    passes already catch, which is the standard recall trade
    (pinned by test_lsh_hot_bucket_cap). ``None`` keeps every bucket
    (the oracle twin's behavior).
    """
    rows_per_band = num_hashes // bands
    banded = signatures.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.concat_ws(
                        "|",
                        F.lit(str(b)),
                        *[F.col("sig")[b * rows_per_band + r] for r in range(rows_per_band)],
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band_key"),
    )
    # Bucket membership lists instead of a bucket self-join: group by
    # band_key, drop singleton buckets (no pair can come from them) and
    # over-cap buckets in the SAME aggregation, then explode the i<j
    # pairs from the sorted member list row-locally. Identical pair set
    # (same buckets, same doc_a < doc_b orientation, same distinct), but
    # the plan is one keyed shuffle + one distinct — the self-join form
    # needed an eager persist+count barrier (two concurrent consumers),
    # a separate count+semi-join for the cap, and two more exchanges
    # (guide §2.4). Per-bucket pair fan-out is bounded by max_bucket
    # exactly as before; the collected member list is f ≤ max_bucket
    # entries, never the f² join rows.
    members = (
        banded.groupBy("band_key")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("_ds"))
        .where(F.size("_ds") >= 2)
    )
    if max_bucket is not None:
        members = members.where(F.size("_ds") <= max_bucket)
    out = (
        members.select(F.posexplode("_ds").alias("_i", "doc_a"), "_ds")
        .select(
            "doc_a",
            F.explode(F.slice("_ds", F.col("_i") + 2, F.size("_ds"))).alias(
                "doc_b"
            ),
        )
        .distinct()
    )
    return out


def jaccard_pairs(
    shingles: DataFrame,
    candidates: Optional[DataFrame] = None,
    threshold: float = 0.0,
) -> DataFrame:
    """n-gram Jaccard via exploded equi-join (pure relational; both
    engines agree exactly — integer counts, one final division).

    This is the ALL-PAIRS form (and the oracle twin of the gated verify):
    every pair sharing >=1 shingle aggregates — O(freq²) in the hottest
    shingle, fine at oracle scale, NOT the 100 TB path. With
    ``candidates`` the semi-join lands *after* the aggregation (Catalyst
    cannot push a semi-join below an aggregate), so it bounds the output,
    not the pair-space — for the scale path use
    :func:`jaccard_verify_candidates`, which gates BEFORE any pairwise
    work.

    Pair generation is POSTING-LIST shaped, not a self-join: postings
    group by shingle (singleton shingles — the vast majority of any
    corpus — drop before any pairwise work), and the i<j pairs explode
    from the sorted posting row-locally. Doc set sizes come from a
    combinable per-doc COUNT of the shingle stream (map-side partials,
    a doc-cardinality shuffle) joined onto the AGGREGATED pair table —
    not the former count-over-Window, which exchanged AND sorted the
    entire corpus shingle stream by doc_id just to tag each row with
    its doc's size (guide §2.3: the posting structs and the pair
    explode now carry no per-row size either — fewer shuffled bytes).
    Same O(freq²) pair multiset, identical (doc_a, doc_b, jaccard)
    output (the size join re-attaches exactly the window's per-doc
    count); measured ~20% faster at sf0.1, and the size branch's
    second evaluation of the shingle generator is a scan-rooted
    narrow pass — cheaper than the corpus-wide sort it replaces at
    any scale. No persist barrier anywhere.
    """
    sizes = shingles.groupBy("doc_id").agg(F.count(F.lit(1)).alias("_n"))
    posting = (
        shingles.groupBy("shingle")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("_ds"))
        .where(F.size("_ds") >= 2)
    )
    pairs = (
        posting.select(F.posexplode("_ds").alias("_i", "doc_a"), "_ds")
        .select(
            "doc_a",
            F.explode(
                F.slice("_ds", F.col("_i") + 2, F.size("_ds"))
            ).alias("doc_b"),
        )
    )
    inter = pairs.groupBy("doc_a", "doc_b").agg(
        F.count(F.lit(1)).alias("n_inter"),
    )
    if candidates is not None:
        inter = inter.join(candidates, on=["doc_a", "doc_b"], how="left_semi")
    inter = inter.join(
        sizes.select(F.col("doc_id").alias("doc_a"), F.col("_n").alias("n_a")),
        on="doc_a",
    ).join(
        sizes.select(F.col("doc_id").alias("doc_b"), F.col("_n").alias("n_b")),
        on="doc_b",
    )
    out = inter.select(
        "doc_a",
        "doc_b",
        F.round(
            F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 6
        ).alias("jaccard"),
    )
    return out.where(F.col("jaccard") >= threshold)


def jaccard_verify_candidates(
    docs: DataFrame,
    candidates: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.0,
) -> DataFrame:
    """Jaccard verification at PAIR granularity — the 100 TB path.

    ``candidates`` (doc_a, doc_b with doc_a < doc_b, e.g. from
    :func:`lsh_candidate_pairs`) is joined to each side's row-local
    distinct-shingle ARRAY (:func:`shingles_col`); the intersection is
    ``size(array_intersect(sh_a, sh_b))`` computed per candidate row. No
    shingle self-join exists anywhere in the plan, so a boilerplate
    shingle shared by f documents costs f array entries — never the f²
    join rows the ungated :func:`jaccard_pairs` materializes before its
    post-aggregation gate. Shuffle cost: two equi-joins on doc id.

    Value-identical to :func:`jaccard_pairs` over the same candidates
    (same distinct-shingle universe, same integer counts, one division,
    round 6), with one documented edge: a candidate pair sharing ZERO
    shingles scores 0.0 here but is absent from the aggregated form —
    immaterial for any ``threshold > 0`` (LSH candidates share a full
    band, so in practice they share shingles anyway). Docs with no
    shingles are dropped, matching the aggregated form's inner joins.

    The corpus is first semi-joined down to candidate MEMBERS before any
    shingle array is built: near-dup members are a sliver of a crawl, so
    the (interpreted, HOF-heavy) array construction runs on that sliver
    only — AQE broadcasts the member-id set while it fits, so the full
    corpus scan is a broadcast-filtered pass, not a shuffle.

    ``candidates`` feeds two consumers (the member-id set and the pair
    join) and ``arrays`` feeds two join sides — both are persisted, and
    ONE eager count materializes both: the arrays job consumes
    ``candidates`` through exactly one path (cand_ids → members), so
    its count both computes+caches the candidate table and the member
    arrays in a single job; the final join then reads both from cache.
    ``arrays`` stays EAGER because its two join sides launch
    concurrently under AQE and a lazily-persisted subtree can be
    computed once PER concurrent consumer (the cache dedupes storage,
    not in-flight computation — measured as 2-3x run-to-run variance
    on the sf0.1 bench before the eager form).
    """
    candidates = candidates.persist()
    # ONE leg through the lazily-persisted candidates (explode of both
    # id columns), not a two-projection union: union legs run as
    # concurrent tasks of one stage, and each could compute the
    # uncached candidate subtree before the other's results land in
    # the cache — the single Generate leg keeps the one-path guarantee
    # the lazy persist needs. Same id set (distinct of both columns).
    cand_ids = (
        candidates.select(
            F.explode(F.array("doc_a", "doc_b")).alias(id_col)
        ).distinct()
    )
    members = docs.join(cand_ids, on=id_col, how="left_semi")
    # plain repartition (NOT ensure_parallelism — .rdd on a join output
    # executes the join under AQE): spreads the interpreted shingle-array
    # build across cores AND pre-distributes by the verify-join key; the
    # shuffled payload is candidate members only, a sliver of the corpus
    # persist FIRST, filter the stored arrays after: a size() filter on
    # the un-cached projection is pushed below the repartition by the
    # optimizer, re-deriving the whole shingle-array expression from
    # text on the pre-repartition partitioning (serialized for a
    # broadcast-semi-join output) — measured as the dominant cost of
    # this operator before the persist/filter swap
    arrays_all = (
        members.repartition(F.col(id_col))
        .select(
            F.col(id_col).alias("doc_id"), shingles_col(text_col, k).alias("sh")
        )
        .persist()
    )
    arrays_all.count()
    arrays = arrays_all.where(F.size("sh") > 0)
    a = arrays.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = arrays.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    counted = (
        candidates.join(a, on="doc_a")
        .join(b, on="doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("sh_a", "sh_b")).alias("n_inter"),
            F.size("sh_a").alias("n_a"),
            F.size("sh_b").alias("n_b"),
        )
    )
    out = (
        counted.select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 6
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )
    return register_intermediates(out, candidates, arrays_all)


def simhash64(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 64) -> DataFrame:
    """SimHash: per-word md5-derived bit votes summed per doc.

    Bit b of word w = bit b of the first 16 hex chars of md5(w), built
    as a signed 64-bit value from two 32-bit halves (``conv`` on a full
    16-hex string would exceed the unsigned-long range and null out;
    ``shiftleft(hi, 32)`` wraps into two's complement exactly like the
    DuckDB twin's ``(hi - 2^32·[hi≥2^31])·2^32 + lo``). The doc's
    fingerprint sets bit b iff the sum over words of (+1/-1) votes is
    positive; bit 63 contributes the sign (+= -2^63). Pure column
    algebra — one shuffle. 64 bits is the web-scale operating point: a
    16-bit fingerprint has 65,536 values and collides everywhere.

    ``bits <= 32`` keeps the legacy single-half derivation (bit b of the
    first 8 hex chars) so small-fingerprint oracles stay stable.
    """
    words = ensure_parallelism(docs).select(
        F.col(id_col).alias("doc_id"), F.explode(normalized_words(text_col)).alias("w")
    )
    md5 = F.md5(F.col("w"))
    if bits <= 32:
        h = F.conv(F.substring(md5, 1, 8), 16, 10).cast("long")
    else:
        hi = F.conv(F.substring(md5, 1, 8), 16, 10).cast("long")
        lo = F.conv(F.substring(md5, 9, 8), 16, 10).cast("long")
        h = F.shiftleft(hi, 32).bitwiseOR(lo)
    # vote / sum / fingerprint expressions built as parsed SQL strings —
    # the per-bit Column build issued ~7 py4j round trips per bit per
    # stage (~1 s of pure driver time per construction at 64 bits); the
    # parsed trees are the same CASE WHEN / sum / add chains, so
    # execution and results are identical.
    votes = words.select(
        F.col("doc_id"),
        h.alias("_h"),
    ).selectExpr(
        "doc_id",
        *[f"IF((shiftright(_h, {b}) & 1L) = 1L, 1L, -1L) AS v{b}" for b in range(bits)],
    )
    agg = votes.groupBy("doc_id").agg(
        *[F.expr(f"sum(v{b}) AS s{b}") for b in range(bits)]
    )
    lo_terms = " + ".join(
        f"IF(s{b} > 0, {2**b}L, 0L)" for b in range(min(bits, 63))
    )
    fp = F.expr(f"CAST({lo_terms} AS BIGINT)")
    if bits > 63:
        # bit 63 contributes the sign: += -2^63, exactly the old
        # Column-built literal (kept in the Column API — the parser
        # rejects the bare min-long literal)
        fp = fp + F.when(F.col("s63") > 0, F.lit(-(2**63))).otherwise(F.lit(0))
    return agg.select("doc_id", fp.cast("long").alias("simhash"))


def simhash_near_pairs(
    simhashes: DataFrame,
    bits: int = 64,
    max_hamming: int = 3,
    max_bucket: Optional[int] = None,
) -> DataFrame:
    """Near-duplicates by SimHash Hamming distance, at scale.

    Pigeonhole: split the fingerprint into ``max_hamming + 1`` bands —
    any pair within the distance budget must share at least one band
    exactly. Candidates come from per-band equi-joins (never O(n²));
    verification is a native ``bit_count(a ^ b)``. At 64 bits /
    hamming<=3 each band key is 16 bits, so buckets are tiny (n/65536
    expected) and pair selectivity stays ≪1% — the 16-bit variant's
    4-bit band keys degenerate toward all-pairs and are only for toys.
    Band extraction (arithmetic shift + mask) is sign-safe for negative
    fingerprints. ``max_bucket`` drops oversized band buckets before the
    self-join — same hot-bucket guard and recall trade as
    :func:`lsh_candidate_pairs`.
    """
    n_bands = max_hamming + 1
    width = bits // n_bands
    banded = simhashes.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.concat_ws(
                        "|",
                        F.lit(str(b)),
                        F.shiftright("simhash", b * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .cast("string"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("band_key"),
    )
    # bucket member lists instead of a band self-join (the
    # lsh_candidate_pairs rewrite, with the fingerprint riding in the
    # member struct so the Hamming verify stays row-local): one keyed
    # shuffle + one distinct, no persist barrier — the upstream
    # 64-column vote aggregation now has a single consumer and runs
    # exactly once by construction. Buckets below 2 members or above
    # the cap drop inside the same aggregation; identical pair set and
    # orientation (sort by doc_id, i<j).
    members = (
        banded.groupBy("band_key")
        .agg(
            F.sort_array(F.collect_list(F.struct("doc_id", "simhash"))).alias(
                "_ds"
            )
        )
        .where(F.size("_ds") >= 2)
    )
    if max_bucket is not None:
        members = members.where(F.size("_ds") <= max_bucket)
    hamming = F.bit_count(F.col("_a.simhash").bitwiseXOR(F.col("_b.simhash")))
    out = (
        members.select(F.posexplode("_ds").alias("_i", "_a"), "_ds")
        .select(
            "_a",
            F.explode(F.slice("_ds", F.col("_i") + 2, F.size("_ds"))).alias(
                "_b"
            ),
        )
        .select(
            F.col("_a.doc_id").alias("doc_a"),
            F.col("_b.doc_id").alias("doc_b"),
            hamming.alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )
    return out


def embedding_dup_pairs(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
) -> DataFrame:
    """Near-dup by embedding cosine, exact: all-pairs crossJoin verify.

    O(n²) — this is the *small-n oracle twin* only; the scale path is
    :func:`embedding_dup_pairs_bucketed`."""
    from .similarity import cosine_col

    a = embeddings.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = embeddings.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    cos = cosine_col(
        F.col("va").cast("array<double>"), F.col("vb").cast("array<double>")
    )
    return (
        a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cos.alias("cosine"))
        .where(F.col("cosine") >= threshold)
    )


def embedding_dup_pairs_bucketed(
    embeddings: DataFrame,
    planes: Optional[List[List[float]]] = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int = 6,
    seed: int = 7,
    probe_hamming: int = 1,
) -> DataFrame:
    """Near-dup by embedding cosine at scale: hyperplane-LSH candidate
    generation + cosine verify — the O(n²) pair space never materializes.

    Each vector gets a sign-pattern bucket (bit p = sign of <v, plane_p>);
    candidates are equi-join matches between one side's *multi-probe*
    bucket set (own code + all codes within Hamming distance
    ``probe_hamming`` — the probed side only, standard multi-probe LSH)
    and the other side's exact bucket. A cosine-θ pair disagrees on a
    given plane with probability θ/π, so near-identical vectors
    (θ→0) collide with near-certainty; recall for looser thresholds is
    tuned by (n_planes, probe_hamming). Shuffle cost: one equi-join on a
    dense int key with fan-out ``1 + Σ C(n_planes, i≤probe_hamming)``
    instead of a cartesian product (plan pinned cartesian-free by
    test_embedding_dup_bucketed_plan).
    """
    from itertools import combinations

    from .similarity import dot_col, hyperplane_bucket, norm_col

    if planes is None:
        # deliberately NO fallback that probes the data: inferring the
        # dim used to run a driver-side `.first()` action during plan
        # construction — an eager job on a lazily-built query. Callers
        # know their embedding dim; build planes explicitly.
        raise ValueError(
            "planes is required: build them with "
            f"similarity.random_planes(dim, n_planes={n_planes}, seed={seed}) "
            "for your embedding dimension (no driver-side dim probe here)"
        )
    masks = [0]
    for r in range(1, probe_hamming + 1):
        for bits in combinations(range(len(planes)), r):
            masks.append(sum(1 << b for b in bits))
    vec_d = F.col(vec_col).cast("array<double>")
    # norm precomputed once per VECTOR (not per candidate pair) — the
    # per-pair work is then a single dot product; same float expression
    # as cosine_col, so values are bit-identical to the brute-force twin
    bucketed = ensure_parallelism(embeddings).select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        norm_col(vec_d).alias("norm"),
        hyperplane_bucket(vec_d, planes).alias("bucket"),
    )
    # self-join shape: persist + eager count so the n_planes dot
    # products per vector run once (at 100 TB the bucket column is
    # precomputed and the table is bucket-partitioned, making this a
    # plain co-located equi-join)
    bucketed = bucketed.persist()
    bucketed.count()
    probed = bucketed.select(
        F.col("id").alias("id_a"),
        F.col("v").alias("va"),
        F.col("norm").alias("norm_a"),
        F.explode(
            F.array(*[F.col("bucket").bitwiseXOR(F.lit(m)) for m in masks])
        ).alias("bucket"),
    )
    exact = bucketed.select(
        F.col("id").alias("id_b"), F.col("v").alias("vb"),
        F.col("norm").alias("norm_b"), "bucket",
    )
    cosine = dot_col(
        F.col("va").cast("array<double>"), F.col("vb").cast("array<double>")
    ) / (F.col("norm_a") * F.col("norm_b"))
    out = (
        probed.join(exact, on="bucket")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cosine.alias("cosine"))
        .where(F.col("cosine") >= threshold)
        .distinct()
    )
    return register_intermediates(out, bucketed)


class MinHashIndex:
    """Persistent MinHash-LSH band index for INCREMENTAL near-dup
    detection across crawl snapshots.

    Indexing a snapshot stores its ``(doc_id, band_key)`` table as
    parquet; the next snapshot bands only ITS documents and finds
    candidates by (a) self-joining its own band table (new-vs-new) and
    (b) equi-joining against the stored index (new-vs-old) — the full
    corpus is never re-shingled or re-banded, so a daily increment costs
    O(increment), not O(corpus). This is the same durable-artifact
    pattern as KbestStore (the reference's caches, §2.13) applied to
    dedup. Equivalence to a full recompute restricted to pairs touching
    the increment is pinned by test_minhash_index_incremental.

    At cluster scale the index is an Iceberg table bucketed by
    ``band_key`` so the new-vs-old join is co-located; parquet is the
    sandbox twin.

    ``max_bucket`` is the same HOT-BUCKET guard as
    :func:`lsh_candidate_pairs`: a boilerplate band shared by f docs
    ACROSS snapshots emits f(f-1)/2 (new-vs-new) / f_new·f_old
    (new-vs-old) join rows, so both joins are gated by one bucket count
    over stored ∪ new. Counting the union (not each side alone) makes
    EACH CALL equal to a capped full recompute over the union AS OF
    THAT CALL (the invariant test_minhash_index_incremental pins) — but
    the union of near-dup pairs across a SEQUENCE of calls can exceed a
    single capped one-shot: a bucket under the cap at snapshot A's run
    that crosses it once snapshot B arrives has already emitted its
    A-side pairs, which the one-shot would drop. (For EXACT dups the
    ``(doc_id, fp)`` side-table closes this — ``exact_dup_ids`` is
    uncapped.) Same honest-caveat scope as the CLI ``--scrub-lines``
    note: the cap is a per-call recall/cost dial, not a cross-call
    replay guarantee.
    """

    def __init__(
        self,
        spark,
        path: str,
        k: int = 3,
        num_hashes: int = 8,
        bands: int = 4,
        max_bucket: Optional[int] = None,
    ):
        self.spark = spark
        self.path = path
        self.k = k
        self.num_hashes = num_hashes
        self.bands = bands
        self.max_bucket = max_bucket
        #: DataFrames persisted by candidate_pairs, released by
        #: :meth:`release` once the caller has materialized its results
        #: — in a long-lived driver curating many snapshots, leaving
        #: them cached accumulates executor memory/disk per call
        self._cached: List[DataFrame] = []

    def release(self) -> None:
        """Unpersist every intermediate candidate_pairs cached. Call
        after the candidate results are materialized (acted on or
        checkpointed); before that, unpersisting would just force a
        recompute at the next action."""
        for df in self._cached:
            df.unpersist()
        self._cached = []

    def _banded(self, docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
        sig = minhash_signatures(
            shingles_df(docs, id_col=id_col, text_col=text_col, k=self.k),
            num_hashes=self.num_hashes,
        )
        return sig.select(
            "doc_id",
            F.explode(
                lsh_band_keys_col(F.col("sig"), self.num_hashes, self.bands)
            ).alias("band_key"),
        )

    def _existing(self) -> Optional[DataFrame]:
        """The stored band table, or None iff the index has never been
        written. Only the path-does-not-exist case maps to None: any
        OTHER read failure (corrupt footer, permission, transient FS
        error) must RAISE — swallowing it would silently degrade
        candidate_pairs to new-vs-new only, losing all cross-snapshot
        recall with no signal (the failure mode the bare-except version
        had)."""
        return _read_parquet_or_none(self.spark, self.path)

    @property
    def _meta_path(self) -> str:
        return self.path.rstrip("/") + "/_meta"

    def _check_params(self) -> None:
        """Raise if the stored index was built with different
        (k, num_hashes, bands): band keys are parameter-dependent, so a
        parameter mismatch would make the new-vs-old join silently
        return ZERO candidates — every cross-snapshot near-dup kept,
        no error. The parameters are persisted as a 1-row table under
        the underscore-ignored ``_meta`` child on first ``add``."""
        stored = _read_parquet_or_none(self.spark, self._meta_path)
        if stored is None:
            return
        row = stored.first()
        mine = (self.k, self.num_hashes, self.bands)
        theirs = (row["k"], row["num_hashes"], row["bands"])
        if mine != theirs:
            raise ValueError(
                f"MinHashIndex at {self.path} was built with "
                f"(k, num_hashes, bands)={theirs}; this instance uses "
                f"{mine} — band keys would never match and all "
                "cross-snapshot recall would be silently lost"
            )

    def _write_params(self) -> None:
        if _read_parquet_or_none(self.spark, self._meta_path) is None:
            self.spark.createDataFrame(
                [(self.k, self.num_hashes, self.bands)],
                "k int, num_hashes int, bands int",
            ).write.mode("overwrite").parquet(self._meta_path)

    def candidate_pairs(
        self, new_docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
    ) -> DataFrame:
        """Near-dup candidates involving the increment: new-vs-new plus
        new-vs-old, normalized to doc_a < doc_b. Call before ``add``.

        With ``max_bucket`` set, band buckets whose membership ACROSS
        stored ∪ new exceeds the cap are dropped before either join
        (the hot-bucket guard of lsh_candidate_pairs, union-counted so
        the result equals a capped full recompute)."""
        self._check_params()
        banded = self._banded(new_docs, id_col, text_col)
        old = self._existing()
        if self.max_bucket is not None:
            # the pre-filter band table feeds the union bucket count AND
            # the capped semi-join — materialize the increment's
            # shingle->minhash->band pipeline once
            banded = banded.persist()
            self._cached.append(banded)
            banded.count()
            union = (
                banded if old is None
                else banded.unionByName(old.select("doc_id", "band_key"))
            )
            small = (
                union.groupBy("band_key")
                .agg(F.count(F.lit(1)).alias("_n"))
                .where(F.col("_n") <= self.max_bucket)
                .select("band_key")
            )
            # `small` gates BOTH semi-joins — persist + eager count or
            # the union banding + groupBy recomputes once per side
            small = small.persist()
            self._cached.append(small)
            small.count()
            banded = banded.join(small, on="band_key", how="left_semi")
            if old is not None:
                old = old.join(small, on="band_key", how="left_semi")
        # eager-count the persisted band table BEFORE its join fan-out:
        # a lazy persist read by concurrently-launching consumer stages
        # can compute once per consumer (same rule as lsh_candidate_pairs)
        banded = banded.persist()
        self._cached.append(banded)
        banded.count()
        a, b = banded.alias("a"), banded.alias("b")
        new_new = (
            a.join(b, on="band_key")
            .where(F.col("a.doc_id") < F.col("b.doc_id"))
            .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        )
        if old is None:
            return register_intermediates(new_new.distinct(), *self._cached)
        o = old.select("band_key", F.col("doc_id").alias("_old_id"))
        new_old = (
            banded.join(o, on="band_key")
            .where(F.col("_old_id") != F.col("doc_id"))
            .select(
                F.least("_old_id", "doc_id").alias("doc_a"),
                F.greatest("_old_id", "doc_id").alias("doc_b"),
            )
        )
        return register_intermediates(
            new_new.unionByName(new_old).distinct(), *self._cached
        )

    def indexed_ids(self) -> Optional[DataFrame]:
        """Distinct doc ids already in the index (column-pruned scan of
        the band table), or None if the index is empty — the membership
        set incremental curation anti-joins against."""
        old = self._existing()
        if old is None:
            return None
        return old.select("doc_id").distinct()

    @property
    def _fp_path(self) -> str:
        # an underscore-prefixed child dir: Spark's file index treats
        # `_`-names as metadata and skips them, so the band-table read
        # of `self.path` never trips over the fingerprint side-table
        return self.path.rstrip("/") + "/_fp"

    def _existing_fp(self) -> Optional[DataFrame]:
        """The stored (doc_id, fp) fingerprint table — same strictness
        contract as ``_existing``."""
        return _read_parquet_or_none(self.spark, self._fp_path)

    @property
    def _q_path(self) -> str:
        return self.path.rstrip("/") + "/_q"

    def _existing_q(self) -> Optional[DataFrame]:
        """The stored (doc_id, quality_score, emitted) side-table that
        quality-canonical INCREMENTAL election reads (emitted = the doc
        survived its own snapshot's curation and was published — only
        such docs can ever be superseded), or None if no ``add`` ever
        supplied quality. Re-adds may duplicate rows; quality is
        deterministic per doc, so they collapse under max(), and
        ``emitted`` keeps the strongest claim seen (a doc once
        published stays published until a retraction is applied
        downstream)."""
        stored = _read_parquet_or_none(self.spark, self._q_path)
        if stored is None:
            return None
        return stored.groupBy("doc_id").agg(
            F.max("quality_score").alias("quality_score"),
            F.max("emitted").alias("emitted"),
        )

    def exact_dup_ids(
        self, new_docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
    ) -> Optional[DataFrame]:
        """Increment doc ids whose EXACT text already exists in the
        index under a doc id OUTSIDE this increment (md5 fingerprint
        join against the stored side-table), or None on a first
        snapshot. The band index catches most exact dups on its own
        (sub-``k``-word docs band their whole text as one shingle), but
        not (a) docs with NO words at all — empty/whitespace text has no
        shingles — and (b) exact dups inside a band bucket dropped by
        the ``max_bucket`` cap; the fingerprint table closes both.

        "Old" means a stored id NOT in the increment — the SAME
        exclusion rule as curate_incremental's ``old_ids``, anti-joined
        against the full increment id set, not merely each doc's own id:
        on a re-run of an already-indexed snapshot that contains
        within-increment exact duplicates, a per-own-id filter would let
        each copy match the OTHER copy's stored fingerprint and flag
        every copy — including the min-id canonical that survived the
        first run — breaking re-run idempotency (pinned by
        test_exact_dup_ids_rerun_with_within_increment_dups). Call
        before ``add``."""
        stored = self._existing_fp()
        if stored is None:
            return None
        new_ids = new_docs.select(F.col(id_col).alias("_old_id"))
        old_fp = stored.select(F.col("doc_id").alias("_old_id"), "fp").join(
            new_ids, on="_old_id", how="left_anti"
        )
        fp = new_docs.select(
            F.col(id_col).alias("doc_id"), F.md5(F.col(text_col)).alias("fp")
        )
        return fp.join(old_fp, on="fp").select("doc_id").distinct()

    def exact_dup_pairs(
        self, new_docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
    ) -> Optional[DataFrame]:
        """The PAIR form of :meth:`exact_dup_ids`: ``(doc_a, doc_b)``
        with ``doc_a < doc_b`` linking each increment doc to the stored
        docs (outside the increment) sharing its exact fingerprint.
        Quality-canonical incremental election folds these into the
        candidate-pair edge set so wordless docs and capped-bucket
        exact dups join their cluster and compete under the SAME
        (quality desc, id asc) rule as band-matched members — an
        id-direction drop rule would diverge from the one-shot election
        whenever the new copy sorts before the stored one."""
        stored = self._existing_fp()
        if stored is None:
            return None
        new_ids = new_docs.select(F.col(id_col).alias("_old_id"))
        old_fp = stored.select(F.col("doc_id").alias("_old_id"), "fp").join(
            new_ids, on="_old_id", how="left_anti"
        )
        fp = new_docs.select(
            F.col(id_col).alias("doc_id"), F.md5(F.col(text_col)).alias("fp")
        )
        return (
            fp.join(old_fp, on="fp")
            .select(
                F.least("_old_id", "doc_id").alias("doc_a"),
                F.greatest("_old_id", "doc_id").alias("doc_b"),
            )
            .distinct()
        )

    def add(
        self,
        new_docs: DataFrame,
        id_col: str = "doc_id",
        text_col: str = "text",
        protect=None,
        quality: Optional[DataFrame] = None,
    ):
        """Append the increment's band table AND its (doc_id, fp)
        fingerprint side-table to the index (dedup on read is
        unnecessary: band keys and fingerprints are deterministic per
        doc, so re-adding a doc only duplicates rows that
        ``distinct()``/semi-joins absorb); persists the index
        parameters on first write and refuses mismatched ones after.

        ORDERING CONTRACT — recache-by-path: appending parquet under
        ``self.path`` triggers Spark's recacheByPath, which marks ANY
        cached plan reading the index for lazy re-execution against the
        POST-append data at its next action (``persist()+count()`` does
        NOT protect). A caller composing ``candidate_pairs`` → ``add``
        → *action on the candidates* would silently see the increment's
        own bands as "old" and match every doc against itself. Either
        act on (or ``localCheckpoint(eager=True)``) every index-derived
        result BEFORE calling ``add``, or pass those results via
        ``protect`` — each is eagerly localCheckpoint-ed here, which
        rewrites its plan to a path-free LogicalRDD the append cannot
        invalidate, and the rewritten frames are returned (single
        DataFrame in → single out; list in → list out; pinned by
        test_minhash_index_add_protects_external_caller). Local
        checkpoints are not fault-tolerant; a cluster job that must
        survive executor loss writes its results to a real table before
        calling ``add``.

        ``quality``: optional ``(doc_id, quality_score, emitted)``
        frame appended to the ``_q`` side-table — the stored scores
        quality-canonical incremental election needs (``emitted`` marks
        docs the caller's curation actually published; only those can
        later be superseded by a better cluster member). The caller
        must derive it from ALREADY-MATERIALIZED results (the frames it
        passed via ``protect``) or from plans not reading this index —
        it is written after the band/fp appends, so a quality plan
        reading the index would see post-append state."""
        self._check_params()
        out = None
        if protect is not None:
            if isinstance(protect, DataFrame):
                out = protect.localCheckpoint(eager=True)
            else:
                out = [p.localCheckpoint(eager=True) for p in protect]
        self._banded(new_docs, id_col, text_col).write.mode("append").parquet(self.path)
        new_docs.select(
            F.col(id_col).alias("doc_id"), F.md5(F.col(text_col)).alias("fp")
        ).write.mode("append").parquet(self._fp_path)
        if quality is not None:
            quality.select(
                "doc_id",
                F.col("quality_score").cast("double").alias("quality_score"),
                F.col("emitted").cast("boolean").alias("emitted"),
            ).write.mode("append").parquet(self._q_path)
        self._write_params()
        return out


def duplicate_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 20,
    min_occurrences: int = 2,
) -> DataFrame:
    """Exact duplicate-SPAN detection — the n-gram-granular form of
    training-data substring dedup (the C4 / "Deduplicating Training
    Data" pass that strips repeated boilerplate passages shared across
    documents rather than whole-doc duplicates).

    Every n-word window gets an md5 over its joined words; spans whose
    hash occurs ``min_occurrences``+ times across the corpus (counting
    repeats within one document) come back as (span_hash, n_docs,
    n_occurrences, first doc/pos) — the removal list a cleaning pass
    anti-joins against. Scale shape: one explode keyed by a 32-hex
    fingerprint with map-side partial aggregation, same as exact dedup;
    no pairwise comparisons.
    """
    # explode positions FIRST, then hash per row: slice/concat_ws/md5 on
    # plain columns stay inside whole-stage codegen — hashing inside an
    # array transform would run interpreted (HOFs have no codegen).
    # The word array materializes in its OWN projection below the
    # Generate: a computed expression sitting NEXT to an explode lands
    # in the Project above the Generate and re-evaluates per OUTPUT row
    # — for the HOF array that is O(positions·len) = O(len²) per doc
    # (the bm25 probe measured 13.4 s vs 1.2 s on the same input for
    # exactly this shape).
    words = normalized_words(text_col)
    exploded = (
        ensure_parallelism(docs)
        .select(F.col(id_col).alias("doc_id"), words.alias("_ws"))
        .where(F.size("_ws") >= n)
        .select(
            "doc_id",
            "_ws",
            F.explode(F.sequence(F.lit(0), F.size("_ws") - n)).alias("pos"),
        )
        .select(
            "doc_id",
            "pos",
            F.md5(F.concat_ws(" ", F.slice(F.col("_ws"), F.col("pos") + 1, n))).alias(
                "span_hash"
            ),
        )
    )
    return (
        exploded.groupBy("span_hash")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
            F.min(F.struct("doc_id", "pos")).alias("_first"),
        )
        .where(F.col("n_occurrences") >= min_occurrences)
        .select(
            "span_hash",
            "n_docs",
            "n_occurrences",
            F.col("_first.doc_id").alias("first_doc"),
            F.col("_first.pos").alias("first_pos"),
        )
    )


def remove_duplicate_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 20,
    min_occurrences: int = 2,
) -> DataFrame:
    """The APPLY half of substring dedup: strip every word position
    covered by a corpus-repeated ``n``-word span (the spans
    :func:`duplicate_spans` detects) and rebuild the document from the
    surviving words — the C4-style cleaning pass that removes repeated
    boilerplate passages while keeping the unique remainder of each
    page. Returns ``(doc_id, clean_text, n_words, n_removed)`` for
    EVERY input document (whitespace-normalized text; documents shorter
    than ``n`` words or with no hot span pass through intact,
    fully-boilerplate documents come back with ``clean_text = ''``).

    Scale shape: the span explode + md5 is the duplicate_spans scan
    (codegen'd, map-side partial agg to find hot hashes); coverage is a
    semi-join of span rows against the hot set followed by a bounded
    second explode (n rows per HOT occurrence only — duplicated mass,
    not corpus mass); reassembly is one (doc, idx)-keyed anti-join and
    one per-doc aggregation. No pairwise work anywhere. The corpus is
    scanned twice (span pass + word-position pass) rather than pinning
    the full word-array table in executor memory.
    """
    words = normalized_words(text_col)
    base = docs.select(F.col(id_col).alias("doc_id"), words.alias("_ws"))
    exploded = (
        ensure_parallelism(docs)
        .select(F.col(id_col).alias("doc_id"), words.alias("_ws"))
        .where(F.size("_ws") >= n)
        .select(
            "doc_id",
            "_ws",
            F.explode(F.sequence(F.lit(0), F.size("_ws") - n)).alias("pos"),
        )
        .select(
            "doc_id",
            "pos",
            F.md5(F.concat_ws(" ", F.slice(F.col("_ws"), F.col("pos") + 1, n))).alias(
                "span_hash"
            ),
        )
    )
    # the span rows feed BOTH the hot-hash aggregation and the coverage
    # semi-join, but they are NOT persisted: the explode+md5 span pass
    # is whole-stage codegen'd, and recomputing it per consumer (two
    # scan-rooted narrow passes) measured cheaper at sf0.1 than
    # materializing a span table LARGER than the corpus (persist+count
    # barrier job + cache write/read: same-window A/B 2.04 vs 1.73 s) —
    # and at 100 TB caching a corpus-superlinear table in executor
    # memory is exactly what §5 says not to do. The docstring's "corpus
    # scanned twice" now counts three scan passes (hot agg, coverage
    # probe, word-position pass), all narrow until their first keyed
    # shuffle.
    hot = (
        exploded.groupBy("span_hash")
        .agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") >= min_occurrences)
        .select("span_hash")
    )
    covered = (
        exploded.join(hot, on="span_hash", how="left_semi")
        .select(
            "doc_id",
            F.explode(F.sequence(F.col("pos"), F.col("pos") + n - 1)).alias("idx"),
        )
        .distinct()
    )
    wordpos = base.select(
        "doc_id", F.posexplode("_ws").alias("idx", "w")
    )
    kept = wordpos.join(covered, on=["doc_id", "idx"], how="left_anti")
    clean = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col("idx"), F.col("w")))),
                lambda s: s["w"],
            ),
            " ",
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("_n_kept"),
    )
    out = (
        base.select("doc_id", F.size("_ws").alias("n_words"))
        .join(clean, on="doc_id", how="left")
        .select(
            "doc_id",
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
            F.col("n_words").cast("long").alias("n_words"),
            (F.col("n_words") - F.coalesce(F.col("_n_kept"), F.lit(0)))
            .cast("long")
            .alias("n_removed"),
        )
    )
    return register_intermediates(out, exploded)


def dedup_lines(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_occurrences: int = 2,
) -> DataFrame:
    """CCNet/FineWeb-style LINE-level dedup: drop every line whose
    normalized form (lowercased, trimmed) occurs ``min_occurrences``+
    times across the corpus — the boilerplate-line scrub (nav items,
    cookie banners, copyright footers) that runs before model training —
    and rebuild each document from the surviving lines in order.
    Returns ``(doc_id, clean_text, n_lines, n_removed)`` for every
    input document; blank lines are never counted as duplicates (they
    are structure, not content) and survive.

    Scale shape: line explode + md5 at scan speed, one hash-keyed
    count with map-side partials for the hot set, one anti-join, one
    per-doc reassembly aggregation — exactly the exact-dedup shape at
    line granularity; no pairwise work.
    """
    base = docs.select(
        F.col(id_col).alias("doc_id"), F.split(F.col(text_col), "\n").alias("_ls")
    )
    keyed = (
        ensure_parallelism(docs)
        .select(F.col(id_col).alias("doc_id"), F.split(F.col(text_col), "\n").alias("_ls"))
        .select("doc_id", F.posexplode("_ls").alias("idx", "line"))
        .withColumn("lk", F.md5(F.lower(F.trim("line"))))
    )
    # feeds the hot-line aggregation AND the anti-join, NOT persisted:
    # the split+posexplode+md5 line pass is whole-stage codegen'd, and
    # recomputing it per consumer (two scan-rooted narrow passes)
    # measured cheaper at sf0.1 than the persist+count barrier + cache
    # traffic of a corpus-sized line table (same-window A/B: 1.08 vs
    # 1.01 s warm, 7.7 vs 1.5 s cold) — the remove_duplicate_spans
    # trade, at line granularity (guide §5).
    hot = (
        keyed.where(F.trim("line") != "")
        .groupBy("lk")
        .agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") >= min_occurrences)
        .select("lk")
    )
    kept = keyed.join(hot, on="lk", how="left_anti")
    clean = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col("idx"), F.col("line")))),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("_n_kept"),
    )
    out = (
        base.select("doc_id", F.size("_ls").alias("n_lines"))
        .join(clean, on="doc_id", how="left")
        .select(
            "doc_id",
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
            F.col("n_lines").cast("long").alias("n_lines"),
            (F.col("n_lines") - F.coalesce(F.col("_n_kept"), F.lit(0)))
            .cast("long")
            .alias("n_removed"),
        )
    )
    return register_intermediates(out, keyed)


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iterations: int = 20,
    reliable_checkpoint: bool = False,
) -> DataFrame:
    """Near-dup pairs -> dedup GROUPS: connected components by min-label
    propagation WITH POINTER JUMPING — the clustering step between
    candidate pairs and canonical-document selection.

    Each node starts labeled with itself; every round does (1) a one-hop
    RELAXATION — each node takes the min of its own and its neighbors'
    labels — then (2) a POINTER JUMP — each node replaces its label with
    its label's label (``component <- component(component)``). Relaxation
    alone converges in O(component diameter) rounds, which a 100 TB crawl
    with chained boilerplate can blow past; the jump halves label-chain
    depth every round, so the combination converges in O(log diameter)
    (a 100-node chain lands in 7 rounds — pinned by
    test_connected_components_long_chain). Both invariants the fixpoint
    argument needs hold throughout: labels only decrease, and a label is
    always the id of a node in the same component — so the fixpoint is
    exactly "every member labeled with the component's min id", identical
    to plain propagation (the DuckDB WITH RECURSIVE oracle).

    Cost per round: one join + groupBy on the edge list (relax) and one
    join against the PREVIOUS round's materialized label table (jump —
    one round stale, which preserves both fixpoint invariants and the
    logarithmic compounding while giving ``relaxed`` a single consumer,
    so no per-round persist barrier is needed; round 1 collapses to a
    single edge-keyed min-aggregate because the initial labeling is the
    identity). Each round's labels are materialized with an EAGER
    localCheckpoint, which replaces the plan with the materialized RDD
    and truly cuts lineage. A plain
    persist-new/unpersist-old cycle is NOT enough: Spark's non-cascading
    unpersist marks dependent cached plans for lazy REBUILD from raw
    lineage, and in a self-referencing iterative loop that rebuild is
    exponential in rounds (measured: round 2 at sf0.1 took 297 s
    uncheckpointed vs sub-second checkpointed). ``reliable_checkpoint``
    switches to ``DataFrame.checkpoint`` (requires
    ``sparkContext.setCheckpointDir``) — the cluster-grade form that
    survives executor loss on a long multi-round job; executor-local
    checkpoint is the single-JVM default.

    Raises ``RuntimeError`` if labels are still changing after
    ``max_iterations`` — silent wrong labels would corrupt every
    downstream canonical-document selection (training_corpus composes on
    this). With pointer jumping the default budget of 20 rounds covers
    components of diameter ~2^20.
    """
    if max_iterations < 1:
        raise ValueError("max_iterations must be >= 1")
    edges = (
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .unionByName(
            pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst"))
        )
        .distinct()
        .persist()
    )
    labels = None  # round 1 derives the node set inside its own union
    changed = 0
    for it in range(max_iterations):
        # RELAXATION as union + one min-aggregate (each node takes the
        # min of its own and its neighbors' labels): the self rows and
        # the neighbor rows go through ONE id-keyed aggregation, with
        # the node's previous label riding as max(_p) (_p is the label
        # on self rows, NULL on neighbor rows — every id has >= 1 self
        # row, so the max is exactly the previous label). Same relaxed
        # labeling as the former labels ⋈ neighbor_min left join, one
        # join fewer per round (guide §2.4).
        if it == 0:
            # identity labeling: label(dst) == dst and every node
            # appears as src (edges are symmetrized), so self rows come
            # straight off the edge list — no distinct-node table, no
            # join, no pointer jump (label(label) == label): the whole
            # round is ONE edge-keyed min-aggregate.
            cand = edges.select(
                F.col("src").alias("id"),
                F.col("dst").alias("_c"),
                F.lit(None).cast(edges.schema["src"].dataType).alias("_p"),
            ).unionByName(
                edges.select(
                    F.col("src").alias("id"),
                    F.col("src").alias("_c"),
                    F.col("src").alias("_p"),
                )
            )
            new_labels = cand.groupBy("id").agg(
                F.max("_p").alias("_prev"), F.min("_c").alias("component")
            )
        else:
            cand = edges.join(labels, on=edges.dst == labels.id).select(
                F.col("src").alias("id"),
                F.col("component").alias("_c"),
                F.lit(None).cast(edges.schema["src"].dataType).alias("_p"),
            ).unionByName(
                labels.select(
                    "id",
                    F.col("component").alias("_c"),
                    F.col("component").alias("_p"),
                )
            )
            relaxed = cand.groupBy("id").agg(
                F.max("_p").alias("_prev"), F.min("_c").alias("component")
            )
            # pointer jump through the PREVIOUS round's label table —
            # already checkpoint-materialized, so `relaxed` has exactly
            # ONE consumer and needs no persist+count barrier (the r5
            # form self-joined `relaxed`, forcing an eager cache per
            # round). Jumping through labels one round stale keeps both
            # fixpoint invariants (labels only decrease: prev_label(c)
            # <= c; a label is always a same-component member id) and
            # the O(log diameter) compounding — the fixpoint, and hence
            # the returned labeling, is identical.
            lookup = labels.select(
                F.col("id").alias("_pid"), F.col("component").alias("_pcomp")
            )
            new_labels = (
                relaxed.join(
                    lookup, on=relaxed.component == lookup._pid, how="left"
                )
                .select(
                    "id",
                    "_prev",
                    F.coalesce(F.col("_pcomp"), F.col("component")).alias(
                        "component"
                    ),
                )
            )
        # eager checkpoint: materialize THIS round and cut lineage (see
        # docstring — persist alone compounds exponentially here)
        # LAZY checkpoint, materialized by the convergence count one
        # line down: the count computes every partition of the
        # checkpoint-marked RDD (a LogicalRDD scan filters AFTER
        # materialization — nothing is pruned into it), so one job per
        # round both persists the round's labels and counts the
        # changes — the eager-then-count form paid a second job per
        # round for the same effect. Lineage is cut identically.
        if reliable_checkpoint:
            new_labels = new_labels.checkpoint(eager=False)
        else:
            new_labels = new_labels.localCheckpoint(eager=False)
        # `_prev` (last round's label) rides along through the round, so
        # convergence detection is a shuffle-free filter-count over the
        # just-checkpointed table — not the extra label-vs-label join it
        # used to be (one whole join stage per round saved)
        changed = new_labels.where(F.col("component") != F.col("_prev")).count()
        labels = new_labels.select("id", "component")
        if changed == 0:
            break
    edges.unpersist()
    if changed != 0:
        labels.unpersist()
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            f"iterations ({changed} labels still changing); raise "
            "max_iterations — returning partial labels would silently "
            "mislabel dedup groups"
        )
    return labels.select(F.col("id").alias("doc_id"), "component")


def lsh_recall_report(
    docs: DataFrame,
    threshold: float = 0.5,
    k: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    max_bucket: Optional[int] = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Candidate-quality EVAL for the MinHash-LSH near-dup path: recall
    and precision of the banded candidate set against exact n-gram
    Jaccard ground truth at ``threshold`` — the measure-don't-guess
    harness that turns (num_hashes, bands, max_bucket) tuning from
    folklore into a number. A pipeline that raises ``max_bucket`` or
    drops bands ships silently lower dedup recall; this report is the
    regression gate that catches it.

    Returns ONE row: ``(n_exact, n_candidates, n_hit, recall_bp,
    precision_bp)`` where ``*_bp`` are integer basis points
    (``floor(hit * 10000 / max(total, 1))``) so the cross-engine hash
    is exact — counts are integers, the one division floors.

    Scale shape: the exact-Jaccard side is the all-pairs oracle twin
    (O(freq²) in the hottest shingle) — at 100 TB this report runs on a
    deterministic SAMPLE (compose with ``deterministic_sample``), which
    is how recall eval is done in practice; the candidate side is the
    real banded generator, so the measured recall is the production
    path's. The three counts aggregate to one row each and cross-join
    broadcast — no driver collect.
    """
    sh = shingles_df(docs, id_col=id_col, text_col=text_col, k=k)
    exact = jaccard_pairs(sh, threshold=threshold).select("doc_a", "doc_b")
    sig = minhash_signatures(sh, num_hashes=num_hashes)
    cand = lsh_candidate_pairs(
        sig, num_hashes=num_hashes, bands=bands, max_bucket=max_bucket
    )
    # ONE pair-keyed FULL OUTER join carries all three counts in a
    # single aggregation: a pair present on the exact side, on the
    # candidate side, or on both is one row with two presence flags, so
    # n_exact / n_candidates / n_hit are three conditional counts of
    # the same scan. The former shape (a semi-join plus three separate
    # one-row aggregates cross-joined) needed each side persisted AND
    # eagerly counted to stop its two consumers recomputing it — two
    # barriers and two extra jobs this plan simply doesn't have
    # (guide §2.4, §5 on caching only when recompute is dearer).
    j = exact.withColumn("_e", F.lit(1)).join(
        cand.withColumn("_c", F.lit(1)), on=["doc_a", "doc_b"], how="full"
    )
    out = j.agg(
        F.count("_e").cast("long").alias("n_exact"),
        F.count("_c").cast("long").alias("n_candidates"),
        F.count(F.when(F.col("_e").isNotNull() & F.col("_c").isNotNull(), 1))
        .cast("long")
        .alias("n_hit"),
    ).select(
        "n_exact",
        "n_candidates",
        "n_hit",
        F.floor(
            F.col("n_hit") * 10000.0 / F.greatest(F.col("n_exact"), F.lit(1))
        )
        .cast("long")
        .alias("recall_bp"),
        F.floor(
            F.col("n_hit")
            * 10000.0
            / F.greatest(F.col("n_candidates"), F.lit(1))
        )
        .cast("long")
        .alias("precision_bp"),
    )
    return out


def bcubed_eval(
    items: DataFrame,
    pred_col: str = "cluster_id",
    gold_col: str = "gold_id",
    id_col: str = "doc_id",
) -> DataFrame:
    """B-CUBED clustering evaluation (Bagga & Baldwin 1998; the metric
    Amigo et al. 2009 showed uniquely satisfies all four clustering-
    eval constraints): score a PREDICTED clustering (dedup groups,
    host communities, canonical clusters) against gold class labels.
    Per item, precision = |C(i) ∩ L(i)| / |C(i)| and recall =
    |C(i) ∩ L(i)| / |L(i)|; the corpus numbers are the item means.
    Unlike pair-counting metrics, B³ doesn't explode quadratically on
    big clusters and scores singletons sensibly — the standard report
    card for a dedup tier.

    Everything reduces to the (pred, gold) CONTINGENCY TABLE: with
    ``n_pg`` = items in pred cluster p ∩ gold class g, ``n_p``/``n_g``
    the marginals, the item sums are ``Σ_pg n_pg · (n_pg/n_p)`` and
    ``Σ_pg n_pg · (n_pg/n_g)``. Exactness: each ITEM's fraction is
    quantized to integer micro-units FIRST (``(n_pg·10⁶) div n_p`` —
    overflow-safe to n_pg ~ 9·10¹²) and the integer contributions sum,
    so the result is engine- and reduction-order-exact; the final mean
    and F1 are single integer divisions. NULL pred/gold keys group
    together (GROUP BY semantics on both engines) — pre-filter or
    pre-coalesce if singleton semantics are wanted.

    Scale shape: ONE corpus-scale shuffle (the (p,g) count with
    map-side partials); marginals and totals derive from the
    contingency table itself — O(distinct pairs), never a second
    corpus pass; the two marginal joins are contingency-sized and the
    1-row totals broadcast. Returns ONE row: ``(n_items,
    n_pred_clusters, n_gold_classes, precision_micro, recall_micro,
    f1_micro)``.
    """
    pg = (
        items
        .select(F.col(pred_col).alias("_p"), F.col(gold_col).alias("_g"))
        .groupBy("_p", "_g")
        .agg(F.count(F.lit(1)).alias("n_pg"))
        .persist()
    )
    pg.count()
    p_sizes = pg.groupBy("_p").agg(F.sum("n_pg").alias("n_p"))
    g_sizes = pg.groupBy("_g").agg(F.sum("n_pg").alias("n_g"))
    totals = pg.agg(
        F.sum("n_pg").alias("n_items"),
        F.countDistinct("_p").alias("n_pred_clusters"),
        F.countDistinct("_g").alias("n_gold_classes"),
    )
    contrib = (
        pg.join(p_sizes, "_p")
        .join(g_sizes, "_g")
        .select(
            (F.col("n_pg") * F.expr("(n_pg * 1000000) div n_p")).alias("_pc"),
            (F.col("n_pg") * F.expr("(n_pg * 1000000) div n_g")).alias("_rc"),
        )
        .agg(F.sum("_pc").alias("_ps"), F.sum("_rc").alias("_rs"))
    )
    out = (
        totals.crossJoin(F.broadcast(contrib))
        .select(
            "n_items",
            "n_pred_clusters",
            "n_gold_classes",
            F.expr("_ps div n_items").alias("precision_micro"),
            F.expr("_rs div n_items").alias("recall_micro"),
        )
        .select(
            "*",
            F.when(
                F.col("precision_micro") + F.col("recall_micro") > 0,
                F.expr(
                    "(2 * precision_micro * recall_micro)"
                    " div (precision_micro + recall_micro)"
                ),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("f1_micro"),
        )
    )
    return register_intermediates(out, pg)


def winnow_fingerprints(
    docs: DataFrame,
    k: int = 8,
    window: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """WINNOWING document fingerprints (Schleimer, Wilkerson & Aiken
    2003 — the MOSS algorithm): hash every character ``k``-gram of the
    normalized text, slide a ``window`` over consecutive gram hashes,
    keep each window's minimum — the guarantee is that any match of
    length ≥ ``window + k − 1`` characters between two documents shares
    at least one selected fingerprint, at expected density
    ``2/(window+1)``. This is the LOCAL fingerprinting complement to
    MinHash (which sketches global set similarity): winnowing finds
    copied PASSAGES — quote farms, partial mirrors, license
    boilerplate — that whole-doc sketches dilute away.

    Normalization is the fingerprints() discipline (lowercase, strip
    every non-alphanumeric) so cosmetic edits don't move fingerprints.
    Hashes are the shared Java∩DuckDB md5₆₀ integers. Docs shorter than
    ``k`` normalized chars emit nothing; docs with fewer than
    ``window`` grams emit the single global minimum (the winnowing
    boundary rule). Everything is ROW-LOCAL array algebra — grams,
    hashes and window minima never leave the row; the lambdas run
    interpreted (HOFs have no codegen) but O(len·window) per doc with
    zero shuffle. Returns exploded ``(doc_id, fp)`` rows, distinct per
    document.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    norm = F.regexp_replace(F.lower(F.coalesce(F.col(text_col), F.lit(""))),
                            "[^a-z0-9]", "")
    n_grams = F.length("_norm") - F.lit(k) + F.lit(1)
    grams = F.transform(
        F.sequence(F.lit(0), n_grams - 1),
        lambda i: F.col("_norm").substr(i + F.lit(1), F.lit(k)),
    )
    hashes = F.transform(
        F.col("_grams"),
        lambda g: F.conv(F.substring(F.md5(g), 1, 15), 16, 10).cast("long"),
    )
    n_windows = F.greatest(F.size("_hashes") - F.lit(window) + F.lit(1), F.lit(1))
    mins = F.transform(
        F.sequence(F.lit(0), n_windows - 1),
        lambda j: F.array_min(F.slice(F.col("_hashes"), j + F.lit(1), window)),
    )
    # each derived array materializes in its OWN projection: computed
    # siblings of a later Generate would re-evaluate per output row
    # (the dup_spans/bm25 O(len²) hazard), and chained HOFs in one
    # projection re-evaluate their input lambda per element
    staged = (
        ensure_parallelism(docs)
        .select(F.col(id_col).alias("doc_id"), norm.alias("_norm"))
        .where(F.length("_norm") >= k)
        .select("doc_id", grams.alias("_grams"))
        .select("doc_id", hashes.alias("_hashes"))
        .select("doc_id", F.array_distinct(mins).alias("_fps"))
    )
    # explode_OUTER, not explode: a plain explode makes
    # InferFiltersFromGenerate add `size(_fps) > 0`, and predicate
    # pushdown then substitutes the WHOLE staged expression into a
    # scan-level filter — where `_hashes` lands INSIDE the window
    # lambda and the md5 chain re-evaluates per window position:
    # O(len²) md5 calls per document (measured 143 s for the sf0.1
    # HEADLINE row; 1.5 s after this fix). The infer rule skips outer
    # generates, and the null filter on the GENERATED column cannot be
    # pushed below the Generate. Every doc past the length gate has
    # ≥ 1 fingerprint, so outer+filter is value-identical to explode.
    return (
        staged.select("doc_id", F.explode_outer("_fps").alias("fp"))
        .where(F.col("fp").isNotNull())
    )


def winnow_candidates(
    fps: DataFrame,
    min_shared: int = 2,
    max_fp_freq: Optional[int] = 1000,
) -> DataFrame:
    """Passage-overlap candidate pairs from winnowing fingerprints:
    documents sharing ≥ ``min_shared`` selected fingerprints — each
    shared fingerprint witnesses a ≥ ``window+k−1``-char common run.
    The MinHash-LSH banding discipline applies verbatim: fingerprints
    hotter than ``max_fp_freq`` (license boilerplate on half the web)
    are dropped BEFORE the self-join so no bucket goes quadratic —
    pass ``None`` only on bounded inputs. Returns ``(doc_a, doc_b,
    n_shared)`` with ``doc_a < doc_b``.
    """
    if min_shared < 1:
        raise ValueError(f"min_shared must be >= 1, got {min_shared}")
    # Fingerprint member lists instead of a fingerprint self-join (the
    # lsh_candidate_pairs rewrite): one fp-keyed aggregation collects
    # each fingerprint's sorted doc list; the hot cap (list size = the
    # fp's global occurrence count, exactly the former count+anti-join
    # frequency) and the singleton drop apply inside the SAME
    # aggregation; i<j pairs explode row-locally with join-identical
    # multiplicity (a doc appearing c times in a list contributes c
    # copies, matching the self-join's c_a * c_b fan-out). Removes the
    # persist+count barrier, the cap's count+anti-join, and the
    # self-join's two exchanges (guide §2.4); per-fp fan-out stays
    # bounded by max_fp_freq exactly as before.
    members = (
        fps.select("doc_id", "fp")
        .groupBy("fp")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("_ds"))
        .where(F.size("_ds") >= 2)
    )
    if max_fp_freq is not None:
        members = members.where(F.size("_ds") <= int(max_fp_freq))
    return (
        members.select(F.posexplode("_ds").alias("_i", "doc_a"), "_ds")
        .select(
            "doc_a",
            F.explode(F.slice("_ds", F.col("_i") + 2, F.size("_ds"))).alias(
                "doc_b"
            ),
        )
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= int(min_shared))
    )


def strip_host_boilerplate(
    pages: DataFrame,
    url_col: str = "url",
    text_col: str = "text",
    min_pages: int = 3,
) -> DataFrame:
    """HOST-scoped boilerplate line removal (the trafilatura/CCNet
    "site template" scrub): a line whose normalized form appears on
    ``min_pages``+ DISTINCT pages of the SAME host is that host's
    navigation/footer/cookie-banner template and is dropped from every
    page of the host; the same line on another host is judged against
    that host's own page count. This is deliberately different from
    :func:`dedup_lines` (global corpus-frequency scrub): per-host
    scoping catches low-traffic templates a global threshold misses and
    spares legitimately common sentences that only look boilerplate in
    aggregate. Repetition WITHIN one page does not count toward the
    threshold (that's :func:`repetition stats <..cleaning>` territory)
    — the frequency is distinct-page.

    Returns ``(url, host, clean_text, n_lines, n_removed)`` for every
    input page; blank lines are structure and always survive.

    Scale shape: line explode + md5 at scan speed, one (host, line-key)
    aggregation with map-side partials (distinct-page counting shuffles
    on the SAME composite key — no second shuffle family), one
    anti-join back on that key, one per-page reassembly. Host skew
    (one giant host) is bounded because the aggregation key includes
    the line hash — a hot host fans out across the cluster instead of
    funneling to one reducer.
    """
    from .filters import host_col  # local: filters imports this module

    base = pages.select(
        F.col(url_col).alias("url"),
        host_col(F.col(url_col)).alias("host"),
        F.split(F.col(text_col), "\n").alias("_ls"),
    )
    keyed = (
        ensure_parallelism(pages)
        .select(
            F.col(url_col).alias("url"),
            host_col(F.col(url_col)).alias("host"),
            F.split(F.col(text_col), "\n").alias("_ls"),
        )
        .select("url", "host", F.posexplode("_ls").alias("idx", "line"))
        .withColumn("lk", F.md5(F.lower(F.trim("line"))))
    )
    # feeds the template aggregation AND the anti-join — one computation
    keyed = keyed.persist()
    keyed.count()
    hot = (
        keyed.where(F.trim("line") != "")
        .groupBy("host", "lk")
        .agg(F.countDistinct("url").alias("_n"))
        .where(F.col("_n") >= min_pages)
        .select("host", "lk")
    )
    kept = keyed.join(hot, on=["host", "lk"], how="left_anti")
    clean = kept.groupBy("url").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col("idx"), F.col("line")))),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("_n_kept"),
    )
    out = (
        base.select("url", "host", F.size("_ls").alias("n_lines"))
        .join(clean, on="url", how="left")
        .select(
            "url",
            "host",
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
            F.col("n_lines").cast("long").alias("n_lines"),
            (F.col("n_lines") - F.coalesce(F.col("_n_kept"), F.lit(0)))
            .cast("long")
            .alias("n_removed"),
        )
    )
    return register_intermediates(out, keyed)


def containment_prefix_candidates(
    shingles: DataFrame, threshold_bp: int = 8000
) -> DataFrame:
    """Candidate pairs for shingle-set CONTAINMENT ≥ ``threshold_bp``
    via the prefix filter (Chaudhuri/Ganti/Kaushik SSJoin, ICDE 2006;
    Bayardo et al. AllPairs, WWW 2007): order each doc's shingles by
    ascending global document frequency (ties by shingle — a total
    order), keep only the first ``n - ceil(t·n) + 1`` as the PROBE
    prefix, and join prefix × full index on the shingle.

    Completeness: for a qualifying pair let A be the smaller set, so
    ``|A∩B| ≥ α = ceil(t·|A|)``. If none of A's first ``|A| − α + 1``
    shingles were in B, at most ``α − 1`` of A's shingles could be —
    contradiction. So probing every doc's own-size prefix against the
    FULL set of every other doc is a superset of all qualifying pairs
    (the min side of each pair probes), and the exact verify
    (:func:`containment_verify`) makes the composition exact — the
    DuckDB oracle is the plain all-pairs form.

    Why not MinHash-LSH: band collision probability tracks JACCARD,
    and a 50-shingle snippet fully contained in a 5000-shingle page
    has Jaccard ≈ 0.01 — LSH never surfaces it. Containment is the
    aggregator/quote/syndication detector, and the prefix filter is
    its published scale path.

    Scale (100 TB): three keyed shuffles (df count by shingle, the
    df join back, the per-doc window rank) + the prefix-probe join.
    The df-ascending order is the whole trick: prefixes hold each
    doc's RAREST shingles, so a boilerplate shingle with df = 10⁶
    almost never lands in a prefix and its join fan-out never
    materializes; worst-case fan-out of a probe row is df(shingle),
    bounded by how rare prefix members are. High thresholds shrink
    prefixes (t = 0.8 → ~20% + 1 of each doc).
    """
    from pyspark.sql import Window

    sh = ensure_parallelism(shingles).select("doc_id", "shingle")
    df_counts = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    ranked = (
        sh.join(df_counts, on="shingle")
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy("df", "shingle")
            ),
        )
        .withColumn("n_sh", F.count(F.lit(1)).over(Window.partitionBy("doc_id")))
    )
    # prefix length = n - ceil(t*n) + 1, all-integer ceil
    prefix = ranked.where(
        F.col("rn")
        <= F.col("n_sh")
        - F.expr(f"(n_sh * {int(threshold_bp)} + 9999) div 10000")
        + 1
    ).select("doc_id", "shingle")
    a = prefix.alias("a")
    b = sh.alias("b")
    return (
        a.join(b, on="shingle")
        .where(F.col("a.doc_id") != F.col("b.doc_id"))
        .select(
            F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_a"),
            F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_b"),
        )
        .distinct()
    )


def containment_verify(
    docs: DataFrame,
    candidates: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold_bp: int = 8000,
) -> DataFrame:
    """Exact containment verification at PAIR granularity — same
    row-local array shape as :func:`jaccard_verify_candidates` (semi-
    join the corpus to candidate members, build each member's distinct-
    shingle ARRAY once, join pairs to both sides, intersect row-
    locally). Containment is against the SMALLER set:
    ``floor(|A∩B| · 10⁴ / min(|A|,|B|))`` basis points — all-integer,
    oracle-hash-exact. Returns ``(doc_a, doc_b, n_inter, n_min,
    containment_bp)`` for pairs at or above ``threshold_bp``.

    ``candidates`` persists LAZILY: the arrays count consumes it
    through exactly one path (cand_ids → members), so that single
    eager job materializes both caches (see
    :func:`jaccard_verify_candidates`).
    """
    candidates = candidates.persist()
    # single-leg explode, not a two-projection union — see
    # jaccard_verify_candidates (one path through the lazy persist)
    cand_ids = (
        candidates.select(
            F.explode(F.array("doc_a", "doc_b")).alias(id_col)
        ).distinct()
    )
    members = docs.join(cand_ids, on=id_col, how="left_semi")
    # persist first, filter the stored arrays after (see
    # jaccard_verify_candidates: an un-cached size() filter is pushed
    # below the repartition and re-derives the arrays serialized)
    arrays_all = (
        members.repartition(F.col(id_col))
        .select(F.col(id_col).alias("doc_id"), shingles_col(text_col, k).alias("sh"))
        .persist()
    )
    arrays_all.count()
    arrays = arrays_all.where(F.size("sh") > 0)
    a = arrays.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = arrays.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    out = (
        candidates.join(a, on="doc_a")
        .join(b, on="doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("sh_a", "sh_b")).cast("long").alias("n_inter"),
            F.least(F.size("sh_a"), F.size("sh_b")).cast("long").alias("n_min"),
        )
        .select(
            "doc_a",
            "doc_b",
            "n_inter",
            "n_min",
            F.expr("(n_inter * 10000) div n_min").cast("long").alias("containment_bp"),
        )
        .where(F.col("containment_bp") >= threshold_bp)
    )
    return register_intermediates(out, candidates, arrays_all)


def containment_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold_bp: int = 8000,
) -> DataFrame:
    """Prefix-filtered exact containment pairs — the integrated form of
    :func:`containment_prefix_candidates` + :func:`containment_verify`
    (both kept as the component APIs). The asymmetric complement of the
    Jaccard near-dup pass: catches a snippet/quote/syndicated article
    embedded in a much larger page, which Jaccard-targeted LSH
    structurally misses.

    Integration buys three structural savings over composing the two
    components (guide §1.2/§2.4), with identical output:

    - the per-doc shingle ARRAY is built ONCE (persisted) and serves
      both the exploded prefix-filter chain and the verify sides — the
      composed form re-ran the HOF-heavy array build on the candidate
      members, behind a filter the optimizer pushed below the
      repartition (evaluating the build twice, once serialized);
    - ``n_sh`` rides along from ``size()`` of that array instead of a
      second per-doc window;
    - one eager barrier (the candidate table, which genuinely feeds
      three consumers) instead of two.
    """
    from pyspark.sql import Window

    base = (
        ensure_parallelism(docs)
        .select(
            F.col(id_col).alias("doc_id"),
            shingles_col(text_col, k).alias("_sh"),
        )
        .persist()
    )
    base.count()
    sh = base.select(
        "doc_id", F.size("_sh").alias("n_sh"), F.explode("_sh").alias("shingle")
    )
    df_counts = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    ranked = sh.join(df_counts, on="shingle").withColumn(
        "rn",
        F.row_number().over(Window.partitionBy("doc_id").orderBy("df", "shingle")),
    )
    prefix = ranked.where(
        F.col("rn")
        <= F.col("n_sh")
        - F.expr(f"(n_sh * {int(threshold_bp)} + 9999) div 10000")
        + 1
    ).select("doc_id", "shingle")
    a = prefix.alias("a")
    b = sh.select("doc_id", "shingle").alias("b")
    cands = (
        a.join(b, on="shingle")
        .where(F.col("a.doc_id") != F.col("b.doc_id"))
        .select(
            F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_a"),
            F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_b"),
        )
        .distinct()
        .persist()
    )
    cands.count()
    cand_ids = (
        cands.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cands.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    # the member arrays read the CACHED base — the size filter runs on
    # stored arrays, never re-deriving them from text
    arrays = base.join(cand_ids, on="doc_id", how="left_semi").where(
        F.size("_sh") > 0
    )
    va = arrays.select(F.col("doc_id").alias("doc_a"), F.col("_sh").alias("sh_a"))
    vb = arrays.select(F.col("doc_id").alias("doc_b"), F.col("_sh").alias("sh_b"))
    out = (
        cands.join(va, on="doc_a")
        .join(vb, on="doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("sh_a", "sh_b")).cast("long").alias("n_inter"),
            F.least(F.size("sh_a"), F.size("sh_b")).cast("long").alias("n_min"),
        )
        .select(
            "doc_a",
            "doc_b",
            "n_inter",
            "n_min",
            F.expr("(n_inter * 10000) div n_min").cast("long").alias(
                "containment_bp"
            ),
        )
        .where(F.col("containment_bp") >= threshold_bp)
    )
    return register_intermediates(out, base, cands)


def dedup_profile(
    docs: DataFrame,
    components: DataFrame,
    id_col: str = "doc_id",
    weight_col: Optional[str] = None,
) -> DataFrame:
    """Cluster-size histogram + dedup savings estimate over a
    component labeling — the number a curation plan is actually sold
    on: "dedup removes X docs / Y bytes" broken down by cluster size
    (a corpus dominated by pairs dedups very differently from one with
    thousand-page syndication blobs). ``components`` is any
    ``(doc_id, component)`` labeling (:func:`connected_components`
    output); docs absent from it are singletons (their own label), so
    the histogram always accounts for the WHOLE corpus. The canonical
    kept per cluster is the min-id member (the oracle contract
    everywhere in this module); ``removable_mass`` charges every
    non-canonical member's weight.

    Returns one row per ``cluster_size``: ``(cluster_size, n_clusters,
    n_docs, total_mass, removable_docs, removable_mass)``.

    Scale: one left join docs⟕labels on id, one combinable
    per-component agg (``min_by`` picks the canonical's weight inside
    the same pass — no second join back), then the histogram agg runs
    on the COMPONENT-cardinality table. No windows, no corpus-sized
    driver state.
    """
    w = (
        F.lit(1).cast("long")
        if weight_col is None
        else F.col(weight_col).cast("long")
    )
    labeled = (
        docs
        .select(F.col(id_col).alias("doc_id"), w.alias("_w"))
        .join(
            components.select("doc_id", "component"), on="doc_id", how="left"
        )
        .select(
            "doc_id",
            "_w",
            F.coalesce(F.col("component"), F.col("doc_id")).alias("component"),
        )
    )
    per = labeled.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("sz"),
        F.sum("_w").cast("long").alias("mass"),
        F.min_by("_w", "doc_id").cast("long").alias("canon_mass"),
    )
    return per.groupBy(F.col("sz").alias("cluster_size")).agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        F.sum("sz").cast("long").alias("n_docs"),
        F.sum("mass").cast("long").alias("total_mass"),
        F.sum(F.col("sz") - 1).cast("long").alias("removable_docs"),
        F.sum(F.col("mass") - F.col("canon_mass")).cast("long").alias(
            "removable_mass"
        ),
    )


def sorted_neighborhood(
    df: DataFrame,
    key_col: str,
    id_col: str = "doc_id",
    window: int = 3,
    prefix_len: int = 2,
    bucket_size: int = 1 << 16,
    max_buckets: int = 1 << 16,
) -> DataFrame:
    """Sorted-neighborhood blocking — the record-linkage classic
    (Hernández–Stolfo): sort the corpus by a designed blocking key and
    emit each record paired with its ``window−1`` successors. The
    LSH family (``lsh_candidate_pairs``) buckets by CONTENT signature;
    sorted-neighborhood complements it where near-matches share a sort
    PREFIX but not a signature — metadata linkage (title+year,
    host+path-template, lang+length band) and fuzzy-key joins.

    The global sort rank is the ``pack_shards`` two-pass recipe, never
    a partitionless window: coarse buckets that are a MONOTONIC prefix
    of the ``(key, id)`` sort order (leading ``prefix_len`` chars for
    string keys, fixed-width id spans for integral keys — width
    auto-widens so the driver holds ≤ ``max_buckets`` offset rows) get
    their counts prefix-summed on the driver; each bucket then ranks
    locally in a bucket-keyed window and adds its offset. Identical to
    the global ``row_number() OVER (ORDER BY key, id)`` (the oracle
    twin), and pairs CROSS bucket boundaries exactly because ranks are
    global — the seam the naive per-block variant drops.

    Pair fan-out is an explode of ``1..window−1`` rank offsets plus one
    equi-join on rank — N·(window−1) rows, no quadratic block blow-up
    (a skewed blocking key costs a skewed JOIN key here, not a squared
    bucket). Ties order by id, so output is deterministic. One row per
    adjacent pair: ``(id_a, id_b, key_a, key_b, gap)`` with
    ``gap ∈ [1, window)`` the rank distance.
    """
    import math

    w = int(window)
    if w < 2:
        raise ValueError("window must be ≥ 2")
    key_dtype = dict(df.dtypes).get(key_col, "")
    base = ensure_parallelism(df).select(
        F.col(key_col).alias("_key"), F.col(id_col).alias("_id")
    ).where(F.col(key_col).isNotNull())
    if key_dtype in {"tinyint", "smallint", "int", "bigint"}:
        bounds = base.agg(
            F.min("_key").alias("lo"), F.max("_key").alias("hi")
        ).first()
        if bounds["lo"] is None:
            empty = base.limit(0)
            return empty.select(
                F.col("_id").alias("id_a"),
                F.col("_id").alias("id_b"),
                F.col("_key").alias("key_a"),
                F.col("_key").alias("key_b"),
                F.lit(0).cast("long").alias("gap"),
            )
        span = int(bounds["hi"]) - int(bounds["lo"]) + 1
        width = max(int(bucket_size), math.ceil(span / int(max_buckets)))
        bucket = F.floor((F.col("_key") - int(bounds["lo"])) / width)
    else:
        bucket = F.substring(F.col("_key").cast("string"), 1, int(prefix_len))
    keyed = base.withColumn("_bucket", bucket)
    counts = (
        keyed.groupBy("_bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("_c"))
        .orderBy("_bucket")
        .collect()
    )
    offsets, running = [], 0
    for r in counts:
        offsets.append((r["_bucket"], running))
        running += r["_c"]
    if not offsets:
        return keyed.limit(0).select(
            F.col("_id").alias("id_a"),
            F.col("_id").alias("id_b"),
            F.col("_key").alias("key_a"),
            F.col("_key").alias("key_b"),
            F.lit(0).cast("long").alias("gap"),
        )
    from pyspark.sql import Window

    spark = df.sparkSession
    off_df = spark.createDataFrame(
        offsets, schema=keyed.select("_bucket").schema.add("_offset", "long")
    )
    lw = Window.partitionBy("_bucket").orderBy("_key", "_id")
    ranked = (
        keyed.join(F.broadcast(off_df), on="_bucket")
        .withColumn("_r", F.row_number().over(lw) + F.col("_offset"))
        .select("_key", "_id", "_r")
    )
    left = ranked.select(
        F.col("_id").alias("id_a"),
        F.col("_key").alias("key_a"),
        F.col("_r").alias("_rl"),
        F.explode(
            F.sequence(F.col("_r") + 1, F.col("_r") + (w - 1))
        ).alias("_rt"),
    )
    right = ranked.select(
        F.col("_id").alias("id_b"),
        F.col("_key").alias("key_b"),
        F.col("_r").alias("_rt"),
    )
    return left.join(right, on="_rt").select(
        "id_a",
        "id_b",
        "key_a",
        "key_b",
        (F.col("_rt") - F.col("_rl")).cast("long").alias("gap"),
    )


def lsh_tuning_curve(
    spark,
    num_hashes: int,
    s_step_bp: int = 500,
) -> DataFrame:
    """LSH (bands × rows) PLANNER: for every factorization b·r of the
    signature length, the S-curve — collision probability
    ``1 − (1 − s^r)^b`` over a Jaccard-similarity grid — plus each
    combo's threshold ``(1/b)^(1/r)``. This is the table an operator
    of ``lsh_candidate_pairs`` / ``MinHashIndex`` reads to pick
    ``bands`` for a target similarity: the op answers "which (b, r)
    puts the knee at my threshold, and what false-positive mass does
    it pay below it" before any corpus-scale job runs.

    Pure broadcast-scale compute (divisors × grid — hundreds of rows,
    no input table, no shuffle). Probabilities are quantized to milli
    with ONE fixed expression shape — the only non-correctly-rounded
    primitive is ``pow`` itself, and the oracle twin uses the
    identical nesting, so both engines floor the same double in
    practice (the ks_test/unigram-lm quantization convention).

    One row per (combo, grid point): ``(bands, rows_per_band,
    threshold_milli, s_bp, collide_milli)``.
    """
    h = int(num_hashes)
    step = int(s_step_bp)
    if h < 1 or step < 1 or step >= 10000:
        raise ValueError("need num_hashes ≥ 1 and 0 < s_step_bp < 10000")
    combos = [(b, h // b) for b in range(1, h + 1) if h % b == 0]
    cdf = spark.createDataFrame(combos, "bands long, rows_per_band long")
    grid = spark.range(step, 10000, step).select(
        F.col("id").cast("long").alias("s_bp")
    )
    return (
        cdf.crossJoin(grid)
        .select(
            "bands",
            "rows_per_band",
            F.floor(
                F.lit(1000.0)
                * F.expr(
                    "POW(1.0 / CAST(bands AS DOUBLE),"
                    " 1.0 / CAST(rows_per_band AS DOUBLE))"
                )
            )
            .cast("long")
            .alias("threshold_milli"),
            "s_bp",
            F.floor(
                F.lit(1000.0)
                * F.expr(
                    "1.0 - POW(1.0 - POW(CAST(s_bp AS DOUBLE) / 10000.0,"
                    " CAST(rows_per_band AS DOUBLE)),"
                    " CAST(bands AS DOUBLE))"
                )
            )
            .cast("long")
            .alias("collide_milli"),
        )
    )


def vocab_overlap(
    docs: DataFrame,
    group_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """Pairwise VOCABULARY Jaccard between groups (langs, sources,
    snapshots): |V_a ∩ V_b| over |V_a ∪ V_b| in basis points, for every
    unordered group pair. High en↔de overlap flags mislabeled or
    code-mixed slices; a crawl snapshot whose vocabulary barely
    overlaps its predecessor flags an extraction regression — the
    GROUP-level complement of ``source_overlap`` (which intersects
    doc-level content hashes, not vocabularies).

    Exact and shuffle-lean: one distinct (group, word) projection,
    self-joined per word (the word is the join key, so co-located),
    counted per pair; union sizes come from per-group vocab counts
    broadcast back — never a second scan. One row per unordered pair
    with a shared word: ``(grp_a, grp_b, vocab_a, vocab_b, inter,
    jaccard_bp)``.
    """
    per = (
        docs
        .where(F.col(group_col).isNotNull())
        .select(
            F.col(group_col).alias("_g"),
            F.explode(normalized_words(text_col)).alias("_w"),
        )
        .distinct()
    )
    sizes = per.groupBy("_g").agg(F.count(F.lit(1)).cast("long").alias("_v"))
    a = per.select(F.col("_g").alias("grp_a"), "_w")
    b = per.select(F.col("_g").alias("grp_b"), "_w")
    inter = (
        a.join(b, on="_w")
        .where(F.col("grp_a") < F.col("grp_b"))
        .groupBy("grp_a", "grp_b")
        .agg(F.count(F.lit(1)).cast("long").alias("inter"))
    )
    return (
        inter.join(
            F.broadcast(sizes.select(F.col("_g").alias("grp_a"),
                                     F.col("_v").alias("vocab_a"))),
            on="grp_a",
        )
        .join(
            F.broadcast(sizes.select(F.col("_g").alias("grp_b"),
                                     F.col("_v").alias("vocab_b"))),
            on="grp_b",
        )
        .select(
            "grp_a",
            "grp_b",
            "vocab_a",
            "vocab_b",
            "inter",
            F.expr("(10000 * inter) div (vocab_a + vocab_b - inter)")
            .cast("long")
            .alias("jaccard_bp"),
        )
    )


def dedup_threshold_sweep(
    pairs: DataFrame,
    n_corpus_docs: int,
    thresholds_milli: "Sequence[int]" = (500, 600, 700, 800, 900),
    doc_a_col: str = "doc_a",
    doc_b_col: str = "doc_b",
    sim_col: str = "jaccard",
) -> DataFrame:
    """Threshold decision curve over a similarity-pair table — THE
    practical near-dup question (`lsh_tuning_curve` plans the index;
    this prices the cutoff): for each candidate τ, how many pairs
    fire and how many distinct documents get touched? The elbow of
    docs-touched vs τ is where "near-dup" stops meaning mirror and
    starts meaning topic.

    Exact integers per τ: pair counts by direct comparison of the
    (round-6) similarity against milli literals; the docs-touched
    count rides a per-doc MAX-similarity table (one explode + rollup
    — a doc is touched at τ iff its best pair reaches τ), never a
    per-τ re-scan of the pair table. Shares are ppm against the
    caller-supplied corpus size (the pair table alone cannot know
    it).

    Returns one row per τ: ``(threshold_milli, n_pairs,
    n_docs_touched, docs_touched_ppm)``.

    Scale: the pair table is the dedup pipeline's own output
    (LSH-gated, pair-space bounded); one explode + max rollup, one
    |τ|-way broadcast expansion over the tiny per-doc-max table.
    """
    if n_corpus_docs <= 0:
        raise ValueError(
            f"n_corpus_docs must be positive, got {n_corpus_docs}"
        )
    if not thresholds_milli:
        raise ValueError("thresholds_milli must be non-empty")
    sim = F.col(sim_col)
    p = pairs.select(
        F.col(doc_a_col).alias("_a"),
        F.col(doc_b_col).alias("_b"),
        (sim * 1000).alias("_sm"),
    )
    ts = pairs.sparkSession.createDataFrame(
        [(int(t),) for t in thresholds_milli], "threshold_milli long"
    )
    pair_counts = (
        p.crossJoin(F.broadcast(ts))
        .where(F.col("_sm") >= F.col("threshold_milli"))
        .groupBy("threshold_milli")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )
    doc_max = (
        p.select(F.col("_a").alias("_d"), "_sm")
        .unionByName(p.select(F.col("_b").alias("_d"), "_sm"))
        .groupBy("_d")
        .agg(F.max("_sm").alias("_mx"))
    )
    doc_counts = (
        doc_max.crossJoin(F.broadcast(ts))
        .where(F.col("_mx") >= F.col("threshold_milli"))
        .groupBy("threshold_milli")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs_touched"))
    )
    return (
        ts.join(pair_counts, on="threshold_milli", how="left")
        .join(doc_counts, on="threshold_milli", how="left")
        .select(
            "threshold_milli",
            F.coalesce("n_pairs", F.lit(0)).cast("long").alias("n_pairs"),
            F.coalesce("n_docs_touched", F.lit(0))
            .cast("long")
            .alias("n_docs_touched"),
            F.expr(
                f"(1000000 * coalesce(n_docs_touched, 0))"
                f" div {int(n_corpus_docs)}"
            )
            .cast("long")
            .alias("docs_touched_ppm"),
        )
    )
