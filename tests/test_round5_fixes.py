"""Round-5 fixes, pinned:

- MinHashIndex.exact_dup_ids excludes the WHOLE increment id set from
  the stored side (not just each doc's own id), so re-running a
  snapshot that contains within-increment exact duplicates stays
  idempotent.
- MinHashIndex.add(protect=...) checkpoints index-derived results
  before the append, making the recache-by-path landmine safe for
  external callers (not just curate_incremental).
- _is_scan_rooted is an ALLOWLIST: unrecognized plan nodes fail safe.
- pack_shards accepts STRING (url) keys via md5-ordered two-pass
  prefix sums — the north-rule pages table keys on url:string.
- register/release_intermediates: operators tag their persisted
  intermediates on the returned DataFrame so long-lived drivers can
  release them after materializing.
"""

import hashlib

import pytest
from pyspark.sql import functions as F

from tests.test_cli import run_cli

STOPWORDS = ["the", "of", "and", "to", "in", "is", "was", "for", "that", "with"]


def _unique_doc(i: int) -> str:
    """Quality-passing text whose 3-shingles are unique to doc i."""
    return " ".join(f"u{i}x{j} {sw}" for j, sw in enumerate(STOPWORDS))


# ---------------------------------------------------------------------------
# exact_dup_ids: within-increment exact dups must not break idempotency
# ---------------------------------------------------------------------------


def test_exact_dup_ids_rerun_with_within_increment_dups(spark, tmp_path):
    """Re-running an indexed snapshot whose increment contains exact
    duplicates OF EACH OTHER: each copy's fingerprint is stored under
    the other copy's id, so a filter of only `_old_id != doc_id` flags
    every copy (including the canonical) as exact-vs-old. The fix
    excludes the FULL increment id set from the stored side."""
    from correctocr_spark.ops.dedup import MinHashIndex

    # wordless docs: no shingles, never banded -> the fp side-table is
    # the ONLY mechanism that sees them
    docs = spark.createDataFrame(
        [(1, "   "), (2, "   ")], "doc_id long, text string"
    )
    idx = MinHashIndex(spark, str(tmp_path / "idx"))
    idx.add(docs)
    dup = idx.exact_dup_ids(docs)
    assert dup is not None
    assert dup.count() == 0  # all stored copies belong to this increment

    # a LATER wordless doc with the same text does match stored content
    later = spark.createDataFrame([(3, "   ")], "doc_id long, text string")
    assert {r["doc_id"] for r in idx.exact_dup_ids(later).collect()} == {3}
    spark.catalog.clearCache()


def test_curate_incremental_rerun_idempotent_with_exact_dups(spark, tmp_path):
    """curate_incremental-level pin of the same bug: a snapshot with
    two identical quality-passing docs must return the SAME survivors
    on a re-run (min-id canonical kept both times, not dropped)."""
    from correctocr_spark.ops.curate import curate_incremental

    rows = [(i, _unique_doc(i), "en") for i in range(4)]
    rows.append((9, _unique_doc(2), "en"))  # exact dup of doc 2
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    idx = str(tmp_path / "idx")
    first = {
        r["doc_id"]
        for r in curate_incremental(docs, idx, min_quality=0.5).select("doc_id").collect()
    }
    again = {
        r["doc_id"]
        for r in curate_incremental(docs, idx, min_quality=0.5).select("doc_id").collect()
    }
    assert 2 in first and 9 not in first
    assert first == again
    spark.catalog.clearCache()


# ---------------------------------------------------------------------------
# MinHashIndex.add(protect=...): external-caller recache-by-path safety
# ---------------------------------------------------------------------------


def test_minhash_index_add_protects_external_caller(spark, tmp_path):
    """candidate_pairs -> add(protect=pairs) -> LATE action must return
    the PRE-append candidates: without the checkpoint, the append makes
    the lazy plan read the increment's own bands/fingerprints as 'old'
    at its next action."""
    from correctocr_spark.ops.dedup import MinHashIndex

    schema = "doc_id long, text string"
    snap_a = spark.createDataFrame(
        [(i, _unique_doc(i)) for i in range(4)], schema
    )
    snap_b = spark.createDataFrame(
        [(10, _unique_doc(2).replace("u2x5", "u2z5")), (11, _unique_doc(40))],
        schema,
    )

    # reference: an identical index sequence, candidates acted on
    # IMMEDIATELY (before any append)
    ref_idx = MinHashIndex(spark, str(tmp_path / "ref"))
    ref_idx.add(snap_a)
    expected = {
        (r["doc_a"], r["doc_b"])
        for r in ref_idx.candidate_pairs(snap_b).collect()
    }
    assert (2, 10) in expected  # the cross-snapshot near-dup is live

    # scenario under test: the action happens AFTER add()
    idx = MinHashIndex(spark, str(tmp_path / "idx"))
    idx.add(snap_a)
    pairs = idx.candidate_pairs(snap_b)
    protected = idx.add(snap_b, protect=pairs)
    got = {(r["doc_a"], r["doc_b"]) for r in protected.collect()}
    assert got == expected
    idx.release()

    # list form keeps the shape
    idx2 = MinHashIndex(spark, str(tmp_path / "idx2"))
    idx2.add(snap_a)
    out = idx2.add(snap_b, protect=[idx2.candidate_pairs(snap_b)])
    assert isinstance(out, list) and len(out) == 1
    assert {(r["doc_a"], r["doc_b"]) for r in out[0].collect()} == expected
    idx2.release()
    spark.catalog.clearCache()


# ---------------------------------------------------------------------------
# _is_scan_rooted: allowlist, unknown nodes fail safe
# ---------------------------------------------------------------------------


def test_scan_rooted_allowlist(spark, sf_dir):
    from correctocr_spark.ops.dedup import _is_scan_rooted

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert _is_scan_rooted(docs)
    assert _is_scan_rooted(
        docs.where(F.col("doc_id") > 1).select(
            "doc_id", F.explode(F.split("text", " ")).alias("w")
        )
    )
    assert _is_scan_rooted(docs.coalesce(1))
    assert not _is_scan_rooted(docs.repartition(8))
    assert not _is_scan_rooted(docs.groupBy("lang").count())
    assert not _is_scan_rooted(docs.orderBy("doc_id"))
    # unrecognized-but-narrow nodes fail SAFE (no-op, no early job):
    # mapInPandas is narrow, yet probing .rdd on it would spin Python
    # workers — deliberately not allowlisted
    def ident(it):
        for pdf in it:
            yield pdf

    assert not _is_scan_rooted(docs.mapInPandas(ident, docs.schema))


# ---------------------------------------------------------------------------
# pack_shards on string (url) keys
# ---------------------------------------------------------------------------


def _expected_hash_order_shards(rows, budget):
    """Global cumulative sum over (md5(url), url) order — the oracle."""
    keyed = sorted(
        ((hashlib.md5(u.encode()).hexdigest(), u, n) for u, n in rows)
    )
    out, running = {}, 0
    for _fp, u, n in keyed:
        out[u] = running // budget
        running += n
    return out


def test_pack_shards_url_keys(spark):
    from correctocr_spark.ops.cleaning import pack_shards

    rows = [
        (f"https://h{i % 3}.org/page/{i}", "w " * (i % 17 + 1))
        for i in range(200)
    ]
    docs = spark.createDataFrame(rows, "url string, text string")
    got = {
        r["doc_id"]: r["shard"]
        for r in pack_shards(docs, budget=50, id_col="url").collect()
    }
    expected = _expected_hash_order_shards(
        [(u, len(t.split())) for u, t in rows], budget=50
    )
    assert got == expected


def test_pack_shards_url_respects_max_buckets(spark):
    """Widened hash buckets (max_buckets < 65536) leave values
    unchanged — the decomposition is semantics-free at any width."""
    from correctocr_spark.ops.cleaning import pack_shards

    rows = [(f"u{i}", "w " * (i % 5 + 1)) for i in range(50)]
    docs = spark.createDataFrame(rows, "url string, text string")
    base = {
        r["doc_id"]: r["shard"]
        for r in pack_shards(docs, budget=20, id_col="url").collect()
    }
    wide = {
        r["doc_id"]: r["shard"]
        for r in pack_shards(
            docs, budget=20, id_col="url", max_buckets=16
        ).collect()
    }
    assert base == wide


def test_pack_shards_url_empty(spark):
    from correctocr_spark.ops.cleaning import pack_shards

    docs = spark.createDataFrame([], "url string, text string")
    out = pack_shards(docs, budget=10, id_col="url")
    assert out.count() == 0
    assert out.columns == ["doc_id", "n_tokens", "shard"]


def test_curate_url_keyed_with_shards(spark):
    """The north-rule flagship shape: curate a url-keyed pages table
    end-to-end with shard packing — no surrogate numeric id needed."""
    from correctocr_spark.ops.curate import curate

    rows = [(f"https://site.org/{i}", _unique_doc(i), "en") for i in range(8)]
    rows.append(("https://mirror.org/3", _unique_doc(3), "en"))  # exact dup
    docs = spark.createDataFrame(rows, "url string, text string, lang string")
    out = curate(docs, id_col="url", min_quality=0.5, shard_budget=300)
    got = out.collect()
    urls = {r["url"] for r in got}
    assert len(urls) == 8  # min-id canonical: the lexicographically-first url
    assert "https://mirror.org/3" in urls  # 'https://m...' < 'https://s...'
    assert "https://site.org/3" not in urls
    assert all(r["shard"] is not None for r in got)
    from correctocr_spark.ops.cache import release_intermediates

    assert release_intermediates(out) >= 1
    spark.catalog.clearCache()


def test_cli_curate_quality_incremental(tmp_path, spark):
    """CLI pin of quality-canonical incremental curation: two
    snapshots, the second's clean twin supersedes the first's degraded
    copy, and the retraction list lands at --superseded-out."""
    schema = "doc_id long, text string, lang string"
    a_rows = [
        (i, _degraded(_unique_doc(i)) if i == 3 else _unique_doc(i), "en")
        for i in range(5)
    ]
    b_rows = [(20, _unique_doc(3), "en"), (21, _unique_doc(21), "en")]
    spark.createDataFrame(a_rows, schema).write.parquet(str(tmp_path / "a"))
    spark.createDataFrame(b_rows, schema).write.parquet(str(tmp_path / "b"))
    idx = str(tmp_path / "idx")

    r = run_cli(
        "curate", "--input", str(tmp_path / "a"),
        "--output", str(tmp_path / "out_a"),
        "--index-dir", idx, "--canonical", "quality",
        "--superseded-out", str(tmp_path / "sup_a"),
    )
    assert r.returncode == 0, r.stderr[-2000:]
    r = run_cli(
        "curate", "--input", str(tmp_path / "b"),
        "--output", str(tmp_path / "out_b"),
        "--index-dir", idx, "--canonical", "quality",
        "--superseded-out", str(tmp_path / "sup_b"),
    )
    assert r.returncode == 0, r.stderr[-2000:]
    ids_a = {x["doc_id"] for x in spark.read.parquet(str(tmp_path / "out_a")).collect()}
    ids_b = {x["doc_id"] for x in spark.read.parquet(str(tmp_path / "out_b")).collect()}
    sup_b = {x["doc_id"] for x in spark.read.parquet(str(tmp_path / "sup_b")).collect()}
    assert 3 in ids_a           # degraded copy published in snapshot A
    assert 20 in ids_b          # clean twin wins snapshot B's election
    assert sup_b == {3}         # ...and retracts the stored loser
    assert "superseded: 1" in r.stdout


# ---------------------------------------------------------------------------
# unicode normalization (vectorized pandas UDF)
# ---------------------------------------------------------------------------


def test_normalize_text_forms(spark):
    from correctocr_spark.ops.textstats import normalize_text

    docs = spark.createDataFrame(
        [(1, "cafe\u0301"), (2, "\ufb01ne"), (3, "plain"), (4, None)],
        "doc_id long, text string",
    )
    nfc = {r["doc_id"]: (r["norm_text"], r["changed"])
           for r in normalize_text(docs).collect()}
    assert nfc[1] == ("caf\u00e9", True)   # combining acute composes
    assert nfc[2] == ("\ufb01ne", False)   # NFC keeps the fi ligature
    assert nfc[3] == ("plain", False)
    assert nfc[4] == (None, False)
    nfkc = {r["doc_id"]: r["norm_text"]
            for r in normalize_text(docs, form="NFKC").collect()}
    assert nfkc[2] == "fine"                # NFKC folds the ligature
    with pytest.raises(ValueError, match="normalization form"):
        normalize_text(docs, form="NFX")


def test_normalize_text_single_udf_eval(spark):
    """The struct-returning UDF keeps ONE ArrowEvalPython in the plan —
    two scalar mentions of the same UDF expression can each survive
    projection collapse and double the Python work."""
    from correctocr_spark.ops.textstats import normalize_text

    docs = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    plan = normalize_text(docs)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1


# ---------------------------------------------------------------------------
# register/release_intermediates
# ---------------------------------------------------------------------------


def test_release_intermediates_frees_op_caches(spark):
    # round 6 dropped dedup_lines' span-stream persist (the codegen'd
    # line pass is cheaper to recompute than to cache), so the release
    # contract is exercised through global_transitivity, which persists
    # und + deg and registers both (the r5 ADVICE leak fix).
    from correctocr_spark.ops.cache import release_intermediates
    from correctocr_spark.ops.graph import global_transitivity

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], "src long, dst long"
    )
    out = global_transitivity(pairs)
    out.count()  # materialize first
    cached = list(getattr(out, "_correctocr_cached"))
    assert len(cached) == 2
    for c in cached:
        assert c.storageLevel.useMemory or c.storageLevel.useDisk
    assert release_intermediates(out) == 2
    for c in cached:
        assert not (c.storageLevel.useMemory or c.storageLevel.useDisk)
    assert release_intermediates(out) == 0  # idempotent


def test_dedup_lines_registers_no_cache(spark):
    # pins the round-6 shape: dedup_lines persists nothing (both
    # consumers re-derive the codegen'd line pass from the scan), so
    # there is nothing to release and nothing to leak.
    from correctocr_spark.ops.cache import release_intermediates
    from correctocr_spark.ops.dedup import dedup_lines

    docs = spark.createDataFrame(
        [(1, "a\nb\nfooter"), (2, "c\nfooter")], "doc_id long, text string"
    )
    out = dedup_lines(docs)
    out.count()
    assert getattr(out, "_correctocr_cached") == []
    assert release_intermediates(out) == 0


# ---------------------------------------------------------------------------
# quality-canonical INCREMENTAL curation (index _q side-table + retraction)
# ---------------------------------------------------------------------------


def _degraded(text: str) -> str:
    """Same content + a punctuation tail: punct_ratio crosses 0.2, so
    quality drops 1.0 -> 0.75 while nearly all 3-shingles stay shared
    (the tail adds two shingles out of ~20 — band-match survives)."""
    return text + " " + "!" * 40


def test_curate_incremental_quality_equals_union(spark, tmp_path):
    """Two-snapshot quality-canonical incremental == one-shot quality
    curation over the union, once the retraction list is applied:
    union(out_A, out_B) - superseded_B == one-shot. Covers both
    directions: a NEW doc beating a stored published one (retraction)
    and a stored doc beating a new one (plain drop)."""
    from correctocr_spark.ops.curate import curate_incremental, curated_doc_ids

    schema = "doc_id long, text string, lang string"
    # A:3 is the DEGRADED copy; B:24 is its clean twin (higher quality)
    a_rows = [
        (i, _degraded(_unique_doc(i)) if i == 3 else _unique_doc(i), "en")
        for i in range(6)
    ]
    a_rows.append((6, _degraded(_unique_doc(2)), "en"))  # loses to A:2 in-snapshot
    b_rows = [(i, _unique_doc(i), "en") for i in range(20, 24)]
    b_rows.append((24, _unique_doc(3), "en"))        # beats stored A:3
    b_rows.append((25, _degraded(_unique_doc(4)), "en"))  # loses to stored A:4
    snap_a = spark.createDataFrame(a_rows, schema)
    snap_b = spark.createDataFrame(b_rows, schema)
    idx = str(tmp_path / "idx")

    out_a = curate_incremental(
        snap_a, idx, min_quality=0.5, canonical="quality"
    )
    ids_a = {r["doc_id"] for r in out_a.select("doc_id").collect()}
    sup_a = {
        r["doc_id"] for r in out_a._correctocr_superseded.collect()
    }
    assert 2 in ids_a and 6 not in ids_a  # in-snapshot election
    assert 3 in ids_a                     # degraded but unchallenged yet
    assert sup_a == set()

    out_b = curate_incremental(
        snap_b, idx, min_quality=0.5, canonical="quality"
    )
    ids_b = {r["doc_id"] for r in out_b.select("doc_id").collect()}
    sup_b = {
        r["doc_id"] for r in out_b._correctocr_superseded.collect()
    }
    assert 24 in ids_b      # new doc won its cluster on quality
    assert 25 not in ids_b  # stored A:4 won
    assert sup_b == {3}     # the previously-published loser is retracted

    union_docs = snap_a.unionByName(snap_b)
    one_shot = {
        r["doc_id"]
        for r in curated_doc_ids(
            union_docs, min_quality=0.5, canonical="quality"
        ).collect()
    }
    assert (ids_a | ids_b) - sup_b == one_shot
    spark.catalog.clearCache()


def test_curate_incremental_quality_rerun_idempotent(spark, tmp_path):
    """Re-running the second snapshot returns the same survivors and
    the same retraction list (a downstream MERGE is idempotent)."""
    from correctocr_spark.ops.curate import curate_incremental

    schema = "doc_id long, text string, lang string"
    snap_a = spark.createDataFrame(
        [(3, _degraded(_unique_doc(3)), "en"), (4, _unique_doc(4), "en")], schema
    )
    snap_b = spark.createDataFrame([(24, _unique_doc(3), "en")], schema)
    idx = str(tmp_path / "idx")
    curate_incremental(snap_a, idx, min_quality=0.5, canonical="quality")

    def run():
        out = curate_incremental(snap_b, idx, min_quality=0.5, canonical="quality")
        return (
            {r["doc_id"] for r in out.select("doc_id").collect()},
            {r["doc_id"] for r in out._correctocr_superseded.collect()},
        )

    first, again = run(), run()
    assert first == again == ({24}, {3})
    spark.catalog.clearCache()


def test_curate_incremental_quality_requires_q_table(spark, tmp_path):
    """An index built without quality support (bands/fp only) cannot
    run a quality election — loud refusal, not silent min_id."""
    from correctocr_spark.ops.curate import curate_incremental
    from correctocr_spark.ops.dedup import MinHashIndex

    schema = "doc_id long, text string, lang string"
    snap_a = spark.createDataFrame([(1, _unique_doc(1), "en")], schema)
    idx = MinHashIndex(spark, str(tmp_path / "idx"))
    idx.add(snap_a.drop("lang"))  # legacy add: no quality side-table
    snap_b = spark.createDataFrame(
        [(2, _unique_doc(1).replace("u1x4", "u1z4"), "en")], schema
    )
    with pytest.raises(ValueError, match="quality"):
        curate_incremental(
            snap_b, str(tmp_path / "idx"), min_quality=0.5, canonical="quality"
        )
    spark.catalog.clearCache()


def test_curate_incremental_quality_wordless_exact_dup(spark, tmp_path):
    """A wordless exact dup (no shingles -> fp-pair edge only) competes
    in the election: equal quality -> min id -> the stored copy wins
    and the new copy is dropped; no retraction."""
    from correctocr_spark.ops.curate import curate_incremental

    schema = "doc_id long, text string, lang string"
    # the wordless doc fails the quality gate either way; use a SHORT
    # two-word doc instead (sub-k: its whole text bands as one shingle,
    # but ALSO pin the fp path with a truly wordless doc)
    snap_a = spark.createDataFrame(
        [(1, _unique_doc(1), "en"), (2, "   ", "en")], schema
    )
    snap_b = spark.createDataFrame(
        [(30, "   ", "en"), (31, _unique_doc(31), "en")], schema
    )
    idx = str(tmp_path / "idx")
    curate_incremental(snap_a, idx, min_quality=0.5, canonical="quality")
    out_b = curate_incremental(snap_b, idx, min_quality=0.5, canonical="quality")
    ids_b = {r["doc_id"] for r in out_b.select("doc_id").collect()}
    sup_b = {r["doc_id"] for r in out_b._correctocr_superseded.collect()}
    assert 31 in ids_b
    assert 30 not in ids_b  # tie -> min id -> stored doc 2 keeps the slot
    assert sup_b == set()   # doc 2 was never published (fails the gate)
    spark.catalog.clearCache()


def test_register_intermediates_inherit_through_composition(spark):
    """curated_doc_ids in quality mode surfaces its persisted quality
    table through register_intermediates. (r6: lsh_candidate_pairs no
    longer persists a band table — pair generation is posting-list
    shaped with a single consumer chain — so the inherited cache set
    shrank from >=2 to the quality table alone; the r5 contract that
    every persisted intermediate is released stands.)"""
    from correctocr_spark.ops.cache import release_intermediates
    from correctocr_spark.ops.curate import curated_doc_ids

    rows = [(i, _unique_doc(i)) for i in range(6)]
    rows.append((100, _unique_doc(0).replace("u0x3", "u0y3")))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = curated_doc_ids(docs, min_quality=0.0, canonical="quality")
    out.count()
    assert len(getattr(out, "_correctocr_cached")) >= 1
    assert release_intermediates(out) >= 1
    spark.catalog.clearCache()


def _ivf_embeddings(spark, n=60, dim=8, seed=5):
    import numpy as np

    rng = np.random.RandomState(seed)
    rows = [(i, [float(round(x, 6)) for x in rng.randn(dim)]) for i in range(n)]
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


class TestIvfSearch:
    def _centroids(self, dim=8, c=4, seed=11):
        import numpy as np

        rng = np.random.RandomState(seed)
        return [[round(float(x), 6) for x in rng.randn(dim)] for _ in range(c)]

    def test_equals_bruteforce_over_probe_clusters(self, spark):
        """ivf_search == brute-force restricted to the probe clusters'
        members (its exact contract), and is recall-limited, never
        wrong: every returned pair appears in the full brute-force
        ranking with the same cosine."""
        import numpy as np

        from correctocr_spark.ops.similarity import (
            brute_force_topk,
            ivf_assign,
            ivf_search,
        )

        df = _ivf_embeddings(spark)
        cents = self._centroids()
        q = [1.0] * 8
        got = [
            (r["rank"], r["vec_id"], r["cosine"])
            for r in ivf_search(df, cents, q, k=5, nprobe=2).collect()
        ]
        # probe set recomputed independently
        d = [
            (float(np.sum((np.array(q) - np.array(c)) ** 2)), cid)
            for cid, c in enumerate(cents)
        ]
        probe = {cid for _, cid in sorted(d)[:2]}
        members = {
            r["vec_id"]
            for r in ivf_assign(df, cents).collect()
            if r["centroid_id"] in probe
        }
        assert members and members != set(range(60))  # non-trivial filter
        member_df = df.where(df.vec_id.isin(list(members)))
        expect = [
            (r["rank"], r["vec_id"], r["cosine"])
            for r in brute_force_topk(member_df, q, k=5).collect()
        ]
        assert got == expect
        full = {r["vec_id"]: r["cosine"] for r in brute_force_topk(df, q, k=60).collect()}
        assert all(full[v] == c for _, v, c in got)

    def test_nprobe_all_equals_bruteforce(self, spark):
        from correctocr_spark.ops.similarity import brute_force_topk, ivf_search

        df = _ivf_embeddings(spark)
        cents = self._centroids()
        q = [0.5] * 8
        a = ivf_search(df, cents, q, k=5, nprobe=len(cents)).collect()
        b = brute_force_topk(df, q, k=5).collect()
        assert [tuple(r) for r in a] == [tuple(r) for r in b]

    def test_plan_take_ordered_no_window(self, spark):
        from correctocr_spark.ops.similarity import ivf_search

        df = _ivf_embeddings(spark)
        out = ivf_search(df, self._centroids(), [1.0] * 8, k=5)
        p = out._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in p and "Window" not in p


class TestLmQualityBuckets:
    """CCNet-style perplexity bucketing over unigram_lm_scores."""

    def _docs(self, spark):
        # 10 typical docs sharing a vocabulary, 3 gibberish docs of
        # singleton words (low avg logprob), 1 wordless doc
        rows = [(i, "the quick brown fox jumps over the lazy dog again") for i in range(10)]
        rows += [(100 + j, f"zzq{j}a wkx{j}b vvv{j}c qqq{j}d") for j in range(3)]
        rows.append((200, "   "))
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_buckets_partition_corpus(self, spark):
        from correctocr_spark.ops.textstats import lm_quality_buckets

        out = lm_quality_buckets(self._docs(spark), head=0.3, tail=0.3)
        rows = {r.doc_id: r for r in out.collect()}
        assert len(rows) == 14
        # wordless doc -> tail by policy
        assert rows[200].bucket == "tail" and rows[200].avg_logprob is None
        # gibberish singleton docs score below the shared-vocab docs
        assert all(rows[100 + j].bucket == "tail" for j in range(3))
        # the shared-vocab docs all tie at the top: >= hi makes them head
        assert all(rows[i].bucket == "head" for i in range(10))
        assert set(r.bucket for r in rows.values()) <= {"head", "middle", "tail"}

    def test_middle_exists_with_three_levels(self, spark):
        from correctocr_spark.ops.textstats import lm_quality_buckets

        rows = [(i, "alpha beta gamma delta epsilon") for i in range(4)]
        rows += [(10 + i, "alpha beta gamma qq" + str(i)) for i in range(4)]
        rows += [(20 + i, f"xx{i} yy{i} zz{i} ww{i}") for i in range(4)]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        out = lm_quality_buckets(docs, head=0.25, tail=0.25)
        by_bucket = {}
        for r in out.collect():
            by_bucket.setdefault(r.bucket, []).append(r.doc_id)
        assert set(by_bucket) == {"head", "middle", "tail"}
        assert set(by_bucket["tail"]) == {20, 21, 22, 23}
        assert set(by_bucket["head"]) <= {0, 1, 2, 3}

    def test_scores_reuse_skips_rescoring(self, spark):
        from correctocr_spark.ops.textstats import lm_quality_buckets, unigram_lm_scores

        docs = self._docs(spark)
        scores = unigram_lm_scores(docs)
        a = lm_quality_buckets(docs, scores=scores)
        b = lm_quality_buckets(docs)
        assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))

    def test_bad_fractions_raise(self, spark):
        import pytest as _pytest

        from correctocr_spark.ops.textstats import lm_quality_buckets

        docs = self._docs(spark)
        for head, tail in [(0.0, 0.3), (0.3, 0.0), (0.6, 0.5)]:
            with _pytest.raises(ValueError):
                lm_quality_buckets(docs, head=head, tail=tail)


def test_curate_lm_keep_gate(spark):
    """curate(lm_keep=...) drops perplexity-tail docs before dedup."""
    from correctocr_spark.ops.curate import curate

    sw = ["the", "of", "and", "to", "in", "is", "was", "for", "that", "with"]
    rows = [
        (i, " ".join(f"w{i}x{j} {s}" for j, s in enumerate(sw)), "en")
        for i in range(10)
    ]
    # gibberish: all-singleton vocabulary -> lowest avg logprob -> tail
    rows += [(100 + j, " ".join(f"zz{j}q{k}" for k in range(20)), "en") for j in range(3)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")

    out = curate(docs, min_quality=0.0, lm_keep=["head", "middle"], lm_tail=0.231)
    kept = {r.doc_id for r in out.collect()}
    assert kept == set(range(10))

    # no gate -> everything survives (distinct shingles, no dups)
    base = curate(docs, min_quality=0.0)
    assert {r.doc_id for r in base.collect()} == set(range(10)) | {100, 101, 102}

    import pytest as _pytest

    with _pytest.raises(ValueError):
        curate(docs, min_quality=0.0, lm_keep=["head", "bogus"])


def test_cli_lm_keep_flags_parse():
    from correctocr_spark.__main__ import build_parser

    args = build_parser().parse_args(
        ["curate", "--input", "i", "--output", "o",
         "--lm-keep", "head,middle", "--lm-head", "0.2", "--lm-tail", "0.25"]
    )
    assert args.lm_keep == "head,middle"
    assert args.lm_head == 0.2 and args.lm_tail == 0.25


class TestChunkDocs:
    def test_chunk_boundaries_and_reassembly(self, spark):
        from correctocr_spark.ops.cleaning import chunk_docs

        docs = spark.createDataFrame(
            [
                (1, " ".join(f"w{i}" for i in range(10))),   # 10 -> 4+4+2
                (2, " ".join(f"v{i}" for i in range(4))),    # exactly one
                (3, " ".join(f"u{i}" for i in range(8))),    # exact multiple
                (4, "  "),                                   # wordless
            ],
            "doc_id long, text string",
        )
        out = chunk_docs(docs, max_tokens=4).collect()
        by_doc = {}
        for r in sorted(out, key=lambda r: (r.doc_id, r.chunk_idx)):
            by_doc.setdefault(r.doc_id, []).append(r)
        assert [r.n_tokens for r in by_doc[1]] == [4, 4, 2]
        assert [r.chunk_idx for r in by_doc[1]] == [0, 1, 2]
        assert by_doc[1][2].chunk_text == "w8 w9"
        assert [r.n_tokens for r in by_doc[2]] == [4]
        assert [r.n_tokens for r in by_doc[3]] == [4, 4]
        # wordless doc still represented: one empty chunk
        assert [(r.chunk_idx, r.chunk_text, r.n_tokens) for r in by_doc[4]] == [(0, "", 0)]
        # lossless: chunks re-concatenate to the normalized original
        for doc_id, toks in [(1, 10), (2, 4), (3, 8)]:
            joined = " ".join(r.chunk_text for r in by_doc[doc_id])
            assert len(joined.split()) == toks

    def test_bad_max_tokens_raises(self, spark):
        import pytest as _pytest

        from correctocr_spark.ops.cleaning import chunk_docs

        docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
        with _pytest.raises(ValueError):
            chunk_docs(docs, max_tokens=0)

    def test_no_shuffle_in_plan(self, spark):
        from correctocr_spark.ops.cleaning import chunk_docs

        docs = spark.range(0, 100, 1, 4).selectExpr(
            "id as doc_id", "repeat('tok ', 90) as text"
        )
        plan = chunk_docs(docs, max_tokens=40)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan


def test_lm_buckets_plan_broadcasts_cuts(spark):
    """The bucketing layer must join the 1-row cuts table by BROADCAST
    (nested-loop over a broadcast single row), never shuffle the scored
    corpus a second time: the only wide nodes past the persisted scores
    are the cuts aggregation itself."""
    from correctocr_spark.ops.cache import release_intermediates
    from correctocr_spark.ops.textstats import lm_quality_buckets

    docs = spark.range(0, 200, 1, 4).selectExpr(
        "id as doc_id", "concat('alpha beta w', id % 7) as text"
    )
    out = lm_quality_buckets(docs)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    release_intermediates(out)


# ---------------------------------------------------------------------------
# compression_ratio: Arrow UDF values == driver-side zlib, edge rows total
# ---------------------------------------------------------------------------


class TestCompressionRatio:
    def test_matches_kernel_zlib(self, spark):
        import zlib

        from pyspark.sql import Row
        from correctocr_spark.ops.textstats import compression_ratio

        texts = ["abc " * 50, "x", "", None, "prose with varied words herein"]
        df = spark.createDataFrame(
            [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
        )
        got = {r["doc_id"]: r for r in compression_ratio(df).collect()}
        for i, t in enumerate(texts):
            if t is None:
                assert got[i]["ratio"] is None and got[i]["n_bytes"] is None
            elif t == "":
                assert got[i]["ratio"] == 1.0 and got[i]["n_bytes"] == 0
            else:
                raw = t.encode()
                assert got[i]["n_bytes"] == len(raw)
                assert got[i]["ratio"] == round(
                    len(zlib.compress(raw, 6)) / len(raw), 6
                )
        # the templated doc compresses far below the prose doc
        assert got[0]["ratio"] < 0.2 < got[4]["ratio"]


class TestSemDeDup:
    """SemDeDup (Abbas et al. 2023): cluster-scoped embedding dedup."""

    CENTS = [[1.0, 0.0], [0.0, 1.0]]

    def _emb(self, spark, rows):
        return spark.createDataFrame(rows, ["vec_id", "embedding"])

    def test_exact_clone_removed_original_kept(self, spark):
        from correctocr_spark.ops.similarity import semdedup

        emb = self._emb(spark, [
            (1, [0.9, 0.1]), (2, [0.9, 0.1]),      # exact dups, cluster 0
            (3, [0.05, 1.2]),                       # alone in cluster 1
        ])
        out = {r["vec_id"]: r for r in semdedup(emb, self.CENTS, eps=0.95).collect()}
        assert out[1]["kept"] and not out[2]["kept"]
        assert out[3]["kept"]
        assert out[1]["centroid_id"] == 0 and out[3]["centroid_id"] == 1

    def test_keep_far_vs_close_priority(self, spark):
        from correctocr_spark.ops.similarity import semdedup

        # two near-identical cluster-0 vectors, one closer to the centroid
        emb = self._emb(spark, [(1, [1.0, 0.02]), (2, [0.9, 0.03])])
        far = {r["vec_id"]: r["kept"] for r in
               semdedup(emb, self.CENTS, eps=0.9, keep="far").collect()}
        close = {r["vec_id"]: r["kept"] for r in
                 semdedup(emb, self.CENTS, eps=0.9, keep="close").collect()}
        # exactly one survivor under each rule, and they differ
        assert sum(far.values()) == 1 and sum(close.values()) == 1
        kept_far = [k for k, v in far.items() if v][0]
        kept_close = [k for k, v in close.items() if v][0]
        assert kept_far != kept_close

    def test_eps_gates_unrelated_vectors(self, spark):
        from correctocr_spark.ops.similarity import semdedup

        # same cluster (both nearer centroid 0) but nearly orthogonal
        emb = self._emb(spark, [(1, [1.0, 0.0]), (2, [0.6, 0.55])])
        out = semdedup(emb, self.CENTS, eps=0.95).collect()
        assert all(r["kept"] for r in out)

    def test_cluster_scoping_blocks_cross_cluster_pairs(self, spark):
        from correctocr_spark.ops.similarity import semdedup

        # cos(v1, v2) = 1.0 but they sit in different clusters: SemDeDup
        # by construction never compares across clusters
        emb = self._emb(spark, [(1, [1.0, 1.0]), (2, [2.0, 2.0])])
        cents = [[1.0, 0.9], [2.2, 2.2]]
        out = semdedup(emb, cents, eps=0.95).collect()
        assert {r["vec_id"]: r["centroid_id"] for r in out} == {1: 0, 2: 1}
        assert all(r["kept"] for r in out)

    def test_max_cluster_raises(self, spark):
        from correctocr_spark.ops.similarity import semdedup

        emb = self._emb(spark, [(i, [1.0, 0.0]) for i in range(5)])
        with pytest.raises(ValueError, match="max_cluster"):
            semdedup(emb, self.CENTS, max_cluster=3)

    def test_validation(self, spark):
        from correctocr_spark.ops.similarity import semdedup

        emb = self._emb(spark, [(1, [1.0, 0.0])])
        with pytest.raises(ValueError, match="keep"):
            semdedup(emb, self.CENTS, keep="random")
        with pytest.raises(ValueError, match="centroid"):
            semdedup(emb, [])


class TestHostBoilerplate:
    """strip_host_boilerplate: per-host template-line scrub."""

    def _pages(self, spark, rows):
        return spark.createDataFrame(rows, ["url", "text"])

    def test_host_scoping(self, spark):
        from correctocr_spark.ops.dedup import strip_host_boilerplate

        nav = "Home | About | Contact"
        rows = [(f"http://a.com/{i}", f"{nav}\nbody a{i}") for i in range(3)]
        rows += [(f"http://b.com/{i}", f"{nav}\nbody b{i}") for i in range(2)]
        out = {r["url"]: r for r in
               strip_host_boilerplate(self._pages(spark, rows), min_pages=3).collect()}
        # 3 distinct a.com pages share NAV -> scrubbed there...
        for i in range(3):
            r = out[f"http://a.com/{i}"]
            assert r["clean_text"] == f"body a{i}" and r["n_removed"] == 1
            assert r["host"] == "a.com"
        # ...but only 2 b.com pages share it -> survives on b.com
        for i in range(2):
            r = out[f"http://b.com/{i}"]
            assert r["clean_text"].startswith(nav) and r["n_removed"] == 0

    def test_within_page_repetition_does_not_count(self, spark):
        from correctocr_spark.ops.dedup import strip_host_boilerplate

        # the same line 3x on ONE page: distinct-page count is 1 -> kept
        rows = [("http://a.com/0", "dup\ndup\ndup"),
                ("http://a.com/1", "other")]
        out = {r["url"]: r for r in
               strip_host_boilerplate(self._pages(spark, rows), min_pages=3).collect()}
        assert out["http://a.com/0"]["n_removed"] == 0
        assert out["http://a.com/0"]["clean_text"] == "dup\ndup\ndup"

    def test_blank_lines_survive_and_order_preserved(self, spark):
        from correctocr_spark.ops.dedup import strip_host_boilerplate

        rows = [(f"http://a.com/{i}", f"top{i}\n\nfooter\n\ntail{i}")
                for i in range(3)]
        out = {r["url"]: r for r in
               strip_host_boilerplate(self._pages(spark, rows), min_pages=3).collect()}
        r = out["http://a.com/1"]
        assert r["clean_text"] == "top1\n\n\ntail1"
        assert r["n_lines"] == 5 and r["n_removed"] == 1

    def test_normalization_case_and_trim(self, spark):
        from correctocr_spark.ops.dedup import strip_host_boilerplate

        rows = [("http://a.com/0", "  Footer Text  \nx"),
                ("http://a.com/1", "footer text\ny"),
                ("http://a.com/2", "FOOTER TEXT\nz")]
        out = {r["url"]: r for r in
               strip_host_boilerplate(self._pages(spark, rows), min_pages=3).collect()}
        assert all(out[f"http://a.com/{i}"]["n_removed"] == 1 for i in range(3))
        assert out["http://a.com/0"]["clean_text"] == "x"


class TestEpochPlan:
    """epoch_plan: token-budget repeat planning, integer-exact."""

    def _toks(self, spark, rows):
        return spark.createDataFrame(rows, ["group", "n_tokens"])

    def test_cap_binds_and_shortfall(self, spark):
        from correctocr_spark.ops.cleaning import epoch_plan

        toks = self._toks(spark, [("a", 1000), ("b", 10000)])
        out = {r["group"]: r for r in epoch_plan(
            toks, budget_tokens=20000,
            shares_micro={"a": 500000, "b": 500000},
            max_epochs_milli=4000,
        ).collect()}
        # a: target 10000 over 1000 tokens -> 10 epochs raw, capped at 4
        assert out["a"]["epochs_raw_milli"] == 10000
        assert out["a"]["epochs_milli"] == 4000 and out["a"]["capped"]
        assert out["a"]["planned_tokens"] == 4000
        assert out["a"]["shortfall_tokens"] == 6000
        # b: target 10000 over 10000 tokens -> exactly 1 epoch, uncapped
        assert out["b"]["epochs_milli"] == 1000 and not out["b"]["capped"]
        assert out["b"]["shortfall_tokens"] == 0

    def test_missing_share_and_zero_tokens(self, spark):
        from correctocr_spark.ops.cleaning import epoch_plan

        toks = self._toks(spark, [("a", 100), ("orphan", 50), ("empty", 0)])
        out = {r["group"]: r for r in epoch_plan(
            toks, budget_tokens=1000,
            shares_micro={"a": 500000, "empty": 500000},
        ).collect()}
        # domain with no share is listed with a zero plan, never dropped
        assert out["orphan"]["share_micro"] == 0
        assert out["orphan"]["target_tokens"] == 0
        assert out["orphan"]["epochs_milli"] == 0
        # 0-token domain: zero epochs, full target as shortfall
        assert out["empty"]["epochs_milli"] == 0 and not out["empty"]["capped"]
        assert out["empty"]["shortfall_tokens"] == 500

    def test_huge_budget_decomposition_exact(self, spark):
        from correctocr_spark.ops.cleaning import epoch_plan

        # 2.5e13-token budget (a ~100 TB corpus): budget*share would
        # overflow int64 done naively; the base-1e6 decomposition is
        # exact vs Python bigints
        budget = 25_000_000_000_123
        share = 333_333
        toks = self._toks(spark, [("a", 7_000_000_000)])
        r = epoch_plan(
            toks, budget_tokens=budget, shares_micro={"a": share},
            max_epochs_milli=5000,
        ).collect()[0]
        expect_target = share * (budget // 10**6) + (share * (budget % 10**6)) // 10**6
        assert r["target_tokens"] == expect_target
        assert r["epochs_raw_milli"] == expect_target * 1000 // 7_000_000_000

    def test_validation(self, spark):
        from correctocr_spark.ops.cleaning import epoch_plan

        toks = self._toks(spark, [("a", 10)])
        with pytest.raises(ValueError, match="budget"):
            epoch_plan(toks, 0, {"a": 1000})
        with pytest.raises(ValueError, match="max_epochs"):
            epoch_plan(toks, 10, {"a": 1000}, max_epochs_milli=0)
        with pytest.raises(ValueError, match="non-empty"):
            epoch_plan(toks, 10, {})
        with pytest.raises(ValueError, match="micro-units"):
            epoch_plan(toks, 10, {"a": 2_000_000})
        with pytest.raises(ValueError, match="sums past"):
            epoch_plan(toks, 10, {"a": 600000, "b": 600000})


class TestMarginMine:
    """margin_mine: ratio-margin bitext mining, integer-exact."""

    def _df(self, spark, rows):
        return spark.createDataFrame(rows, ["vec_id", "embedding"])

    def test_matches_python_simulation(self, spark):
        import math

        from correctocr_spark.ops.similarity import margin_mine

        src_rows = [(0, [1.0, 0.0]), (2, [0.6, 0.8])]
        tgt_rows = [(1, [1.0, 0.0]), (3, [0.8, 0.6]), (5, [0.0, 1.0])]
        out = {(r["src_id"], r["tgt_id"]): r for r in margin_mine(
            self._df(spark, src_rows), self._df(spark, tgt_rows),
            k=2, min_margin_milli=1000, mutual=False,
        ).collect()}

        def cos_micro(a, b):
            d = sum(x * y for x, y in zip(a, b))
            na = math.sqrt(sum(x * x for x in a))
            nb = math.sqrt(sum(x * x for x in b))
            v = d / (na * nb) * 1_000_000
            return int(math.floor(v + 0.5)) if v >= 0 else -int(math.floor(-v + 0.5))

        pairs = {(s, t): cos_micro(sv, tv)
                 for s, sv in src_rows for t, tv in tgt_rows}
        for (s, t), c in pairs.items():
            if c <= 0:
                assert (s, t) not in out
                continue
            top_s = sorted(((pairs[(s, tt)], -tt) for tt, _ in tgt_rows),
                           reverse=True)[:2]
            top_t = sorted(((pairs[(ss, t)], -ss) for ss, _ in src_rows),
                           reverse=True)[:2]
            den_s, k_s = sum(v for v, _ in top_s), len(top_s)
            den_t, k_t = sum(v for v, _ in top_t), len(top_t)
            d = den_s * k_t + den_t * k_s
            if d <= 0:
                assert (s, t) not in out
                continue
            margin = (c * 2 * k_s * k_t * 1_000_000) // d
            if margin >= 1_000_000:
                assert out[(s, t)]["cos_micro"] == c
                assert out[(s, t)]["margin_micro"] == margin
            else:
                assert (s, t) not in out

    def test_clone_is_mutual_best(self, spark):
        from correctocr_spark.ops.similarity import margin_mine

        src = self._df(spark, [(0, [1.0, 0.2]), (2, [0.1, 1.0])])
        tgt = self._df(spark, [(1, [1.0, 0.2]), (3, [0.5, 0.6])])
        out = margin_mine(src, tgt, k=2, min_margin_milli=1050).collect()
        mined = {(r["src_id"], r["tgt_id"]) for r in out}
        assert (0, 1) in mined  # the clone pair
        for r in out:
            if (r["src_id"], r["tgt_id"]) == (0, 1):
                assert r["cos_micro"] == 1_000_000

    def test_mutual_prunes_to_one_per_side(self, spark):
        from correctocr_spark.ops.similarity import margin_mine

        src = self._df(spark, [(0, [1.0, 0.0]), (2, [0.95, 0.05])])
        tgt = self._df(spark, [(1, [1.0, 0.01])])
        out = margin_mine(src, tgt, k=2, min_margin_milli=1, mutual=True).collect()
        # both srcs point at t1, but t1's best is unique: at most one pair
        assert len(out) <= 1
        both = margin_mine(src, tgt, k=2, min_margin_milli=1, mutual=False).collect()
        assert len(both) == 2

    def test_planes_path_no_cartesian(self, spark):
        from correctocr_spark.ops.similarity import margin_mine, random_planes

        src = self._df(spark, [(i * 2, [1.0, float(i)]) for i in range(4)])
        tgt = self._df(spark, [(i * 2 + 1, [1.0, float(i)]) for i in range(4)])
        out = margin_mine(src, tgt, k=2, min_margin_milli=1,
                          planes=random_planes(2, 3, seed=5), mutual=False)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        out.collect()  # runs

    def test_validation(self, spark):
        from correctocr_spark.ops.similarity import margin_mine

        df = self._df(spark, [(0, [1.0, 0.0])])
        with pytest.raises(ValueError, match="k must"):
            margin_mine(df, df, k=0)
        with pytest.raises(ValueError, match="min_margin"):
            margin_mine(df, df, min_margin_milli=0)


class TestSegmentLanguages:
    """segment_languages: per-paragraph langid + majority election."""

    ES = "el la de que y en un por con su"
    DA = "og i at det er en til det som med"
    EN = "the cat sat on the mat and it was good"

    def _docs(self, spark, rows):
        return spark.createDataFrame(rows, ["doc_id", "text"])

    def test_majority_and_foreign_flag(self, spark):
        from correctocr_spark.ops.textstats import segment_languages

        docs = self._docs(spark, [(1, f"{self.EN}\n{self.EN}\n{self.ES}")])
        out = sorted(segment_languages(docs).collect(), key=lambda r: r["idx"])
        assert [r["para_lang"] for r in out] == ["en", "en", "es"]
        assert all(r["majority_lang"] == "en" for r in out)
        assert [r["is_foreign"] for r in out] == [False, False, True]

    def test_tie_breaks_by_lang_code(self, spark):
        from correctocr_spark.ops.textstats import segment_languages

        docs = self._docs(spark, [(1, f"{self.ES}\n{self.DA}")])
        out = segment_languages(docs).collect()
        # 1 da + 1 es paragraph: tie -> 'da' < 'es' wins
        assert all(r["majority_lang"] == "da" for r in out)

    def test_und_never_counts(self, spark):
        from correctocr_spark.ops.textstats import segment_languages

        docs = self._docs(spark, [
            (1, "12345 67890\n\nxyzzy plugh"),          # all und
            (2, f"12345\n{self.ES}"),                    # und + es
        ])
        out = {(r["doc_id"], r["idx"]): r for r in segment_languages(docs).collect()}
        assert all(out[(1, i)]["majority_lang"] == "und" for i in range(3))
        assert not any(out[(1, i)]["is_foreign"] for i in range(3))
        # the single es paragraph IS doc 2's majority; its und
        # sibling is unknown, not foreign
        assert out[(2, 1)]["majority_lang"] == "es"
        assert not out[(2, 0)]["is_foreign"]

    def test_word_counts_and_order(self, spark):
        from correctocr_spark.ops.textstats import segment_languages

        docs = self._docs(spark, [(7, "a b c\n\nd e")])
        out = sorted(segment_languages(docs).collect(), key=lambda r: r["idx"])
        assert [r["n_words"] for r in out] == [3, 0, 2]
        assert [r["idx"] for r in out] == [0, 1, 2]


class TestPaymentCards:
    """detect_payment_cards: Luhn-gated, masked detection table."""

    def _docs(self, spark, rows):
        return spark.createDataFrame(rows, ["doc_id", "text"])

    def test_luhn_accepts_and_rejects(self, spark):
        from correctocr_spark.ops.cleaning import detect_payment_cards

        docs = self._docs(spark, [
            (1, "pay 4111111111111111 now"),     # valid Visa test
            (2, "pay 4111111111111112 now"),     # checksum fails
            (3, "pan 4222222222222 ok"),         # valid 13-digit
            (4, "amex 371449635398431 ok"),      # valid 15-digit
        ])
        out = {r["doc_id"]: r for r in detect_payment_cards(docs).collect()}
        assert out[1]["valid"] and not out[2]["valid"]
        assert out[3]["valid"] and out[3]["n_digits"] == 13
        assert out[4]["valid"] and out[4]["n_digits"] == 15

    def test_separators_and_masking(self, spark):
        from correctocr_spark.ops.cleaning import detect_payment_cards

        docs = self._docs(spark, [(1, "c 4111 1111 1111 1111 / 4111-1111-1111-1111")])
        out = detect_payment_cards(docs).collect()
        assert len(out) == 2
        for r in out:
            assert r["valid"] and r["n_digits"] == 16 and r["last4"] == "1111"
        # masked: the full number never appears in the output schema
        assert set(out[0].asDict()) == {"doc_id", "n_digits", "last4", "valid"}

    def test_length_bounds(self, spark):
        from correctocr_spark.ops.cleaning import detect_payment_cards

        docs = self._docs(spark, [
            (1, "short 123456789012 x"),          # 12 digits: below grammar
            (2, "long 41111111111111111111 x"),   # 20 digits: no boundary fit
            (3, "phone +1 555 123 4567 x"),       # 11 digits: ignored
        ])
        assert detect_payment_cards(docs).count() == 0

    def test_python_luhn_identity(self, spark):
        from correctocr_spark.ops.cleaning import detect_payment_cards

        def luhn_ok(digits):
            s = 0
            for i, ch in enumerate(reversed(digits), start=1):
                v = int(ch)
                s += v if i % 2 == 1 else (2 * v - 9 if 2 * v > 9 else 2 * v)
            return s % 10 == 0

        nums = [str(4000000000000000 + k) for k in range(25)]
        docs = self._docs(spark, [(i, f"n {n} .") for i, n in enumerate(nums)])
        out = {r["doc_id"]: r["valid"] for r in detect_payment_cards(docs).collect()}
        assert out == {i: luhn_ok(n) for i, n in enumerate(nums)}


class TestReadability:
    """readability_scores: Flesch/FKG in integer milli arithmetic."""

    def _docs(self, spark, rows):
        return spark.createDataFrame(rows, ["doc_id", "text"])

    def test_known_example(self, spark):
        from correctocr_spark.ops.textstats import readability_scores

        # "The cat sat on the mat." : 6 words, 1 sentence, 6 syllables
        r = readability_scores(
            self._docs(spark, [(1, "The cat sat on the mat.")])
        ).collect()[0]
        assert (r["n_words"], r["n_sentences"], r["n_syllables"]) == (6, 1, 6)
        assert r["fre_milli"] == 206835 - 1015 * 6 - 84600  # = 116145
        assert r["fkg_milli"] == 390 * 6 + 11800 - 15590    # = -1450

    def test_sentence_and_syllable_counting(self, spark):
        from correctocr_spark.ops.textstats import readability_scores

        r = readability_scores(
            self._docs(spark, [(1, "Readable?! Yes... maybe birthday")])
        ).collect()[0]
        # [.!?]+ runs: '?!' and '...' -> 2 sentences
        assert r["n_sentences"] == 2
        # rea-da-ble? vowel groups: ea,a,e =3; yes=1; maybe: ay,e=2;
        # birthday: i,ay=2 -> 8
        assert r["n_syllables"] == 8

    def test_no_punctuation_is_one_sentence(self, spark):
        from correctocr_spark.ops.textstats import readability_scores

        r = readability_scores(self._docs(spark, [(1, "plain words here")])).collect()[0]
        assert r["n_sentences"] == 1

    def test_wordless_doc_null_scores(self, spark):
        from correctocr_spark.ops.textstats import readability_scores

        r = readability_scores(self._docs(spark, [(1, "  ")])).collect()[0]
        assert r["n_words"] == 0
        assert r["fre_milli"] is None and r["fkg_milli"] is None

    def test_vowelless_word_counts_one_syllable(self, spark):
        from correctocr_spark.ops.textstats import readability_scores

        r = readability_scores(self._docs(spark, [(1, "hmm pfft xyz")])).collect()[0]
        # y in xyz is a vowel group; hmm/pfft floor at 1 each
        assert r["n_syllables"] == 3


class TestParamRelevance:
    """mine_param_relevance: learned canonicalization evidence."""

    def _pages(self, spark, rows):
        return spark.createDataFrame(rows, ["url", "text"])

    def test_irrelevant_vs_relevant_param(self, spark):
        from correctocr_spark.ops.webindex import mine_param_relevance

        rows = []
        for i in range(3):
            for s in ("x", "y"):  # session varies, content does not
                rows.append((f"http://a.com/p?id={i}&sess={s}", f"content {i}"))
        out = {(r["host"], r["param"]): r
               for r in mine_param_relevance(self._pages(spark, rows)).collect()}
        sess = out[("a.com", "sess")]
        assert sess["n_groups"] == 3 and sess["irrelevance_bp"] == 10000
        ident = out[("a.com", "id")]
        assert ident["n_groups"] == 2  # one per sess value
        assert ident["irrelevance_bp"] == 0

    def test_single_value_param_is_no_experiment(self, spark):
        from correctocr_spark.ops.webindex import mine_param_relevance

        rows = [("http://a.com/p?v=1&q=a", "t1"),
                ("http://a.com/p?v=1&q=b", "t1")]
        out = {r["param"] for r in
               mine_param_relevance(self._pages(spark, rows)).collect()}
        # v never varies within a residual group; q does
        assert out == {"q"}

    def test_bare_param_and_no_query(self, spark):
        from correctocr_spark.ops.webindex import mine_param_relevance

        rows = [("http://a.com/p?flag&x=1", "t"),
                ("http://a.com/p?flag&x=2", "t"),
                ("http://a.com/plain", "t")]
        out = {r["param"]: r for r in
               mine_param_relevance(self._pages(spark, rows)).collect()}
        # the bare 'flag' has one value ('') -> no experiment; x varies
        # with constant content -> irrelevant; the query-less url adds
        # no params at all
        assert set(out) == {"x"} and out["x"]["irrelevance_bp"] == 10000

    def test_mixed_evidence_rate(self, spark):
        from correctocr_spark.ops.webindex import mine_param_relevance

        rows = [
            # experiment 1: t varies, content constant
            ("http://a.com/p?k=1&t=a", "same"),
            ("http://a.com/p?k=1&t=b", "same"),
            # experiment 2: t varies, content CHANGES
            ("http://a.com/p?k=2&t=a", "one"),
            ("http://a.com/p?k=2&t=b", "two"),
        ]
        out = {r["param"]: r for r in
               mine_param_relevance(self._pages(spark, rows)).collect()}
        t = out["t"]
        assert t["n_groups"] == 2 and t["n_constant_groups"] == 1
        assert t["irrelevance_bp"] == 5000

    def test_hosts_are_independent(self, spark):
        from correctocr_spark.ops.webindex import mine_param_relevance

        rows = [("http://a.com/p?s=1", "x"), ("http://a.com/p?s=2", "x"),
                ("http://b.com/p?s=1", "p"), ("http://b.com/p?s=2", "q")]
        out = {(r["host"], r["param"]): r["irrelevance_bp"]
               for r in mine_param_relevance(self._pages(spark, rows)).collect()}
        assert out[("a.com", "s")] == 10000 and out[("b.com", "s")] == 0


class TestPageChangeRatio:
    """page_change_ratio: line-set Jaccard churn between snapshots."""

    def _pages(self, spark, rows):
        return spark.createDataFrame(rows, ["url", "text"])

    def test_statuses_and_ratios(self, spark):
        from correctocr_spark.ops.temporal import page_change_ratio

        old = self._pages(spark, [
            ("u1", "a\nb\nc"),       # unchanged
            ("u2", "a\nb\nc\nd"),    # loses d, gains e -> 3/5 common
            ("u3", "gone"),          # removed
        ])
        new = self._pages(spark, [
            ("u1", "a\nb\nc"),
            ("u2", "a\nb\nc\ne"),
            ("u4", "fresh"),         # added
        ])
        out = {r["url"]: r for r in page_change_ratio(old, new).collect()}
        assert out["u1"]["status"] == "unchanged" and out["u1"]["change_bp"] == 0
        u2 = out["u2"]
        assert u2["status"] == "changed"
        assert (u2["n_lines_old"], u2["n_lines_new"], u2["n_common"]) == (4, 4, 3)
        assert u2["change_bp"] == 10000 - 30000 // 5
        assert out["u3"]["status"] == "removed" and out["u3"]["change_bp"] == 10000
        assert out["u4"]["status"] == "added" and out["u4"]["change_bp"] == 10000

    def test_line_set_semantics(self, spark):
        from correctocr_spark.ops.temporal import page_change_ratio

        # duplicate lines count once; case/whitespace-normalized;
        # blank lines ignored
        old = self._pages(spark, [("u", "X\nx\n\n  x  ")])
        new = self._pages(spark, [("u", "x")])
        r = page_change_ratio(old, new).collect()[0]
        assert (r["n_lines_old"], r["n_lines_new"], r["n_common"]) == (1, 1, 1)
        assert r["status"] == "unchanged"

    def test_both_empty_is_unchanged(self, spark):
        from correctocr_spark.ops.temporal import page_change_ratio

        old = self._pages(spark, [("u", "  ")])
        new = self._pages(spark, [("u", "")])
        r = page_change_ratio(old, new).collect()[0]
        assert r["status"] == "unchanged" and r["change_bp"] == 0

    def test_added_empty_page(self, spark):
        from correctocr_spark.ops.temporal import page_change_ratio

        old = self._pages(spark, [("w", "seed")])
        new = self._pages(spark, [("u", "")])
        out = {r["url"]: r for r in page_change_ratio(old, new).collect()}
        assert out["u"]["status"] == "added" and out["u"]["change_bp"] == 10000


class TestVocabKl:
    """vocab_kl_divergence: per-group unigram KL vs corpus, micro-nats."""

    def _docs(self, spark, rows):
        return spark.createDataFrame(rows, ["lang", "text"])

    def test_matches_python_simulation(self, spark):
        import math
        from collections import Counter

        from correctocr_spark.ops.textstats import vocab_kl_divergence

        rows = [("a", "x x y z"), ("a", "x q"), ("b", "y y z w w w")]
        out = {r["group"]: r for r in vocab_kl_divergence(self._docs(spark, rows)).collect()}

        gw, marg = {}, Counter()
        for g, t in rows:
            c = Counter(t.split())
            gw.setdefault(g, Counter()).update(c)
            marg.update(c)
        n = sum(marg.values())
        for g, c in gw.items():
            n_g = sum(c.values())
            kl = sum(
                int(round((v / n_g) * math.log((v * n) / (n_g * marg[w])) * 1e6))
                for w, v in c.items()
            )
            assert out[g]["kl_micro"] == kl
            assert out[g]["n_tokens"] == n_g and out[g]["n_terms"] == len(c)

    def test_identical_groups_zero_kl(self, spark):
        from correctocr_spark.ops.textstats import vocab_kl_divergence

        rows = [("a", "x y z"), ("b", "x y z")]
        out = vocab_kl_divergence(self._docs(spark, rows)).collect()
        assert all(r["kl_micro"] == 0 for r in out)

    def test_disjoint_group_positive_kl(self, spark):
        from correctocr_spark.ops.textstats import vocab_kl_divergence

        rows = [("a", "x x x x"), ("b", "y y y y y y y y y y y y")]
        out = {r["group"]: r["kl_micro"] for r in
               vocab_kl_divergence(self._docs(spark, rows)).collect()}
        # each group's vocab has no corpus mass from the other, so
        # KL = ln(N / N_g) exactly
        import math
        assert out["a"] == int(round(math.log(16 / 4) * 1e6))
        assert out["b"] == int(round(math.log(16 / 12) * 1e6))


class TestExtractionBlockAudit:
    """block_records / extraction_block_audit: per-block lineage whose
    kept rows rebuild extract_text byte-identically."""

    HTML = (
        '<html><body><nav><a>skip</a></nav>'
        '<div class="m"><a href="/">Home</a> <a href="/a">About</a> '
        '<a href="/c">Contact</a></div>'
        '<p>The real article body, long enough to keep easily.</p>'
        '<p>tiny <a>x</a></p>'
        '<p>A second good paragraph with words.</p></body></html>'
    )

    def test_kernel_reconstruction_invariant(self):
        from correctocr_spark.kernels.extract import block_records, extract_text

        cases = [
            self.HTML,
            "",
            None,
            "<p>plain</p>",
            "<p>broken <b>markup",                    # unclosed tags
            b"<p>bytes round the encoding sniff</p>",
            "<div><a>all links here totally</a></div>",
        ]
        for html in cases:
            rs = block_records(html)
            rebuilt = "\n".join(r["text"] for r in rs if r["kept"])
            assert rebuilt == extract_text(html), repr(html)

    def test_decisions_and_reasons(self):
        from correctocr_spark.kernels.extract import block_records

        rs = block_records(self.HTML)
        by_reason = {}
        for r in rs:
            by_reason.setdefault(r["reason"], []).append(r)
        menu = by_reason["link_density"][0]
        # the inter-anchor spaces are non-link chars: 16/18 -> 8888 bp
        assert menu["link_density_bp"] == 8888 and not menu["kept"]
        short = by_reason["short_linky"][0]
        assert short["text"] == "tiny x" and short["n_chars"] == 6
        kept = [r["text"] for r in by_reason["kept"]]
        assert kept == [
            "The real article body, long enough to keep easily.",
            "A second good paragraph with words.",
        ]
        assert [r["block_idx"] for r in rs] == list(range(len(rs)))

    def test_spark_audit_matches_kernel(self, spark):
        from correctocr_spark.kernels.extract import block_records
        from correctocr_spark.spark.warc import extraction_block_audit

        pages = spark.createDataFrame(
            [("u1", bytearray(self.HTML.encode())),
             ("u2", bytearray(b"<p>only one good block here</p>"))],
            "url string, html binary",
        )
        got = sorted(
            ((r["url"], r["block_idx"], r["n_chars"], r["link_density_bp"],
              r["kept"], r["reason"], r["block_text"])
             for r in extraction_block_audit(pages).collect())
        )
        want = sorted(
            (u, r["block_idx"], r["n_chars"], r["link_density_bp"],
             r["kept"], r["reason"], r["text"])
            for u, h in (("u1", self.HTML), ("u2", "<p>only one good block here</p>"))
            for r in block_records(h)
        )
        assert got == want


class TestSignatureTerms:
    """domain_signature_terms: Fightin' Words log-odds z top-k."""

    def _docs(self, spark, rows):
        return spark.createDataFrame(rows, ["lang", "text"])

    def test_injected_tokens_dominate(self, spark):
        from correctocr_spark.ops.textstats import domain_signature_terms

        rows = [("a", "common words shared by all groups here")] * 3 + [
            ("b", "common words shared by all groups here spamtok spamtok spamtok")
        ]
        out = [r for r in domain_signature_terms(self._docs(spark, rows), k=2).collect()
               if r["group"] == "b"]
        assert out[0]["word"] == "spamtok" if out[0]["rank"] == 1 else True
        top = {r["rank"]: r["word"] for r in out}
        assert top[1] == "spamtok"

    def test_matches_python_simulation(self, spark):
        import math
        from collections import Counter

        from correctocr_spark.ops.textstats import domain_signature_terms

        rows = [("a", "x x y z"), ("b", "y y z w w")]
        out = {(r["group"], r["word"]): r["z_micro"] for r in
               domain_signature_terms(self._docs(spark, rows), k=10).collect()}

        gw, marg = {}, Counter()
        for g, t in rows:
            c = Counter(t.split())
            gw.setdefault(g, Counter()).update(c)
            marg.update(c)
        n, v, al = sum(marg.values()), len(marg), 0.01
        for g, c in gw.items():
            n_g = sum(c.values())
            for w, cg in c.items():
                rest = marg[w] - cg
                d = math.log((cg + al) / (n_g + al * v - cg - al)) - math.log(
                    (rest + al) / (n - n_g + al * v - rest - al)
                )
                z = d / math.sqrt(1.0 / (cg + al) + 1.0 / (rest + al))
                assert out[(g, w)] == int(round(z * 1e6)), (g, w)

    def test_k_bounds_and_validation(self, spark):
        from correctocr_spark.ops.textstats import domain_signature_terms

        docs = self._docs(spark, [("a", "x y z"), ("b", "p q")])
        out = domain_signature_terms(docs, k=2).collect()
        assert all(r["rank"] <= 2 for r in out)
        assert len([r for r in out if r["group"] == "a"]) == 2
        with pytest.raises(ValueError, match="k must"):
            domain_signature_terms(docs, k=0)
        with pytest.raises(ValueError, match="alpha"):
            domain_signature_terms(docs, alpha_milli=0)


class TestLangAgreement:
    """declared-vs-detected language audit."""

    def test_statuses(self, spark):
        from correctocr_spark.ops.textstats import lang_agreement

        en = "the of and to in is was he for it with as his on be"
        rows = [
            (1, '<html lang="EN-us"><body>x</body></html>', en),
            (2, "<html LANG='de'><body>x</body></html>", en),
            (3, "<html><body>no attr</body></html>", en),
            (4, '<html lang="fr">', "zz qq ww ee rr"),
            (5, None, en),
            (6, '<div lang="en"><html>', en),  # wrong tag -> undeclared
            (7, "<html lang=en >", en),        # unquoted value
        ]
        df = spark.createDataFrame(rows, ["doc_id", "html", "text"])
        got = {r["doc_id"]: r for r in lang_agreement(df).collect()}
        assert (got[1]["lang_declared"], got[1]["status"]) == ("en", "agree")
        assert (got[2]["lang_declared"], got[2]["status"]) == ("de", "disagree")
        assert (got[3]["lang_declared"], got[3]["status"]) == ("", "undeclared")
        assert (got[4]["lang_pred"], got[4]["status"]) == ("und", "undetected")
        assert got[5]["status"] == "undeclared"
        assert got[6]["status"] == "undeclared"
        assert (got[7]["lang_declared"], got[7]["status"]) == ("en", "agree")

    def test_single_projection_no_shuffle(self, spark):
        from correctocr_spark.ops.textstats import lang_agreement

        df = spark.createDataFrame([(1, "<html lang=en>", "the of")],
                                   ["doc_id", "html", "text"])
        plan = lang_agreement(df)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan


class TestContaminationFraction:
    """graded benchmark contamination in basis points."""

    def test_hand_counts(self, spark):
        from correctocr_spark.ops.cleaning import contamination_fraction

        docs = spark.createDataFrame(
            [
                (1, "a b c d e f"),      # 4 distinct shingles, 2 hit
                (2, "x y"),              # one sub-k tail shingle, 0 hit
                (3, "a b c x a b c"),    # 4 distinct (dup window folds), 1 hit
                (4, ""),                 # 0 shingles
            ],
            ["doc_id", "text"],
        )
        out = {r["doc_id"]: r for r in
               contamination_fraction(docs, ["a b c d q", "zz"], k=3).collect()}
        assert (out[1]["n_shingles"], out[1]["n_hits"], out[1]["contamination_bp"]) == (4, 2, 5000)
        assert (out[2]["n_shingles"], out[2]["n_hits"], out[2]["contamination_bp"]) == (1, 0, 0)
        assert (out[3]["n_shingles"], out[3]["n_hits"], out[3]["contamination_bp"]) == (4, 1, 2500)
        assert (out[4]["n_shingles"], out[4]["contamination_bp"]) == (0, 0)

    def test_empty_bench_and_validation(self, spark):
        from correctocr_spark.ops.cleaning import contamination_fraction

        docs = spark.createDataFrame([(1, "a b c d")], ["doc_id", "text"])
        assert contamination_fraction(docs, [], k=3).collect()[0]["n_hits"] == 0
        with pytest.raises(ValueError, match="k must"):
            contamination_fraction(docs, ["a b c"], k=0)

    def test_agrees_with_decontaminate_universe(self, spark):
        """A doc decontaminate flags (>=1 overlap) has bp > 0 here and
        the hit counts match decontaminate's n_overlap."""
        from correctocr_spark.ops.cleaning import contamination_fraction, decontaminate

        bench = ["big order scan", "row column sort"]
        docs = spark.createDataFrame(
            [(1, "big order scan now row column sort"), (2, "nothing shared here")],
            ["doc_id", "text"],
        )
        frac = {r["doc_id"]: r for r in
                contamination_fraction(docs, bench, k=3).collect()}
        dec = {r["doc_id"]: r for r in
               decontaminate(docs, bench, k=3, min_overlap=1).collect()}
        assert dec.keys() == {1}
        assert frac[1]["n_hits"] == dec[1]["n_overlap"] == 2
        assert frac[2]["n_hits"] == 0

    def test_scan_speed_no_shuffle(self, spark):
        from correctocr_spark.ops.cleaning import contamination_fraction

        docs = spark.createDataFrame([(1, "a b c d")], ["doc_id", "text"])
        plan = contamination_fraction(docs, ["a b c"], k=3)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan and "Generate" not in plan


class TestHostLangEntropy:
    """per-host language-mix entropy in micro-nats."""

    EN = "the of and to in is was he for it"
    DE = "der die und das ein ist nicht mit sich auf"

    def test_mono_vs_mixed(self, spark):
        import math

        from correctocr_spark.ops.textstats import host_lang_entropy

        rows = [(f"http://mono.com/{i}", self.EN) for i in range(4)] + [
            ("http://mixed.com/1", self.EN),
            ("http://mixed.com/2", self.DE),
            ("http://mixed.com/3", self.EN),
            ("http://mixed.com/4", self.DE),
        ]
        df = spark.createDataFrame(rows, ["url", "text"])
        out = {r["host"]: r for r in host_lang_entropy(df).collect()}
        mono = out["mono.com"]
        assert (mono["n_langs"], mono["top_lang"], mono["top_share_bp"]) == (1, "en", 10000)
        assert mono["entropy_micro"] == 0
        mixed = out["mixed.com"]
        assert mixed["n_pages"] == 4 and mixed["n_langs"] == 2
        assert mixed["top_share_bp"] == 5000
        # two quantized ln(2)/2 terms
        assert mixed["entropy_micro"] == 2 * int(round(0.5 * math.log(2) * 1e6))

    def test_tie_breaks_to_smallest_lang(self, spark):
        from correctocr_spark.ops.textstats import host_lang_entropy

        rows = [("http://t.com/1", self.EN), ("http://t.com/2", self.DE)]
        df = spark.createDataFrame(rows, ["url", "text"])
        out = host_lang_entropy(df).collect()[0]
        langs = sorted([out["top_lang"]])
        assert out["top_share_bp"] == 5000
        # the winner must be the lexicographically smallest of the tied
        # pair regardless of shuffle order: re-run with reversed input
        rev = spark.createDataFrame(list(reversed(rows)), ["url", "text"])
        assert host_lang_entropy(rev).collect()[0]["top_lang"] == out["top_lang"]


class TestVocabHealth:
    def test_hand_counts(self, spark):
        from correctocr_spark.ops.textstats import vocab_health

        docs = spark.createDataFrame(
            [("a", "x x x y z"), ("b", "p q r s p")], ["lang", "text"]
        )
        out = {r["group"]: r for r in vocab_health(docs).collect()}
        a = out["a"]
        assert (a["n_tokens"], a["n_types"], a["hapax_types"]) == (5, 3, 2)
        assert (a["ttr_bp"], a["hapax_share_bp"]) == (6000, 6666)
        b = out["b"]
        assert (b["n_tokens"], b["n_types"], b["hapax_types"]) == (5, 4, 3)
        assert (b["ttr_bp"], b["hapax_share_bp"]) == (8000, 7500)

    def test_empty_group_text(self, spark):
        from correctocr_spark.ops.textstats import vocab_health

        docs = spark.createDataFrame([("a", ""), ("b", "w")], ["lang", "text"])
        out = {r["group"]: r for r in vocab_health(docs).collect()}
        # wordless docs contribute no rows (explode of empty array)
        assert "a" not in out
        assert out["b"]["ttr_bp"] == 10000
