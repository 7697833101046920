"""Round-3 verdict fixes, each pinned:

- Jaccard verification gated at PAIR granularity (no shingle self-join
  anywhere in the LSH-verified plan; values match the aggregated twin)
- connected components: pointer jumping (O(log diameter) rounds — a
  100-node chain converges inside the default budget) and a RAISE on
  non-convergence instead of silently wrong labels
- embedding_dup_pairs_bucketed no longer runs a driver-side `.first()`
  dim probe (planes are required)
- streaming LSH star-pairing: connected components over the star pair
  stream equal components over the full same-bucket clique
"""

import inspect

import pytest

from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# Jaccard verify at pair granularity
# ---------------------------------------------------------------------------


def _near_dup_docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (1, base),
        (2, base.replace("lazy", "sleepy")),              # near-dup of 1
        (3, "completely different words in this one here yes truly"),
        (4, "completely different words in this one here yes truly indeed"),  # near-dup of 3
        (5, "an unrelated document about spark physical plans and shuffles"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_jaccard_verify_matches_aggregated(spark):
    """The gated pair-granular verify must be VALUE-identical to the
    aggregated oracle twin over the same candidate set."""
    from correctocr_spark.ops.dedup import (
        jaccard_pairs,
        jaccard_verify_candidates,
        lsh_candidate_pairs,
        minhash_signatures,
        shingles_df,
    )

    docs = _near_dup_docs(spark)
    sh = shingles_df(docs, k=3).persist()
    sig = minhash_signatures(sh, num_hashes=12)
    cands = lsh_candidate_pairs(sig, num_hashes=12, bands=4).persist()
    assert cands.count() > 0  # the fixture must actually produce candidates

    gated = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in jaccard_verify_candidates(docs, cands, k=3, threshold=0.3).collect()
    }
    aggregated = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in jaccard_pairs(sh, candidates=cands, threshold=0.3).collect()
    }
    assert gated == aggregated and len(gated) > 0
    spark.catalog.clearCache()


def test_jaccard_lsh_no_shingle_selfjoin(spark, sf_dir):
    """The scale query's plan must contain NO join keyed on a shingle —
    the O(freq²) co-shingle pair space may never materialize. Joins on
    band_key (candidate generation) and doc ids (verify) are the only
    legal ones."""
    import __spark_entry__ as entry

    df = entry.queries()["ngram_jaccard_lsh"](spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    join_lines = [ln for ln in plan.splitlines() if "Join" in ln]
    assert join_lines, plan  # sanity: the plan does join
    offenders = [ln for ln in join_lines if "shingle" in ln]
    assert not offenders, "\n".join(offenders)
    spark.catalog.clearCache()


# ---------------------------------------------------------------------------
# connected components: pointer jumping + non-convergence raise
# ---------------------------------------------------------------------------


def test_connected_components_long_chain(spark):
    """A 100-node chain (diameter 99 — far beyond the 20-round budget of
    plain propagation) must converge via pointer jumping."""
    from correctocr_spark.ops.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(99)], "doc_a long, doc_b long"
    )
    got = {r["doc_id"]: r["component"] for r in connected_components(pairs).collect()}
    assert got == {i: 0 for i in range(100)}


def test_connected_components_nonconvergence_raises(spark):
    """Exhausting max_iterations with labels still moving must RAISE —
    silently returning partial labels would corrupt every downstream
    canonical-document selection."""
    from correctocr_spark.ops.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(29)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_iterations=2)


# ---------------------------------------------------------------------------
# embedding dedup: no driver-side dim probe
# ---------------------------------------------------------------------------


def test_embedding_dup_bucketed_requires_planes(spark):
    from correctocr_spark.ops.dedup import embedding_dup_pairs_bucketed

    df = spark.createDataFrame([(1, [1.0, 0.0])], ["vec_id", "embedding"])
    with pytest.raises(ValueError, match="planes is required"):
        embedding_dup_pairs_bucketed(df)
    # and no `.first(` action anywhere in the function body (comments
    # documenting the removed probe don't count)
    src = inspect.getsource(embedding_dup_pairs_bucketed)
    code_lines = [ln.split("#")[0] for ln in src.splitlines()]
    assert not any(".first(" in ln for ln in code_lines)


def test_connected_components_reliable_checkpoint(spark, tmp_path):
    """The cluster-grade checkpoint path (survives executor loss on long
    multi-round jobs) produces identical labels."""
    from correctocr_spark.ops.dedup import connected_components

    spark.sparkContext.setCheckpointDir(str(tmp_path / "ck"))
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long"
    )
    got = {
        r["doc_id"]: r["component"]
        for r in connected_components(pairs, reliable_checkpoint=True).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


# ---------------------------------------------------------------------------
# parallelism + pruning plan pins for the round-3 perf work
# ---------------------------------------------------------------------------


def test_ensure_parallelism_repartitions_small_scans_only(spark):
    """The compute-dense dedup projections must not serialize onto the
    scan's partition count (ONE split for a small local file) — and must
    stay a NO-OP when the input already has enough splits (the cluster
    case), so the text shuffle is never paid where it would hurt."""
    from correctocr_spark.ops.dedup import ensure_parallelism

    one_part = spark.createDataFrame([(i, "x") for i in range(10)],
                                     "doc_id long, text string").coalesce(1)
    target = spark.sparkContext.defaultParallelism
    assert ensure_parallelism(one_part).rdd.getNumPartitions() == target

    wide = spark.createDataFrame([(i, "x") for i in range(10)],
                                 "doc_id long, text string").repartition(target + 2)
    out = ensure_parallelism(wide)
    assert out is wide  # untouched: no extra shuffle at cluster scale


def test_new_query_scan_pruning(spark, sf_dir):
    """Column pruning reaches the parquet scan for the curation queries:
    a 2-column projection must not read the text column."""
    import __spark_entry__ as entry

    df = entry.queries()["sample_stratified"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    scan = [ln for ln in plan.splitlines() if "FileScan" in ln]
    assert scan and "text" not in scan[0], scan
    assert "doc_id" in scan[0] and "lang" in scan[0], scan


# ---------------------------------------------------------------------------
# incremental MinHash-LSH index
# ---------------------------------------------------------------------------


def test_minhash_index_incremental(spark, tmp_path):
    """Index snapshot A, then query snapshot B: the incremental
    candidate set must equal a FULL recompute over A ∪ B restricted to
    pairs that involve a B document — without re-banding A."""
    from correctocr_spark.ops.dedup import (
        MinHashIndex,
        lsh_candidate_pairs,
        minhash_signatures,
        shingles_df,
    )

    base1 = "the quick brown fox jumps over the lazy dog again and again today"
    base2 = "completely different text about spark shuffles and physical plans"
    snap_a = spark.createDataFrame(
        [(1, base1), (2, base2), (3, "unrelated words only here nothing shared at all")],
        "doc_id long, text string",
    )
    snap_b = spark.createDataFrame(
        [
            (10, base1.replace("lazy", "sleepy")),   # near-dup of A doc 1
            (11, base2),                              # exact dup of A doc 2
            (12, base1.replace("lazy", "sleepy")),   # near-dup within B of 10
            (13, "fresh snapshot content with no relatives anywhere"),
        ],
        "doc_id long, text string",
    )

    idx = MinHashIndex(spark, str(tmp_path / "index"), k=3, num_hashes=8, bands=4)
    idx.add(snap_a)
    got = {
        (r["doc_a"], r["doc_b"]) for r in idx.candidate_pairs(snap_b).collect()
    }

    full = lsh_candidate_pairs(
        minhash_signatures(shingles_df(snap_a.unionByName(snap_b), k=3), 8), 8, 4
    )
    b_ids = {10, 11, 12, 13}
    expected = {
        (r["doc_a"], r["doc_b"])
        for r in full.collect()
        if r["doc_a"] in b_ids or r["doc_b"] in b_ids
    }
    assert got == expected and len(got) >= 3  # (1,10),(2,11),(10,12) at least
    spark.catalog.clearCache()
