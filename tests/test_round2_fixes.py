"""Round-2 verdict/advice fixes, each pinned:

- distributed ANN top-k (TakeOrderedAndProject, no global window)
- bucketed embedding dedup (no CartesianProduct; planted near-dups found)
- 64-bit SimHash (sane selectivity; signed fingerprints round-trip)
- weighted-count HMM training == stream training
- resume anti-join not force-broadcast (AQE decides)
- correction-feedback roundtrip (tracked in run 1 -> auto-applied in run 2)
- is_numeric (P6, tokens/_super.py:140-144)
"""

import io
import re
from contextlib import redirect_stdout

import pytest

from pyspark.sql import functions as F


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


# ---------------------------------------------------------------------------
# ANN top-k
# ---------------------------------------------------------------------------


def _embeddings(spark, n=40, dim=8, seed=5):
    import numpy as np

    rng = np.random.RandomState(seed)
    rows = [(i, [float(round(x, 6)) for x in rng.randn(dim)]) for i in range(n)]
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_ann_plan_take_ordered(spark):
    """orderBy().limit(k) must compile to TakeOrderedAndProject — each
    partition keeps its local k; no partitionless row_number window
    (which moves ALL data to one partition)."""
    from correctocr_spark.ops.similarity import brute_force_topk

    df = _embeddings(spark)
    out = brute_force_topk(df, [1.0] * 8, k=5)
    p = plan_of(out)
    assert "TakeOrderedAndProject" in p, p
    assert "Window" not in p, p


def test_ann_topk_values(spark):
    """Rank/choice identical to an explicit driver-side sort."""
    import numpy as np

    from correctocr_spark.ops.similarity import brute_force_topk

    df = _embeddings(spark)
    q = [1.0] * 8
    rows = df.collect()
    exact = []
    for r in rows:
        v = np.array(r["embedding"])
        qv = np.array(q)
        cos = round(float(v @ qv / (np.linalg.norm(v) * np.linalg.norm(qv))), 6)
        exact.append((r["vec_id"], cos))
    exact.sort(key=lambda t: (-t[1], t[0]))
    got = [(r["vec_id"], r["cosine"]) for r in brute_force_topk(df, q, k=5).collect()]
    ranks = [r["rank"] for r in brute_force_topk(df, q, k=5).collect()]
    assert got == exact[:5]
    assert sorted(ranks) == [1, 2, 3, 4, 5]


def test_lsh_topk_plan(spark):
    from correctocr_spark.ops.similarity import lsh_topk, random_planes

    df = _embeddings(spark)
    planes = random_planes(8, 4, seed=7)
    p = plan_of(lsh_topk(df, [1.0] * 8, planes, k=5))
    assert "TakeOrderedAndProject" in p, p
    assert "Window" not in p, p


# ---------------------------------------------------------------------------
# bucketed embedding dedup
# ---------------------------------------------------------------------------


def test_embedding_dup_bucketed_plan(spark):
    from correctocr_spark.ops.dedup import embedding_dup_pairs_bucketed
    from correctocr_spark.ops.similarity import random_planes

    df = _embeddings(spark)
    out = embedding_dup_pairs_bucketed(df, planes=random_planes(8, 4, seed=7))
    p = plan_of(out)
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p


def test_embedding_dup_bucketed_finds_planted_dups(spark):
    """Planted near-identical vectors (cosine ≈ 1) must be caught by the
    bucketed path — tiny-angle pairs agree on every hyperplane with
    near-certainty, and multi-probe covers single-plane flips. Exact
    brute force is the truth; deterministic fixtures pin recall = 1 here."""
    import numpy as np

    from correctocr_spark.ops.dedup import (
        embedding_dup_pairs,
        embedding_dup_pairs_bucketed,
    )
    from correctocr_spark.ops.similarity import random_planes

    rng = np.random.RandomState(3)
    base = [rng.randn(8) for _ in range(20)]
    vecs = []
    for i, v in enumerate(base):
        vecs.append((i, [float(round(x, 6)) for x in v]))
    # plant 5 near-dups: tiny perturbations of the first 5 vectors
    for j in range(5):
        nd = base[j] + rng.randn(8) * 1e-3
        vecs.append((100 + j, [float(round(x, 6)) for x in nd]))
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    planes = random_planes(8, 4, seed=7)
    exact = {
        (r["id_a"], r["id_b"])
        for r in embedding_dup_pairs(df, threshold=0.99).collect()
    }
    got = {
        (r["id_a"], r["id_b"])
        for r in embedding_dup_pairs_bucketed(
            df, planes=planes, threshold=0.99
        ).collect()
    }
    assert len(exact) >= 5
    assert got == exact


# ---------------------------------------------------------------------------
# 64-bit SimHash
# ---------------------------------------------------------------------------


def test_simhash_64bit_signed_and_selective(spark, sf_dir):
    from correctocr_spark.ops.dedup import simhash64, simhash_near_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sh = simhash64(docs, bits=64)
    rows = sh.collect()
    n = len(rows)
    vals = [r["simhash"] for r in rows]
    # true 64-bit fingerprints: the sign bit is actually in play
    assert any(v < 0 for v in vals)
    assert len(set(vals)) > len(set(v & 0xFFFF for v in vals))
    pairs = simhash_near_pairs(sh, bits=64, max_hamming=3).collect()
    # pair selectivity ≪ 1% (16-bit banding emitted 31% of all pairs)
    assert len(pairs) < 0.01 * n * (n - 1) / 2
    for r in pairs:
        assert r["hamming"] <= 3


def test_simhash_legacy_32bit_path_unchanged(spark):
    """bits<=32 keeps the single-half derivation (oracle stability)."""
    from correctocr_spark.ops.dedup import simhash64

    docs = spark.createDataFrame(
        [("d1", "hello world hello"), ("d2", "completely different words here")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r["simhash"] for r in simhash64(docs, bits=16).collect()}
    assert all(0 <= v < 2**16 for v in out.values())


# ---------------------------------------------------------------------------
# weighted-count training
# ---------------------------------------------------------------------------


def test_build_hmm_params_weighted_counts_equal_stream():
    from collections import Counter

    from correctocr_spark.kernels.hmm import build_hmm_params

    gold_stream = ["the", "the", "the", "cat", "sat", "the", "cat"]
    kwargs = dict(
        dictionary=["the", "cat", "sat"],
        smoothing=1e-4,
        character_set="abcdefghijklmnopqrstuvwxyz",
        read_counts={"t": {"t": 50, "l": 2}, "h": {"h": 40}},
        remove_chars=[],
    )
    a = build_hmm_params(gold_words=gold_stream, **kwargs)
    b = build_hmm_params(gold_words=Counter(gold_stream), **kwargs)
    assert a.to_dicts() == b.to_dicts()


def test_train_hmm_no_driver_stream_expansion(spark):
    """train_hmm feeds weighted counts; parity with a local stream build."""
    from correctocr_spark.kernels.hmm import build_hmm_params
    from correctocr_spark.kernels.pipeline import tokenize_doc
    from correctocr_spark.kernels.aligner import apply_as_gold, char_pairs
    from correctocr_spark.spark.training import train_hmm

    docs = [("t3st doc", "test doc"), ("the cat", "the cat")]
    df = spark.createDataFrame(docs, ["text", "gold_text"])
    trained = train_hmm(df, ["test", "doc", "the", "cat"], "abcdefghijklmnopqrstuvwxyz3")

    # local truth: same counts built in-process
    read_counts: dict = {}
    gold_words = []
    for text, gold in docs:
        left, right = tokenize_doc(text), tokenize_doc(gold)
        apply_as_gold(left, right)
        for a, b in char_pairs(left):
            read_counts.setdefault(b, {})[a] = read_counts.get(b, {}).get(a, 0) + 1
        gold_words.extend(gold.split())
    local = build_hmm_params(
        ["test", "doc", "the", "cat"], 1e-4, "abcdefghijklmnopqrstuvwxyz3",
        read_counts, [], gold_words,
    )
    assert trained.to_dicts() == local.to_dicts()


# ---------------------------------------------------------------------------
# resume anti-join
# ---------------------------------------------------------------------------


def test_resume_anti_join_not_forced(spark, tmp_path):
    """No ResolvedHint/forced broadcast on the completed-url set — AQE
    (or the planner's size stats) decides; a billions-row completed set
    must not be driver-broadcast."""
    from correctocr_spark.spark.audit import AuditedRun

    out = str(tmp_path / "run")
    run = AuditedRun(spark, out)
    pages = spark.createDataFrame([("u1", "t"), ("u2", "t")], ["url", "text"])
    corrected = spark.createDataFrame(
        [("u1", "t", 1, 1, 0, 0, 0, 0, 0, True)],
        "url string, corrected string, index_count long, token_count long, "
        "corrected_count long, corrected_by_annotator_count long, "
        "corrected_by_model_count long, hyphenated_count long, "
        "discarded_count long, done boolean",
    )
    run.write(corrected)
    pending = run.pending(pages)
    assert [r["url"] for r in pending.collect()] == ["u2"]
    # the *logical* plan must carry no user broadcast hint
    assert "UnresolvedHint" not in pending._jdf.queryExecution().logical().toString()
    assert "ResolvedHint" not in pending._jdf.queryExecution().analyzed().toString()


# ---------------------------------------------------------------------------
# correction feedback roundtrip
# ---------------------------------------------------------------------------


def test_correction_feedback_roundtrip(spark, tmp_path):
    """Corrections tracked in run 1 auto-apply in run 2 (commands.py:444-451)."""
    from correctocr_spark.spark.sources import CorrectionFeedback

    fb = CorrectionFeedback(spark, str(tmp_path / "tracking"))

    cols = ["url", "idx", "original", "gold", "heuristic"]
    run1 = spark.createDataFrame(
        [
            ("d1", 0, "teh", "the", "annotator"),
            ("d1", 1, "teh", "the", "annotator"),
            ("d1", 2, "teh", "tho", "annotator"),  # minority gold
            ("d1", 3, "cat", "cat", "original"),
        ],
        cols,
    )
    fb.record(run1)
    memo = fb.memoized_corrections()
    assert memo == {"teh": "the"}  # most-frequent gold wins

    run2 = spark.createDataFrame(
        [
            ("d2", 0, "teh", None, "annotator"),   # deferred -> auto-applied
            ("d2", 1, "dog", None, "annotator"),   # unknown -> stays deferred
            ("d2", 2, "teh", "THE", "annotator"),  # explicit gold kept
        ],
        cols,
    )
    out = {r["idx"]: r["gold"] for r in fb.apply(run2).collect()}
    assert out == {0: "the", 1: None, 2: "THE"}

    # merge semantics: a second record() accumulates counts
    fb.record(run1)
    t = {
        (r["original"], r["gold"]): r["n"]
        for r in spark.read.parquet(str(tmp_path / "tracking")).collect()
    }
    assert t[("teh", "the")] == 4 and t[("teh", "tho")] == 2


# ---------------------------------------------------------------------------
# is_numeric (P6)
# ---------------------------------------------------------------------------


def test_is_numeric_reference_semantics():
    from correctocr_spark.kernels.textutils import is_numeric

    assert is_numeric("123")
    assert is_numeric("²")       # Unicode No — str.isnumeric semantics
    assert is_numeric("½")
    assert not is_numeric("12a")
    assert not is_numeric("")
    assert not is_numeric("-1")  # sign is not numeric, exactly as Python


# ---------------------------------------------------------------------------
# token-detail server view
# ---------------------------------------------------------------------------


def test_token_detail_view_reference_quirks(spark):
    """server.py:231-307: tail redirects to head; head shows joined
    original; joined Gold is null unless BOTH halves have truthy gold;
    empty-string gold stays untouched; soft hyphens render as '-'."""
    from correctocr_spark.spark.views import token_detail_view

    rows = [
        # (url, idx, original, gold, head, discarded)
        ("u", 0, "hy\xad", "HY\xad", True, False),   # head with shy + gold
        ("u", 1, "phen", "PHEN", False, False),      # tail (redirects to 0)
        ("u", 2, "plain", "", False, False),         # empty gold: untouched
        ("u", 3, "he-", "GOLD", True, False),        # head, next gold missing
        ("u", 4, "ad", None, False, False),          # tail without gold
        ("u", 5, "last", None, False, False),
    ]
    toks = spark.createDataFrame(
        rows, ["url", "idx", "original", "gold", "head", "discarded"]
    )
    out = {r["idx"]: r for r in token_detail_view(toks).collect()}

    assert out[0]["original"] == "hy-phen"      # shy fix THEN join with raw next
    assert out[0]["gold"] == "HY-PHEN"          # both halves truthy -> joined
    assert out[0]["redirect_to"] is None
    assert out[1]["redirect_to"] == 0           # tail -> head redirect
    assert out[2]["gold"] == ""                 # falsy gold untouched
    assert out[2]["redirect_to"] is None
    assert out[3]["gold"] is None               # next half has no gold -> null
    assert out[3]["original"] == "he-ad"
    assert out[4]["redirect_to"] == 3
    assert out[5]["original"] == "last" and out[5]["gold"] is None


# ---------------------------------------------------------------------------
# bucketed token-table storage (co-located joins, no shuffle)
# ---------------------------------------------------------------------------


def test_bucketed_token_join_no_shuffle(spark):
    """Two tables bucketed by url join with ZERO Exchange — the storage
    layout that makes every per-document pass at 100 TB shuffle-free
    (Iceberg bucket-transform twin)."""
    from correctocr_spark.spark.sources import (
        read_tokens_bucketed,
        write_tokens_bucketed,
    )

    toks = spark.createDataFrame(
        [(f"u{i%10}", i, f"w{i}") for i in range(100)], ["url", "idx", "original"]
    )
    memo = spark.createDataFrame(
        [(f"u{i}", f"note{i}") for i in range(10)], ["url", "note"]
    )
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        write_tokens_bucketed(toks, "t_tok_bucketed", buckets=4)
        write_tokens_bucketed(memo, "t_memo_bucketed", buckets=4, sort_cols=("url",))
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # expose SMJ
        j = read_tokens_bucketed(spark, "t_tok_bucketed").join(
            read_tokens_bucketed(spark, "t_memo_bucketed"), on="url"
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "Bucketed: true" in plan
        assert j.count() == 100
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.sql("DROP TABLE IF EXISTS t_tok_bucketed")
        spark.sql("DROP TABLE IF EXISTS t_memo_bucketed")


def test_memoized_corrections_join_form(spark):
    """J7 join form == literal-map form (scale path for huge memos)."""
    from correctocr_spark.spark.sources import (
        apply_memoized_corrections,
        apply_memoized_corrections_join,
    )

    cols = ["url", "idx", "original", "gold", "heuristic"]
    toks = spark.createDataFrame(
        [
            ("d", 0, "teh", None, "annotator"),
            ("d", 1, "teh", "KEEP", "annotator"),
            ("d", 2, "dog", None, "annotator"),
            ("d", 3, "teh", None, "original"),
        ],
        cols,
    )
    memo = {"teh": "the"}
    memo_df = spark.createDataFrame([("teh", "the")], ["original", "gold"])
    a = {(r["idx"]): r["gold"] for r in apply_memoized_corrections(toks, memo).collect()}
    b = {(r["idx"]): r["gold"] for r in apply_memoized_corrections_join(toks, memo_df).collect()}
    assert a == b == {0: "the", 1: "KEEP", 2: None, 3: None}


def test_annotator_precache_view_matches_reference_loop(spark):
    """P12 (document.py:249-264): the relational precache set equals the
    reference's sliding-triple loop, re-derived inline."""
    import itertools

    from correctocr_spark.spark.views import annotator_precache_view

    rows = [
        # url, idx, heuristic, head, discarded
        ("u", 0, "original", False, False),
        ("u", 1, "annotator", False, False),
        ("u", 2, "original", False, False),
        ("u", 3, "original", False, False),
        ("u", 4, "original", True, False),   # hyphen head -> next center qualifies
        ("u", 5, "original", False, False),
        ("u", 6, "original", False, False),
        ("u", 7, "annotator", False, True),  # discarded center never qualifies
        ("u", 8, "original", False, False),
        ("u", 9, "original", False, False),
    ]
    toks = spark.createDataFrame(rows, ["url", "idx", "heuristic", "head", "discarded"])

    # reference loop, verbatim semantics
    def window(it, size=3):
        its = itertools.tee(it, size)
        return zip(*(itertools.islice(x, i, None) for i, x in enumerate(its)))

    expected = set()
    for l, token, r in window(rows):
        if ("annotator" in (l[2], token[2], r[2]) or l[3]) and not token[4]:
            expected |= {l[1], token[1], r[1]}

    got = {
        r["idx"] for r in annotator_precache_view(toks).collect() if r["needs_image"]
    }
    assert got == expected and len(expected) > 0


def test_connected_components_crafted_graph(spark):
    """Chain, triangle and isolated pair all collapse to min-id
    components within the fixpoint loop."""
    from correctocr_spark.ops.dedup import connected_components

    pairs = spark.createDataFrame(
        # chain 1-2-3-4-5 (forces multiple propagation rounds),
        # triangle 10-11-12, isolated pair 20-21
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (11, 12), (10, 12), (20, 21)],
        "doc_a long, doc_b long",
    )
    got = {r["doc_id"]: r["component"] for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_connected_components_empty_pairs(spark):
    """A clean corpus (no candidate pairs) must yield an empty grouping,
    not an error — training_corpus composes over this."""
    from correctocr_spark.ops.dedup import connected_components

    pairs = spark.createDataFrame([], "doc_a long, doc_b long")
    assert connected_components(pairs).count() == 0
