"""Round-4 fixes (VERDICT r3 items 1/2/5/7/8 + ADVICE):

- ensure_parallelism ENFORCES its scan-rooted precondition (no .rdd /
  AQE-finalization on wide plans — the documented landmine)
- MinHashIndex: hot-bucket cap on BOTH incremental joins (union-counted,
  equal to a capped full recompute), strict index reads (only
  path-missing maps to empty; corrupt index raises)
- curation: single quality-projection scan for quality-elected
  canonicals; explicit base rate required with sample_rates
- incremental curation (--index-dir): two-snapshot run == one-shot
  curation of the union
- URL canonicalization strips tracking params from the QUERY only
- corpus_rollup approx=True (percentile_approx) within tolerance of the
  exact twin
"""

import os

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tests.test_cli import run_cli

STOPWORDS = ["the", "of", "and", "to", "in", "is", "was", "for", "that", "with"]




def _unique_doc(i: int) -> str:
    """Quality-passing text whose 3-shingles are unique to doc i."""
    return " ".join(f"u{i}x{j} {sw}" for j, sw in enumerate(STOPWORDS))


# ---------------------------------------------------------------------------
# ensure_parallelism: scan-rooted precondition enforced in code
# ---------------------------------------------------------------------------


def test_ensure_parallelism_noop_on_wide_plans(spark, monkeypatch):
    """On a join/aggregate/repartition output the helper must neither
    touch df.rdd (which finalizes the AQE plan and EXECUTES its shuffle
    stages) nor wrap the plan — it returns the input unchanged."""
    from correctocr_spark.ops import dedup

    a = spark.range(10).withColumnRenamed("id", "k")
    b = spark.range(10).withColumnRenamed("id", "k")
    wide = [
        a.join(b, on="k"),
        a.groupBy("k").count(),
        a.distinct(),
        a.orderBy("k"),
        a.repartition(2),
    ]

    def boom(self):  # pragma: no cover - failing path
        raise AssertionError(".rdd accessed on a wide plan (AQE landmine)")

    monkeypatch.setattr(DataFrame, "rdd", property(boom))
    for df in wide:
        assert dedup.ensure_parallelism(df) is df


def test_ensure_parallelism_still_fixes_scan_roots(spark):
    """The original purpose survives the guard: a 1-partition narrow
    plan is widened to the session's parallelism."""
    from correctocr_spark.ops import dedup

    df = spark.range(100, numPartitions=1).select(
        F.col("id"), (F.col("id") * 2).alias("y")
    ).where(F.col("id") > 1)
    out = dedup.ensure_parallelism(df)
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


# ---------------------------------------------------------------------------
# MinHashIndex: hot-bucket cap + strict reads
# ---------------------------------------------------------------------------


def test_minhash_index_hot_bucket_cap(spark, tmp_path):
    """A boilerplate band shared across snapshots exceeds the cap ->
    dropped from BOTH the new-vs-new self-join and the new-vs-old index
    join; equivalence to the capped FULL recompute over the union still
    holds (union-counted buckets), and the small genuine near-dup pair
    survives."""
    from correctocr_spark.ops.dedup import (
        MinHashIndex,
        lsh_candidate_pairs,
        minhash_signatures,
        shingles_df,
    )

    boiler = "identical boilerplate navigation footer text repeated verbatim on every mirror page"
    base = "the quick brown fox jumps over the lazy dog again and again today"
    snap_a = spark.createDataFrame(
        [(i, boiler) for i in range(1, 7)] + [(7, base)],
        "doc_id long, text string",
    )
    snap_b = spark.createDataFrame(
        [(i, boiler) for i in range(10, 16)]
        + [(16, base.replace("lazy", "sleepy"))],
        "doc_id long, text string",
    )
    cap = 5  # boilerplate bucket has 13 members across the union

    idx = MinHashIndex(
        spark, str(tmp_path / "idx"), k=3, num_hashes=8, bands=4, max_bucket=cap
    )
    idx.add(snap_a)
    got = {
        (r["doc_a"], r["doc_b"]) for r in idx.candidate_pairs(snap_b).collect()
    }

    full = lsh_candidate_pairs(
        minhash_signatures(shingles_df(snap_a.unionByName(snap_b), k=3), 8),
        8, 4, max_bucket=cap,
    )
    b_ids = set(range(10, 17))
    expected = {
        (r["doc_a"], r["doc_b"])
        for r in full.collect()
        if r["doc_a"] in b_ids or r["doc_b"] in b_ids
    }
    assert got == expected
    assert (7, 16) in got                       # genuine near-dup survives
    assert not any(a <= 6 and b >= 10 and a != 7 for a, b in got), got
    spark.catalog.clearCache()


def test_minhash_index_missing_vs_corrupt(spark, tmp_path):
    """Path-missing means empty index (new-vs-new only); a CORRUPT
    index must raise, not silently degrade to new-vs-new."""
    from correctocr_spark.ops.dedup import MinHashIndex

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string",
    )
    idx = MinHashIndex(spark, str(tmp_path / "never_written"))
    assert idx._existing() is None
    pairs = {(r["doc_a"], r["doc_b"]) for r in idx.candidate_pairs(docs).collect()}
    assert pairs == {(1, 2)}
    spark.catalog.clearCache()

    bad = tmp_path / "corrupt_idx"
    bad.mkdir()
    (bad / "part-00000.parquet").write_bytes(b"this is not a parquet file")
    idx2 = MinHashIndex(spark, str(bad))
    with pytest.raises(Exception):
        idx2._existing()


# ---------------------------------------------------------------------------
# curation: single quality pass, explicit base rate
# ---------------------------------------------------------------------------


def test_quality_canonical_single_scan(spark, monkeypatch):
    """curated_doc_ids(canonical='quality') builds the quality
    projection ONCE (persisted, fed to both the gate and the election)
    instead of once per consumer."""
    import correctocr_spark.ops.curate as curate_mod

    calls = {"n": 0}
    real = curate_mod.quality_scores

    def counting(*a, **k):
        calls["n"] += 1
        return real(*a, **k)

    monkeypatch.setattr(curate_mod, "quality_scores", counting)
    rows = [(i, _unique_doc(i)) for i in range(6)]
    rows.append((100, rows[0][1].replace("u0x3", "u0y3")))  # near-dup of 0
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = curate_mod.curated_doc_ids(docs, min_quality=0.0, canonical="quality")
    ids = {r["doc_id"] for r in out.collect()}
    assert calls["n"] == 1
    assert len(ids) == 6 and (0 in ids) != (100 in ids)  # one of the pair won
    spark.catalog.clearCache()


def test_curate_sample_rates_requires_base_rate(spark):
    """sample_rates without an explicit base sample_rate used to default
    unlisted strata to 0.0 — a silent drop. Now it raises."""
    from correctocr_spark.ops.curate import curate

    docs = spark.createDataFrame(
        [(i, _unique_doc(i), "en") for i in range(3)],
        "doc_id long, text string, lang string",
    )
    with pytest.raises(ValueError, match="base"):
        curate(docs, sample_rates={"en": 0.5})
    # explicit base keeps working
    curate(docs, sample_rate=1.0, sample_rates={"en": 1.0}, min_quality=0.0).count()
    spark.catalog.clearCache()


# ---------------------------------------------------------------------------
# incremental curation == one-shot curation of the union
# ---------------------------------------------------------------------------


def _snapshots():
    snap_a = [(i, _unique_doc(i), "en") for i in range(10)]
    snap_a.append((10, _unique_doc(4).replace("u4x2", "u4z2"), "en"))  # near-dup of 4
    # SHORT doc (2 words < shingle_k=3 -> NO shingles) that still passes
    # the quality gate: 0.25 word-len + 0.25 punct + 0.25 stopword
    snap_a.append((11, "the zzshort", "en"))
    snap_b = [(i, _unique_doc(i), "en") for i in range(20, 26)]
    snap_b.append((26, _unique_doc(7).replace("u7x5", "u7z5"), "en"))  # near-dup of A:7
    snap_b.append((27, _unique_doc(3), "en"))                          # exact dup of A:3
    snap_b.append((28, _unique_doc(22).replace("u22x8", "u22z8"), "en"))  # near-dup of B:22
    snap_b.append((29, "x", "en"))                                     # low quality
    # cross-snapshot EXACT dup of the short doc (sub-k docs band their
    # whole text as one shingle, so the band join AND the fingerprint
    # side-table both see this one)
    snap_b.append((30, "the zzshort", "en"))
    return snap_a, snap_b


def test_curate_incremental_equals_union(spark, tmp_path):
    from correctocr_spark.ops.curate import curate_incremental, curated_doc_ids

    a_rows, b_rows = _snapshots()
    schema = "doc_id long, text string, lang string"
    snap_a = spark.createDataFrame(a_rows, schema)
    snap_b = spark.createDataFrame(b_rows, schema)
    idx = str(tmp_path / "idx")

    out_a = curate_incremental(snap_a, idx, min_quality=0.5)
    ids_a = {r["doc_id"] for r in out_a.select("doc_id").collect()}
    out_b = curate_incremental(snap_b, idx, min_quality=0.5)
    ids_b = {r["doc_id"] for r in out_b.select("doc_id").collect()}

    expected = {
        r["doc_id"]
        for r in curated_doc_ids(
            snap_a.unionByName(snap_b), min_quality=0.5
        ).collect()
    }
    assert ids_a | ids_b == expected
    assert ids_a & ids_b == set()
    # the interesting drops actually happened
    assert 26 not in ids_b and 27 not in ids_b and 29 not in ids_b
    assert 28 not in ids_b and 22 in ids_b
    # the shingle-free short doc: A copy kept, B's exact dup dropped by
    # the fingerprint side-table (the band index cannot see it)
    assert 11 in ids_a and 30 not in ids_b
    spark.catalog.clearCache()


@pytest.mark.slow
def test_cli_curate_incremental(tmp_path, spark):
    """Two `curate --index-dir` snapshot runs == one-shot curation of
    the union (the MinHashIndex equivalence lifted to the CLI
    composition)."""
    a_rows, b_rows = _snapshots()
    schema = "doc_id long, text string, lang string"
    snap_a = spark.createDataFrame(a_rows, schema)
    snap_b = spark.createDataFrame(b_rows, schema)
    snap_a.write.parquet(str(tmp_path / "snap_a"))
    snap_b.write.parquet(str(tmp_path / "snap_b"))
    snap_a.unionByName(snap_b).write.parquet(str(tmp_path / "union"))
    idx = str(tmp_path / "idx")

    for name in ("snap_a", "snap_b"):
        r = run_cli(
            "curate", "--input", str(tmp_path / name),
            "--output", str(tmp_path / f"out_{name}"),
            "--index-dir", idx,
        )
        assert r.returncode == 0, r.stderr[-2000:]
    r = run_cli(
        "curate", "--input", str(tmp_path / "union"),
        "--output", str(tmp_path / "out_union"),
    )
    assert r.returncode == 0, r.stderr[-2000:]

    def ids(path):
        return {
            r["doc_id"]
            for r in spark.read.parquet(path).select("doc_id").collect()
        }

    incremental = ids(str(tmp_path / "out_snap_a")) | ids(str(tmp_path / "out_snap_b"))
    assert incremental == ids(str(tmp_path / "out_union"))


# ---------------------------------------------------------------------------
# URL canonicalization: query-only tracking strip
# ---------------------------------------------------------------------------


def test_url_tracking_strip_query_only(spark):
    from correctocr_spark.ops.cleaning import canonical_url_col

    cases = [
        # path segment that LOOKS like a tracking param survives
        ("http://Ex.com/fbclid=abc/rest?utm_source=x&id=1",
         "http://ex.com/fbclid=abc/rest?id=1"),
        ("https://A.com/utm_source=p/q", "https://a.com/utm_source=p/q"),
        # query-side params still stripped (with separator tidy-up)
        ("http://a.com/p?fbclid=zz", "http://a.com/p"),
        ("http://a.com/p?utm_a=1&utm_b=2&keep=3", "http://a.com/p?keep=3"),
        # a LONGER name containing a tracking name is a distinct param
        # and must survive (the regex anchors at the separator)
        ("http://a.com/p?myfbclid=7&id=2", "http://a.com/p?myfbclid=7&id=2"),
        ("http://a.com/p?xutm_source=1", "http://a.com/p?xutm_source=1"),
        ("HTTP://A.com:80/?gclid=x#f", "http://a.com/"),
        ("not a url", "not a url"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [
        r["c"] for r in df.select(canonical_url_col(F.col("url")).alias("c")).collect()
    ]
    assert got == [want for _, want in cases]


# ---------------------------------------------------------------------------
# corpus_rollup approx variant
# ---------------------------------------------------------------------------


def test_corpus_rollup_approx(spark, sf_dir):
    """percentile_approx twin: identical non-quantile columns, quantiles
    within the sketch's rank-error tolerance of the exact form."""
    from correctocr_spark.ops.cleaning import corpus_rollup

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    exact = {r["stratum"]: r.asDict() for r in corpus_rollup(docs).collect()}
    approx = {
        r["stratum"]: r.asDict()
        for r in corpus_rollup(docs, approx=True).collect()
    }
    assert set(exact) == set(approx)
    for stratum, e in exact.items():
        a = approx[stratum]
        for col in ("n_docs", "total_words", "mean_words", "min_words", "max_words"):
            assert a[col] == e[col], (stratum, col)
        for col in ("median_words", "p90_words"):
            # exact interpolates between ranks; the sketch returns a real
            # element — allow the neighborhood
            assert abs(a[col] - e[col]) <= max(3.0, 0.05 * e[col]), (stratum, col)


# ---------------------------------------------------------------------------
# host-skew evidence for the finalize groupBy (north rule: url-hash + salt)
# ---------------------------------------------------------------------------


def test_finalize_balanced_under_host_skew(spark):
    """The synthetic crawl is host-CONCENTRATED by design (~45% of urls
    on 2 heavy hosts — the FIXTURES.md §1 skew premise). The correction
    job never keys a shuffle on host: finalize's groupBy keys on the
    FULL url (a unique key whose hash spreads a hot host across all
    partitions), so the reduce side stays balanced where a host-keyed
    shuffle would funnel ~45% of rows into two partitions. Pinned by
    measuring per-partition token mass for both keyings on the same
    input."""
    from correctocr_spark.spark.synth import synth_pages

    pages = synth_pages(spark, 600, seed=5).persist()
    host = F.regexp_extract("url", r"https://([^/]+)/", 1)
    by_host = {
        r["host"]: r["n"]
        for r in pages.groupBy(host.alias("host")).agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    heavy = sum(n for h, n in by_host.items() if "example" in h and "-" in h.split(".")[0])
    assert heavy / 600 > 0.3, by_host  # the skew premise actually holds

    # token mass per reduce partition under the two candidate keyings
    tokens = pages.select(
        "url", host.alias("host"), F.explode(F.split("text", r"\s+")).alias("w")
    )

    def partition_mass(keyed):
        rows = (
            keyed.withColumn("pid", F.spark_partition_id())
            .groupBy("pid").agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        return [r["n"] for r in rows]

    url_mass = partition_mass(tokens.repartition(8, "url"))
    host_mass = partition_mass(tokens.repartition(8, "host"))
    total = sum(url_mass)
    assert sum(host_mass) == total
    # url-hash: no partition dominates; host-hash: the heavy hosts funnel
    assert max(url_mass) < 0.25 * total, url_mass
    assert max(host_mass) > 0.28 * total, host_mass

    # and the corrected OUTPUT is invariant to the host layout: rewrite
    # every url onto its own host (fully balanced) and compare by page id
    from correctocr_spark.kernels.heuristics import AGGRESSIVE_SETTINGS
    from correctocr_spark.spark.pipeline import CorrectionPipeline
    from correctocr_spark.spark.resources import Resources, default_resources

    res = default_resources()
    pipe = CorrectionPipeline(
        spark, Resources(res.params, res.dictionary, AGGRESSIVE_SETTINGS, k=res.k),
        use_html=True,
    )
    page_id = F.regexp_extract("url", r"/page/(\d+)$", 1).cast("long")
    balanced = pages.withColumn(
        "url", F.concat(F.lit("https://h"), page_id.cast("string"),
                        F.lit(".example/page/"), page_id.cast("string"))
    )
    skew_out = {
        r["pid"]: r["corrected"]
        for r in pipe.corrected(pages, strategy="auto")
        .select(page_id.alias("pid"), "corrected").collect()
    }
    bal_out = {
        r["pid"]: r["corrected"]
        for r in pipe.corrected(balanced, strategy="auto")
        .select(page_id.alias("pid"), "corrected").collect()
    }
    assert skew_out == bal_out and len(skew_out) == 600
    pages.unpersist()
    spark.catalog.clearCache()


# ---------------------------------------------------------------------------
# span removal (the APPLY half of substring dedup)
# ---------------------------------------------------------------------------


def test_remove_duplicate_spans(spark):
    """Corpus-repeated n-word passages are stripped, unique remainders
    survive, short docs and span-free docs pass through intact."""
    from correctocr_spark.ops.dedup import remove_duplicate_spans

    boiler = "all rights reserved contact us"          # 5 words, shared
    docs = spark.createDataFrame(
        [
            (1, f"alpha beta gamma {boiler}"),
            (2, f"delta epsilon {boiler} zeta"),
            (3, "eta theta iota kappa lambda mu nu xi"),  # no shared span
            (4, "pi rho"),                                # shorter than n
            (5, boiler),                                  # pure boilerplate
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["clean_text"], r["n_words"], r["n_removed"])
        for r in remove_duplicate_spans(docs, n=5, min_occurrences=2).collect()
    }
    assert out[1] == ("alpha beta gamma", 8, 5)
    assert out[2] == ("delta epsilon zeta", 8, 5)
    assert out[3] == ("eta theta iota kappa lambda mu nu xi", 8, 0)
    assert out[4] == ("pi rho", 2, 0)
    assert out[5] == ("", 5, 5)
    spark.catalog.clearCache()


def test_remove_duplicate_spans_overlapping(spark):
    """Overlapping hot spans: coverage is the UNION of covered
    positions, not double-removal."""
    from correctocr_spark.ops.dedup import remove_duplicate_spans

    shared = "a b c d e f"  # both docs share a 6-word run -> two 5-spans
    docs = spark.createDataFrame(
        [(1, f"x {shared} y"), (2, f"{shared} z")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["clean_text"], r["n_removed"])
        for r in remove_duplicate_spans(docs, n=5, min_occurrences=2).collect()
    }
    assert out[1] == ("x y", 6)
    assert out[2] == ("z", 6)
    spark.catalog.clearCache()


# ---------------------------------------------------------------------------
# unigram LM quality scoring
# ---------------------------------------------------------------------------


def test_unigram_lm_scores(spark):
    """Corpus-typical documents must outscore gibberish; counts exact;
    empty docs come back with NULL score."""
    from correctocr_spark.ops.textstats import unigram_lm_scores

    common = "the cat sat on the mat and the dog sat on the rug"
    docs = spark.createDataFrame(
        [
            (1, common),
            (2, "the dog sat on the mat"),          # all high-frequency words
            (3, "zyx qwv kjh plm"),                  # gibberish: all singletons
            (4, ""),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r.asDict() for r in unigram_lm_scores(docs).collect()}
    assert set(out) == {1, 2, 3, 4}
    assert out[2]["avg_logprob"] > out[3]["avg_logprob"]
    assert out[1]["n_words"] == 13 and out[3]["n_words"] == 4
    assert out[4]["n_words"] == 0 and out[4]["avg_logprob"] is None
    assert out[4]["sum_logprob_micro"] == 0
    # exact-integer reproducibility: a second run returns identical sums
    again = {
        r["doc_id"]: r["sum_logprob_micro"]
        for r in unigram_lm_scores(docs).collect()
    }
    assert again == {d: v["sum_logprob_micro"] for d, v in out.items()}
    spark.catalog.clearCache()


# ---------------------------------------------------------------------------
# line-level dedup (CCNet-style boilerplate scrub)
# ---------------------------------------------------------------------------


def test_dedup_lines(spark):
    """Corpus-repeated lines are stripped (normalized: case/whitespace
    insensitive), unique lines and blank lines survive in order."""
    from correctocr_spark.ops.dedup import dedup_lines

    docs = spark.createDataFrame(
        [
            (1, "unique opening line\nCookie Notice\n\nreal content one"),
            (2, "cookie notice\nreal content two"),     # case-insensitive dup
            (3, "totally unique document"),
            (4, "  cookie notice  "),                    # whitespace-insensitive
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["clean_text"], r["n_lines"], r["n_removed"])
        for r in dedup_lines(docs).collect()
    }
    assert out[1] == ("unique opening line\n\nreal content one", 4, 1)
    assert out[2] == ("real content two", 2, 1)
    assert out[3] == ("totally unique document", 1, 0)
    assert out[4] == ("", 1, 1)
    spark.catalog.clearCache()


@pytest.mark.slow
def test_cli_curate_scrub_lines(tmp_path, spark):
    """`curate --scrub-lines` strips corpus-repeated lines from every
    doc BEFORE the quality/dedup pass; unique content survives."""
    footer = "subscribe to our newsletter"
    rows = [
        (i, _unique_doc(i) + "\n" + footer, "en") for i in range(8)
    ]
    spark.createDataFrame(rows, "doc_id long, text string, lang string").write.parquet(
        str(tmp_path / "docs")
    )
    out = str(tmp_path / "curated")
    r = run_cli(
        "curate", "--input", str(tmp_path / "docs"), "--output", out,
        "--scrub-lines", "--min-quality", "0.0",
    )
    assert r.returncode == 0, r.stderr[-2000:]
    got = {
        x["doc_id"]: x["text"]
        for x in spark.read.parquet(out).select("doc_id", "text").collect()
    }
    assert set(got) == set(range(8))            # nothing dropped
    for i, text in got.items():
        assert footer not in text               # boilerplate line gone
        assert f"u{i}x0" in text                # unique content kept


def test_curate_incremental_rerun_idempotent(spark, tmp_path):
    """Re-running an already-indexed snapshot returns the SAME
    survivors — increment docs must not self-match their own stored
    bands/fingerprints and vanish."""
    from correctocr_spark.ops.curate import curate_incremental

    a_rows, b_rows = _snapshots()
    schema = "doc_id long, text string, lang string"
    snap_a = spark.createDataFrame(a_rows, schema)
    snap_b = spark.createDataFrame(b_rows, schema)
    idx = str(tmp_path / "idx")
    curate_incremental(snap_a, idx, min_quality=0.5)
    first = {
        r["doc_id"]
        for r in curate_incremental(snap_b, idx, min_quality=0.5)
        .select("doc_id").collect()
    }
    again = {
        r["doc_id"]
        for r in curate_incremental(snap_b, idx, min_quality=0.5)
        .select("doc_id").collect()
    }
    assert first == again and 22 in again
    spark.catalog.clearCache()


def test_minhash_index_param_mismatch_raises(spark, tmp_path):
    """Opening an index with different (k, num_hashes, bands) must
    raise — mismatched band keys would silently return zero
    cross-snapshot candidates."""
    from correctocr_spark.ops.dedup import MinHashIndex

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")], "doc_id long, text string"
    )
    MinHashIndex(spark, str(tmp_path / "idx"), k=3, num_hashes=8, bands=4).add(docs)
    bad = MinHashIndex(spark, str(tmp_path / "idx"), k=3, num_hashes=12, bands=4)
    with pytest.raises(ValueError, match="num_hashes"):
        bad.candidate_pairs(docs)
    with pytest.raises(ValueError):
        bad.add(docs)
    # matching params still fine
    ok = MinHashIndex(spark, str(tmp_path / "idx"), k=3, num_hashes=8, bands=4)
    ok.candidate_pairs(docs).collect()
    spark.catalog.clearCache()


def test_curate_incremental_capped_exact_dup(spark, tmp_path):
    """The fingerprint side-table's load-bearing case: an exact dup of
    boilerplate whose band bucket exceeds max_bucket. The capped band
    join never sees the pair; the fingerprint join must still drop the
    new copy, keeping incremental == capped one-shot union (whose
    exact-dup WINDOW is cap-independent)."""
    from correctocr_spark.ops.curate import curate_incremental, curated_doc_ids

    boiler = (
        "the boilerplate of this mirror page is identical and was "
        "copied to every host in the farm for many years now"
    )
    schema = "doc_id long, text string, lang string"
    snap_a = spark.createDataFrame(
        [(i, boiler, "en") for i in range(1, 7)]
        + [(7, _unique_doc(7), "en")],
        schema,
    )
    snap_b = spark.createDataFrame(
        [(10, boiler, "en"), (11, _unique_doc(11), "en")], schema
    )
    idx = str(tmp_path / "idx")
    out_a = curate_incremental(snap_a, idx, min_quality=0.0, max_bucket=5)
    out_b = curate_incremental(snap_b, idx, min_quality=0.0, max_bucket=5)
    ids = {r["doc_id"] for r in out_a.select("doc_id").collect()} | {
        r["doc_id"] for r in out_b.select("doc_id").collect()
    }
    expected = {
        r["doc_id"]
        for r in curated_doc_ids(
            snap_a.unionByName(snap_b), min_quality=0.0, max_bucket=5
        ).collect()
    }
    assert ids == expected
    assert 10 not in ids and 11 in ids  # fp caught what the cap hid
    spark.catalog.clearCache()


def test_new_ops_scan_pruning(spark, sf_dir):
    """Column pruning reaches the parquet scan for the round-4 ops: a
    (doc_id, text) computation must not read lang or other columns."""
    import __spark_entry__ as entry

    q = entry.queries()
    for name in ("span_removal", "dedup_lines", "unigram_lm"):
        df = q[name](spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        scans = [ln for ln in plan.splitlines() if "FileScan" in ln]
        assert scans, name
        for ln in scans:
            assert "lang" not in ln, (name, ln)
