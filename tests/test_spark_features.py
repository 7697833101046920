"""Streaming, training, report, sources, memoized corrections, ops."""

import time

import pytest

from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def pipeline(spark):
    from correctocr_spark.spark.pipeline import CorrectionPipeline

    return CorrectionPipeline(spark, use_html=True)


# --- training (M6-M10 + J4/J5 at scale) -------------------------------------


def test_train_hmm_corrects(spark):
    from correctocr_spark.kernels.hmm import kbest_for_word
    from correctocr_spark.spark.training import train_hmm

    rows = [("Slring String Stræng", "String String Stræng")] * 30
    docs = spark.createDataFrame(rows, ["text", "gold_text"])
    params = train_hmm(
        docs,
        dictionary=["String", "Stræng"],
        character_set="ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyzæ()-\xad",
    )
    kb = kbest_for_word(params, "Slring", 4)
    assert kb[0][0] == "String", kb  # cocrtests/model.py:36-38 via training


def test_read_counts_orientation(spark):
    from correctocr_spark.spark.training import read_counts_df

    docs = spark.createDataFrame([("This is a t3st", "This is a test")], ["text", "gold_text"])
    counts = {(r["left_char"], r["right_char"]): r["n"] for r in read_counts_df(docs).collect()}
    assert counts[("3", "e")] == 1  # cocrtests/aligner.py:29


# --- streaming ----------------------------------------------------------------


def test_correct_stream(spark, pipeline, tmp_path):
    from correctocr_spark.spark.streaming import correct_stream, pages_stream
    from correctocr_spark.spark.synth import synth_pages

    inp = str(tmp_path / "in")
    synth_pages(spark, 25, seed=11).write.parquet(inp)

    stream = pages_stream(spark, inp)
    assert stream.isStreaming
    q = correct_stream(
        pipeline,
        stream,
        output_dir=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ck"),
    )
    q.awaitTermination(120)
    done = spark.read.parquet(str(tmp_path / "out" / "corrected"))
    assert done.count() == 25

    # restart with new files only -> exactly-once: no duplicates
    synth_pages(spark, 10, seed=12, start=1000).write.mode("append").parquet(inp)
    q2 = correct_stream(
        pipeline,
        pages_stream(spark, inp),
        output_dir=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ck"),
    )
    q2.awaitTermination(120)
    done = spark.read.parquet(str(tmp_path / "out" / "corrected"))
    assert done.count() == 35
    assert done.select("url").distinct().count() == 35


def test_crawl_rate_metrics_watermark(spark):
    from correctocr_spark.spark.streaming import crawl_rate_metrics
    from correctocr_spark.spark.synth import synth_pages

    out = crawl_rate_metrics(synth_pages(spark, 50, seed=13))
    rows = out.collect()
    assert rows and sum(r["n_pages"] for r in rows) == 50


# --- report (A2) ---------------------------------------------------------------


def test_heuristics_report(spark, pipeline):
    from correctocr_spark.spark.report import heuristics_report
    from correctocr_spark.spark.synth import synth_pages

    pages = synth_pages(spark, 30, seed=21).cache()
    tokens = pipeline.tokens(pages).cache()
    corrected = pipeline.finalize(tokens)
    text = heuristics_report(tokens, corrected, pipeline.resources, spark)
    assert "BIN 1" in text and "(A) gold == orig" in text
    tokens.unpersist()


@pytest.mark.engine
def test_doc_totals_equal_finalize(spark):
    """``doc_totals`` gives each url the ``index_count``, ``token_count``
    and ``hyphenated_count`` that ``finalize`` gives it: hyphen chains, a
    final head and token-less pages included."""
    import datetime

    from correctocr_spark.spark.pipeline import CorrectionPipeline
    from correctocr_spark.spark.report import doc_totals
    from correctocr_spark.spark.synth import PAGES_SCHEMA, synth_pages

    ts = datetime.datetime(2024, 1, 1)
    texts = [
        "the A- B- C chain and more",
        "one- two- three- four",
        "a page that ends on a head-",
        "soft\xadhyphen\xad end",
        "",
        "   ",
        None,
    ]
    edge = spark.createDataFrame(
        [(f"u://edge/{i}", ts, None, t, "en") for i, t in enumerate(texts)], PAGES_SCHEMA
    )
    pipe = CorrectionPipeline(spark, use_html=False)
    pages = edge.unionByName(synth_pages(spark, 20, seed=21))
    tokens = pipe.tokens(pages).cache()
    cols = ["index_count", "token_count", "hyphenated_count"]
    got = {r["url"]: tuple(r[c] for c in cols) for r in doc_totals(tokens).collect()}
    want = {r["url"]: tuple(r[c] for c in cols) for r in pipe.finalize(tokens).collect()}
    tokens.unpersist()
    assert got == want
    assert len(got) == 27
    assert any(h > 1 for _i, _t, h in got.values())
    assert got["u://edge/4"] == (0, 0, 0)


# --- sources (S7/S10/S15, S14, J7) ---------------------------------------------


def test_build_dictionary_df(spark):
    from correctocr_spark.spark.sources import build_dictionary_df

    docs = spark.createDataFrame(
        [("The quick (brown) fox-es 123 »jumped«",)], ["text"]
    )
    words = {r["word"] for r in build_dictionary_df(docs).collect()}
    assert "quick" in words and "brown" in words and "foxes" in words
    assert "jumped" in words and "123" not in words


def test_apply_memoized_corrections(spark, pipeline):
    from correctocr_spark.spark.sources import apply_memoized_corrections
    from correctocr_spark.spark.synth import synth_pages

    tokens = pipeline.tokens(synth_pages(spark, 20, seed=33))
    ann = tokens.where((F.col("heuristic") == "annotator") & ((F.col("gold").isNull()) | (F.col("gold") == "")))
    sample = ann.select("original").first()
    if sample is None:
        pytest.skip("no annotator tokens in sample")
    memo = {sample["original"]: "FIXED"}
    out = apply_memoized_corrections(tokens, memo)
    fixed = out.where(F.col("gold") == "FIXED").count()
    assert fixed >= 1


# --- multimodal ------------------------------------------------------------------


def test_multimodal_features_and_frames(spark):
    from correctocr_spark.ops.multimodal import MEDIA_SCHEMA, extract_features, frame_sample_plan

    rows = [
        (1, b"hello world", "application/octet-stream", (0, 0, 3500)),
        (2, None, None, (0, 0, None)),
    ]
    media = spark.createDataFrame(rows, schema=MEDIA_SCHEMA)
    feats = {r["media_id"]: r for r in extract_features(media).collect()}
    assert feats[1]["n_bytes"] == 11 and len(feats[1]["feature"]) == 16
    assert feats[2]["n_bytes"] == 0 and feats[2]["byte_entropy"] == 0.0

    frames = frame_sample_plan(media, every_ms=1000).collect()
    assert [r["frame_ts_ms"] for r in frames] == [0, 1000, 2000, 3000]


def test_encoding_detection():
    from correctocr_spark.kernels.extract import detect_encoding, extract_text

    # fileio.py:56-66 — utf-8 if clean, else windows-1252
    assert detect_encoding("héllo".encode("utf-8")) == "utf-8"
    assert detect_encoding("héllo".encode("windows-1252")) == "windows-1252"
    html_cp1252 = "<html><body><p>café crème</p></body></html>".encode("windows-1252")
    assert extract_text(html_cp1252) == "café crème"


def test_term_index_runs(spark):
    from correctocr_spark.spark.sources import term_index

    rows = [
        ("d1", 0, "The", None), ("d1", 1, "quick", None), ("d1", 2, "scan,", None),
        ("d1", 3, "Sort", None), ("d1", 4, "stops", None), ("d1", 5, "merge", None),
    ]
    tokens = spark.createDataFrame(
        rows, "url string, idx int, original string, gold string"
    ).select("*", F.lit(False).alias("tail"), F.lit(False).alias("discarded"))
    out = term_index(tokens, {"exec": ["scan", "sort", "merge"]}).collect()
    # 'scan,' (stripped) + 'Sort' (lowered) form a run of 2; lone 'merge' dropped
    assert len(out) == 1
    assert out[0]["run_text"] == "scan, Sort" and out[0]["n_tokens"] == 2


def test_decoder_stub_raises(spark):
    from correctocr_spark.ops.multimodal import MEDIA_SCHEMA, extract_features

    media = spark.createDataFrame(
        [(1, b"x", "image/png", (1, 1, None))], schema=MEDIA_SCHEMA
    )
    with pytest.raises(Exception, match="NotImplementedError|decode"):
        extract_features(media, use_decoder=True).collect()


def test_train_then_correct_lifecycle(spark):
    """Full lifecycle: aligned (noisy, gold) docs -> distributed training
    (weighted-count path) -> the trained model drives the pipeline and
    corrects held-out corruption, leaving out-of-dictionary clean words
    untouched (no false corrections)."""
    from correctocr_spark.kernels.dictionary import Dictionary
    from correctocr_spark.kernels.heuristics import AGGRESSIVE_SETTINGS
    from correctocr_spark.spark.pipeline import CorrectionPipeline
    from correctocr_spark.spark.resources import Resources
    from correctocr_spark.spark.training import train_hmm

    vocab = ["the", "line", "small", "group", "table", "value"]
    gold = " ".join(vocab)
    noisy = gold.translate(str.maketrans("elo", "310"))
    docs = spark.createDataFrame([(noisy, gold)] * 20, ["text", "gold_text"])
    params = train_hmm(docs, dictionary=vocab, character_set="abcdefghijklmnopqrstuvwxyz013")

    res = Resources(params, Dictionary(set(vocab)), AGGRESSIVE_SETTINGS, k=4)
    pipe = CorrectionPipeline(spark, res, use_html=False)
    pages = spark.createDataFrame([("u1", "th3 1in3 gr0up tab13 unseen")], ["url", "text"])
    out = pipe.corrected(pages, strategy="join").collect()[0]
    assert out["corrected"] == "the line group table unseen"


class TestQuantizeEmbeddings:
    def test_values_and_error_bound(self, spark):
        from correctocr_spark.ops.similarity import quantize_embeddings

        emb = spark.createDataFrame(
            [
                (1, [1.0, -0.5, 0.25, 0.0]),
                (2, [0.0, 0.0]),             # zero vector
                (3, [-2.0]),
            ],
            "vec_id long, embedding array<float>",
        )
        rows = {r.id: r for r in quantize_embeddings(emb).collect()}
        assert rows[1].qvec == [127, -64, 32, 0]  # round(±x*127/max)
        assert abs(rows[1].scale - 1.0 / 127.0) < 1e-9  # scale rounds to 9dp
        # worst dequant error bounded by scale/2
        assert rows[1].max_abs_err <= rows[1].scale / 2 + 1e-9
        assert rows[2].qvec == [0, 0] and rows[2].scale == 0.0
        assert rows[2].max_abs_err == 0.0
        assert rows[3].qvec == [-127] and rows[3].max_abs_err == 0.0

    def test_scan_speed_plan(self, spark):
        import io
        from contextlib import redirect_stdout

        from correctocr_spark.ops.similarity import quantize_embeddings

        emb = spark.createDataFrame(
            [(1, [1.0, 2.0])], "vec_id long, embedding array<float>"
        )
        buf = io.StringIO()
        with redirect_stdout(buf):
            quantize_embeddings(emb).explain("formatted")
        p = buf.getvalue()
        assert "Exchange" not in p and "Join" not in p


class TestQuantizedTopk:
    def test_recall_against_exact_and_self_top(self, spark):
        """The quantized path must put the query itself at rank 1 and
        keep high overlap with exact brute-force top-k on separable
        data."""
        import numpy as np

        from correctocr_spark.ops.similarity import (
            brute_force_topk,
            quantized_topk,
        )

        rng = np.random.RandomState(5)
        vecs = [(i, [float(x) for x in rng.randn(16)]) for i in range(100)]
        emb = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
        qr = quantized_topk(emb, 0, k=10).collect()
        assert qr[0].vec_id == 0 and qr[0].rank == 1
        # compare against the EXACT dot-product ranking (quantized_topk
        # scores raw dots — brute_force_topk's cosine is a different
        # metric on unnormalized vectors, so it is not the ground truth)
        q = np.array(vecs[0][1])
        exact_dot = sorted(
            vecs, key=lambda t: (-float(np.dot(q, t[1])), t[0])
        )[:10]
        exact = {i for i, _ in exact_dot}
        got = {r.vec_id for r in qr}
        # int8 quantization perturbs only boundary ranks
        assert len(exact & got) >= 9

    def test_take_ordered_plan(self, spark):
        import io
        from contextlib import redirect_stdout

        from correctocr_spark.ops.similarity import quantized_topk

        emb = spark.createDataFrame(
            [(i, [float(i), 1.0]) for i in range(5)],
            "vec_id long, embedding array<float>",
        )
        buf = io.StringIO()
        with redirect_stdout(buf):
            quantized_topk(emb, 0, k=3).explain("formatted")
        p = buf.getvalue()
        assert "TakeOrderedAndProject" in p
        assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p


class TestBm25TopK:
    """Okapi BM25 retrieval (ops/similarity.py bm25_topk)."""

    def _run(self, spark, docs_rows, terms, k=10, **kw):
        from correctocr_spark.ops.similarity import bm25_topk
        from pyspark.sql import Row

        docs = spark.createDataFrame(
            [Row(doc_id=i, text=t) for i, t in enumerate(docs_rows)]
        )
        qt = spark.createDataFrame(terms, "query_id long, term string")
        return bm25_topk(docs, qt, k=k, **kw).collect()

    def test_tf_and_idf_ordering(self, spark):
        # doc 0 mentions 'cat' twice, doc 1 once, 'the' is everywhere
        # (low idf) so doc 2 with only 'the' scores below both
        rows = ["cat cat the x", "cat the y z", "the the the w"]
        out = self._run(spark, rows, [(0, "cat"), (0, "the")])
        ranked = [(r["rank"], r["doc_id"]) for r in sorted(out, key=lambda r: r["rank"])]
        assert [d for _, d in ranked] == [0, 1, 2]
        assert [r for r, _ in ranked] == [1, 2, 3]

    def test_duplicate_query_terms_deduplicated(self, spark):
        rows = ["cat dog", "cat fish"]
        once = self._run(spark, rows, [(0, "cat")])
        twice = self._run(spark, rows, [(0, "cat"), (0, "cat")])
        key = lambda rs: sorted((r["doc_id"], r["score_micro"], r["n_terms"]) for r in rs)
        assert key(once) == key(twice)

    def test_unmatched_query_absent(self, spark):
        out = self._run(spark, ["cat dog"], [(5, "zzznope")])
        assert out == []

    def test_k_limits_per_query(self, spark):
        rows = [f"cat filler{i}" for i in range(7)]
        out = self._run(spark, rows, [(0, "cat")], k=3)
        assert len(out) == 3 and max(r["rank"] for r in out) == 3

    def test_length_normalization(self, spark):
        # same tf=1, shorter doc wins under b > 0
        rows = ["cat", "cat " + "pad " * 20]
        out = self._run(spark, rows, [(0, "cat")])
        by_rank = sorted(out, key=lambda r: r["rank"])
        assert [r["doc_id"] for r in by_rank] == [0, 1]


class TestBpe:
    """BPE tokenizer-training ops (ops/textstats.py)."""

    def test_train_classic_example(self, spark):
        # Sennrich et al.'s running example: low x5, lower x2,
        # newest x6, widest x3 -> merges (e,s) (es,t) (l,o) (lo,w)
        from correctocr_spark.ops.textstats import bpe_train
        from pyspark.sql import Row

        docs = spark.createDataFrame(
            [
                Row(
                    doc_id=0,
                    text=" ".join(
                        ["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3
                    ),
                )
            ]
        )
        assert bpe_train(docs, 4) == [
            ("e", "s", 9),
            ("es", "t", 9),
            ("l", "o", 7),
            ("lo", "w", 7),
        ]

    def test_merge_leftmost_greedy(self, spark):
        from correctocr_spark.ops.textstats import apply_bpe_merge
        from pyspark.sql import Row

        df = spark.createDataFrame(
            [Row(w="aaa", cnt=1, syms=["a", "a", "a"]),
             Row(w="aaaa", cnt=1, syms=["a", "a", "a", "a"])]
        )
        out = {r["w"]: r["syms"] for r in apply_bpe_merge(df, "a", "a").collect()}
        assert out["aaa"] == ["aa", "a"]
        assert out["aaaa"] == ["aa", "aa"]

    def test_merged_tail_eligible_as_left(self, spark):
        # merge (ab, c) after (a, b) must see the merged 'ab' tail
        from correctocr_spark.ops.textstats import apply_bpe_merge
        from pyspark.sql import Row

        df = spark.createDataFrame([Row(w="abc", cnt=1, syms=["a", "b", "c"])])
        step1 = apply_bpe_merge(df, "a", "b")
        assert step1.first()["syms"] == ["ab", "c"]
        assert apply_bpe_merge(step1, "ab", "c").first()["syms"] == ["abc"]

    def test_pair_counts_weighted_by_word_freq(self, spark):
        from correctocr_spark.ops.textstats import (
            bpe_pair_counts,
            word_symbol_counts,
        )
        from pyspark.sql import Row

        docs = spark.createDataFrame([Row(doc_id=0, text="ab ab ab cd x")])
        out = {
            (r["left"], r["right"]): r["n"]
            for r in bpe_pair_counts(word_symbol_counts(docs)).collect()
        }
        # 'ab' counted once as a distinct word with cnt 3
        assert out == {("a", "b"): 3, ("c", "d"): 1}

    def test_single_char_words_yield_no_pairs(self, spark):
        from correctocr_spark.ops.textstats import (
            bpe_pair_counts,
            word_symbol_counts,
        )
        from pyspark.sql import Row

        docs = spark.createDataFrame([Row(doc_id=0, text="a b c")])
        assert bpe_pair_counts(word_symbol_counts(docs)).count() == 0


    def test_token_counts_under_learned_merges(self, spark):
        from correctocr_spark.ops.textstats import bpe_token_counts
        from pyspark.sql import Row

        merges = [("e", "s"), ("es", "t"), ("l", "o"), ("lo", "w")]
        df = spark.createDataFrame(
            [Row(doc_id=0, text="lower newest"), Row(doc_id=1, text=""),
             Row(doc_id=2, text="low low")]
        )
        out = {r["doc_id"]: r.asDict() for r in bpe_token_counts(df, merges).collect()}
        # lower -> [lo w? no: l o w e r -> (l,o)=lo, (lo,w)=low -> low e r] = 3
        # newest -> n e w es t -> n e w est = 4
        assert out[0] == {"doc_id": 0, "n_words": 2, "n_tokens": 7}
        assert out[1] == {"doc_id": 1, "n_words": 0, "n_tokens": 0}
        assert out[2] == {"doc_id": 2, "n_words": 2, "n_tokens": 2}

    def test_token_counts_merge_cap_raises(self, spark):
        from correctocr_spark.ops.textstats import bpe_token_counts
        from pyspark.sql import Row
        import pytest as _pytest

        df = spark.createDataFrame([Row(doc_id=0, text="x")])
        with _pytest.raises(ValueError, match="max_merges"):
            bpe_token_counts(df, [("a", "b")] * 65)


class TestWinnowing:
    """Winnowing fingerprints (Schleimer et al. 2003): the match
    guarantee, the boundary rule, normalization invariance, and the
    capped candidate join."""

    K, W = 8, 4

    @staticmethod
    def _df(spark, rows):
        from pyspark.sql import Row

        return spark.createDataFrame([Row(doc_id=i, text=t) for i, t in rows])

    def _fps(self, spark, rows):
        from correctocr_spark.ops.dedup import winnow_fingerprints

        out = {}
        for r in winnow_fingerprints(
            self._df(spark, rows), k=self.K, window=self.W
        ).collect():
            out.setdefault(r["doc_id"], set()).add(r["fp"])
        return out

    @classmethod
    def _simulate(cls, text):
        import hashlib

        import re as _re

        norm = _re.sub("[^a-z0-9]", "", (text or "").lower())
        if len(norm) < cls.K:
            return set()
        grams = [norm[i : i + cls.K] for i in range(len(norm) - cls.K + 1)]
        hs = [
            int(hashlib.md5(g.encode()).hexdigest()[:15], 16) for g in grams
        ]
        m = max(len(hs) - cls.W + 1, 1)
        return {min(hs[j : j + cls.W]) for j in range(m)}

    def test_matches_python_simulation(self, spark):
        rows = [
            (0, "The quick brown fox jumps over the lazy dog"),
            (1, "shorter text here"),
            (2, "tiny"),  # norm len 4 < k -> nothing
            (3, None),
        ]
        got = self._fps(spark, rows)
        for did, t in rows:
            assert got.get(did, set()) == self._simulate(t), did
    def test_match_guarantee(self, spark):
        """Two documents sharing a run of >= window+k-1 normalized
        chars must share at least one fingerprint — winnowing's
        defining property (here a 16-char shared passage in otherwise
        disjoint docs)."""
        shared = "commonpassagehere"  # 17 chars > 8+4-1
        rows = [
            (0, "left filler words " + shared + " alpha ending one"),
            (1, "totally different prefix " + shared + " omega tail"),
            (2, "no overlap with anything else at all whatsoever"),
        ]
        got = self._fps(spark, rows)
        assert got[0] & got[1], "guaranteed shared fingerprint missing"
        assert not (got[0] & got[2] and got[1] & got[2])

    def test_boundary_single_window(self, spark):
        """k <= norm length < k+window-1: fewer grams than the window
        -> exactly one fingerprint (the global min)."""
        rows = [(0, "abcdefghi")]  # 9 chars -> 2 grams < window
        got = self._fps(spark, rows)
        assert len(got[0]) == 1
        assert got[0] == self._simulate("abcdefghi")

    def test_normalization_invariance(self, spark):
        a = "The Quick, Brown! Fox; jumps over 42 lazy dogs."
        b = "the quick brown fox JUMPS over 42 LAZY dogs"
        got = self._fps(spark, [(0, a), (1, b)])
        assert got[0] == got[1]

    def test_candidates_cap_and_threshold(self, spark):
        """A fingerprint hot across many docs is dropped by the cap;
        surviving pairs respect min_shared and doc_a < doc_b."""
        from correctocr_spark.ops.dedup import (
            winnow_candidates,
            winnow_fingerprints,
        )

        boiler = " all rights reserved standard footer text common everywhere"
        rows = [(i, f"unique body number {i} with words" + boiler) for i in range(6)]
        rows += [(10, "identical pair of documents body"), (11, "identical pair of documents body")]
        fps = winnow_fingerprints(self._df(spark, rows), k=self.K, window=self.W)
        # cap at 3: the 6-doc boilerplate fps die, the identical pair survives
        got = {
            (r["doc_a"], r["doc_b"]): r["n_shared"]
            for r in winnow_candidates(fps, min_shared=2, max_fp_freq=3).collect()
        }
        assert (10, 11) in got
        assert all(a < b for a, b in got)
        assert not any(a < 6 and b < 6 for a, b in got), got

