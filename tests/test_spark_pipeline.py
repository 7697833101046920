"""Differential tests: the distributed pipeline must produce
byte-identical per-url output vs the reference-semantics kernel executed
directly on the same inputs (SURVEY.md §5 strategy (b))."""

import contextlib
import datetime
import json

import pytest

from pyspark.sql import functions as F

from correctocr_spark.kernels.extract import extract_text
from correctocr_spark.kernels.pipeline import correct_document
from correctocr_spark.spark.resources import default_resources
from correctocr_spark.spark.synth import make_page, synth_pages

pytestmark = pytest.mark.engine

N_DOCS = 80
SEED = 1234


@pytest.fixture(scope="module")
def resources():
    return default_resources()


@pytest.fixture(scope="module")
def pipeline(spark, resources):
    from correctocr_spark.spark.pipeline import CorrectionPipeline

    return CorrectionPipeline(spark, resources, use_html=True)


def kernel_expected(resources, n=N_DOCS, seed=SEED):
    out = {}
    for i in range(n):
        page = make_page(i, seed)
        text = extract_text(page["html"])
        res = correct_document(
            text,
            resources.params,
            resources.dictionary,
            resources.settings,
            k=resources.k,
        )
        out[page["url"]] = (res["corrected"], res["merged"])
    return out


def test_extract_recovers_body():
    for i in range(20):
        page = make_page(i, SEED)
        assert extract_text(page["html"]) == page["text"], page["url"]


@pytest.mark.parametrize("strategy", ["join", "auto"])
def test_pipeline_byte_identical(spark, pipeline, resources, strategy):
    pages = synth_pages(spark, N_DOCS, seed=SEED)
    got = {
        r["url"]: (r["corrected"], r["merged"])
        for r in pipeline.corrected(pages, strategy=strategy).collect()
    }
    expected = kernel_expected(resources)
    assert set(got) == set(expected)
    mismatches = [u for u in expected if got[u] != expected[u]]
    assert mismatches == [], (
        f"{len(mismatches)} urls differ; first: {mismatches[0]!r}\n"
        f"spark={got[mismatches[0]]!r}\nkernel={expected[mismatches[0]]!r}"
        if mismatches
        else ""
    )


def test_adversarial_differential_fuzz(spark, pipeline, resources):
    """Byte-identity on 150 seeded random docs built from an adversarial
    alphabet: hyphen/soft-hyphen runs, pure punctuation, newline markers,
    unknown letters, empty-ish docs, final hyphens."""
    import numpy as np

    rng = np.random.RandomState(20260816)
    pieces = [
        "word", "w0rd", "str-", "str\xad", "-", "\xad", ".", ",,", "»«",
        "_NEWLINE_N_", "ÿÿ", "a", "A4", "(word)", "te-st", "the", "t3st",
        "--", "-\xad-", "word!", " ",
    ]
    docs = []
    for i in range(150):
        n = rng.randint(0, 30)
        docs.append(" ".join(pieces[rng.randint(len(pieces))] for _ in range(n)))

    import datetime

    from correctocr_spark.spark.synth import PAGES_SCHEMA

    ts = datetime.datetime(2024, 1, 1)
    rows = [
        (f"u://fuzz/{i}", ts, None, text, "en") for i, text in enumerate(docs)
    ]
    pages = spark.createDataFrame(rows, PAGES_SCHEMA)
    from correctocr_spark.spark.pipeline import CorrectionPipeline

    pipe = CorrectionPipeline(spark, resources, use_html=False)
    for strategy in ("join", "auto"):
        got = {
            r["url"]: (r["corrected"], r["merged"])
            for r in pipe.corrected(pages, strategy=strategy).collect()
        }
        bad = []
        for i, text in enumerate(docs):
            res = correct_document(
                text, resources.params, resources.dictionary, resources.settings, k=4
            )
            if got[f"u://fuzz/{i}"] != (res["corrected"], res["merged"]):
                bad.append((i, text, got[f"u://fuzz/{i}"], (res["corrected"], res["merged"])))
        assert not bad, f"{strategy}: {len(bad)} mismatches; first: {bad[0]}"


def test_strategies_agree(spark, pipeline):
    """Both plans give the same rows, stats columns included."""
    pages = synth_pages(spark, 40, seed=321).cache()

    def run(out):
        return {r["url"]: tuple(r) for r in out.collect()}

    join = run(pipeline.corrected(pages, strategy="join"))
    assert join == run(pipeline.corrected(pages, strategy="auto"))
    spark.catalog.clearCache()


def test_unknown_strategy_rejected(spark, pipeline):
    pages = synth_pages(spark, 5, seed=1)
    for strategy in ("broadcast", "Auto", ""):
        with pytest.raises(ValueError, match="strategy"):
            pipeline.corrected(pages, strategy=strategy)


def hard_pages(spark, resources, use_html):
    """A multichar model under aggressive settings, and 120 pages over 3
    partitions where hot words recur across tasks and Arrow batches. The
    pages hold hyphenated heads ending a document, empty and null text,
    characters no state emits and words holding a multichar key.
    Returns ``(resources, rows, pages)``."""
    import numpy as np

    from correctocr_spark.kernels.heuristics import AGGRESSIVE_SETTINGS
    from correctocr_spark.kernels.hmm import HMMParams
    from correctocr_spark.spark.resources import Resources
    from correctocr_spark.spark.synth import PAGES_SCHEMA

    params = HMMParams.from_dicts(resources.params.to_dicts(), multichars={"rn": ["m"]})
    res = Resources(params, resources.dictionary, AGGRESSIVE_SETTINGS, k=resources.k)
    rng = np.random.RandomState(20261017)
    pieces = [
        "the", "the", "the", "and", "word", "w0rd", "modern", "corner", "tbe",
        "str-", "te-st", "ÿÿ", "✓x", "_NEWLINE_N_", ".", "(word)", "A4",
    ]
    texts = []
    for i in range(120):
        words = [pieces[rng.randint(len(pieces))] for _ in range(rng.randint(1, 25))]
        if i % 9 == 0:
            words.append("str-")  # hyphenated head ending the document
        texts.append(" ".join(words))
    texts[5], texts[50], texts[95] = "", None, "modern-"

    ts = datetime.datetime(2024, 1, 1)
    rows = [
        (
            f"u://one-pass/{i}",
            ts,
            f"<html><body><p>{t}</p></body></html>".encode() if use_html and t is not None else None,
            t,
            "en",
        )
        for i, t in enumerate(texts)
    ]
    pages = spark.createDataFrame(rows, PAGES_SCHEMA).repartition(3)
    sizes = pages.rdd.glom().map(len).collect()
    assert len(sizes) == 3 and min(sizes) > 7, sizes
    return res, rows, pages


@contextlib.contextmanager
def arrow_batches_of(spark, n):
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    saved = spark.conf.get(key)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, saved)


def page_sources(rows, use_html):
    """``(url, text the pipeline corrects)`` per page row."""
    for url, _ts, html, text, _lang in rows:
        yield url, (extract_text(html) if use_html else text) or ""


@pytest.mark.parametrize("use_html", [False, True])
def test_one_pass_across_tasks_and_batches(spark, resources, use_html):
    """The one-pass plan equals the scalar-beam kernel url by url, on
    every output column, when hot words recur across tasks and across the
    Arrow batches of one task (3 partitions of 40 pages, batches of 7)."""
    from correctocr_spark.spark.pipeline import CORRECTED_SCHEMA, CorrectionPipeline

    res, rows, pages = hard_pages(spark, resources, use_html)
    with arrow_batches_of(spark, 7):
        pipe = CorrectionPipeline(spark, res, use_html=use_html)
        got = {r["url"]: r.asDict() for r in pipe.corrected(pages).collect()}

    columns = [f.name for f in CORRECTED_SCHEMA.fields if f.name != "url"]
    assert len(got) == len(rows)
    for url, source in page_sources(rows, use_html):
        exp = correct_document(source, res.params, res.dictionary, res.settings, k=res.k)
        assert {c: got[url][c] for c in columns} == {c: exp[c] for c in columns}, url


@pytest.mark.parametrize("use_html", [False, True])
def test_join_plan_across_tasks_and_batches(spark, resources, use_html):
    """The token table over 3 tasks and Arrow batches of 7 rows,
    reassembled by ``finalize`` (the path of ``report`` and
    ``correct --apply``), equals the scalar-beam kernel url by url, on
    every output column."""
    from correctocr_spark.spark.pipeline import CORRECTED_SCHEMA, CorrectionPipeline

    res, rows, pages = hard_pages(spark, resources, use_html)
    with arrow_batches_of(spark, 7):
        pipe = CorrectionPipeline(spark, res, use_html=use_html)
        got = {r["url"]: r.asDict() for r in pipe.finalize(pipe.tokens(pages)).collect()}

    columns = [f.name for f in CORRECTED_SCHEMA.fields if f.name != "url"]
    assert len(got) == len(rows)
    for url, source in page_sources(rows, use_html):
        exp = correct_document(source, res.params, res.dictionary, res.settings, k=res.k)
        assert {c: got[url][c] for c in columns} == {c: exp[c] for c in columns}, url


def test_token_table_equals_kernel(spark, resources):
    """Every token-table row holds the kernel's tokenized and
    dehyphenated token (original, gold0, head, tail, consolidated word),
    its k-best, candidate dictionary flags, bin, heuristic, selection and
    gold: one row per token, null k-best on hyphen tails, one all-null
    row with ``discarded=False`` per token-less page."""
    from correctocr_spark.kernels.pipeline import consolidated, dehyphenate, tokenize_doc
    from correctocr_spark.spark.pipeline import TOKEN_TABLE_SCHEMA, CorrectionPipeline

    res, rows, pages = hard_pages(spark, resources, use_html=False)
    with arrow_batches_of(spark, 7):
        pipe = CorrectionPipeline(spark, res, use_html=False)
        table = pipe.tokens(pages).collect()

    columns = [f.name for f in TOKEN_TABLE_SCHEMA.fields if f.name not in ("url", "idx")]
    assert set(columns) == {
        "original", "gold0", "head", "tail", "cons_word", "discarded",
        "kbest", "cand_in_dict", "bin", "heuristic", "sel_rank", "selection", "gold",
    }
    got = {}
    for r in table:
        row = {c: r[c] for c in columns}
        if row["kbest"] is not None:
            row["kbest"] = [(c["candidate"], c["probability"]) for c in r["kbest"]]
        got[(r["url"], r["idx"])] = row

    expected = {}
    for url, text in page_sources(rows, use_html=False):
        toks = correct_document(text, res.params, res.dictionary, res.settings, k=res.k)["tokens"]
        if not toks:
            expected[(url, None)] = dict(dict.fromkeys(columns), discarded=False)
        # the state before correction: tokenized and dehyphenated
        before = tokenize_doc(text)
        dehyphenate(before)
        merged = {t.index: w for w, _g, t in consolidated(before)}  # not hyphen tails
        for t, t0 in zip(toks, before):
            beamed = t.index in merged
            sel = t.selection
            expected[(url, t.index)] = {
                "original": t0.original,
                "gold0": t0.gold,
                "head": t0.is_hyphenated,
                "tail": not beamed,
                "cons_word": merged.get(t0.index),
                "discarded": False,
                "kbest": t.kbest if beamed else None,
                "cand_in_dict": [c in res.dictionary for c, _p in t.kbest] if beamed else None,
                "bin": t.bin,
                "heuristic": t.heuristic,
                "sel_rank": sel if t.heuristic in ("kbest", "kdict") else None,
                "selection": json.dumps(sel) if t.heuristic == "annotator" else str(sel),
                "gold": t.gold,
            }
    assert len(got) == len(table)
    assert got == expected
    tails = [key for key, row in expected.items() if key[1] is not None and row["kbest"] is None]
    assert tails and (("u://one-pass/5", None) in got) and (("u://one-pass/50", None) in got)


def test_plan_without_dehyphenation_equals_kernel(spark, resources):
    """``CorrectionPipeline(dehyphenate=False)``: ``corrected()`` and
    ``tokens()`` over pages with hyphen heads (3 tasks, Arrow batches of
    7) equal ``correct_document(..., dehyphenate_doc=False)``, every
    token its own consolidated word."""
    from correctocr_spark.spark.pipeline import (
        CORRECTED_SCHEMA,
        TOKEN_TABLE_SCHEMA,
        CorrectionPipeline,
    )
    from tests.test_flat_kernel import oracle_token_rows

    res, rows, pages = hard_pages(spark, resources, use_html=False)
    with arrow_batches_of(spark, 7):
        pipe = CorrectionPipeline(spark, res, dehyphenate=False, use_html=False)
        got = {r["url"]: r.asDict() for r in pipe.corrected(pages).collect()}
        table = pipe.tokens(pages).collect()

    columns = [f.name for f in CORRECTED_SCHEMA.fields if f.name != "url"]
    names = [f.name for f in TOKEN_TABLE_SCHEMA.fields]
    got_rows = sorted(
        (
            tuple(r[c] for c in names[:8])
            + (None if r["kbest"] is None else [tuple(c) for c in r["kbest"]],)
            + tuple(r[c] for c in names[9:])
            for r in table
        ),
        key=lambda row: (row[0], row[1] is not None, row[1]),
    )
    expected_rows = []
    heads = 0
    for url, text in page_sources(rows, use_html=False):
        exp = correct_document(
            text, res.params, res.dictionary, res.settings, k=res.k, dehyphenate_doc=False
        )
        assert {c: got[url][c] for c in columns} == {c: exp[c] for c in columns}, url
        assert exp["hyphenated_count"] == 0
        heads += sum(w.endswith("-") for w in text.split())
        expected_rows += oracle_token_rows(url, text, res, res.settings, dehyphenate_doc=False)
    expected_rows.sort(key=lambda row: (row[0], row[1] is not None, row[1]))
    assert heads > 0 and len(got) == len(rows)
    assert got_rows == expected_rows


def test_hot_word_join_and_salting(spark, resources):
    """One word is a third of all tokens: both strategy names give the
    same rows on every column."""
    import numpy as np

    from correctocr_spark.spark.pipeline import CorrectionPipeline
    from correctocr_spark.spark.synth import PAGES_SCHEMA

    rng = np.random.RandomState(20261018)
    pieces = ["word", "w0rd", "tbe", "str-", "modern", "and", "(word)", "A4", "."]
    texts = []
    for _ in range(80):
        n = rng.randint(5, 40)
        texts.append(" ".join("the" if rng.rand() < 0.4 else pieces[rng.randint(len(pieces))] for _ in range(n)))
    words = " ".join(texts).split()
    assert words.count("the") >= 0.3 * len(words)

    ts = datetime.datetime(2024, 1, 1)
    pages = spark.createDataFrame(
        [(f"u://hot/{i}", ts, None, t, "en") for i, t in enumerate(texts)], PAGES_SCHEMA
    ).cache()
    pipe = CorrectionPipeline(spark, resources, use_html=False)
    join = {r["url"]: r.asDict() for r in pipe.corrected(pages, strategy="join").collect()}
    auto = {r["url"]: r.asDict() for r in pipe.corrected(pages, strategy="auto").collect()}
    assert len(join) == len(texts) and join == auto
    pages.unpersist()


def test_kbest_table_equals_scalar_beam(spark, pipeline, resources):
    """The Arrow k-best table holds, per word, the scalar beam's
    candidates and exact probabilities plus each candidate's
    dictionary flag."""
    from correctocr_spark.kernels.hmm import kbest_for_word

    rows = pipeline.kbest_table(pipeline.vocab(synth_pages(spark, 40, seed=5))).collect()
    assert len(rows) > 100
    for r in rows:
        expected = kbest_for_word(resources.params, r["cons_word"], resources.k)
        got = [(c["candidate"], c["probability"].hex()) for c in r["kbest"]]
        assert got == [(c, p.hex()) for c, p in expected], r["cons_word"]
        assert r["cand_in_dict"] == [c in resources.dictionary for c, _p in expected]


def test_giant_document_skew(spark, pipeline, resources):
    """Doc-size skew: one 30k-token document among small ones — the
    finalize path (collect_list of the whole doc) must survive and stay
    byte-identical."""
    import datetime

    from correctocr_spark.spark.synth import PAGES_SCHEMA

    from correctocr_spark.spark.pipeline import CorrectionPipeline

    ts = datetime.datetime(2024, 1, 1)
    giant = " ".join(["the fast w0rd str-"] * 7500)
    rows = [
        ("u://giant", ts, None, giant, "en"),
        ("u://small", ts, None, "a t3st", "en"),
    ]
    pages = spark.createDataFrame(rows, PAGES_SCHEMA)
    pipe = CorrectionPipeline(spark, resources, use_html=False)
    got = {r["url"]: r for r in pipe.corrected(pages).collect()}
    assert got["u://giant"]["index_count"] == 30000
    exp = correct_document(
        giant, resources.params, resources.dictionary, resources.settings, k=4
    )
    assert got["u://giant"]["corrected"] == exp["corrected"]


def test_empty_corpus(spark, pipeline):
    from correctocr_spark.spark.synth import PAGES_SCHEMA

    pages = spark.createDataFrame([], PAGES_SCHEMA)
    for strategy in ("join", "auto"):
        assert pipeline.corrected(pages, strategy=strategy).count() == 0


def test_pipeline_corrects_noise(spark, pipeline):
    """The model genuinely fixes injected OCR noise: corrected text is
    closer to the clean source than the noisy input is."""
    pages = synth_pages(spark, 40, seed=99)
    rows = pipeline.corrected(pages).collect()
    assert len(rows) == 40
    assert all(r["token_count"] > 0 for r in rows)


def test_tokens_table_schema(spark, pipeline):
    pages = synth_pages(spark, 10, seed=7)
    tokens = pipeline.tokens(pages)
    cols = set(tokens.columns)
    for c in ["url", "idx", "original", "gold", "head", "tail", "kbest", "bin", "heuristic", "selection", "discarded"]:
        assert c in cols, c
    sample = tokens.limit(50).collect()
    assert sample


def test_audited_resume(spark, pipeline, tmp_path):
    from correctocr_spark.spark.audit import AuditedRun

    pages = synth_pages(spark, 30, seed=5).cache()
    run = AuditedRun(spark, str(tmp_path / "out"), run_id="r1")

    first = pages.limit(18)
    run.write(pipeline.corrected(first))

    pending = run.pending(pages)
    assert pending.count() == 12  # resume skips completed urls

    run.write(pipeline.corrected(pending))
    done = spark.read.parquet(run.corrected_path)
    assert done.count() == 30
    audit = spark.read.parquet(run.audit_path)
    assert audit.count() > 0
    assert {"pkey", "url_count", "lineage", "completed"} <= set(audit.columns)

    # north rule: per-partition token-bin metrics written alongside
    bins = spark.read.parquet(run.bin_metrics_path)
    assert {"pkey", "bin", "token_count", "run_id"} <= set(bins.columns)
    total_binned = sum(r["token_count"] for r in bins.collect())
    assert total_binned > 0


def test_join_strategy_short_kbest_matches_kernel(spark):
    """A model with fewer than k states yields short k-best lists; the
    join strategy's dcode must use the actual candidate count
    (heuristics.py:116-121), agreeing with the kernel/broadcast path."""
    from correctocr_spark.kernels.heuristics import DEFAULT_SETTINGS
    from correctocr_spark.kernels.hmm import build_hmm_params
    from correctocr_spark.spark.pipeline import CorrectionPipeline
    from correctocr_spark.spark.resources import Resources
    from correctocr_spark.kernels.dictionary import Dictionary

    # 3-state model -> beam yields < 4 candidates for 1-char words
    params = build_hmm_params(
        ["ab", "ba"], 1e-4, "ab", {"a": {"a": 10, "b": 1}, "b": {"b": 10}},
        [], ["ab", "ba", "ab"],
    )
    res = Resources(params, Dictionary({"ab", "ba"}), DEFAULT_SETTINGS, k=4)
    pipe = CorrectionPipeline(spark, res, use_html=False)
    pages = spark.createDataFrame([("u1", "ab ba aa b")], ["url", "text"])

    join_rows = {
        r["idx"]: (r["bin"], r["heuristic"])
        for r in pipe.tokens(pages).collect()
    }
    # kernel truth
    from correctocr_spark.kernels.pipeline import correct_document

    ker = correct_document("ab ba aa b", params, res.dictionary, res.settings, k=4)
    ker_rows = {t.index: (t.bin, t.heuristic) for t in ker["tokens"]}
    assert join_rows == ker_rows


def test_join_strategy_kdict_zero_in_dict_raises(spark):
    """kdict with zero in-dictionary candidates = reference filtids[0]
    IndexError; both physical strategies must fail, not silently pick
    rank 1."""
    from correctocr_spark.kernels.heuristics import normalize_settings
    from correctocr_spark.kernels.hmm import build_hmm_params
    from correctocr_spark.spark.pipeline import CorrectionPipeline
    from correctocr_spark.spark.resources import Resources
    from correctocr_spark.kernels.dictionary import Dictionary

    params = build_hmm_params(
        ["ab"], 1e-4, "ab", {"a": {"a": 10}, "b": {"b": 10}}, [], ["ab"]
    )
    # bin 5 (k1 != original, nothing in dict) mapped to kdict
    settings = normalize_settings({5: "d", 2: "d"})
    res = Resources(params, Dictionary(set()), settings, k=2)
    pipe = CorrectionPipeline(spark, res, use_html=False)
    pages = spark.createDataFrame([("u1", "zz qq")], ["url", "text"])
    from py4j.protocol import Py4JJavaError

    with pytest.raises(Exception) as exc:
        pipe.tokens(pages).collect()
    assert "kdict" in str(exc.value) or "IndexError" in str(exc.value)


def test_token_table_roundtrip(spark, pipeline, tmp_path):
    from correctocr_spark.spark.sources import read_tokens, write_tokens
    from correctocr_spark.spark.synth import synth_pages

    tokens = pipeline.tokens(synth_pages(spark, 15, seed=31))
    write_tokens(tokens, str(tmp_path / "tok"))
    back = read_tokens(spark, str(tmp_path / "tok"))
    assert back.count() == tokens.count()
    assert "kbest" in back.columns and "pkey" in back.columns


def test_tokens_csv_roundtrip(spark, pipeline, tmp_path):
    from correctocr_spark.spark.sources import export_tokens_csv, import_tokens_csv
    from correctocr_spark.spark.synth import synth_pages

    tokens = pipeline.tokens(synth_pages(spark, 10, seed=32)).where(F.col("idx").isNotNull())
    export_tokens_csv(tokens, str(tmp_path / "csv"))
    back = import_tokens_csv(spark, str(tmp_path / "csv"))
    assert back.count() == tokens.count()
    a = {(r["url"], r["idx"]): (r["original"], r["gold"]) for r in tokens.collect()}
    b = {(r["url"], r["idx"]): (r["original"], r["gold"]) for r in back.collect()}
    # gold may be empty-string vs null through CSV; normalize
    norm = lambda d: {k: (o, g or None) for k, (o, g) in d.items()}
    assert norm(a) == norm(b)
