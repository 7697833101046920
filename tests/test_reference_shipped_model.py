"""Differential parity against the reference's SHIPPED artifacts: the
140-state Danish HMM (workspace/resources/hmm_parameters.json), the
~290k-word dictionary, and the shipped settings.json — i.e. the exact
production configuration of the reference, not a toy fixture.

Reference artifacts are read from /root/reference (data, not code)."""

import json
from pathlib import Path

import pytest

from test_reference_differential import _fake_reference_deps, _ref_correct_document

RES = Path("/root/reference/workspace/resources")


@pytest.fixture(scope="module")
def shipped(ref):
    params_json = json.loads((RES / "hmm_parameters.json").read_text())
    words = (RES / "dictionary.txt").read_text().split("\n")
    settings = json.loads((RES / "settings.json").read_text())

    ref_hmm = ref.HMM(None, None, use_cache=False)
    ref_hmm.init, ref_hmm.tran, ref_hmm.emis = params_json

    ref_dict = ref.make_dictionary(words[:40000])  # cap for test speed

    from correctocr_spark.kernels.dictionary import Dictionary
    from correctocr_spark.kernels.hmm import HMMParams

    mine = HMMParams.from_dicts(params_json)
    my_dict = Dictionary(words[:40000])
    return ref_hmm, ref_dict, mine, my_dict, settings


# reuse the ref fixture from the sibling module
from test_reference_differential import ref  # noqa: E402,F401


def test_shipped_dictionary_membership_parity(shipped):
    _ref_hmm, ref_dict, _mine, my_dict, _settings = shipped
    probes = [
        "og", "ikke", "Og!", "(og)", "»og«", "og-", "o\xadg", "A4", "8,5",
        "xyzzyqq", "KØBENHAVN", "københavn", "123", "", ".", "forsamling",
    ]
    for w in probes:
        assert (w in ref_dict) == (w in my_dict), w


def test_shipped_model_kbest_parity(shipped):
    """Bitwise k-best parity on the shipped 140-state matrix."""
    from correctocr_spark.kernels.hmm import kbest_for_word, kbest_for_words

    ref_hmm, _rd, mine, _md, _s = shipped
    words = [
        "Slring", "hvis", "hv1s", "Kj0benhavn", "Kjøbenhavn", "f0rste",
        "første", "oc", "og", "ikkc", "ikke", "-", "»", "A4", "8,5",
        "forsamling", "fors4mling", "Q", "qq",
    ]
    for w in words:
        ref_kb = ref_hmm.kbest_for_word(w, 4)
        ref_list = [(ref_kb[i].candidate, ref_kb[i].probability) for i in range(1, 5)]
        assert kbest_for_word(mine, w, 4) == ref_list, w
    batch = kbest_for_words(mine, words, 4)
    for w, got in zip(words, batch):
        ref_kb = ref_hmm.kbest_for_word(w, 4)
        assert got == [(ref_kb[i].candidate, ref_kb[i].probability) for i in range(1, 5)], w


def test_resources_load_reference_workspace_asis(spark):
    """Drop-in compatibility: a reference user's workspace/resources dir
    (hmm_parameters.json + dictionary.txt + settings.json) loads directly
    into the engine and corrects through the Spark pipeline."""
    if not RES.is_dir():
        pytest.skip(f"reference workspace not present at {RES}")
    import datetime

    from correctocr_spark.spark.pipeline import CorrectionPipeline
    from correctocr_spark.spark.resources import Resources
    from correctocr_spark.spark.synth import PAGES_SCHEMA

    res = Resources.load(str(RES))
    assert len(res.params.states) == 140
    assert len(res.dict_words) > 100_000
    assert res.settings[1] == "original" and res.settings[2] == "annotator"

    pipe = CorrectionPipeline(spark, res, use_html=False)
    ts = datetime.datetime(2024, 1, 1)
    pages = spark.createDataFrame(
        [("u://da", ts, None, "hvis ikke den f0rste", "da")], PAGES_SCHEMA
    )
    row = pipe.corrected(pages).first()
    assert row["corrected"]  # runs end-to-end under the shipped config
    assert row["token_count"] == 4


def test_shipped_end_to_end_parity(ref, shipped):
    """Byte-identical corrected/merged text under the full shipped
    configuration on noisy Danish-ish documents."""
    import numpy as np

    from correctocr_spark.kernels.heuristics import normalize_settings
    from correctocr_spark.kernels.pipeline import correct_document

    ref_hmm, ref_dict, mine, my_dict, settings = shipped
    rng = np.random.RandomState(7)
    vocab = [w for w in sorted(my_dict.words)[2000:2200] if w]
    noise = {"e": "3", "l": "1", "o": "0", "s": "5", "i": "l"}

    docs = []
    for _ in range(20):
        n = rng.randint(1, 12)
        words = []
        for _i in range(n):
            w = vocab[rng.randint(len(vocab))]
            if rng.random_sample() < 0.4:
                w = "".join(noise.get(c, c) if rng.random_sample() < 0.3 else c for c in w)
            if rng.random_sample() < 0.1 and len(w) > 3:
                cut = rng.randint(1, len(w) - 1)
                words.extend([w[:cut] + "-", w[cut:]])
            else:
                words.append(w)
        if words and not words[-1].endswith(("-", "\xad")):
            docs.append(" ".join(words))

    assert len(docs) >= 15
    my_settings = normalize_settings(settings)
    for text in docs:
        ref_corrected, ref_merged = _ref_correct_document(
            ref, ref_hmm, ref_dict, dict(settings), text
        )
        res = correct_document(text, mine, my_dict, my_settings, k=4)
        assert res["corrected"] == ref_corrected, f"corrected mismatch: {text!r}"
        assert res["merged"] == ref_merged, f"merged mismatch: {text!r}"
