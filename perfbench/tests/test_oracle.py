from correctocr_spark.kernels.pipeline import correct_document

import fixture
import gen
import oracle


def _expected_and_rows():
    res = gen.build_resources("html_zipf")
    fixture._RES = res
    pages = gen.PageMaker("html_zipf", 5).pages(range(12))
    texts = fixture._texts(pages)
    words = sorted({w for t in texts for w in fixture.consolidated_words(t)})
    kb_map = dict(zip(words, fixture._beam_chunk(words)))
    urls = [p["url"] for p in pages]
    expected = dict(fixture._correct_chunk(urls, texts, kb_map))
    rows = []
    for url, text in zip(urls, texts):
        r = correct_document(text, res.params, res.dictionary, res.settings, k=res.k, kbest_map=kb_map)
        rows.append((url, r["corrected"], r["merged"]))
    return expected, rows


def test_oracle_accepts_the_kernel_output_and_flags_each_fault():
    expected, rows = _expected_and_rows()
    assert oracle.check(expected, rows) == (0, [])

    url, corrected, merged = rows[3]
    corrupted = rows[:3] + [(url, corrected + "x", merged)] + rows[4:]
    assert oracle.check(expected, corrupted) == (1, [url])

    merged_only = rows[:3] + [(url, corrected, merged[:-1])] + rows[4:]
    assert oracle.check(expected, merged_only) == (1, [url])

    dropped = rows[:3] + rows[4:]
    assert oracle.check(expected, dropped) == (1, [url])

    duplicated = rows + [rows[3]]
    assert oracle.check(expected, duplicated) == (1, [url])

    stray = rows + [("https://elsewhere.example/x", "a", "a")]
    assert oracle.check(expected, stray) == (1, ["https://elsewhere.example/x"])


def test_frozen_digests_round_trip(tmp_path, monkeypatch):
    monkeypatch.setattr(oracle, "ORACLE_DIR", str(tmp_path))
    digests = {"https://a.example/1": "00ff", "https://a.example/2": "ff00"}
    path = oracle.save_frozen("html_zipf", 9, 2, digests)
    first = open(path, "rb").read()
    assert oracle.load_frozen("html_zipf", 9, 2) == digests
    assert oracle.load_frozen("html_zipf", 10, 2) is None
    oracle.save_frozen("html_zipf", 9, 2, digests)
    assert open(path, "rb").read() == first
