"""PDF source plumbing (S2/S12/P8/P9/A8/O2).

The minimal stdlib extractor is pinned against the reference's OWN test
asset and expectation (cocrtests/pdf.py:8-15: ``str(tokens) ==
'Once upen a ti- me.'``); the crop-area kernel is differential-tested
against the reference's ``PDFTokenizer.calculate_crop_area`` numpy code.
"""

import os
import shutil

import pytest

from pyspark.sql import functions as F

REF_PDF = "/root/reference/cocrtests/test.pdf"

needs_ref_pdf = pytest.mark.skipif(
    not os.path.isfile(REF_PDF), reason="reference test.pdf unavailable"
)


@needs_ref_pdf
def test_extractor_matches_reference_expectation():
    from correctocr_spark.kernels.pdf import extract_pdf_words, pdf_text

    words = extract_pdf_words(open(REF_PDF, "rb").read())
    assert pdf_text(words) == "Once upen a ti- me."  # cocrtests/pdf.py:15
    # reference token_info shape: (page, x0, y0, x1, y1, word, block, line, word_no)
    assert all(len(w) == 9 for w in words)
    assert [w[0] for w in words] == [0] * 5


def test_extractor_rejects_unparseable():
    from correctocr_spark.kernels.pdf import PDFExtractError, extract_pdf_words

    with pytest.raises(PDFExtractError):
        extract_pdf_words(b"not a pdf")
    with pytest.raises(PDFExtractError):
        extract_pdf_words(b"%PDF-1.4\nno pages here")


@needs_ref_pdf
def test_pdf_tokens_table(spark, tmp_path):
    from correctocr_spark.spark.pdf import pdf_page_texts, pdf_tokens, read_pdf_files

    d = tmp_path / "pdfs"
    d.mkdir()
    shutil.copy(REF_PDF, d / "doc1.pdf")
    shutil.copy(REF_PDF, d / "doc2.pdf")
    (d / "noise.txt").write_text("skip me")  # pathGlobFilter excludes

    pdfs = read_pdf_files(spark, str(d))
    toks = pdf_tokens(pdfs)
    rows = toks.orderBy("url", "idx").collect()
    assert len(rows) == 10  # 5 words x 2 docs
    r0 = [r for r in rows if r["url"].endswith("doc1.pdf")]
    assert [r["original"] for r in r0] == ["Once", "upen", "a", "ti-", "me."]
    assert [r["idx"] for r in r0] == [0, 1, 2, 3, 4]
    assert r0[0]["x0"] == pytest.approx(13.5417)

    pages = {r["url"].split("/")[-1]: r["text"] for r in pdf_page_texts(toks).collect()}
    assert pages == {
        "doc1.pdf": "Once upen a ti- me.",
        "doc2.pdf": "Once upen a ti- me.",
    }


@needs_ref_pdf
def test_pdf_feeds_correction_pipeline(spark, tmp_path):
    """S2 -> S1 chain: PDF words -> page text -> the normal pipeline
    (dehyphenation merges the reference's 'ti-' + 'me.' pair)."""
    from correctocr_spark.spark.pdf import pdf_page_texts, pdf_tokens, read_pdf_files
    from correctocr_spark.spark.pipeline import CorrectionPipeline

    d = tmp_path / "pdfs"
    d.mkdir()
    shutil.copy(REF_PDF, d / "doc1.pdf")
    pages = pdf_page_texts(pdf_tokens(read_pdf_files(spark, str(d))))
    pipe = CorrectionPipeline(spark, use_html=False)
    out = pipe.corrected(pages, strategy="join").collect()
    assert len(out) == 1
    assert out[0]["hyphenated_count"] == 1  # 'ti-' head
    assert out[0]["token_count"] == 4  # tail consumed by dehyphenation
    assert out[0]["merged"] == "Once upen a time."  # hyphen pair merged


def test_unparseable_pdf_keeps_placeholder_row(spark):
    from correctocr_spark.spark.pdf import pdf_tokens

    pdfs = spark.createDataFrame([("u1", bytearray(b"garbage"))], ["url", "content"])
    rows = pdf_tokens(pdfs).collect()
    assert len(rows) == 1 and rows[0]["idx"] is None  # visible to audit/resume


def test_crop_area_parity_with_reference():
    """kernels.pdf.calculate_crop_area == the reference's numpy code
    (_pdf.py:208-242) including the counts[-20:]/bin_edges[-20:]
    off-by-one — checked by re-deriving the reference's scan inline."""
    import numpy

    from correctocr_spark.kernels.pdf import calculate_crop_area

    rects = [(5.0, 30.0), (35.0, 90.0), (36.0, 88.0), (40.0, 85.0), (150.0, 160.0)]
    width = 200.0

    # reference scan, verbatim semantics
    x_values = []
    for x0, x1 in rects:
        for i in range(int(x0), int(x1)):
            x_values.append(i)
    counts, bin_edges = numpy.histogram(x_values, bins=100)
    cutoff = max(counts) * 0.1
    edge_left, edge_right = 0, width + 1
    for c, e in zip(counts[:20], bin_edges[:20]):
        if c < cutoff:
            edge_left = e
    for c, e in zip(counts[-20:], bin_edges[-20:]):
        if c < cutoff:
            edge_right = e

    assert calculate_crop_area(rects, width) == (edge_left, edge_right)
    assert calculate_crop_area([], width) == (0, width)


def test_crop_filter_and_edges(spark):
    from correctocr_spark.spark.pdf import (
        PDF_TOKEN_SCHEMA,
        crop_tokens,
        crop_tokens_to_edges,
        page_crop_edges,
    )

    rows = [
        ("u1", 0, 0, 5.0, 0.0, 8.0, 10.0, "margin", 0, 0, 0),
        ("u1", 1, 0, 40.0, 0.0, 60.0, 10.0, "body1", 0, 0, 1),
        ("u1", 2, 0, 45.0, 12.0, 65.0, 22.0, "body2", 0, 1, 0),
        ("u1", 3, 0, 190.0, 0.0, 195.0, 10.0, "pagenum", 0, 0, 2),
    ]
    toks = spark.createDataFrame(rows, PDF_TOKEN_SCHEMA)

    out = {r["original"]: r["discarded"] for r in crop_tokens_to_edges(toks, 30.0, 100.0).collect()}
    assert out == {"margin": True, "body1": False, "body2": False, "pagenum": True}

    edges = page_crop_edges(toks, 200.0).collect()
    assert len(edges) == 1 and edges[0]["page"] == 0
    # explicit edges path == the static filter
    out2 = {
        r["original"]: r["discarded"]
        for r in crop_tokens(toks, 200.0, edge_left=30.0, edge_right=100.0).collect()
    }
    assert out2 == out


def test_pdf_sink_plan_order(spark):
    from correctocr_spark.spark.pdf import PDF_TOKEN_SCHEMA, pdf_sink_plan

    rows = [
        ("u1", 0, 1, 10.0, 0.0, 30.0, 10.0, "second-page", 0, 0, 0),
        ("u1", 1, 0, 10.0, 10.0, 30.0, 20.0, "first", 0, 0, 0),
        ("u1", 2, 0, 35.0, 10.0, 50.0, 20.0, "line", 0, 0, 1),
    ]
    plan = pdf_sink_plan(spark.createDataFrame(rows, PDF_TOKEN_SCHEMA), fontfactor=1.0, padding=2.0)
    got = [(r["page"], r["draw_word"], r["fontsize"]) for r in plan.collect()]
    # O2: (page, block, line, word) order, fontsize = rect height
    assert got == [(0, "first", 10.0), (0, "line", 10.0), (1, "second-page", 10.0)]
    r = plan.collect()[0]
    assert r["rect_x1"] >= 30.0 and r["rect_y1"] == 30.0


# ---------------------------------------------------------------------------
# hOCR source (S3 / T7)
# ---------------------------------------------------------------------------

HOCR_DOC = b"""<?xml version="1.0" encoding="UTF-8"?>
<html><body>
 <div class='ocr_page' id='page_1' title='image "p1.png"; bbox 0 0 800 600'>
  <div class='ocr_carea' id='block_1_1' title='bbox 10 10 790 300'>
   <span class='ocr_line' id='line_1_1' title='bbox 77 204 400 234'>
    <span class='ocrx_word' id='word_1_1' title='bbox 77 204 93 234; x_wconf 95'>Once</span>
    <span class='ocrx_word' id='word_1_2' title='bbox 100 204 160 234; x_wconf 91'>upen</span>
   </span>
   <span class='ocr_line' id='line_1_2' title='bbox 77 240 400 270'>
    <span class='ocrx_word' id='word_1_3' title='bbox 77 240 93 270'>a</span>
    <span class='ocrx_word' id='word_1_4' title='x_wconf 10'>ti-</span>
   </span>
  </div>
 </div>
 <div class='ocr_page' id='page_2' title='bbox 0 0 800 600'>
  <div class='ocr_carea' id='block_2_1'>
   <span class='ocr_line' id='line_2_1'>
    <span class='ocrx_word' id='word_2_1' title='bbox 5 5 40 30'>me.</span>
    <span class='ocrx_word' id='word_2_2' title='bbox 50 5 60 30'>  </span>
   </span>
  </div>
 </div>
</body></html>"""


def test_hocr_bbox_parse_reference_semantics():
    from correctocr_spark.kernels.hocr import parse_bbox

    # _hocr.py:77-83: regex search in title; zero rect fallback
    assert parse_bbox("bbox 77 204 93 234; x_wconf 95") == (77.0, 204.0, 93.0, 234.0)
    assert parse_bbox("x_wconf 95") == (0.0, 0.0, 0.0, 0.0)
    assert parse_bbox(None) == (0.0, 0.0, 0.0, 0.0)


def test_hocr_extraction_structure():
    from correctocr_spark.kernels.hocr import extract_hocr_words

    words = extract_hocr_words(HOCR_DOC)
    # whitespace-only word dropped (reference .strip() on element text)
    assert [w[5] for w in words] == ["Once", "upen", "a", "ti-", "me."]
    assert [(w[0], w[6], w[7], w[8]) for w in words] == [
        (0, 0, 0, 0), (0, 0, 0, 1), (0, 0, 1, 0), (0, 0, 1, 1), (1, 0, 0, 0),
    ]
    assert words[0][1:5] == (77.0, 204.0, 93.0, 234.0)
    assert words[3][1:5] == (0.0, 0.0, 0.0, 0.0)  # missing bbox -> zero rect


def test_hocr_tokens_to_pipeline(spark, tmp_path):
    """S3 -> S1 chain: hOCR words -> page text -> correction pipeline."""
    from correctocr_spark.spark.pdf import hocr_tokens, pdf_page_texts, read_hocr_files
    from correctocr_spark.spark.pipeline import CorrectionPipeline

    d = tmp_path / "hocr"
    d.mkdir()
    (d / "doc1.hocr").write_bytes(HOCR_DOC)
    toks = hocr_tokens(read_hocr_files(spark, str(d)))
    assert [r["original"] for r in toks.orderBy("idx").collect()] == [
        "Once", "upen", "a", "ti-", "me.",
    ]
    pages = pdf_page_texts(toks)
    pipe = CorrectionPipeline(spark, use_html=False)
    out = pipe.corrected(pages, strategy="join").collect()
    assert out[0]["merged"] == "Once upen a time."
