"""Checkpoint-resume of the audited writer (spark/audit.py): a missing
``corrected/`` directory means nothing is done; any other read error
raises."""

import os

import pytest

pytestmark = pytest.mark.engine


def test_pending_without_output_returns_every_page(spark, tmp_path):
    """No ``corrected/`` directory yet: nothing is done, every page is
    pending."""
    from correctocr_spark.spark.audit import AuditedRun

    run = AuditedRun(spark, str(tmp_path / "fresh"))
    assert not os.path.exists(run.corrected_path)
    pages = spark.createDataFrame([("u1", "t"), ("u2", "t")], ["url", "text"])
    assert run.completed_urls() is None
    assert sorted(r["url"] for r in run.pending(pages).collect()) == ["u1", "u2"]


def test_pending_raises_on_unreadable_output(spark, tmp_path):
    """A read error on ``corrected/`` is not "nothing done": resuming
    past it would correct and append every url a second time."""
    from correctocr_spark.spark.audit import AuditedRun

    run = AuditedRun(spark, str(tmp_path / "broken"))
    os.makedirs(run.corrected_path)
    with open(os.path.join(run.corrected_path, "part-00000.parquet"), "wb") as fh:
        fh.write(b"not a parquet file")
    pages = spark.createDataFrame([("u1", "t")], ["url", "text"])
    with pytest.raises(Exception):
        run.pending(pages)
