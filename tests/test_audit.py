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


@pytest.fixture(scope="module")
def pipeline(spark):
    from correctocr_spark.spark.pipeline import CorrectionPipeline

    return CorrectionPipeline(spark, use_html=True)


def assert_run_audit(spark, run, rows):
    """``run``'s lineage and bin metrics describe exactly ``rows``, the
    corrected rows it appended, and it left no staging directory."""
    from pyspark.sql import functions as F

    lineage = spark.read.parquet(run.audit_path).where(F.col("run_id") == run.run_id)
    assert lineage.agg(F.sum("url_count")).first()[0] == len(rows)
    bins = spark.read.parquet(run.bin_metrics_path).where(F.col("run_id") == run.run_id)
    assert bins.agg(F.sum("token_count")).first()[0] == sum(
        sum(r["bin_counts"].values()) for r in rows
    )
    assert not os.path.exists(os.path.join(run.output_dir, "_staging"))


def test_cached_pending_keeps_its_audit(spark, pipeline, tmp_path):
    """A cached ``pending`` is refreshed by the append to ``corrected/``
    and then reads as empty; the run's lineage and bin metrics must still
    count the rows it appended."""
    from correctocr_spark.spark.audit import AuditedRun
    from correctocr_spark.spark.synth import synth_pages

    pages = synth_pages(spark, 30, seed=5)
    out = str(tmp_path / "out")
    prior = {r["url"] for r in pages.limit(18).select("url").collect()}
    AuditedRun(spark, out, run_id="r0").write(
        pipeline.corrected(pages.where(pages.url.isin(list(prior))))
    )

    run = AuditedRun(spark, out, run_id="r1")
    pending = run.pending(pages).cache()
    assert pending.count() == 12
    run.write(pipeline.corrected(pending))
    pending.unpersist()

    done = spark.read.parquet(run.corrected_path).collect()
    assert len(done) == 30
    assert_run_audit(spark, run, [r for r in done if r["url"] not in prior])


def test_rerun_without_resume_counts_each_url_once(spark, pipeline, tmp_path):
    """A second run over the same pages, without ``pending``, appends
    every url again; its own lineage counts each url once."""
    from correctocr_spark.spark.audit import AuditedRun
    from correctocr_spark.spark.synth import synth_pages

    pages = synth_pages(spark, 30, seed=5)
    out = str(tmp_path / "out")
    rows = pipeline.corrected(pages).collect()
    first = AuditedRun(spark, out, run_id="r1")
    first.write(pipeline.corrected(pages))
    again = AuditedRun(spark, out, run_id="r2")
    again.write(pipeline.corrected(pages))

    assert spark.read.parquet(again.corrected_path).count() == 60
    assert_run_audit(spark, again, rows)
    assert_run_audit(spark, first, rows)


def test_write_computes_its_input_once(spark, pipeline, tmp_path):
    """``write`` runs the correction plan once: it computes as many
    partitions of its input as one ``noop`` write of the same frame. The
    files it appends keep the frame's non-null columns REQUIRED."""
    import glob

    import pyarrow.parquet as pq

    from correctocr_spark.spark.audit import AuditedRun
    from correctocr_spark.spark.synth import synth_pages

    marks = str(tmp_path / "marks")
    os.makedirs(marks)

    def mark(batches):
        import uuid

        open(os.path.join(marks, uuid.uuid4().hex), "w").close()
        yield from batches

    corrected = pipeline.corrected(synth_pages(spark, 40, seed=9))
    traced = corrected.mapInPandas(mark, schema=corrected.schema)

    traced.write.format("noop").mode("overwrite").save()
    once = len(os.listdir(marks))
    assert once > 0
    for name in os.listdir(marks):
        os.remove(os.path.join(marks, name))

    run = AuditedRun(spark, str(tmp_path / "out"), run_id="r1")
    run.write(traced)
    assert len(os.listdir(marks)) == once
    assert spark.read.parquet(run.corrected_path).count() == 40
    required = {f.name for f in corrected.schema.fields if not f.nullable}
    files = glob.glob(os.path.join(run.corrected_path, "pkey=*", "*.parquet"))
    assert files
    for path in files:
        schema = pq.read_schema(path)
        assert {f.name for f in schema if not f.nullable} == required


def test_correct_stream_audit(spark, pipeline, tmp_path):
    """``correct_stream`` audits each micro-batch: one lineage row per url
    bucket of the batch, and url counts that sum to the rows written."""
    from collections import Counter

    from pyspark.sql import functions as F

    from correctocr_spark.spark.audit import with_partition_key
    from correctocr_spark.spark.streaming import correct_stream, pages_stream
    from correctocr_spark.spark.synth import synth_pages

    inp = str(tmp_path / "in")
    out = tmp_path / "out"
    batches = [synth_pages(spark, 25, seed=11), synth_pages(spark, 10, seed=12, start=1000)]
    lineages = []
    for i, batch in enumerate(batches):
        batch.write.mode("append").parquet(inp)
        q = correct_stream(
            pipeline, pages_stream(spark, inp),
            output_dir=str(out), checkpoint_dir=str(tmp_path / "ck"),
        )
        q.awaitTermination(120)
        lineages.append(
            Counter(
                (r["pkey"], r["url_count"])
                for r in spark.read.parquet(str(out / "audit")).where(F.col("run_id") == "stream").collect()
            )
        )
        per_bucket = Counter(r["pkey"] for r in with_partition_key(batch).select("pkey").collect())
        new = lineages[i] - (lineages[i - 1] if i else Counter())
        assert new == Counter(per_bucket.items())

    assert sum(n * c for (_pkey, n), c in lineages[-1].items()) == 35
    assert spark.read.parquet(str(out / "corrected")).count() == 35
    assert not os.path.exists(str(out / "_staging"))
