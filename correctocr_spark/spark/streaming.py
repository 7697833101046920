"""Structured Streaming front-end: page input and the correction stream.

The reference has no streaming (SURVEY.md §2.11) — its closest analog is
a background thread incrementally ingesting documents
(server.py:505-551). What is here:

- input streams: :func:`pages_stream` over a pages parquet directory,
  and :func:`warc_pages_stream` over landing WARC segments, which runs
  the batch parse and extraction stages of ``spark.warc`` unchanged
  (:func:`warc_ingest_stream` appends its pages to a parquet table);
- :func:`correct_stream`: the batch correction pipeline and audited
  writer applied per micro-batch via ``foreachBatch`` (pure composition
  — no new semantics to match);
- :func:`crawl_rate_metrics`: watermarked windowed crawl-rate metrics
  over ``warc_ts``.

At production scale the source is the Iceberg/parquet pages table with
new files landing per crawl segment; ``availableNow`` gives catch-up
batch semantics, a continuous trigger gives tailing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .audit import AuditedRun
from .pipeline import CorrectionPipeline
from .synth import PAGES_SCHEMA


def pages_stream(spark: SparkSession, input_path: str) -> DataFrame:
    """File-source stream of pages parquet (new files = new crawl data)."""
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 16)
        .parquet(input_path)
    )


def correct_stream(
    pipeline: CorrectionPipeline,
    pages: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    run_id: str = "stream",
    available_now: bool = True,
):
    """Run the correction pipeline continuously via foreachBatch.

    Each micro-batch goes through the full batch DAG and the audited
    writer, so resume/idempotence semantics are identical to batch; the
    streaming checkpoint adds exactly-once file tracking on top.
    """
    run = AuditedRun(pipeline.spark, output_dir, run_id=run_id)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        pending = run.pending(batch_df)
        run.write(pipeline.corrected(pending))

    writer = (
        pages.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def crawl_rate_metrics(
    pages: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming-native op: watermarked tumbling-window ingestion metrics
    per language (late pages beyond the watermark are dropped, state is
    bounded — the standard late-data story)."""
    return (
        pages.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), "lang")
        .agg(
            F.count(F.lit(1)).alias("n_pages"),
            F.sum(F.length("text")).alias("n_chars"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "lang",
            "n_pages",
            "n_chars",
        )
    )


#: binaryFile's fixed schema — readStream file sources require an
#: explicit schema even when the format defines one
_BINARY_FILE_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType(), False),
        T.StructField("modificationTime", T.TimestampType(), False),
        T.StructField("length", T.LongType(), False),
        T.StructField("content", T.BinaryType(), True),
    ]
)


def warc_pages_stream(
    spark: SparkSession,
    warc_dir: str,
    glob: str = "*.warc*",
    ok_only: bool = True,
    skip_bad: bool = False,
    max_files_per_trigger: int = 16,
) -> DataFrame:
    """Streaming north-rule pages from a directory where WARC crawl
    segments LAND continuously: the file-source tracks seen segment
    files in the checkpoint (exactly-once per file), and the stateless
    parse + extraction stages from ``spark.warc`` apply unchanged —
    batch and stream run the identical plan."""
    from .warc import extract_pages, parse_warc_files

    files = (
        spark.readStream.format("binaryFile")
        .schema(_BINARY_FILE_SCHEMA)
        .option("pathGlobFilter", glob)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(warc_dir)
    )
    return extract_pages(parse_warc_files(files, ok_only=ok_only, skip_bad=skip_bad))


def warc_ingest_stream(
    spark: SparkSession,
    warc_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    glob: str = "*.warc*",
    available_now: bool = True,
):
    """Continuous WARC ingestion: segments land in ``warc_dir``, pages
    append to the parquet table at ``output_dir``. The streaming
    checkpoint makes segment processing exactly-once across restarts —
    the streaming twin of the ``ingest`` CLI. Returns the started
    query; callers ``awaitTermination()``."""
    pages = warc_pages_stream(spark, warc_dir, glob=glob)
    writer = (
        pages.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
