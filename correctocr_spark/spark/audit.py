"""Audit table, per-partition lineage/metrics, checkpoint-resume.

North-rule requirements: the job writes per-partition lineage + token-bin
metrics to an audit table and resumes from checkpoint by anti-joining
completed url partitions. This mirrors the reference's ``is_done`` /
``skip_done`` pruning (workspace.py:143-160, document.py:133-151) — its
per-step idempotence becomes an idempotent partition-overwrite write plus
a left-anti join at the read stage.

Sandbox storage is parquet with hash-bucketed url partitions (``pkey``);
on a real deployment the same layout maps to an Iceberg table with
``overwritePartitions()`` — REPLACE-by-PK ≙ partition overwrite keyed by
url bucket (reference ``_db.py:232-331``).

``AuditedRun.write`` computes a run's corrected rows once: it stages them,
with their ``pkey``, in ``<output>/_staging``, then appends that staged
read to ``corrected/`` and derives the run's lineage and bin metrics from
the same read. Correction is never repeated for the audit, and the audit
counts exactly the rows this run appended.
"""

from __future__ import annotations

import os
from typing import Optional

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: number of url-hash buckets used as the physical partition key; salts
#: skewed hosts across buckets (hash of full url, not host)
DEFAULT_BUCKETS = 64


def with_partition_key(df: DataFrame, buckets: int = DEFAULT_BUCKETS) -> DataFrame:
    """Deterministic url-hash bucket — the unit of overwrite/resume."""
    return df.withColumn("pkey", F.pmod(F.xxhash64("url"), F.lit(buckets)).cast("int"))


def bin_metrics(tokens: DataFrame) -> DataFrame:
    """Token-bin metrics (heuristics.py:118-122, A2/A3): per-bin counts +
    annotator workload, computed as one native aggregation."""
    return (
        tokens.where(F.col("bin").isNotNull())
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("token_count"),
            F.sum(F.when(F.col("heuristic") == "annotator", 1).otherwise(0)).alias(
                "annotator_required"
            ),
        )
        .orderBy("bin")
    )


def partition_lineage(staged: DataFrame, run_id: str) -> DataFrame:
    """Per-partition lineage of rows that carry their ``pkey``: url bucket
    -> doc/token counts + run id."""
    return (
        staged.groupBy("pkey")
        .agg(
            F.count(F.lit(1)).alias("url_count"),
            F.sum("index_count").alias("index_count"),
            F.sum("token_count").alias("token_count"),
            F.sum("corrected_count").alias("corrected_count"),
            F.min(F.col("done").cast("int")).cast("boolean").alias("completed"),
        )
        .withColumn("run_id", F.lit(run_id))
        .withColumn("lineage", F.concat_ws(":", F.lit("correctocr"), F.lit(run_id), F.col("pkey")))
    )


def partition_bin_metrics(staged: DataFrame, run_id: str) -> DataFrame:
    """Token-bin metrics per url partition (north rule): explode the
    per-doc ``bin_counts`` map of rows that carry their ``pkey`` and sum
    per (pkey, bin)."""
    return (
        staged.select("pkey", F.explode_outer("bin_counts").alias("bin", "n"))
        .where(F.col("bin").isNotNull())
        .groupBy("pkey", "bin")
        .agg(F.sum("n").alias("token_count"))
        .withColumn("run_id", F.lit(run_id))
    )


class AuditedRun:
    """Resumable run: anti-join completed urls, write results + audit.

    Rows are keyed into :data:`DEFAULT_BUCKETS` url buckets, one layout
    per output, so the per-bucket lineage of every run lines up."""

    def __init__(self, spark: SparkSession, output_dir: str, run_id: str = "run"):
        self.spark = spark
        self.output_dir = output_dir
        self.run_id = run_id
        self.corrected_path = os.path.join(output_dir, "corrected")
        self.audit_path = os.path.join(output_dir, "audit")
        self.bin_metrics_path = os.path.join(output_dir, "audit_bins")
        self.staging_path = os.path.join(output_dir, "_staging")

    def completed_urls(self) -> Optional[DataFrame]:
        """The urls already written, or ``None`` when ``corrected/`` does
        not exist yet. Every other read error raises: read as "nothing
        done", it would reprocess and duplicate every url."""
        try:
            done = self.spark.read.parquet(self.corrected_path)
        except AnalysisException as e:
            if e.getCondition() == "PATH_NOT_FOUND":
                return None
            raise
        return done.select("url")

    def pending(self, pages: DataFrame) -> DataFrame:
        """Checkpoint-resume: left-anti join against completed urls.

        No forced broadcast: after months of crawl processing the
        completed-url set is billions of rows and a broadcast hint would
        OOM the driver. AQE picks broadcast on its own whenever the set
        is actually small (pinned by test_resume_anti_join_not_forced).
        """
        done = self.completed_urls()
        if done is None:
            return pages
        return pages.join(done, on="url", how="left_anti")

    def write(self, corrected: DataFrame) -> None:
        """Append ``corrected`` to ``corrected/`` and this run's lineage
        and bin metrics to ``audit/`` and ``audit_bins/``, computing
        ``corrected`` once. A write that fails leaves ``_staging`` behind;
        the next write replaces it."""
        # Stage first. The append below refreshes every cached plan that
        # reads corrected/ (``pending`` among them), so nothing after it
        # may recompute ``corrected``; the audit reads the staged rows.
        keyed = with_partition_key(corrected)
        keyed.write.mode("overwrite").parquet(self.staging_path)
        staged = self.spark.read.parquet(self.staging_path)
        # The parquet reader makes every column nullable; appending under
        # the run's own schema keeps corrected/'s non-null columns REQUIRED.
        jspark = self.spark._jsparkSession
        rows = jspark.createDataFrame(staged._jdf.javaRDD(), jspark.parseDataType(keyed.schema.json()))
        DataFrame(rows, self.spark).write.mode("append").partitionBy("pkey").parquet(
            self.corrected_path
        )
        partition_lineage(staged, self.run_id).write.mode("append").parquet(self.audit_path)
        if "bin_counts" in staged.columns:
            partition_bin_metrics(staged, self.run_id).write.mode("append").parquet(
                self.bin_metrics_path
            )
        path = self.spark._jvm.org.apache.hadoop.fs.Path(self.staging_path)
        path.getFileSystem(jspark.sparkContext().hadoopConfiguration()).delete(path, True)
