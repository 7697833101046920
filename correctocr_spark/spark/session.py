"""SparkSession construction with scale-appropriate defaults."""

from __future__ import annotations

import functools
import gc
import hashlib
import os
import sys
import tempfile
import zipfile
import zipimport
from typing import Dict, Optional

from pyspark.sql import SparkSession


def keep_zip_directories() -> None:
    """Make ``importlib.invalidate_caches()`` re-read a zip archive on
    ``sys.path`` only when the archive changed. Idempotent, per process.

    A reused PySpark worker calls ``importlib.invalidate_caches()`` at the
    start of every task. Before CPython 3.13 each ``zipimporter`` then
    re-parses its archive's whole central directory in pure Python, most
    of them over the 1,328-entry ``pyspark.zip`` and the spark-core jar:
    about 0.2 s of CPU per task on CPython 3.11. The patched method stats
    the archive and re-reads it only when ``(st_mtime_ns, st_size,
    st_ino)`` differs from the stamp of that importer's last read, so a
    changed archive is still re-read; a missing archive takes the
    original path. CPython 3.13 made the invalidation lazy, and there
    this does nothing.
    """
    if sys.version_info >= (3, 13):
        return
    original = zipimport.zipimporter.invalidate_caches
    if getattr(original, "__wrapped__", None) is not None:
        return

    @functools.wraps(original)
    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            self._directory_stamp = None
            return original(self)
        stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
        if getattr(self, "_directory_stamp", None) != stamp:
            original(self)
            self._directory_stamp = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches


_heap_frozen = False


def freeze_worker_heap() -> None:
    """Move every object alive now into the collector's permanent
    generation: ``gc.collect(); gc.freeze()`` on the first call in a
    process, nothing on later calls.

    PySpark's daemon (``pyspark/daemon.py``) runs a full ``gc.collect()``
    after every task of a reused worker. Without a freeze each of those
    walks every long-lived object of the worker, the imported modules
    and the broadcast model among them (about 75k objects, some 50 ms of
    CPU per task on CPython 3.11). Called once the broadcast value is
    loaded, the later collections see only what later tasks allocate.
    Frozen objects are never collected again, so call it when what is
    alive is meant to stay: a worker's code and its broadcast state.
    """
    global _heap_frozen
    if _heap_frozen:
        return
    gc.collect()
    gc.freeze()
    _heap_frozen = True


def ship_package(spark: SparkSession) -> None:
    """Ship ``correctocr_spark`` to executors (``--py-files`` equivalent).

    Python workers unpickle UDFs in their own interpreters; without this,
    any job launched from outside the repo root fails with
    ``ModuleNotFoundError``. On a real cluster the same artifact goes to
    ``spark-submit --py-files``; here we zip the package once (content-
    hashed, idempotent) and ``addPyFile`` it.
    """
    # Memoized per SparkContext: each query of the driver contract calls
    # this on construction, and the walk + md5 + addPyFile RPC (a few ms
    # each) is pure driver-side overhead after the first call on a context. The
    # guard lives on the context object so a restarted session re-ships.
    sc = spark.sparkContext
    if getattr(sc, "_correctocr_pkg_shipped", False):
        return
    pkg_dir = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    root = os.path.dirname(pkg_dir)
    digest = hashlib.md5()
    py_files = []
    for dirpath, _dirnames, filenames in os.walk(pkg_dir):
        for name in sorted(filenames):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                py_files.append(path)
                with open(path, "rb") as fh:
                    digest.update(fh.read())
    zip_path = os.path.join(
        tempfile.gettempdir(), f"correctocr_spark-{digest.hexdigest()[:12]}.zip"
    )
    if not os.path.exists(zip_path):
        tmp = zip_path + ".tmp"
        with zipfile.ZipFile(tmp, "w") as zf:
            for path in py_files:
                zf.write(path, os.path.relpath(path, root))
        os.replace(tmp, zip_path)
    sc.addPyFile(zip_path)
    sc._correctocr_pkg_shipped = True


def get_spark(
    app_name: str = "correctocr-spark",
    cores: Optional[int] = None,
    shuffle_partitions: Optional[int] = None,
    extra_conf: Optional[Dict[str, str]] = None,
) -> SparkSession:
    """Local-mode session tuned like the cluster job would be.

    - AQE on: runtime shuffle-partition coalescing + skew-join splitting
      (the url/host skew mitigation the north rule asks for);
    - Arrow on: all pandas UDFs move data in columnar batches;
    - shuffle partitions sized to parallelism (local) — on a real cluster
      leave it to AQE's coalescing from a higher initial value.

    ``cores`` defaults to ``SPARK_GRAFT_CPUS``, else to the CPUs this
    process may run on.
    """
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # InferFiltersFromGenerate turns every explode(expr) into an
        # inferred `size(expr) > 0` filter and pushes it below the
        # exchange toward the scan — so the generator expression (the
        # shingle/gram/bucket HOF builds this package explodes
        # everywhere) is evaluated TWICE per row, the first time on the
        # pre-repartition partitioning (serialized onto one task for a
        # single-split scan; measured 2.65 s -> 0.33 s for the sf0.1
        # shingle explode). The inferred filter only saves shuffling
        # rows whose generator comes up empty — never worth paying the
        # generator twice here, at any scale. Scale-independent: this
        # excludes a rewrite, it does not size anything to local mode.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    ship_package(spark)
    return spark
