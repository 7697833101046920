import os
import time

import pandas as pd
from pyspark.sql import functions as F

import eventlog
import run
from tracing import Tracer


def _tree(path):
    out = {}
    for dirpath, _dirs, names in os.walk(path):
        for name in names:
            full = os.path.join(dirpath, name)
            with open(full, "rb") as fh:
                out[os.path.relpath(full, path)] = fh.read()
    return out


def test_snapshot_restore_is_complete(spark, tmp_path):
    from correctocr_spark.spark.audit import AuditedRun
    from correctocr_spark.spark.pipeline import CORRECTED_SCHEMA

    row = {
        "corrected": "a b", "merged": "a b", "index_count": 2, "token_count": 2,
        "corrected_count": 2, "corrected_by_annotator_count": 0, "corrected_by_model_count": 2,
        "hyphenated_count": 0, "discarded_count": 0, "done": True, "bin_counts": {1: 2},
    }
    snapshot = str(tmp_path / "snapshot")
    cols = [f.name for f in CORRECTED_SCHEMA.fields]
    for batch in range(2):
        rows = [{"url": f"https://h.example/{batch}/{i}", **row} for i in range(30)]
        df = spark.createDataFrame(pd.DataFrame(rows, columns=cols), schema=CORRECTED_SCHEMA)
        AuditedRun(spark, snapshot, run_id=f"prior{batch}").write(df)
    out = str(tmp_path / "out")
    os.makedirs(os.path.join(out, "corrected", "pkey=999"))
    with open(os.path.join(out, "corrected", "pkey=999", "stale.parquet"), "wb") as fh:
        fh.write(b"stale")

    run.restore(snapshot, out)

    want = _tree(snapshot)
    assert {k for k in want if k.startswith("audit")} and {k for k in want if k.endswith(".crc")}
    assert _tree(out) == want
    assert spark.read.parquet(os.path.join(out, "corrected")).count() == 60


def test_event_log_groups_and_python_bytes(spark, event_log_dir):
    def double(batches):
        for pdf in batches:
            yield pdf.assign(id=pdf["id"] * 2)

    tracer = Tracer(spark.sparkContext)
    with tracer.span("outer"):
        with tracer.span("inner.python"):
            spark.range(1000, numPartitions=2).mapInPandas(double, "id long").write.format("noop").mode(
                "overwrite"
            ).save()
        spark.range(10).groupBy((F.col("id") % 2).alias("k")).count().collect()
    assert [s["name"] for s in tracer.spans] == ["inner.python", "outer"]
    assert tracer.spans[0]["parent"] == "outer" and tracer.spans[1]["parent"] is None

    # the log is flushed at job end; read what is there so far
    path = [os.path.join(event_log_dir, f) for f in os.listdir(event_log_dir)][0]
    groups = eventlog.parse(path)
    assert {"outer", "inner.python"} <= set(groups)
    inner = groups["inner.python"]
    assert inner.jobs >= 1 and inner.tasks >= 2
    assert inner.to_python_bytes > 0 and inner.from_python_bytes > 0
    assert groups["outer"].shuffle_write_bytes > 0
    assert groups["outer"].to_python_bytes == 0
    assert inner.wall_s > 0


def test_python_timers_fit_in_the_task_time(spark, event_log_dir):
    """Three pipelined Python operators per task, run twice with a pause
    between, so the second run reuses idle workers: the parsed Python
    seconds must fit in the tasks' own time and in cores x the job's wall
    time."""

    def slow(batches):
        for pdf in batches:
            time.sleep(0.2)
            yield pdf

    tracer = Tracer(spark.sparkContext)
    for name in ("chain.fresh", "chain.reused"):
        with tracer.span(name):
            df = spark.range(1000, numPartitions=2)
            for _ in range(3):
                df = df.mapInPandas(slow, "id long")
            df.write.format("noop").mode("overwrite").save()
        time.sleep(1.5)

    path = [os.path.join(event_log_dir, f) for f in os.listdir(event_log_dir)][0]
    groups = eventlog.parse(path)
    cores = spark.sparkContext.defaultParallelism
    assert groups["chain.fresh"].python_start_ms > 0 and groups["chain.fresh"].python_init_ms > 0
    for name in ("chain.fresh", "chain.reused"):
        chain = groups[name]
        task_ms = sum(sum(times) for times in chain.stage_task_ms.values())
        assert chain.python_run_ms > 0
        for timer in (chain.python_run_ms, chain.python_start_ms, chain.python_init_ms):
            assert timer <= task_ms <= cores * chain.wall_s * 1000
