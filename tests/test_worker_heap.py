"""``freeze_worker_heap``: a PySpark worker freezes its heap once, on its
first correction task, and its later tasks leave the frozen objects out
of the daemon's per-task ``gc.collect()``."""

import gc

import pytest

from correctocr_spark.spark import session
from correctocr_spark.spark.session import freeze_worker_heap

pytestmark = pytest.mark.engine


def test_freeze_is_once_per_process(monkeypatch):
    calls = []
    monkeypatch.setattr(session, "_heap_frozen", False)
    monkeypatch.setattr(gc, "collect", lambda *a: calls.append("collect") or 0)
    monkeypatch.setattr(gc, "freeze", lambda: calls.append("freeze"))
    freeze_worker_heap()
    freeze_worker_heap()
    assert calls == ["collect", "freeze"]


def test_worker_freezes_once_and_collects_far_fewer_objects(spark):
    """Single-task jobs, each calling the helper where the correction
    task does, until one worker has run two of them: its later task
    finds the heap frozen, does not freeze again, and the collector
    tracks far fewer objects than the permanent generation holds."""

    def probe(batches):
        import gc
        import os

        import pandas as pd

        from correctocr_spark.spark.session import freeze_worker_heap

        for _ in batches:
            pass
        before = gc.get_freeze_count()
        freeze_worker_heap()
        after = gc.get_freeze_count()
        yield pd.DataFrame(
            {"pid": [os.getpid()], "before": [before], "after": [after], "tracked": [len(gc.get_objects())]}
        )

    df = spark.range(1).coalesce(1)
    schema = "pid long, before long, after long, tracked long"
    seen = {}
    for _ in range(12):
        (row,) = df.mapInPandas(probe, schema).collect()
        if row["pid"] in seen:
            break
        seen[row["pid"]] = row
        assert row["after"] > 0  # frozen by this task or an earlier one
    else:
        pytest.fail("no Python worker ran two of the tasks")
    assert row["before"] > 0
    assert row["after"] == row["before"]
    assert row["tracked"] * 3 < row["after"]
