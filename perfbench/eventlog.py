"""Spark event-log parser: counters per job group.

Reads an uncompressed, non-rolling event log (``spark.eventLog.compress``
and ``spark.eventLog.rolling.enabled`` off) and sums task metrics and the
Python runner's SQL metrics per ``spark.jobGroup.id``. Timing SQL
metrics are milliseconds; size metrics are bytes.

Spark's three Python timers per operator and task (``BasePythonRunner``)
are, with ``start`` the runner's start in the JVM, ``boot`` the worker's
entry into its task loop, ``init`` the end of reading the UDFs and
``finish`` the end of the output:

- "time to start Python workers" = boot - start, recorded only when
  positive, i.e. when the worker was forked for this task;
- "time to initialize Python workers" = init - boot. A reused worker
  stamps ``boot`` when it finishes its previous task and then waits for
  the next one, so on a reused worker this timer also counts its idle
  time between tasks. Only the operators whose worker was forked for the
  task (start timer recorded) count here;
- "time to run Python workers" = finish - start: the whole Python side of
  the task, start and initialization included.

A task that runs several Python operators (pipelined ``mapInPandas`` or
pandas-UDF nodes) reports each operator's timers separately, and they
overlap: the operators' workers run at the same time, and a downstream
operator's clock runs while it waits on the upstream one. A task
therefore adds the longest of its operators' values of each timer, so
each timer fits in the task's own time. Byte counters are summed over
operators: each operator really moves its bytes. Operators are told
apart by the SQL plan nodes the metrics belong to.
"""

from __future__ import annotations

import json
import os
import statistics
from dataclasses import dataclass, field, fields
from typing import Dict, List, Tuple

#: Python runner SQL timing metric name -> short name
_PY_TIMERS = {
    "time to run Python workers": "run",
    "time to start Python workers": "start",
    "time to initialize Python workers": "init",
}
#: Python runner SQL size metric name -> GroupStats field (summed)
_PY_BYTES = {
    "data sent to Python workers": "to_python_bytes",
    "data returned from Python workers": "from_python_bytes",
}


@dataclass
class GroupStats:
    jobs: int = 0
    intervals: List[Tuple[int, int]] = field(default_factory=list)
    tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    result_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    python_run_ms: int = 0
    python_start_ms: int = 0
    python_init_ms: int = 0
    to_python_bytes: int = 0
    from_python_bytes: int = 0
    stage_task_ms: Dict[int, List[int]] = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        """Seconds covered by the union of the group's job intervals."""
        total = 0
        end = None
        for s, e in sorted(self.intervals):
            if end is None or s > end:
                total += e - s
                end = e
            elif e > end:
                total += e - end
                end = e
        return total / 1000.0

    @property
    def task_skew(self) -> float:
        """Worst stage's longest task over its median task (>= 2 tasks)."""
        worst = 1.0
        for times in self.stage_task_ms.values():
            if len(times) >= 2:
                worst = max(worst, max(times) / max(statistics.median(times), 1.0))
        return worst


def log_files(directory: str) -> List[str]:
    return sorted(
        os.path.join(directory, f)
        for f in os.listdir(directory)
        if not f.startswith(".") and not f.endswith(".inprogress")
    )


def parse(path: str) -> Dict[str, GroupStats]:
    """Job group id -> its stats. Jobs outside any group go to ``""``."""
    with open(path, encoding="utf-8") as fh:
        events = [json.loads(line) for line in fh]
    # SQL execution starts and AQE re-plans name each metric's plan node;
    # with AQE a stage's node often appears only after its tasks ended
    node_of: Dict[int, int] = {}  # SQL metric accumulator id -> plan node key
    for ev in events:
        if "sparkPlanInfo" in ev:
            _plan_nodes(ev["sparkPlanInfo"], node_of)
    groups: Dict[str, GroupStats] = {}
    stage_group: Dict[int, str] = {}
    job_group: Dict[int, str] = {}
    job_start: Dict[int, int] = {}
    for ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            gid = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            job_group[ev["Job ID"]] = gid
            job_start[ev["Job ID"]] = ev["Submission Time"]
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = gid
            groups.setdefault(gid, GroupStats()).jobs += 1
        elif kind == "SparkListenerJobEnd":
            gid = job_group.get(ev["Job ID"], "")
            start = job_start.get(ev["Job ID"], ev["Completion Time"])
            groups.setdefault(gid, GroupStats()).intervals.append((start, ev["Completion Time"]))
        elif kind == "SparkListenerTaskEnd":
            g = groups.setdefault(stage_group.get(ev["Stage ID"], ""), GroupStats())
            _add_task(g, ev, node_of)
    return groups


def _plan_nodes(info: dict, node_of: Dict[int, int]) -> None:
    """Map each SQL metric of the plan to its node (keyed by the node's
    first metric id)."""
    ids = [m["accumulatorId"] for m in info.get("metrics", [])]
    for acc_id in ids:
        node_of[acc_id] = ids[0]
    for child in info.get("children", []):
        _plan_nodes(child, node_of)


def _add_task(g: GroupStats, ev: dict, node_of: Dict[int, int]) -> None:
    info = ev["Task Info"]
    m = ev.get("Task Metrics") or {}
    g.tasks += 1
    g.run_ms += m.get("Executor Run Time", 0)
    g.cpu_ns += m.get("Executor CPU Time", 0)
    g.gc_ms += m.get("JVM GC Time", 0)
    g.result_bytes += m.get("Result Size", 0)
    g.spill_bytes += m.get("Disk Bytes Spilled", 0)
    read = m.get("Shuffle Read Metrics") or {}
    g.shuffle_read_bytes += read.get("Remote Bytes Read", 0) + read.get("Local Bytes Read", 0)
    g.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    key = ev["Stage ID"] * 1000 + ev.get("Stage Attempt ID", 0)
    g.stage_task_ms.setdefault(key, []).append(info["Finish Time"] - info["Launch Time"])
    timers: Dict[int, Dict[str, int]] = {}  # plan node -> timer -> ms
    for acc in info.get("Accumulables", []):
        if acc.get("Update") is None:
            continue
        name = acc.get("Name")
        if name in _PY_BYTES:
            field_name = _PY_BYTES[name]
            setattr(g, field_name, getattr(g, field_name) + int(acc["Update"]))
        elif name in _PY_TIMERS:
            node = node_of.get(acc["ID"], acc["ID"])
            timers.setdefault(node, {})[_PY_TIMERS[name]] = int(acc["Update"])
    if timers:
        ops = timers.values()
        g.python_run_ms += max(t.get("run", 0) for t in ops)
        g.python_start_ms += max(t.get("start", 0) for t in ops)
        g.python_init_ms += max(t.get("init", 0) if t.get("start", 0) > 0 else 0 for t in ops)


def merge(stats: List[GroupStats]) -> GroupStats:
    """Sum several groups into one (stage keys stay distinct)."""
    out = GroupStats()
    for g in stats:
        for f in fields(GroupStats):
            value = getattr(g, f.name)
            if isinstance(value, int):
                setattr(out, f.name, getattr(out, f.name) + value)
        out.intervals.extend(g.intervals)
        out.stage_task_ms.update(g.stage_task_ms)
    return out
