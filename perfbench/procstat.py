"""Process-tree CPU and RSS from ``/proc`` (no psutil on the target box).

The tree is this process and every descendant: the Spark JVM, the
PySpark worker daemon and its forked workers. CPU of the tree counts
``utime + stime + cutime + cstime`` of each live member, so a worker that
exited and was reaped by a live parent stays counted. The RSS sum counts
only members present in two consecutive samples: the JVM starts Python
through short-lived spawn children that share its address space, and
counting one of those would add the whole JVM a second time.
"""

from __future__ import annotations

import os
import signal
import threading
import time
from typing import Dict, Iterable, Optional, Tuple

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> Optional[Tuple[int, int, float, int, bytes]]:
    """(ppid, starttime, cpu seconds incl. reaped children, rss bytes,
    state)."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            raw = fh.read()
    except OSError:
        return None
    fields = raw[raw.rindex(b")") + 2 :].split()
    # fields[0] is field 3 (state) of proc(5)
    cpu = sum(int(fields[i]) for i in (11, 12, 13, 14)) / _TICK
    return int(fields[1]), int(fields[19]), cpu, int(fields[21]) * _PAGE, fields[0]


def process_age() -> float:
    """Seconds since this process started (its ``/proc`` start time is in
    clock ticks since boot)."""
    return time.clock_gettime(time.CLOCK_BOOTTIME) - _stat(os.getpid())[1] / _TICK


def steal_seconds(cpus: Iterable[int]) -> Dict[str, float]:
    """Steal time so far of each of ``cpus``: the time the virtual CPU was
    ready to run while the hypervisor ran something else (the eighth
    field of its ``/proc/stat`` line; 0 on bare metal)."""
    wanted = {f"cpu{c}" for c in cpus}
    out = {}
    with open("/proc/stat", encoding="ascii") as fh:
        for line in fh:
            fields = line.split()
            if fields and fields[0] in wanted:
                out[fields[0]] = int(fields[8]) / _TICK
    return out


def tree(root: int) -> Dict[int, Tuple[int, float, int]]:
    """pid -> (starttime, cpu seconds, rss bytes) for ``root`` and its
    descendants."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    children: Dict[int, list] = {}
    for pid, st in stats.items():
        children.setdefault(st[0], []).append(pid)
    out = {}
    todo = [root]
    while todo:
        pid = todo.pop()
        st = stats.get(pid)
        if st is None:
            continue
        out[pid] = (st[1], st[2], st[3])
        todo.extend(children.get(pid, ()))
    return out


class TreeSampler:
    """Samples the tree's summed RSS on a thread; remembers every member
    it saw so :meth:`wait_gone` can make sure all of them ended."""

    def __init__(self, interval: float = 0.05, root: Optional[int] = None):
        self.root = root or os.getpid()
        self.interval = interval
        self.peak_rss = 0
        self.seen: Dict[int, int] = {}  # pid -> starttime
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="tree-sampler", daemon=True)

    def __enter__(self) -> "TreeSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    def sample(self) -> Dict[int, Tuple[int, float, int]]:
        """The tree now (see :func:`tree`); remembers its members."""
        members = tree(self.root)
        with self._lock:
            for pid, (start, _cpu, _rss) in members.items():
                self.seen[pid] = start
        return members

    def cpu(self) -> float:
        """Tree CPU seconds now."""
        return sum(m[1] for m in self.sample().values())

    def reset_peak(self) -> None:
        with self._lock:
            self.peak_rss = 0

    def _run(self) -> None:
        previous: set = set()
        while not self._stop.wait(self.interval):
            members = self.sample()
            current = {(pid, m[0]) for pid, m in members.items()}
            rss = sum(m[2] for pid, m in members.items() if (pid, m[0]) in previous)
            previous = current
            with self._lock:
                self.peak_rss = max(self.peak_rss, rss)

    def wait_gone(self, timeout: float = 60.0) -> None:
        """Wait until every process seen (other than this one) has ended;
        terminate stragglers after ``timeout``."""
        others = {p: s for p, s in self.seen.items() if p != os.getpid()}
        deadline = time.monotonic() + timeout
        while True:
            alive = _alive(others)
            if not alive:
                return
            if time.monotonic() > deadline:
                break
            time.sleep(0.1)
        for pid in alive:
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass
        deadline = time.monotonic() + 10
        while _alive(others) and time.monotonic() < deadline:
            time.sleep(0.1)


def _alive(members: Dict[int, int]) -> Iterable[int]:
    out = []
    for pid, start in members.items():
        st = _stat(pid)
        if st is not None and st[1] == start and st[4] != b"Z":
            out.append(pid)
    return out
