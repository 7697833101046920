"""Benchmark of the extraction+correction job (see README.md beside this file).

    python3 perfbench/run.py --workload text_longtail --seed 1 --seconds 6 --trace 0

Run from the repository root. Everything the run writes goes under
``.perfbench_work/`` there. The last line of standard output is one JSON
object: ``correct``, ``attempted`` (input urls checked), ``failed`` (urls
missing, duplicated or not byte-identical to the oracle) and ``metrics`` —
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``.
"""

from __future__ import annotations

import argparse
import json
import multiprocessing.resource_tracker
import os
import pickle
import shutil
import statistics
import sys
import tempfile
import time
import traceback

import eventlog
import fixture
import gen
import kernel_probe
import oracle
from procstat import TreeSampler, process_age, steal_seconds
from tracing import NoTracer, Tracer

STEAL_AT_START = steal_seconds(os.sched_getaffinity(0))

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

#: input documents per workload
SIZES = {"html_zipf": 2000, "text_longtail": 600}
STRATEGY = {"html_zipf": "auto", "text_longtail": "join"}
DEFAULT_SEED = 1  # the seed whose oracle digests are frozen under oracle/
MIN_REPS = 2  # timed jobs per run at least (see Bench.measure)
# Untimed jobs between the warm-up job and the first timed one. The JVM and
# the reused Python workers keep getting faster for several jobs: job walls
# after the warm-up read 3.80 3.28 3.52 3.20 3.33 2.85 3.00 2.79 s
# (html_zipf) and 5.24 4.61 4.52 4.51 s (text_longtail at 500 pages), tree
# CPU per job falling with them.
STEADY_JOBS = {"html_zipf": 3, "text_longtail": 1}
KERNEL_SAMPLE = 300  # pages timed by the kernel probe
# Driver heap. Under the program's 8 GB default the JVM's resident size
# depends on when its collector grows the heap: peak_rss_mb spread 15-22%
# over ten seeds, against 5-7% with 1 GB.
DRIVER_MEMORY = "1g"

#: metric -> (unit, better); BENCHMARK.json lists the same names
E2E = {
    "docs_per_s": ("doc/s", "higher"),
    "cpu_s_per_kdoc": ("s", "lower"),
    "setup_s": ("s", "lower"),
    "peak_rss_mb": ("MB", "lower"),
}
LAYER = {
    "session.start_s": ("s", "lower"),
    "resources.build_s": ("s", "lower"),
    "resources.pickled_bytes": ("bytes", "lower"),
    "extract.us_per_doc": ("us", "lower"),
    "extract.text_yield": ("ratio", "higher"),
    "pipeline.extract_s": ("s", "lower"),
    "hmm.us_per_word": ("us", "lower"),
    "hmm.distinct_word_ratio": ("ratio", "lower"),
    "pipeline.kbest_table_s": ("s", "lower"),
    "kernel.tokenize_us_per_doc": ("us", "lower"),
    "kernel.bin_us_per_token": ("us", "lower"),
    "kernel.finish_us_per_doc": ("us", "lower"),
    "kernel.decision_memo_hit_ratio": ("ratio", "higher"),
    "pipeline.plan_s": ("s", "lower"),
    "pipeline.correct_s": ("s", "lower"),
    "pipeline.python_run_s": ("s", "lower"),
    "pipeline.python_start_s": ("s", "lower"),
    "pipeline.python_init_s": ("s", "lower"),
    "pipeline.arrow_to_python_bytes": ("bytes", "lower"),
    "pipeline.arrow_from_python_bytes": ("bytes", "lower"),
    "pipeline.shuffle_write_bytes": ("bytes", "lower"),
    "pipeline.shuffle_read_bytes": ("bytes", "lower"),
    "pipeline.spill_bytes": ("bytes", "lower"),
    "pipeline.gc_s": ("s", "lower"),
    "pipeline.driver_result_bytes": ("bytes", "lower"),
    "pipeline.task_skew": ("ratio", "lower"),
    "pipeline.cpu_busy_share": ("ratio", "higher"),
    "pipeline.tasks": ("count", "lower"),
    "audit.pending_s": ("s", "lower"),
    "audit.write_s": ("s", "lower"),
    "audit.files_written": ("count", "lower"),
    "audit.bytes_written": ("bytes", "lower"),
    "audit.skipped_share": ("ratio", "higher"),
    "out_bytes_per_in_byte": ("ratio", "lower"),
    "trace.overhead_share": ("ratio", "lower"),
}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def most_stolen(before: dict, after: dict, less: dict = None) -> float:
    """Steal seconds of the core that lost the most between two
    :func:`steal_seconds` readings, less each core's steal in ``less``."""
    less = less or {}
    return max((after[c] - before[c] - less.get(c, 0.0) for c in before), default=0.0)


def granted(wall: float, stolen: float) -> float:
    """Seconds of ``wall`` the job was given: less the steal time of the
    core that lost the most (see README, *End-to-end metrics*)."""
    return wall - stolen


def tree_bytes(path: str):
    """(files, bytes) under ``path``."""
    files = size = 0
    for dirpath, _dirs, names in os.walk(path):
        for name in names:
            files += 1
            size += os.path.getsize(os.path.join(dirpath, name))
    return files, size


def restore(snapshot: str, out: str) -> None:
    shutil.rmtree(out, ignore_errors=True)
    shutil.copytree(snapshot, out)


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, sampler):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.sampler = sampler
        self.dir = os.path.join(WORK, workload)
        self.pages_dir = os.path.join(self.dir, "pages")
        self.snapshot_dir = os.path.join(self.dir, "snapshot")
        self.out_dir = os.path.join(self.dir, "out")
        self.html = gen.SHAPES[workload]["html"]
        self.spark = None
        self.notes = []
        self.failing = set()  # urls the oracle check failed, over every check
        self.integrity = set()  # problems in committed tables (check_committed)
        self.audit = {
            "audit.skipped_share": 0.0,
            "audit.files_written": 0,
            "audit.bytes_written": 0,
            "out_bytes_per_in_byte": 0.0,
        }

    # -- set-up ----------------------------------------------------------------

    def prepare_fixture(self) -> None:
        ids = list(range(SIZES[self.workload]))
        cpus = os.sched_getaffinity(0)
        s0, t = steal_seconds(cpus), time.perf_counter()
        # generated (and cached) here, so set-up's model build does not pay for it
        gen.gold_vocabulary(gen.SHAPES[self.workload]["vocab"])
        self.fx = fixture.prepare(self.workload, self.seed, ids, self.pages_dir, nproc())
        self.fixture_s = time.perf_counter() - t
        s1 = steal_seconds(cpus)
        self.fixture_steal = {c: s1[c] - s0[c] for c in s0}
        self.input_ids = ids
        if self.fx["oracle"] == "kernel":
            self.notes.append(f"oracle: no frozen digests for seed {self.seed}; computed with the kernel before timing")

    def conf(self, event_log: str = "") -> dict:
        conf = {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": os.path.join(WORK, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if event_log:
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + event_log,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        return conf

    def setup(self, event_log: str = "") -> dict:
        """Session, model + broadcast, input read and one warm-up job: the
        workload's job with its corrected rows collected and checked
        against the oracle, then ``STEADY_JOBS`` untimed jobs. Returns stage
        seconds; ``ready`` is the age of this process when they ended,
        ``stolen`` the steal seconds of the core that lost the most from
        the start of the process to then, the fixture's excepted."""
        from correctocr_spark.spark.pipeline import CorrectionPipeline
        from correctocr_spark.spark.session import get_spark

        times = {}
        t = time.perf_counter()
        self.spark = get_spark(app_name=f"perfbench-{self.workload}", cores=nproc(), extra_conf=self.conf(event_log))
        times["session"] = time.perf_counter() - t
        self.spark.sparkContext.setLogLevel("ERROR")
        t = time.perf_counter()
        self.res = gen.build_resources(self.workload)
        times["model_build"] = time.perf_counter() - t
        self.pipe = CorrectionPipeline(self.spark, self.res, use_html=self.html)
        times["model"] = time.perf_counter() - t
        t = time.perf_counter()
        self.pages = self.spark.read.parquet(self.pages_dir)
        times["read"] = time.perf_counter() - t
        times["warmup"], _cpu, _stolen, rows = self.job(self.pages, collect=True)
        self.failing.update(oracle.check(self.fx["expected"], rows)[1])
        t = time.perf_counter()
        for _ in range(STEADY_JOBS[self.workload]):
            self.job(self.pages)
        times["steady"] = time.perf_counter() - t
        times["ready"] = process_age()
        times["stolen"] = most_stolen(STEAL_AT_START, steal_seconds(os.sched_getaffinity(0)), self.fixture_steal)
        return times

    # -- the job ---------------------------------------------------------------

    def job(self, pages, tracer=None, collect=False):
        """One run of the workload's job. Returns (wall s, tree cpu s,
        steal s of the core that lost the most, collected ``(url,
        corrected, merged)`` rows or None). With ``collect`` the corrected
        rows are collected instead of written to the noop sink."""
        tracer = tracer or NoTracer()
        cpus = os.sched_getaffinity(0)
        s0, c0, t0 = steal_seconds(cpus), self.sampler.cpu(), time.perf_counter()
        with tracer.span("job"):
            with tracer.span("pipeline.plan"):
                out = self.pipe.corrected(pages, strategy=STRATEGY[self.workload])
            with tracer.span("pipeline.correct"):
                if collect:
                    rows = out.select("url", "corrected", "merged").collect()
                else:
                    out.write.format("noop").mode("overwrite").save()
                    rows = None
        wall = time.perf_counter() - t0
        return wall, self.sampler.cpu() - c0, most_stolen(s0, steal_seconds(cpus)), rows

    def measure(self) -> dict:
        """Repeat the job until ``seconds`` have passed, and at least
        ``MIN_REPS`` times."""
        docs = self.fx["docs"]
        walls, cpus, stolen = [], [], []
        self.sampler.reset_peak()
        deadline = time.perf_counter() + self.seconds
        while len(walls) < MIN_REPS or time.perf_counter() < deadline:
            wall, cpu, steal, _rows = self.job(self.pages)
            walls.append(wall)
            cpus.append(cpu)
            stolen.append(steal)
        self.notes.append(
            f"timed jobs: wall docs/s median {statistics.median(docs / w for w in walls):.6g}, "
            f"steal of the most-stolen core {sum(stolen) / sum(walls):.2%} of the jobs' wall"
        )
        return {
            "walls": walls,
            "docs_per_s": statistics.median(docs / granted(w, s) for w, s in zip(walls, stolen)),
            "cpu_s_per_kdoc": statistics.median(c / docs * 1000 for c in cpus),
            "peak_rss_mb": self.sampler.peak_rss / 2**20,
        }

    # -- output check ------------------------------------------------------------

    def check_committed(self) -> None:
        """Check the committed output and audit tables the audit probe
        left: every input url once and byte-identical, rows of the earlier
        run untouched, lineage and bin metrics for this run."""
        from pyspark.sql import functions as F

        expected = self.fx["expected"]
        rows = self.spark.read.parquet(os.path.join(self.out_dir, "corrected")).select("url", "corrected", "merged").collect()
        self.failing.update(oracle.check(expected, [r for r in rows if r["url"] in expected])[1])
        in_snapshot = len(self.snapshot_urls.intersection(expected))
        written = len(rows) - len(self.snapshot_urls)
        others = [r["url"] for r in rows if r["url"] not in expected]
        if sorted(others) != sorted(self.snapshot_urls.difference(expected)):
            self.integrity.add("rows of earlier batches changed")
        audit = self.spark.read.parquet(os.path.join(self.out_dir, "audit"))
        lineage = audit.where(F.col("run_id") == "bench").agg(F.sum("url_count")).first()[0] or 0
        if lineage != written:
            self.integrity.add(f"audit lineage counts {lineage} urls, {written} written")
        bins = self.spark.read.parquet(os.path.join(self.out_dir, "audit_bins"))
        if bins.where(F.col("run_id") == "bench").count() == 0:
            self.integrity.add("no audit bin metrics for this run")
        files, size = tree_bytes(self.out_dir)
        self.audit = {
            "audit.skipped_share": (len(expected) - written) / in_snapshot,
            "audit.files_written": files - self.snapshot_files,
            "audit.bytes_written": size - self.snapshot_bytes,
            "out_bytes_per_in_byte": (size - self.snapshot_bytes) / self.fx["parquet_bytes"],
        }

    # -- traced run ---------------------------------------------------------------

    def traced(self) -> dict:
        """Set-up with the event log on, timed jobs with a job group per
        span, then the layer probes and the single-process kernel timings."""
        log_dir = os.path.join(WORK, "eventlog", f"{self.workload}-{self.seed}-{os.getpid()}")
        shutil.rmtree(log_dir, ignore_errors=True)
        os.makedirs(log_dir)
        setup = self.setup(event_log=log_dir)
        tracer = Tracer(self.spark.sparkContext)
        # Each traced job is followed by one without spans, so the JVM's
        # warm-up weighs on both alike (traced jobs in a second session
        # against the untraced jobs of a first one read tracing as 38%
        # faster). Both run with the event log on: switching it needs a
        # new session.
        traced, plain = [], []
        deadline = time.perf_counter() + self.seconds
        while len(traced) < MIN_REPS or time.perf_counter() < deadline:
            wall, _cpu, steal, _rows = self.job(self.pages, tracer)
            traced.append(granted(wall, steal))
            wall, _cpu, steal, _rows = self.job(self.pages)
            plain.append(granted(wall, steal))
        with tracer.span("pipeline.extract"):
            self.pipe.extracted(self.pages).write.format("noop").mode("overwrite").save()
        with tracer.span("pipeline.kbest_table"):
            self.pipe.kbest_table(self.pipe.vocab(self.pages)).write.format("noop").mode("overwrite").save()
        if self.workload == "html_zipf":
            self.audit_probe(tracer)
        self.spark.stop()  # flushes and closes the event log
        self.spark = None
        groups = eventlog.parse(eventlog.log_files(log_dir)[0])
        main = eventlog.merge([g for name, g in groups.items() if name in ("job", "pipeline.plan", "pipeline.correct")])
        reps = len(traced)
        sample = gen.PageMaker(self.workload, self.seed).pages(self.input_ids[:KERNEL_SAMPLE])
        metrics = kernel_probe.probe(sample, self.res)

        def span_s(name):
            d = tracer.durations(name)
            return statistics.median(d) if d else 0.0

        metrics.update(
            {
                "hmm.distinct_word_ratio": self.fx["distinct_word_ratio"],
                "pipeline.plan_s": span_s("pipeline.plan"),
                "pipeline.correct_s": span_s("pipeline.correct"),
                "pipeline.extract_s": span_s("pipeline.extract"),
                "pipeline.kbest_table_s": span_s("pipeline.kbest_table"),
                "pipeline.python_run_s": main.python_run_ms / 1000 / reps,
                "pipeline.python_start_s": main.python_start_ms / 1000 / reps,
                "pipeline.python_init_s": main.python_init_ms / 1000 / reps,
                "pipeline.arrow_to_python_bytes": main.to_python_bytes / reps,
                "pipeline.arrow_from_python_bytes": main.from_python_bytes / reps,
                "pipeline.shuffle_write_bytes": main.shuffle_write_bytes / reps,
                "pipeline.shuffle_read_bytes": main.shuffle_read_bytes / reps,
                "pipeline.spill_bytes": main.spill_bytes / reps,
                "pipeline.gc_s": main.gc_ms / 1000 / reps,
                "pipeline.driver_result_bytes": main.result_bytes / reps,
                "pipeline.task_skew": main.task_skew,
                "pipeline.cpu_busy_share": main.cpu_ns / 1e6 / max(main.run_ms, 1),
                "pipeline.tasks": main.tasks / reps,
                "audit.pending_s": span_s("audit.pending"),
                "audit.write_s": span_s("audit.write"),
                "trace.overhead_share": 1.0 - statistics.median(plain) / statistics.median(traced),
                "session.start_s": setup["session"],
                "resources.build_s": setup["model_build"],
                "resources.pickled_bytes": len(pickle.dumps(self.res)),
                **self.audit,
            }
        )
        tracer.save(
            os.path.join(WORK, f"trace-{self.workload}-{self.seed}.json"),
            {"groups": {name: {**vars(g), "wall_s": g.wall_s} for name, g in groups.items()}},
        )
        return {"setup": setup, "walls": traced, "metrics": metrics}

    def audit_probe(self, tracer) -> None:
        """html_zipf, traced: the CLI prepare sequence (``AuditedRun.pending``,
        ``corrected``, ``AuditedRun.write``) once on the whole input, against
        an output table the program first wrote from the input's first
        half, so that half is skipped."""
        from correctocr_spark.spark.audit import AuditedRun

        first_half = sorted(os.listdir(self.pages_dir))[: gen.PAGE_FILES // 2]
        done = self.spark.read.parquet(*[os.path.join(self.pages_dir, f) for f in first_half])
        shutil.rmtree(self.snapshot_dir, ignore_errors=True)
        AuditedRun(self.spark, self.snapshot_dir, run_id="prior").write(
            self.pipe.corrected(done, strategy=STRATEGY[self.workload])
        )
        self.snapshot_urls = {r["url"] for r in done.select("url").collect()}
        self.snapshot_files, self.snapshot_bytes = tree_bytes(self.snapshot_dir)
        restore(self.snapshot_dir, self.out_dir)
        run = AuditedRun(self.spark, self.out_dir, run_id="bench")
        with tracer.span("audit.probe"):
            with tracer.span("audit.pending"):
                pending = run.pending(self.pages)
            with tracer.span("audit.plan"):
                out = self.pipe.corrected(pending, strategy=STRATEGY[self.workload])
            with tracer.span("audit.write"):
                run.write(out)
        self.check_committed()

    # -- the run --------------------------------------------------------------------

    def run(self) -> dict:
        """Untraced: one set-up and the timed loop (the end-to-end
        metrics). Traced: the traced phase alone, which reports only the
        per-layer metrics."""
        self.prepare_fixture()
        if self.trace:
            return self.traced()
        setup = self.setup()
        untraced = self.measure()
        metrics = {
            "docs_per_s": untraced["docs_per_s"],
            "cpu_s_per_kdoc": untraced["cpu_s_per_kdoc"],
            # process start to the first timed job, less the fixture
            "setup_s": granted(setup["ready"] - self.fixture_s, setup["stolen"]),
            "peak_rss_mb": untraced["peak_rss_mb"],
        }
        return {"setup": setup, "walls": untraced["walls"], "metrics": metrics}


def shutdown_spark(bench) -> None:
    """Stop the session, then the JVM that PySpark launched, and wait for it."""
    if bench is not None and bench.spark is not None:
        bench.spark.stop()
        bench.spark = None
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def report(workload: str, seed: int, bench: Bench, result: dict) -> dict:
    fx = bench.fx
    failed = len(bench.failing)
    print(
        f"{workload} seed={seed} cores={nproc()}: {fx['docs']} docs, {fx['tokens']} tokens, "
        f"{fx['content_bytes']} content bytes ({fx['parquet_bytes']} parquet bytes), "
        f"{fx['distinct_words']} distinct words; fixture {bench.fixture_s:.1f} s (untimed)"
    )
    for note in bench.notes:
        print(note)
    setup = " ".join(f"{k}={v:.2f}" for k, v in result["setup"].items())
    walls = " ".join(f"{w:.2f}" for w in result["walls"])
    print(f"set-up (s): {setup}; timed jobs (s): {walls}")
    units = {**E2E, **LAYER}
    for name, value in sorted(result["metrics"].items()):
        print(f"{'layer' if bench.trace else 'metric'} {name} = {value:.6g} {units[name][0]}")
    print(f"metric wrong_doc_share = {failed / fx['docs']:.6g} share ({failed} of {fx['docs']} urls)")
    if bench.failing:
        print("failing urls: " + " ".join(sorted(bench.failing)[:20]))
    for problem in sorted(bench.integrity):
        print("integrity: " + problem)
    return {
        "correct": failed == 0 and not bench.integrity,
        "attempted": fx["docs"],
        "failed": failed,
        "metrics": {name: {"value": float(v), "unit": units[name][0]} for name, v in result["metrics"].items()},
    }


def isolate_scratch() -> None:
    """Keep every file the run writes (temp files, Spark local dirs, the
    JVM's tmpdir) inside ``WORK``."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(os.path.join(WORK, "spark-local"), exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import correctocr_spark  # noqa: F401  (the program under test)
    except ImportError as exc:
        print(f"cannot import the program from {ROOT}: {exc}", file=sys.stderr)
        return 2
    isolate_scratch()
    bench = None
    out = None
    with TreeSampler() as sampler:
        try:
            bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace), sampler)
            result = bench.run()
            out = report(args.workload, args.seed, bench, result)
        except Exception:
            traceback.print_exc()
        finally:
            shutdown_spark(bench)
            multiprocessing.resource_tracker._resource_tracker._stop()
    sampler.wait_gone()
    if out is None:
        return 1
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
