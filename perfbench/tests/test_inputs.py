import hashlib
import json
import os

import gen
import run


def _input_digest(workload, seed, path):
    pages = gen.PageMaker(workload, seed).pages(range(40))
    gen.write_pages(pages, path)
    with open(path, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()


def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path):
    for workload in gen.SHAPES:
        a = _input_digest(workload, 11, str(tmp_path / "a.parquet"))
        b = _input_digest(workload, 11, str(tmp_path / "b.parquet"))
        c = _input_digest(workload, 12, str(tmp_path / "c.parquet"))
        assert a == b
        assert a != c


def test_benchmark_json_lists_the_reported_metrics():
    with open(os.path.join(run.ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        bench = json.load(fh)
    assert {m["name"]: (m["unit"], m["better"]) for m in bench["end_to_end"]} == run.E2E
    assert {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]} == run.LAYER
    assert {w["name"] for w in bench["workloads"]} == set(run.SIZES)


def test_steal_is_taken_from_the_core_that_lost_the_most():
    before = {"cpu0": 10.0, "cpu1": 20.0, "cpu2": 5.0}
    after = {"cpu0": 10.5, "cpu1": 21.5, "cpu2": 5.25}
    assert run.most_stolen(before, after) == 1.5
    # cpu1's 1.5 s includes 1.25 s stolen during the fixture
    assert run.most_stolen(before, after, {"cpu1": 1.25}) == 0.5
    assert run.most_stolen({}, {}) == 0.0
    readings = run.steal_seconds(os.sched_getaffinity(0))
    assert set(readings) == {f"cpu{c}" for c in os.sched_getaffinity(0)}
    assert all(v >= 0 for v in readings.values())
