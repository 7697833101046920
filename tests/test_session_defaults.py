"""``get_spark``'s local-mode defaults, checked without starting a session."""

import pytest

from correctocr_spark.spark import session

pytestmark = pytest.mark.engine


class _Stop(Exception):
    pass


class _Builder:
    def __init__(self):
        self.masters = []

    def master(self, url):
        self.masters.append(url)
        return self

    def appName(self, _name):
        return self

    def config(self, _key, _value):
        return self

    def getOrCreate(self):
        raise _Stop


@pytest.fixture
def builder(monkeypatch):
    b = _Builder()
    monkeypatch.setattr(session, "SparkSession", type("FakeSession", (), {"builder": b}))
    monkeypatch.setattr(session.os, "sched_getaffinity", lambda _pid: {0, 2, 5})
    return b


def _master(**kwargs):
    with pytest.raises(_Stop):
        session.get_spark(**kwargs)


def test_cores_default_to_the_cpus_the_process_may_use(builder, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    _master()
    assert builder.masters == ["local[3]"]


def test_cores_come_from_the_environment_then_the_argument(builder, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "6")
    _master()
    _master(cores=2)
    assert builder.masters == ["local[6]", "local[2]"]
