"""``keep_zip_directories``: ``importlib.invalidate_caches()`` re-reads a
zip archive on ``sys.path`` only when the archive changed, in the driver
and in a PySpark worker."""

import importlib
import sys
import zipfile
import zipimport

import pytest

from correctocr_spark.spark.session import keep_zip_directories

pytestmark = [
    pytest.mark.engine,
    pytest.mark.skipif(
        sys.version_info >= (3, 13), reason="CPython 3.13 invalidates zip directories lazily"
    ),
]


def _write_zip(path, modules):
    """(Re)write ``path`` in place, one module per name."""
    with zipfile.ZipFile(path, "w") as zf:
        for name in modules:
            zf.writestr(f"{name}.py", f"NAME = {name!r}\n")


def _count_reads(monkeypatch):
    calls = []
    read = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A zip holding ``m1`` at the front of ``sys.path``; the patched
    method, the modules and the importer are undone afterwards, because
    the suite shares one process."""
    original = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", original)
    archive = tmp_path / "mods.zip"
    _write_zip(archive, ["m1"])
    monkeypatch.syspath_prepend(str(archive))
    yield archive, original
    for name in ("m1", "m2"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(str(archive), None)


def test_zip_directory_is_reread_only_when_the_archive_changes(zip_on_path, monkeypatch):
    archive, original = zip_on_path
    import m1

    assert m1.NAME == "m1"
    keep_zip_directories()
    keep_zip_directories()
    assert zipimport.zipimporter.invalidate_caches.__wrapped__ is original

    importlib.invalidate_caches()  # the first call after installing re-reads
    calls = _count_reads(monkeypatch)
    importlib.invalidate_caches()
    assert calls == []

    _write_zip(archive, ["m1", "m2"])
    importlib.invalidate_caches()
    assert calls == [str(archive)]
    import m2

    assert m2.NAME == "m2"

    importer = sys.path_importer_cache[str(archive)]
    archive.unlink()
    importlib.invalidate_caches()  # a missing archive: the original path
    assert importer._files == {}
    assert str(archive) not in zipimport._zip_directory_cache


def test_worker_skips_unchanged_zip_directories(spark):
    """In a real worker, whose path holds ``pyspark.zip``, a second
    ``importlib.invalidate_caches()`` after installing reads no zip
    directory."""

    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pandas as pd

        from correctocr_spark.spark.session import keep_zip_directories

        for _ in batches:
            pass
        importers = [
            f
            for f in list(sys.path_importer_cache.values())
            if isinstance(f, zipimport.zipimporter) and f.archive.endswith("pyspark.zip")
        ]
        keep_zip_directories()
        importlib.invalidate_caches()
        calls = []
        read = zipimport._read_directory
        zipimport._read_directory = lambda archive: calls.append(archive) or read(archive)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        yield pd.DataFrame({"importers": [len(importers)], "reads": [len(calls)]})

    (row,) = (
        spark.range(1).coalesce(1).mapInPandas(probe, "importers long, reads long").collect()
    )
    assert row["importers"] > 0
    assert row["reads"] == 0
