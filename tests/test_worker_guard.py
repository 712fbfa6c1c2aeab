"""The zip re-read guard (scalecast_spark._worker): an importer re-reads
its archive's directory on ``importlib.invalidate_caches()`` only when
the archive changed, nothing is wrapped where CPython is already lazy,
and the guard is live inside Spark's Python workers."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

import scalecast_spark  # noqa: F401  (installs the guard)
from scalecast_spark import _worker

needs_eager_zipimport = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="zipimporter.invalidate_caches is lazy on CPython >= 3.13",
)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, body in modules.items():
            z.writestr(f"{name}.py", body)


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    path = str(tmp_path / "guarded.zip")
    _write_zip(path, {"guard_mod_a": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(path)
    yield path
    for name in ("guard_mod_a", "guard_mod_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(path, None)


@pytest.fixture
def read_counter(monkeypatch):
    calls = []
    real = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


@needs_eager_zipimport
def test_unchanged_archive_is_not_reread(zip_on_path, read_counter):
    import guard_mod_a

    assert guard_mod_a.VALUE == 1
    importlib.invalidate_caches()  # first call stamps the importer
    read_counter.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert zip_on_path not in read_counter


@needs_eager_zipimport
def test_rewritten_archive_is_reread(zip_on_path, read_counter):
    import guard_mod_a  # noqa: F401

    importlib.invalidate_caches()
    before = os.stat(zip_on_path).st_mtime_ns
    _write_zip(zip_on_path, {"guard_mod_a": "VALUE = 1\n", "guard_mod_b": "VALUE = 2\n"})
    os.utime(zip_on_path, ns=(before + 10**9, before + 10**9))
    read_counter.clear()
    importlib.invalidate_caches()
    assert read_counter.count(zip_on_path) == 1
    import guard_mod_b

    assert guard_mod_b.VALUE == 2


def test_nothing_wrapped_on_lazy_python(monkeypatch):
    def plain(self):
        pass

    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", plain)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    assert _worker.install() is False
    assert zipimport.zipimporter.invalidate_caches is plain


@needs_eager_zipimport
def test_second_install_does_not_wrap_twice(monkeypatch):
    def plain(self):
        pass

    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", plain)
    assert _worker.install() is True
    wrapped = zipimport.zipimporter.invalidate_caches
    assert getattr(wrapped, _worker.MARKER) is True
    assert wrapped.__wrapped__ is plain
    assert _worker.install() is False
    assert zipimport.zipimporter.invalidate_caches is wrapped


@needs_eager_zipimport
def test_guard_is_live_in_spark_workers(spark):
    """A task that imports the package installs the guard for the
    later tasks of the same reused worker: those report the marker and
    re-read no archive on ``importlib.invalidate_caches()``."""
    import pandas as pd

    def importing(batches):
        import scalecast_spark  # noqa: F401

        for _ in batches:
            yield pd.DataFrame({"pid": [os.getpid()]})

    def report(batches):
        import importlib as il
        import sys as s
        import zipimport as zi

        reads = []
        real = zi._read_directory
        zi._read_directory = lambda a: reads.append(a) or real(a)
        try:
            il.invalidate_caches()
        finally:
            zi._read_directory = real
        for _ in batches:
            yield pd.DataFrame({
                "pid": [os.getpid()],
                "imported": ["scalecast_spark" in s.modules],
                "marker": [
                    getattr(zi.zipimporter.invalidate_caches, "_scalecast_stat_guard", False)
                ],
                "zips": [sum(
                    isinstance(f, zi.zipimporter)
                    for f in s.path_importer_cache.values()
                )],
                "reads": [len(reads)],
            })

    one = spark.range(1).repartition(1).cache()
    one.count()
    importers = {
        r["pid"] for r in one.mapInPandas(importing, "pid long").collect()
    }
    # idle workers are handed out in turn; repeat until the report
    # lands on a worker that ran the importing task
    hits = []
    for _ in range(40):
        rows = one.mapInPandas(
            report,
            "pid long, imported boolean, marker boolean, zips long, reads long",
        ).collect()
        hits = [r for r in rows if r["pid"] in importers]
        if hits:
            break
    one.unpersist()
    assert hits, "no report task reached a worker that imported the package"
    for r in hits:
        assert r["imported"] and r["marker"]
        assert r["zips"] > 0
        assert r["reads"] == 0
