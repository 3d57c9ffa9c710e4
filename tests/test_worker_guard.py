"""The zip-directory guard that a Spark Python worker installs at its first
import of grenier_spark (``grenier_spark/_worker.py``): a task's
``importlib.invalidate_caches()`` re-reads only archives that changed."""

import importlib
import os
import subprocess
import sys
import types
import zipfile
import zipimport

import pytest

from grenier_spark import _worker

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="zipimporter.invalidate_caches is lazy from Python 3.12 on")

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules):
    tmp = str(path) + ".tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, value in modules.items():
            z.writestr(name + ".py", "VALUE = %r\n" % value)
    os.replace(tmp, str(path))


@pytest.fixture
def in_task(monkeypatch):
    """Look like a PySpark task to ``_worker.install`` and restore the
    original ``zipimporter.invalidate_caches`` afterwards."""
    context = types.SimpleNamespace(get=lambda: object())
    monkeypatch.setitem(sys.modules, "pyspark.taskcontext",
                        types.SimpleNamespace(TaskContext=context))
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)


def test_guard_reuses_unchanged_archive_and_rereads_changed_one(
        tmp_path, monkeypatch, in_task):
    archive = tmp_path / "mods.zip"
    _write_zip(archive, {"grenier_guard_a": 1})
    monkeypatch.syspath_prepend(str(archive))
    for name in ("grenier_guard_a", "grenier_guard_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("grenier_guard_a").VALUE == 1

    reads = []
    read_directory = zipimport._read_directory

    def counted(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    assert _worker.install()
    guarded = zipimport.zipimporter.invalidate_caches
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert str(archive) not in reads

    _write_zip(archive, {"grenier_guard_a": 1, "grenier_guard_b": 2})
    importlib.invalidate_caches()
    assert reads.count(str(archive)) == 1
    assert importlib.import_module("grenier_guard_b").VALUE == 2
    importlib.invalidate_caches()
    assert reads.count(str(archive)) == 1

    assert _worker.install()
    assert zipimport.zipimporter.invalidate_caches is guarded

    os.remove(str(archive))
    importlib.invalidate_caches()
    assert reads.count(str(archive)) == 2
    assert str(archive) not in zipimport._zip_directory_cache


def test_guard_stays_out_of_processes_that_are_not_spark_tasks(monkeypatch):
    original = zipimport.zipimporter.invalidate_caches
    monkeypatch.delitem(sys.modules, "pyspark.taskcontext", raising=False)
    assert not _worker.install()
    idle = types.SimpleNamespace(
        TaskContext=types.SimpleNamespace(get=lambda: None))
    monkeypatch.setitem(sys.modules, "pyspark.taskcontext", idle)
    assert not _worker.install()
    assert zipimport.zipimporter.invalidate_caches is original


def test_core_import_loads_no_pyspark():
    code = ("import sys, grenier_spark.core; "
            "print(sorted(m for m in sys.modules if m.startswith('pyspark')))")
    out = subprocess.run([sys.executable, "-c", code], capture_output=True,
                         text=True, cwd=REPO)
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "[]"


def test_spark_workers_keep_the_guard_between_tasks(spark):
    # Nested so that cloudpickle ships them by value to the workers.
    def import_library(batches):
        import grenier_spark  # noqa: F401
        yield from batches

    def report_guard(batches):
        import pyarrow as pa
        import pyspark
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pylist([{
            "library": "grenier_spark" in sys.modules,
            "guard": getattr(zipimport.zipimporter.invalidate_caches,
                             "grenier_guard", False),
            "pyspark": pyspark.__file__,
        }])

    frame = spark.range(0, 16, numPartitions=16)
    frame.mapInArrow(import_library, "id long").collect()
    rows = frame.mapInArrow(
        report_guard,
        "library boolean, guard boolean, pyspark string").collect()
    seen = [r for r in rows if r.library]
    assert seen, rows
    assert all(r.guard for r in seen), rows
    assert not getattr(zipimport.zipimporter.invalidate_caches,
                       "grenier_guard", False)
