"""The engine's Python worker daemon (gelos_spark/worker_daemon.py):
the stamp-checked zip importer refresh, checked without Spark against
a zip on ``sys.path``, and its wiring into local sessions."""

from __future__ import annotations

import importlib
import os
import site
import sys
import uuid
import zipfile
import zipimport

import pytest
from pyspark.sql import SparkSession

from gelos_spark import session, worker_daemon

DAEMON = "gelos_spark.worker_daemon"


def _write_zip(path: str, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(name, src)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip holding package ``zdpkg`` on ``sys.path``, imported, so
    two zip importers (the archive root and ``zdpkg/``) sit in
    ``sys.path_importer_cache``."""
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"zdpkg/__init__.py": "", "zdpkg/a.py": "A = 1\n"})
    monkeypatch.syspath_prepend(path)
    importlib.import_module("zdpkg.a")
    yield path
    for name in [m for m in sys.modules if m == "zdpkg" or m.startswith("zdpkg.")]:
        del sys.modules[name]
    for key in [k for k in sys.path_importer_cache if k.startswith(path)]:
        del sys.path_importer_cache[key]
    zipimport._zip_directory_cache.pop(path, None)
    worker_daemon._stamps.pop(path, None)


@pytest.fixture
def reads(monkeypatch):
    """Archives whose central directory ``zipimport`` parses."""
    seen: list[str] = []
    real = zipimport._read_directory

    def spy(path):
        seen.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", spy)
    return seen


def _importers(path: str) -> list:
    return [f for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter) and f.archive == path]


def _patch(monkeypatch) -> None:
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", worker_daemon.invalidate_caches)


def test_unchanged_archive_is_not_reread(archive, reads, monkeypatch):
    n = len(_importers(archive))
    assert n >= 2
    importlib.invalidate_caches()
    assert reads.count(archive) == n  # the stock method: once per importer
    _patch(monkeypatch)
    reads.clear()
    importlib.invalidate_caches()  # first read under the patch stamps it
    assert reads.count(archive) == 1
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads.count(archive) == 0
    files = zipimport._zip_directory_cache[archive]
    assert all(imp._files is files for imp in _importers(archive))
    assert importlib.reload(sys.modules["zdpkg.a"]).A == 1


def test_rewritten_archive_is_reread_and_new_module_imports(archive, reads, monkeypatch):
    _patch(monkeypatch)
    importlib.invalidate_caches()
    _write_zip(archive, {"zdpkg/__init__.py": "", "zdpkg/a.py": "A = 1\n", "zdpkg/b.py": "B = 2\n"})
    reads.clear()
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    assert importlib.import_module("zdpkg.b").B == 2


def test_deleted_archive_falls_back_to_the_stock_method(archive, reads, monkeypatch):
    _patch(monkeypatch)
    importlib.invalidate_caches()
    os.remove(archive)
    reads.clear()
    importlib.invalidate_caches()
    # the stock method's outcome for an unreadable archive
    assert reads.count(archive) == len(_importers(archive))
    assert archive not in zipimport._zip_directory_cache
    assert all(imp._files == {} for imp in _importers(archive))
    # restored, it is read again and serves imports
    _write_zip(archive, {"zdpkg/__init__.py": "", "zdpkg/c.py": "C = 3\n"})
    importlib.invalidate_caches()
    assert importlib.import_module("zdpkg.c").C == 3


def test_python_tasks_run_the_engine_daemon(spark):
    assert spark.sparkContext.getConf().get("spark.python.daemon.module") == DAEMON

    def probe(batches):
        import zipimport

        import pyarrow as pa

        name = zipimport.zipimporter.invalidate_caches.__module__
        for b in batches:
            yield pa.RecordBatch.from_pydict({"m": [name] * b.num_rows})

    got = spark.range(0, 64, numPartitions=4).mapInArrow(probe, "m string").collect()
    assert {r.m for r in got} == {DAEMON}


def test_py_file_added_to_warm_workers_is_importable(spark, tmp_path):
    """The contract ``setup_spark_files`` refreshes import caches for:
    a zip shipped with ``addPyFile`` after the workers started imports
    in the next UDF."""
    df = spark.range(0, 64, numPartitions=4)

    def ident(batches):
        yield from batches

    assert df.mapInArrow(ident, df.schema).count() == 64  # workers warm
    name = f"gelos_late_{uuid.uuid4().hex[:8]}"
    path = str(tmp_path / f"{name}.zip")
    _write_zip(path, {f"{name}.py": "VALUE = 42\n"})
    spark.sparkContext.addPyFile(path)

    def use(batches):
        import importlib

        import pyarrow as pa

        value = importlib.import_module(name).VALUE
        for b in batches:
            yield pa.RecordBatch.from_pydict({"v": [value] * b.num_rows})

    assert {r.v for r in df.mapInArrow(use, "v long").collect()} == {42}


def test_workers_import_package_predicate(tmp_path, monkeypatch):
    root = os.path.dirname(os.path.dirname(os.path.realpath(session.__file__)))
    monkeypatch.delenv("PYTHONPATH", raising=False)
    monkeypatch.setattr(site, "getsitepackages", lambda: [str(tmp_path / "site")])
    monkeypatch.setattr(site, "getusersitepackages", lambda: str(tmp_path / "user"))
    monkeypatch.chdir(root)
    assert session._workers_import_package()
    monkeypatch.chdir(tmp_path)
    assert not session._workers_import_package()
    monkeypatch.setenv("PYTHONPATH", os.pathsep.join([str(tmp_path / "lib"), root]))
    assert session._workers_import_package()
    monkeypatch.setenv("PYTHONPATH", str(tmp_path / "lib"))
    assert not session._workers_import_package()
    monkeypatch.setattr(site, "getsitepackages", lambda: [root])
    assert session._workers_import_package()


class _Built(Exception):
    pass


@pytest.mark.parametrize(
    "importable,master,want",
    [(True, None, DAEMON), (False, None, None), (True, "spark://host:7077", None)],
    ids=["local", "not-importable", "cluster"],
)
def test_get_spark_sets_daemon_only_for_importable_local(monkeypatch, importable, master, want):
    monkeypatch.setattr(session, "_workers_import_package", lambda: importable)

    def capture(self):
        raise _Built(dict(self._options))

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", capture)
    with pytest.raises(_Built) as built:
        session.get_spark("daemon_conf", cpus=2, master=master)
    assert built.value.args[0].get("spark.python.daemon.module") == want
