"""Session factory settings and the Python worker daemon."""

import importlib
import os
import sys
import types
import zipfile
import zipimport

import pytest

from symspellpy_spark import session, worker_daemon


class _Builder:
    """Records what ``get_spark`` configures, without starting Spark."""

    def __init__(self):
        self.conf = {}
        self.sparkContext = types.SimpleNamespace(setLogLevel=lambda level: None)

    def master(self, master):
        self.conf["master"] = master
        return self

    def appName(self, name):
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return self


def _conf(monkeypatch, **kwargs):
    builder = _Builder()
    monkeypatch.setattr(session, "SparkSession", types.SimpleNamespace(builder=builder))
    session.get_spark(**kwargs)
    return builder.conf


@pytest.mark.parametrize(
    "cores, partitions",
    [(16, "16"), ("16", "16"), (2, "8"), ("*", str(max(8, os.cpu_count() or 8)))],
)
def test_explicit_cores_set_shuffle_partitions(monkeypatch, cores, partitions):
    conf = _conf(monkeypatch, cores=cores)
    assert conf["master"] == f"local[{cores}]"
    assert conf["spark.sql.shuffle.partitions"] == partitions


def test_driver_memory_is_sized_to_host(monkeypatch):
    assert session.default_driver_memory(8 << 30) == "4096m"
    assert session.default_driver_memory(256 << 30) == "24576m"
    host = session.default_driver_memory()
    assert host.endswith("m") and 0 < int(host[:-1]) <= 24 * 1024

    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    assert _conf(monkeypatch, cores=4)["spark.driver.memory"] == host
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "3g")
    assert _conf(monkeypatch, cores=4)["spark.driver.memory"] == "3g"


def test_session_forks_workers_from_worker_daemon(monkeypatch):
    conf = _conf(monkeypatch, cores=4)
    assert conf["spark.python.daemon.module"] == worker_daemon.__name__
    root = conf["spark.executorEnv.PYTHONPATH"]
    assert os.path.isfile(os.path.join(root, *worker_daemon.__name__.split(".")) + ".py")


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, value in modules.items():
            zf.writestr(f"{name}.py", f"VALUE = {value!r}\n")


def test_guard_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    archive = str(tmp_path / "pkgs.zip")
    _write_zip(archive, {"sss_zip_a": 1})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", worker_daemon._invalidate_caches)
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("sss_zip_a").VALUE == 1
        importer = sys.path_importer_cache[archive]
        assert isinstance(importer, zipimport.zipimporter)

        importlib.invalidate_caches()  # first call reads and records the stamp
        files = importer._files
        importlib.invalidate_caches()
        importer.invalidate_caches()
        assert importer._files is files  # unchanged archive: no re-read

        _write_zip(archive, {"sss_zip_a": 1, "sss_zip_b": 2})
        importlib.invalidate_caches()
        assert importer._files is not files
        assert importlib.import_module("sss_zip_b").VALUE == 2
    finally:
        for name in ("sss_zip_a", "sss_zip_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)


def test_guard_rereads_when_archive_is_gone(tmp_path, monkeypatch):
    archive = str(tmp_path / "gone.zip")
    _write_zip(archive, {"sss_zip_gone": 1})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", worker_daemon._invalidate_caches)
    importer = zipimport.zipimporter(archive)
    importer.invalidate_caches()
    assert "sss_zip_gone.py" in importer._files
    os.remove(archive)
    importer.invalidate_caches()
    assert importer._files == {}


def test_python_tasks_run_under_worker_daemon(spark):
    """Fails loudly if the session stops forking workers from the daemon."""

    def worker_zip_state(batches):  # nested, so it pickles by value
        import importlib
        import sys
        import zipimport

        import pandas as pd

        for _ in batches:
            pass
        importers = [v for v in sys.path_importer_cache.values() if isinstance(v, zipimport.zipimporter)]
        before = [id(z._files) for z in importers]
        importlib.invalidate_caches()
        guard = zipimport.zipimporter.invalidate_caches.__code__.co_filename
        yield pd.DataFrame(
            {
                "guarded": [guard.endswith("worker_daemon.py")],
                "zip_importers": [len(importers)],
                "reread": [before != [id(z._files) for z in importers]],
                "old_python": [sys.version_info < (3, 13)],
            }
        )

    schema = "guarded boolean, zip_importers long, reread boolean, old_python boolean"
    rows = spark.range(4).repartition(4).mapInPandas(worker_zip_state, schema).collect()
    assert rows
    for row in rows:
        if row.old_python:
            assert row.guarded, "Python worker was not forked from symspellpy_spark.worker_daemon"
            assert row.zip_importers > 0
            assert not row.reread
