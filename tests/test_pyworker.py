"""The Python worker daemon (rdsa_utils_spark/pyworker.py) and the
session settings that start it.

The daemon's ``invalidate_caches`` must re-read a zip archive on the
import path only when the archive changed, and must still invalidate
every other finder, so files shipped with ``addPyFile`` keep importing.
"""

from __future__ import annotations

import importlib
import os
import sys
import uuid
import zipfile
import zipimport

import pytest

from rdsa_utils_spark import pyworker, session


def _write_zip(path, modules: dict) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, source in modules.items():
            zf.writestr(f"{name}.py", source)


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A zip archive on ``sys.path`` holding one imported module."""
    mod = f"zmod_{uuid.uuid4().hex}"
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {mod: "VALUE = 1\n"})
    monkeypatch.syspath_prepend(archive)
    importlib.import_module(mod)
    yield archive, mod
    for name in list(sys.path_importer_cache):
        if name.startswith(archive):
            del sys.path_importer_cache[name]
    sys.modules.pop(mod, None)


def _count_reads(monkeypatch) -> list:
    reads = []
    real = zipimport._read_directory

    def counted(archive):
        reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    return reads


def test_unchanged_archive_is_not_reread(zip_on_path, monkeypatch):
    archive, _ = zip_on_path
    pyworker.invalidate_caches()  # first sighting records the archive
    reads = _count_reads(monkeypatch)
    for _ in range(3):
        pyworker.invalidate_caches()
    assert [a for a in reads if a == archive] == []
    # the stdlib call re-reads it every time
    importlib.invalidate_caches()
    assert archive in reads


def test_archive_rewritten_in_place_is_reread(zip_on_path, monkeypatch):
    archive, mod = zip_on_path
    pyworker.invalidate_caches()
    new_mod = f"{mod}_added"
    _write_zip(archive, {mod: "VALUE = 1\n", new_mod: "VALUE = 2\n"})
    reads = _count_reads(monkeypatch)
    pyworker.invalidate_caches()
    assert archive in reads
    assert importlib.import_module(new_mod).VALUE == 2
    sys.modules.pop(new_mod, None)


def test_directory_finders_are_still_invalidated(tmp_path, monkeypatch):
    pkg_dir = tmp_path / "plain"
    pkg_dir.mkdir()
    first = f"dmod_{uuid.uuid4().hex}"
    (pkg_dir / f"{first}.py").write_text("VALUE = 1\n")
    monkeypatch.syspath_prepend(str(pkg_dir))
    importlib.invalidate_caches()
    importlib.import_module(first)
    # A file added without moving the directory's mtime is invisible to
    # the cached FileFinder until its cache is invalidated.
    stat = os.stat(pkg_dir)
    second = f"{first}_late"
    (pkg_dir / f"{second}.py").write_text("VALUE = 2\n")
    os.utime(pkg_dir, ns=(stat.st_atime_ns, stat.st_mtime_ns))
    with pytest.raises(ImportError):
        importlib.import_module(second)
    pyworker.invalidate_caches()
    assert importlib.import_module(second).VALUE == 2
    for name in (first, second):
        sys.modules.pop(name, None)


def test_suite_session_runs_the_daemon_and_add_py_file_imports(spark, tmp_path):
    from pyspark.sql import functions as F

    conf = spark.sparkContext.getConf()
    if conf.get("spark.python.daemon.module") != session._WORKER_DAEMON:
        pytest.skip("session was not built by the local profile")

    def daemon_name(x):
        import pyspark.worker_util as wu

        main = sys.modules["__main__"]
        name = getattr(getattr(main, "__spec__", None), "name", None)
        shim = wu.importlib.invalidate_caches.__module__ == main.__name__
        return x.map(lambda _: f"{name}:{shim}")

    first = spark.range(0, 4, 1, 2).select(
        F.pandas_udf(daemon_name, "string")("id").alias("d"),
    ).distinct().collect()
    assert [r.d for r in first] == [f"{session._WORKER_DAEMON}:True"]

    mod = f"shipped_{uuid.uuid4().hex}"
    archive = tmp_path / f"{mod}.zip"
    _write_zip(str(archive), {mod: "VALUE = 41\n"})
    spark.sparkContext.addPyFile(str(archive))

    def shipped(x):
        return x + importlib.import_module(mod).VALUE

    got = spark.range(0, 4, 1, 2).select(
        F.pandas_udf(shipped, "long")("id").alias("v"),
    ).collect()
    assert sorted(r.v for r in got) == [41, 42, 43, 44]


class _RecordingBuilder:
    """Stands in for ``SparkSession.builder``: records the settings."""

    def __init__(self):
        self.conf: dict = {}

    def appName(self, name):
        return self

    def master(self, master):
        self.conf["spark.master"] = master
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def enableHiveSupport(self):
        return self

    def getOrCreate(self):
        class _Spark:
            class sparkContext:
                @staticmethod
                def setLogLevel(level):
                    pass

        return _Spark()


def _built_conf(monkeypatch, size, extra=None) -> dict:
    builder = _RecordingBuilder()
    monkeypatch.setattr(session.SparkSession, "builder", builder)
    session.create_spark_session("conf-probe", size=size, extra_configs=extra)
    return builder.conf


def test_local_profile_sets_daemon_and_worker_path(monkeypatch):
    conf = _built_conf(monkeypatch, "local")
    assert conf["spark.python.daemon.module"] == "rdsa_utils_spark.pyworker"
    assert conf["spark.executorEnv.PYTHONPATH"] == session._PACKAGE_PARENT
    assert os.path.isfile(
        os.path.join(session._PACKAGE_PARENT, "rdsa_utils_spark", "pyworker.py"),
    )


def test_callers_worker_path_is_merged_not_replaced(monkeypatch):
    mine = os.pathsep.join(["/srv/libs", "/srv/more"])
    conf = _built_conf(monkeypatch, "local", {"spark.executorEnv.PYTHONPATH": mine})
    assert conf["spark.executorEnv.PYTHONPATH"] == os.pathsep.join(
        ["/srv/libs", "/srv/more", session._PACKAGE_PARENT],
    )
    # already present: not repeated
    conf = _built_conf(
        monkeypatch, "local", {"spark.executorEnv.PYTHONPATH": session._PACKAGE_PARENT},
    )
    assert conf["spark.executorEnv.PYTHONPATH"] == session._PACKAGE_PARENT


def test_caller_can_override_the_daemon(monkeypatch):
    conf = _built_conf(monkeypatch, "local", {"spark.python.daemon.module": "pyspark.daemon"})
    assert conf["spark.python.daemon.module"] == "pyspark.daemon"


@pytest.mark.parametrize("size", sorted(session.SESSION_PRESETS))
def test_cluster_presets_keep_the_stock_daemon(monkeypatch, size):
    conf = _built_conf(monkeypatch, size)
    assert "spark.python.daemon.module" not in conf
    assert "spark.executorEnv.PYTHONPATH" not in conf
