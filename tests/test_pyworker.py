"""The worker daemon's zip-directory cache (``_pyworker``).

Before CPython 3.13, ``importlib.invalidate_caches()`` — which PySpark
calls at the start of every Python task — re-read the central directory
of every zip archive on ``sys.path``. ``_pyworker.install`` keeps the
directory of an archive that has not changed and still re-reads one that
has."""

import importlib
import os
import sys
import types
import zipfile
import zipimport

import pyarrow as pa
import pytest

from dataset_dedupe_estimator_spark import _pyworker

PATCHED = sys.version_info < (3, 13)


@pytest.fixture
def installed(monkeypatch):
    """Install the patch for one test; the original comes back after it."""
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    assert _pyworker.install() is PATCHED
    return monkeypatch


def _write_zip(path, members):
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in members.items():
            zf.writestr(name, src)


@pytest.mark.skipif(not PATCHED, reason="zipimport re-reads lazily from 3.13 on")
def test_unchanged_archive_is_not_reread(installed, tmp_path):
    archive = tmp_path / "lib.zip"
    _write_zip(archive, {"pyworker_probe_a.py": "X = 1\n"})
    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    installed.setattr(zipimport, "_read_directory", counting)
    importers = [zipimport.zipimporter(str(archive)) for _ in range(3)]
    assert reads == [str(archive)]  # first constructor; the rest share it
    for imp in importers:
        imp.invalidate_caches()
    # the first call reads once to stamp the archive, the others skip
    assert reads == [str(archive)] * 2
    for imp in importers:
        imp.invalidate_caches()
    assert len(reads) == 2
    assert importers[0].find_spec("pyworker_probe_a") is not None


def test_rewritten_archive_is_reread(installed, tmp_path):
    archive = tmp_path / "lib.zip"
    _write_zip(archive, {"pyworker_probe_b.py": "X = 1\n"})
    installed.syspath_prepend(str(archive))
    for name in ("pyworker_probe_b", "pyworker_probe_c"):
        installed.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("pyworker_probe_b").X == 1
    importlib.invalidate_caches()  # stamps the archive as read
    with pytest.raises(ImportError):
        importlib.import_module("pyworker_probe_c")

    _write_zip(archive, {"pyworker_probe_b.py": "X = 1\n", "pyworker_probe_c.py": "Y = 2\n"})
    importlib.invalidate_caches()
    assert importlib.import_module("pyworker_probe_c").Y == 2


def test_lazy_zipimport_is_left_untouched(monkeypatch):
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    original = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    assert _pyworker.install() is False
    assert zipimport.zipimporter.invalidate_caches is original


def test_local_session_workers_run_the_patch(spark):
    assert spark.conf.get("spark.python.daemon.module", None) == _pyworker.__name__

    def report(batches):
        import zipimport

        for _ in batches:
            pass
        live = getattr(zipimport.zipimporter.invalidate_caches, "keeps_unchanged_archives", False)
        yield pa.RecordBatch.from_pydict({"live": [live]})

    rows = spark.range(2, numPartitions=2).mapInArrow(report, "live boolean").collect()
    assert [r.live for r in rows] == [PATCHED, PATCHED]


@pytest.mark.parametrize(
    "env_master, daemon",
    [("local[4]", True), ("local", True), ("local-cluster[2,1,1024]", False), ("spark://h:7077", False)],
)
def test_spark_master_env_decides_the_daemon(monkeypatch, env_master, daemon):
    """With no ``master`` argument, ``$SPARK_MASTER`` is the master that
    decides whether the workers start through ``_pyworker``."""
    from dataset_dedupe_estimator_spark import session

    seen = {}

    class Builder:
        def appName(self, _):
            return self

        def master(self, m):
            seen["master"] = m
            return self

        def config(self, k, v):
            seen[k] = v
            return self

        def getOrCreate(self):
            return seen

    monkeypatch.setattr(session, "SparkSession", types.SimpleNamespace(builder=Builder()))
    monkeypatch.setenv("PYTHONPATH", os.environ.get("PYTHONPATH", ""))
    monkeypatch.setenv("SPARK_MASTER", env_master)
    conf = session.get_spark()
    assert "master" not in conf  # left to $SPARK_MASTER
    assert (conf.get("spark.python.daemon.module") == _pyworker.__name__) is daemon
