"""The Python worker daemon (`tin_terrain_spark.pyworker`).

Spark-free: the stat-checked zip invalidation reads an unchanged archive
0 times, a rewritten one once, and behaves as the stock importer on a
deleted one; on CPython >= 3.12 the module leaves `zipimport` alone.
With Spark: every `get_spark` session runs its Python workers under the
daemon (no zip re-read per task, objects frozen from a worker's second
task on), also in a JVM that `spark-submit --py-files` started.
"""

from __future__ import annotations

import importlib
import os
import shutil
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

import tin_terrain_spark.pyworker as pyworker

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ZIP_SHIM = sys.version_info < (3, 12)


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture()
def stock_zipimport(monkeypatch):
    """Restores zipimport's two patched attributes after the test."""
    monkeypatch.setattr(zipimport, "_read_directory", zipimport._read_directory)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)


@pytest.fixture()
def shim(stock_zipimport):
    pyworker.install_zip_shim()


@pytest.fixture()
def reads(monkeypatch):
    """Counts `zipimport._read_directory` calls from here on."""
    calls = []
    inner = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return inner(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


@pytest.fixture()
def zip_on_path(tmp_path, monkeypatch):
    """A fresh archive holding module `pw_a`, first on sys.path."""
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"pw_a": "X = 1\n"})
    monkeypatch.syspath_prepend(path)
    for mod in ("pw_a", "pw_b"):
        monkeypatch.delitem(sys.modules, mod, raising=False)
    yield path
    sys.path_importer_cache.pop(path, None)
    zipimport._zip_directory_cache.pop(path, None)


@pytest.mark.skipif(not ZIP_SHIM, reason="CPython >= 3.12 invalidates zips lazily")
def test_unchanged_archive_not_reread(shim, zip_on_path, reads):
    assert importlib.import_module("pw_a").X == 1
    before = len(reads)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads[before:] == []
    assert importlib.import_module("pw_a").X == 1


@pytest.mark.skipif(not ZIP_SHIM, reason="CPython >= 3.12 invalidates zips lazily")
def test_rewritten_archive_read_once(shim, zip_on_path, reads):
    importlib.import_module("pw_a")
    # a second importer of the same archive: both must see the rewrite
    subpath = os.path.join(zip_on_path, "sub")
    sys.path_importer_cache[subpath] = zipimport.zipimporter(subpath)
    try:
        _write_zip(zip_on_path, {"pw_a": "X = 1\n", "pw_b": "Y = 2\n"})
        before = len(reads)
        importlib.invalidate_caches()
        assert reads[before:] == [zip_on_path]
        assert importlib.import_module("pw_b").Y == 2
        assert "pw_b.py" in sys.path_importer_cache[subpath]._files
    finally:
        sys.path_importer_cache.pop(subpath, None)


@pytest.mark.skipif(not ZIP_SHIM, reason="CPython >= 3.12 invalidates zips lazily")
def test_deleted_archive_fails_like_stock(shim, zip_on_path, monkeypatch):
    importlib.import_module("pw_a")
    monkeypatch.delitem(sys.modules, "pw_a")
    os.remove(zip_on_path)
    importlib.invalidate_caches()  # must not raise
    # the stock method's state for an unreadable archive
    assert sys.path_importer_cache[zip_on_path]._files == {}
    assert zip_on_path not in zipimport._zip_directory_cache
    for mod in ("pw_a", "pw_b"):
        with pytest.raises(ModuleNotFoundError):
            importlib.import_module(mod)


def test_leaves_zipimport_alone_from_312(stock_zipimport, monkeypatch):
    read, invalidate = zipimport._read_directory, zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(sys, "version_info", (3, 12, 0, "final", 0))
    pyworker.install_zip_shim()
    assert zipimport._read_directory is read
    assert zipimport.zipimporter.invalidate_caches is invalidate


def test_import_changes_nothing():
    """Importing the module (the tests, the reachability walk) patches
    nothing; only the daemon's `__main__` does."""
    assert zipimport._read_directory.__module__ == "zipimport"
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"


@pytest.fixture(scope="module")
def spark():
    from tin_terrain_spark.session import get_spark

    s = get_spark("pyworker", cores=4)
    yield s
    s.stop()


def test_session_uses_daemon(spark):
    from tin_terrain_spark.session import PYTHON_DAEMON_MODULE

    assert PYTHON_DAEMON_MODULE == "tin_terrain_spark.pyworker"
    assert spark.sparkContext.getConf().get("spark.python.daemon.module") == PYTHON_DAEMON_MODULE


def test_worker_tasks_skip_reread_and_freeze(spark):
    def probe(batches):
        """One row per task: zip directory reads during
        `importlib.invalidate_caches()`, the gc freeze count, the pid."""
        import gc

        import pandas as pd

        calls = []
        inner = zipimport._read_directory
        zipimport._read_directory = lambda a: calls.append(a) or inner(a)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = inner
        frozen = gc.get_freeze_count()
        for _ in batches:
            pass
        yield pd.DataFrame({"reads": [len(calls)], "frozen": [frozen], "pid": [os.getpid()]})

    df = spark.range(0, 8, 1, 8).mapInPandas(probe, "reads long, frozen long, pid long")
    rows = df.collect() + df.collect()
    assert len(rows) == 16
    if ZIP_SHIM:
        assert [r.reads for r in rows] == [0] * 16
    # only each worker's first task runs before its freeze
    by_pid: dict[int, list[int]] = {}
    for r in rows:
        by_pid.setdefault(r.pid, []).append(r.frozen)
    assert all(sum(f == 0 for f in frozen) <= 1 for frozen in by_pid.values()), by_pid
    assert len(by_pid) < len(rows)  # workers were reused


SUBMIT_DRIVER = textwrap.dedent("""
    import os, sys
    sys.path.insert(0, os.environ["TTS_REPO"])
    from tin_terrain_spark.session import get_spark
    spark = get_spark("pyworker_submit", cores=2)

    def fn(batches):
        import tin_terrain_spark
        for b in batches:
            yield b.assign(id=b["id"] * 2)

    rows = spark.range(0, 6, 1, 3).mapInPandas(fn, "id long").collect()
    print("ROWS", sorted(r.id for r in rows))
    spark.stop()
""")


@pytest.mark.skipif(shutil.which("spark-submit") is None, reason="no spark-submit")
def test_spark_submit_py_files(tmp_path):
    """The run_scaling.py shape: spark-submit --py-files, PYTHONPATH unset."""
    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    try:
        from run_scaling import build_pyfiles_zip
    finally:
        sys.path.pop(0)
    zip_path = build_pyfiles_zip(str(tmp_path / "tin_terrain_spark.zip"))
    driver = tmp_path / "driver.py"
    driver.write_text(SUBMIT_DRIVER)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["TTS_REPO"] = ROOT
    out = subprocess.run(
        [shutil.which("spark-submit"), "--driver-memory", "1g",
         "--py-files", zip_path, str(driver)],
        env=env, capture_output=True, text=True, timeout=600, cwd=tmp_path,
    )
    assert "ROWS [0, 2, 4, 6, 8, 10]" in out.stdout, out.stderr[-3000:]
