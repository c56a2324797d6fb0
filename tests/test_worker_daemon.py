"""The package's Python worker daemon (``worker_daemon``): its stat-keyed
zip directory cache, and the workers ``get_spark`` starts through it."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import uuid
import zipfile
import zipimport

import pytest

import aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark as pkg
from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark import worker_daemon

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture
def hooked(monkeypatch):
    """Installs the hook in this process for one test, with an empty stat
    key table, and counts ``zipimport._read_directory`` calls."""
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        worker_daemon._stock_invalidate_caches)
    monkeypatch.setattr(worker_daemon, "_stat_keys", {})
    assert worker_daemon.install()
    reads = []
    stock_read = zipimport._read_directory

    def counting_read(archive):
        reads.append(archive)
        return stock_read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    return reads


def _write_zip(path, modules: dict[str, str]) -> None:
    """Rewrites ``path`` in place (same inode) with ``modules`` and moves
    its mtime, so the stat key changes even within one clock tick."""
    old = os.stat(path).st_mtime_ns if os.path.exists(path) else 0
    with open(path, "r+b" if os.path.exists(path) else "wb") as f:
        f.truncate(0)
        with zipfile.ZipFile(f, "w") as z:
            for name, src in modules.items():
                z.writestr(name, src)
    os.utime(path, ns=(old + 10**9, old + 10**9))


@pytest.fixture
def archive(tmp_path):
    path = str(tmp_path / "lib.zip")
    yield path
    zipimport._zip_directory_cache.pop(path, None)


def test_unchanged_archive_is_not_reread(hooked, archive):
    _write_zip(archive, {"pkg/__init__.py": "", "pkg/a.py": "X = 1\n"})
    importers = [zipimport.zipimporter(archive),
                 zipimport.zipimporter(os.path.join(archive, "pkg"))]
    importers[0].invalidate_caches()  # records the archive's stat key
    hooked.clear()
    before = worker_daemon.rereads
    for _ in range(3):
        for imp in importers:
            imp.invalidate_caches()
    assert hooked == []
    assert worker_daemon.rereads == before
    assert importers[1].find_spec("a") is not None


def test_rewritten_archive_is_reread_and_new_module_imports(
        hooked, archive, monkeypatch):
    a, b = f"zmod_a_{uuid.uuid4().hex}", f"zmod_b_{uuid.uuid4().hex}"
    _write_zip(archive, {f"{a}.py": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module(a).X == 1
        importlib.invalidate_caches()
        with pytest.raises(ModuleNotFoundError):
            importlib.import_module(b)
        ino = os.stat(archive).st_ino
        _write_zip(archive, {f"{a}.py": "X = 1\n", f"{b}.py": "Y = 2\n"})
        assert os.stat(archive).st_ino == ino
        hooked.clear()
        importlib.invalidate_caches()
        assert hooked == [archive]
        assert importlib.import_module(b).Y == 2
    finally:
        sys.modules.pop(a, None)
        sys.modules.pop(b, None)
        sys.path_importer_cache.pop(archive, None)


def test_deleted_archive_behaves_as_stock(hooked, archive, tmp_path):
    _write_zip(archive, {"m.py": ""})
    hooked_imp = zipimport.zipimporter(archive)
    hooked_imp.invalidate_caches()
    stock_path = str(tmp_path / "stock.zip")
    _write_zip(stock_path, {"m.py": ""})
    stock_imp = zipimport.zipimporter(stock_path)
    os.remove(archive)
    os.remove(stock_path)

    hooked_imp.invalidate_caches()
    worker_daemon._stock_invalidate_caches(stock_imp)

    assert hooked_imp._files == stock_imp._files == {}
    assert archive not in zipimport._zip_directory_cache
    assert stock_path not in zipimport._zip_directory_cache
    assert archive not in worker_daemon._stat_keys
    assert hooked_imp.find_spec("m") is None


def test_hook_not_installed_from_python_3_13(monkeypatch):
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        worker_daemon._stock_invalidate_caches)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    assert not worker_daemon.install()
    assert (zipimport.zipimporter.invalidate_caches
            is worker_daemon._stock_invalidate_caches)


def test_workers_run_hooked_from_the_drivers_package(spark):
    """Two one-task jobs: each worker has the hook, no task re-reads a
    directory (forks start with the daemon's reads and add none), and
    the worker imports the driver's package."""
    def report(batches):
        import pyarrow as pa

        from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark import (
            worker_daemon as wd,
        )

        for _ in batches:
            pass
        yield pa.RecordBatch.from_pylist([{
            "installed": wd.installed(), "rereads": wd.rereads,
            "package": sys.modules[pkg.__name__].__file__}])

    schema = "installed boolean, rereads long, package string"
    first, second = (spark.range(1, numPartitions=1)
                     .mapInArrow(report, schema).collect()[0]
                     for _ in range(2))
    for row in (first, second):
        assert row.installed
        assert row.package == pkg.__file__
    assert second.rereads == first.rereads


def test_workers_ignore_a_decoy_package_in_the_cwd(tmp_path):
    """A package of the same name in the driver's cwd must not shadow the
    driver's package in the workers (``python -m`` puts the cwd first on
    ``sys.path`` unless ``PYTHONSAFEPATH`` is set)."""
    decoy = tmp_path / pkg.__name__
    decoy.mkdir()
    (decoy / "__init__.py").write_text("raise ImportError('decoy package')\n")
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {REPO_ROOT!r})
        import pyarrow as pa
        from {pkg.__name__}.session import get_spark

        def report(batches):
            import {pkg.__name__} as p
            for _ in batches:
                pass
            yield pa.RecordBatch.from_pylist([{{"package": p.__file__}}])

        spark = get_spark("decoy-cwd", shuffle_partitions=1)
        spark.sparkContext.setLogLevel("ERROR")
        row = spark.range(1, numPartitions=1).mapInArrow(
            report, "package string").collect()[0]
        spark.stop()
        print("PACKAGE=" + row.package)
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONSAFEPATH"}
    env.update(SPARK_GRAFT_CPUS="1", SPARK_DRIVER_MEMORY="512m")
    out = subprocess.run([sys.executable, "-c", script], cwd=tmp_path,
                         env=env, capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-3000:]
    assert f"PACKAGE={pkg.__file__}" in out.stdout.splitlines()
