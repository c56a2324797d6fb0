"""The session's ``file:`` file system (``jvm/NioLocalFileSystem.java``):
selected by ``get_spark``, built once per source version, and setting
the same permission bits the stock one sets by forking ``chmod``."""

from __future__ import annotations

import os
import shutil
import stat

import pytest

from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark import session

needs_build = pytest.mark.skipif(session._local_fs_classes() is None,
                                 reason="no javac or Hadoop jar to build with")


def _mode(path) -> int:
    return stat.S_IMODE(os.stat(path).st_mode)


@needs_build
def test_session_file_system_is_nio(spark):
    jvm = spark._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(jvm.java.net.URI("file:///"), conf)
    assert fs.getClass().getName() == session.LOCAL_FS_CLASS
    assert (jvm.org.apache.hadoop.fs.FileSystem.getLocal(conf).getClass().getName()
            == session.LOCAL_FS_CLASS)


@needs_build
@pytest.mark.parametrize("mode", [0o640, 0o755, 0o600, 0o000, 0o1777])
def test_set_permission_sets_mode(spark, tmp_path, mode):
    """Plain modes go through java.nio; a sticky mode falls back to
    Hadoop's own ``chmod``. Either way the file ends with ``mode``."""
    jvm = spark._jvm
    fs = jvm.org.apache.hadoop.fs.FileSystem.getLocal(
        spark.sparkContext._jsc.hadoopConfiguration()).getRaw()
    target = tmp_path / "d"
    target.mkdir()
    fs.setPermission(jvm.org.apache.hadoop.fs.Path(str(target)),
                     jvm.org.apache.hadoop.fs.permission.FsPermission(mode))
    assert _mode(target) == mode
    os.chmod(target, 0o755)


@needs_build
def test_set_permission_missing_path_raises(spark, tmp_path):
    jvm = spark._jvm
    fs = jvm.org.apache.hadoop.fs.FileSystem.getLocal(
        spark.sparkContext._jsc.hadoopConfiguration()).getRaw()
    with pytest.raises(Exception, match="NoSuchFile|No such file"):
        fs.setPermission(jvm.org.apache.hadoop.fs.Path(str(tmp_path / "none")),
                         jvm.org.apache.hadoop.fs.permission.FsPermission(0o644))


@needs_build
def test_partitioned_write_keeps_default_modes(spark, tmp_path):
    """Directories and files of a partitioned parquet write carry the
    stock defaults (0777 / 0666 under Hadoop's umask, 022), checksums
    included."""
    out = str(tmp_path / "t")
    df = spark.range(20).selectExpr("id", "cast(id % 3 as string) as k")
    df.write.partitionBy("k").parquet(out)
    assert spark.read.parquet(out).count() == 20
    seen = {"dir": 0, "file": 0}
    for base, dirs, files in os.walk(out):
        for d in dirs:
            assert _mode(os.path.join(base, d)) == 0o755
            seen["dir"] += 1
        for f in files:
            assert _mode(os.path.join(base, f)) == 0o644, f
            seen["file"] += 1
    assert seen["dir"] == 3 and seen["file"] >= 8   # data + .crc, _SUCCESS


def test_build_without_javac_keeps_stock_fs(tmp_path, monkeypatch):
    shutil.copy(os.path.join(session._JVM_DIR, "NioLocalFileSystem.java"),
                tmp_path)
    monkeypatch.setattr(session, "_JVM_DIR", str(tmp_path))
    monkeypatch.setenv("JAVA_HOME", str(tmp_path / "no-jdk"))
    assert session._local_fs_classes() is None
    assert not (tmp_path / "build").exists()


@needs_build
def test_build_is_keyed_by_source(tmp_path, monkeypatch):
    """A changed source builds into a new directory; an unchanged one
    reuses the built classes."""
    src = tmp_path / "NioLocalFileSystem.java"
    shutil.copy(os.path.join(session._JVM_DIR, "NioLocalFileSystem.java"), src)
    monkeypatch.setattr(session, "_JVM_DIR", str(tmp_path))
    first = session._local_fs_classes()
    assert os.path.exists(os.path.join(first, "adsl", "hadoop",
                                       "NioLocalFileSystem$Raw.class"))
    assert session._local_fs_classes() == first
    src.write_text(src.read_text() + "\n// changed\n")
    second = session._local_fs_classes()
    assert second != first and os.path.isdir(second)
    assert sorted(os.listdir(tmp_path / "build")) == sorted(
        os.path.basename(p) for p in (first, second))
