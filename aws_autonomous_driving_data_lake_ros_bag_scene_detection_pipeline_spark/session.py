"""SparkSession factory with scale-oriented defaults.

The reference relies on EMR's ``maximizeResourceAllocation``
(config.json:44-50) and otherwise tunes nothing. Here we pin the
settings that matter for a 100 TB deployment and for oracle-exact
results:

- AQE on (runtime coalescing + skew-join splitting),
- UTC session timezone (timestamps hash-match the DuckDB oracle),
- Arrow enabled for the few pandas-UDF operators,
- shuffle partitions sized by env (32 locally; a real cluster sets
  ``spark.sql.shuffle.partitions`` ~2-3x total cores and relies on AQE
  to coalesce),
- Python workers forked from this package's daemon,
  ``worker_daemon`` (``spark.python.daemon.module``): on Python < 3.13
  ``importlib.invalidate_caches()``, which every Python task calls, makes
  each zipimporter re-read ``pyspark.zip``'s directory (0.13-0.20 s a
  task); the daemon's hook re-reads an archive only when its stat
  changes,
- ``PYTHONSAFEPATH=1`` for the workers: ``python -m`` otherwise puts the
  driver's cwd first on the daemon's ``sys.path``, and a cwd holding
  another checkout of this package would shadow the one on
  ``PYTHONPATH``,
- Hadoop's local file system set to ``NioLocalFileSystem``
  (``jvm/NioLocalFileSystem.java``, compiled on first use): without
  Hadoop's native library every file and directory a parquet write
  creates forks a ``chmod`` of the JVM (~14 a partitioned write); this
  subclass sets the same permission bits through ``java.nio``. Where
  ``javac`` or the Hadoop jar is missing the stock file system stays.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import subprocess
import tempfile

from pyspark.sql import SparkSession

# Streaming state-store providers. The default HDFS-backed store keeps
# every key in executor heap — fine for small state, fatal for a 100 TB
# ingest dedup horizon (state is O(distinct keys within watermark)).
# RocksDB spills state to local disk with an in-memory working set and
# ships incremental snapshots to the checkpoint; it is bundled with
# Spark (no extra jars).
STATE_STORE_PROVIDERS = {
    "rocksdb": ("org.apache.spark.sql.execution.streaming.state."
                "RocksDBStateStoreProvider"),
    "hdfs": ("org.apache.spark.sql.execution.streaming.state."
             "HDFSBackedStateStoreProvider"),
}


def set_state_store(spark: SparkSession, provider: str) -> None:
    """Select the streaming state-store provider ('rocksdb', 'hdfs', or
    a fully-qualified provider class). The conf is read when a streaming
    query STARTS, so this applies to queries started after the call;
    running queries keep their provider."""
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
                   STATE_STORE_PROVIDERS.get(provider, provider))


#: the local file system of :func:`get_spark`'s sessions
LOCAL_FS_CLASS = "adsl.hadoop.NioLocalFileSystem"
_JVM_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jvm")


def _local_fs_classes() -> str | None:
    """Class directory holding :data:`LOCAL_FS_CLASS`, compiled once per
    source version into ``jvm/build/<source hash>``; None where it cannot
    be built."""
    from pyspark.find_spark_home import _find_spark_home

    src = os.path.join(_JVM_DIR, "NioLocalFileSystem.java")
    with open(src, "rb") as f:
        out = os.path.join(_JVM_DIR, "build",
                           hashlib.sha1(f.read()).hexdigest()[:12])
    if os.path.isdir(out):
        return out
    java_home = os.environ.get("JAVA_HOME")
    javac = (os.path.join(java_home, "bin", "javac") if java_home
             else shutil.which("javac"))
    jars = glob.glob(os.path.join(os.environ.get("SPARK_HOME")
                                  or _find_spark_home(),
                                  "jars", "hadoop-client-api-*.jar"))
    if not javac or not os.path.exists(javac) or not jars:
        return None
    try:
        os.makedirs(os.path.dirname(out), exist_ok=True)
        tmp = tempfile.mkdtemp(dir=os.path.dirname(out))
    except OSError:
        return None
    try:
        subprocess.run([javac, "-nowarn", "--release", "17", "-d", tmp,
                        "-cp", jars[0], src],
                       check=True, capture_output=True, timeout=300)
        os.rename(tmp, out)     # atomic; a concurrent build may win
    except (OSError, subprocess.SubprocessError):
        pass
    shutil.rmtree(tmp, ignore_errors=True)
    return out if os.path.isdir(out) else None


def _local_fs_conf() -> dict[str, str]:
    """Session conf that selects :data:`LOCAL_FS_CLASS` for ``file:``."""
    from pyspark import SparkContext

    if SparkContext._gateway is not None:
        # the JVM is up and its class path fixed
        try:
            SparkContext._jvm.java.lang.Class.forName(LOCAL_FS_CLASS)
        except Exception:
            return {}
        return {"spark.hadoop.fs.file.impl": LOCAL_FS_CLASS}
    classes = _local_fs_classes()
    if classes is None:
        return {}
    return {"spark.driver.extraClassPath": classes,
            "spark.hadoop.fs.file.impl": LOCAL_FS_CLASS}


def get_spark(app_name: str = "adsl-spark", shuffle_partitions: int | None = None,
              extra_conf: dict | None = None,
              state_store: str | None = None) -> SparkSession:
    # ensure executor-side Python workers can unpickle this package's
    # mapInPandas functions regardless of the driver process's cwd
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if repo_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (repo_root + os.pathsep + existing
                                    if existing else repo_root)
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_SQL_SHUFFLE_PARTITIONS", cpus))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # events.parquet stores TIMESTAMP(NANOS); Spark has no nanos type, so
        # read as long (nanoseconds since epoch) and derive ts_us = floor(/1e3)
        # which matches DuckDB's epoch_us() exactly (see tests/test_parity.py)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # keep stdout clean for harnesses that parse a JSON metric line
        # (progress bars interleave with print() and corrupt the line)
        .config("spark.ui.showConsoleProgress", "false")
        # r14 (optimization guide §1/§7): PySpark 4 wraps EVERY
        # DataFrame/Column API call to capture the Python call site for
        # error context — a conf.get RPC + stack walk + two more py4j
        # round-trips per call. Driver-side plan construction is a
        # measured ~40% of this engine's per-query cost (deep folded
        # plans, thousands of API calls), and the capture tripled the
        # py4j chatter. Off in production sessions; error messages lose
        # only the "called from file:line" breadcrumb.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.python.daemon.module", f"{__package__}.worker_daemon")
        .config("spark.executorEnv.PYTHONSAFEPATH", "1")
    )
    if state_store:
        builder = builder.config(
            "spark.sql.streaming.stateStore.providerClass",
            STATE_STORE_PROVIDERS.get(state_store, state_store))
    conf = _local_fs_conf()
    for k, v in (extra_conf or {}).items():
        if k == "spark.driver.extraClassPath" and k in conf:
            v = conf[k] + os.pathsep + v
        conf[k] = v
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
