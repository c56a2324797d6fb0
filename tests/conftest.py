"""Shared fixtures: one tuned local SparkSession per test run, a DuckDB
connection with the testdata tables registered, and helpers to compare a
Spark DataFrame against a DuckDB oracle result (the same comparison the
driver harness performs: row count + order-insensitive values)."""

from __future__ import annotations

import math
import os

import duckdb
import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")

# The codec bit-exactness suites push a plain `pytest tests/` past a
# practical verify window. They are deselected by default and run with
# `pytest tests/ --runslow` (the option is registered by this conftest,
# so `tests/` or a path under it must be an invocation argument), or by
# targeting the file explicitly: `pytest tests/test_zstd.py` runs that
# slow suite and still deselects the other ones.
SLOW_TEST_FILES = {
    "test_vp8_inter.py", "test_zstd.py", "test_jpeg_libjpeg.py",
}


def pytest_addoption(parser):
    parser.addoption(
        "--runslow", action="store_true", default=False,
        help="run the slow codec bit-exactness suites too")


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "slow: slow codec bit-exactness suite (deselected "
        "unless --runslow)")


def _targeted_files(args) -> set[str]:
    """Basenames of the test files named on the command line: option
    arguments are skipped and ``::`` node ids split off, so
    ``--junitxml=test_zstd.py.xml`` targets nothing and
    ``tests/test_zstd.py::test_x`` targets ``test_zstd.py``."""
    return {os.path.basename(a.split("::", 1)[0])
            for a in args if not a.startswith("-")}


def pytest_collection_modifyitems(config, items):
    for item in items:
        if item.path.name in SLOW_TEST_FILES:
            item.add_marker(pytest.mark.slow)
    if config.getoption("--runslow"):
        return
    # a slow file targeted directly still runs; the others stay out
    targeted = _targeted_files(config.invocation_params.args)
    selected, deselected = [], []
    for i in items:
        skip = "slow" in i.keywords and i.path.name not in targeted
        (deselected if skip else selected).append(i)
    if deselected:
        config.hook.pytest_deselected(items=deselected)
        items[:] = selected

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")
TABLES = ("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings")


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.session import get_spark

    # Hermetic warehouse: saveAsTable fails with LOCATION_ALREADY_EXISTS
    # when a killed prior session leaves ./spark-warehouse/<table> behind
    # (the test's `finally` drop never ran). A per-session tmp warehouse
    # means stale residue from any previous run can't poison this one.
    warehouse = tmp_path_factory.mktemp("spark-warehouse")
    spark = get_spark("tests", shuffle_partitions=8,
                      extra_conf={"spark.sql.warehouse.dir": str(warehouse)})
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
    spark.stop()


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn)`` runs ``fn()`` under a fresh Spark job group and
    returns the number of jobs it started, read from ``statusTracker``
    the way ``perfbench/spans.group_counts`` reads it."""
    import uuid

    sc = spark.sparkContext

    def count(fn) -> int:
        group = f"count-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        # job-start events reach the status store through the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"create view {t} as select * from read_parquet('{SF_DIR}/{t}.parquet')")
    yield con
    con.close()


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 6)
    return v


def assert_df_matches_oracle(sdf, duck, sql, sort_cols=None):
    """Order-insensitive comparison of a Spark DF vs a DuckDB query."""
    spark_rows = sorted(tuple(_norm(v) for v in r) for r in sdf.collect())
    duck_rows = sorted(tuple(_norm(v) for v in r) for r in duck.sql(sql).fetchall())
    assert len(spark_rows) == len(duck_rows), f"row count {len(spark_rows)} != {len(duck_rows)}"
    for i, (s, d) in enumerate(zip(spark_rows, duck_rows)):
        assert s == d, f"row {i}: spark={s} duck={d}"


@pytest.fixture(scope="session")
def zstd_ref():
    """Real-codec zstd compressor (system libzstd over ctypes) — the
    encode side of the builtin RFC 8878 decoder's oracle, same
    pattern as the libwebp/libjpeg ctypes oracles. Returns
    ``compress(data, level=3) -> bytes``; skips when the shared
    library is absent."""
    import ctypes

    lib = None
    for name in ("libzstd.so.1", "libzstd.so", "libzstd.1.dylib",
                 "libzstd.dylib"):
        try:
            lib = ctypes.CDLL(name)
            break
        except OSError:
            continue
    if lib is None:
        pytest.skip("system libzstd not available for the "
                    "real-codec oracle")
    lib.ZSTD_compress.restype = ctypes.c_size_t
    lib.ZSTD_compress.argtypes = [
        ctypes.c_char_p, ctypes.c_size_t, ctypes.c_char_p,
        ctypes.c_size_t, ctypes.c_int]
    lib.ZSTD_compressBound.restype = ctypes.c_size_t
    lib.ZSTD_compressBound.argtypes = [ctypes.c_size_t]
    lib.ZSTD_isError.restype = ctypes.c_uint
    lib.ZSTD_isError.argtypes = [ctypes.c_size_t]

    def compress(data: bytes, level: int = 3) -> bytes:
        bound = lib.ZSTD_compressBound(len(data))
        dst = ctypes.create_string_buffer(bound)
        n = lib.ZSTD_compress(dst, bound, bytes(data), len(data),
                              level)
        assert not lib.ZSTD_isError(n), "libzstd compress failed"
        return dst.raw[:n]

    return compress
