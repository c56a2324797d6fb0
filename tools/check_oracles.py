"""Local replica of the driver's correctness gate: run each
``__spark_entry__.queries()`` entry and its DuckDB oracle side by side,
compare row count, column names, and order-insensitive values.

Usage: python tools/check_oracles.py [sf_dir] [query ...]
       python tools/check_oracles.py [sf_dir] --skip-quadratic

``--skip-quadratic`` excludes the queries whose DuckDB oracle is an
all-pairs O(n²) computation — at sf0.1 those oracles take minutes while
everything else finishes in seconds. The r4 three-scale validation ran
the full contract at sf0.001/sf0.01 and both batches at sf0.1.
"""

from __future__ import annotations

import math
import os
import sys
import time
from collections import Counter

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

TABLES = ("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings")

# queries whose DuckDB oracle is an exact all-pairs O(n²) computation
# (q_edit_distance's all-pairs levenshtein runs over the bounded
# distinct-name vocabulary, not the table, so it stays in the fast set)
QUADRATIC_ORACLES = {"q_minhash_dedup", "q_ngram_jaccard", "q_dup_clusters",
                     "q_simhash_pairs", "q_embedding_dups"}


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 6)
    return v


def main():
    args = [a for a in sys.argv[1:] if a != "--skip-quadratic"]
    skip = QUADRATIC_ORACLES if "--skip-quadratic" in sys.argv[1:] else set()
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    import __spark_entry__ as entry
    from pyspark.sql import SparkSession

    # The Python workers import this checkout's package too, whatever the
    # cwd holds: the JVM hands its environment to them, and ``python -m``
    # puts the cwd first on their path unless PYTHONSAFEPATH is set.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYTHONSAFEPATH"] = "1"
    # Deliberately a VANILLA session (not the engine's get_spark factory):
    # the driver's correctness gate builds a plain SparkSession, so the
    # contract must be self-sufficient. Round 1 failed 13 queries because
    # this tool used the factory and masked a missing runtime conf.
    spark = (SparkSession.builder.master("local[16]")
             .config("spark.sql.shuffle.partitions", "16")
             .config("spark.ui.enabled", "false")
             .appName("check-oracles").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"create view {t} as select * "
                f"from read_parquet('{sf_dir}/{t}.parquet')")

    qs, oracles = entry.queries(), entry.oracle_sql()
    failures = []
    for name, fn in qs.items():
        # the skip set (--skip-quadratic) must not override queries the
        # caller asked for by name
        if (only and name not in only) or (not only and name in skip):
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            cols = sorted(sdf.columns)
            srows = Counter(tuple(norm(r[c]) for c in cols) for r in sdf.collect())
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: spark error {type(e).__name__}: {e}")
            continue
        n_spark = sum(srows.values())
        if name not in oracles:
            print(f"rows  {name}: {n_spark} rows (no oracle) "
                  f"[{time.time()-t0:.1f}s]")
            continue
        try:
            res = con.sql(oracles[name])
            dcols = sorted(res.columns)
            idx = [res.columns.index(c) for c in dcols]
            drows = Counter(tuple(norm(r[i]) for i in idx) for r in res.fetchall())
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: duckdb error {e}")
            continue
        if cols != dcols:
            failures.append(name)
            print(f"FAIL  {name}: columns {cols} != {dcols}")
            continue
        n_duck = sum(drows.values())
        if n_spark != n_duck:
            failures.append(name)
            print(f"FAIL  {name}: rows {n_spark} != {n_duck}")
            continue
        if srows != drows:
            failures.append(name)
            only_s = list((srows - drows).keys())[:3]
            only_d = list((drows - srows).keys())[:3]
            print(f"FAIL  {name}: value mismatch")
            print(f"      spark-only={only_s}")
            print(f"      duck-only ={only_d}")
            continue
        print(f"OK    {name}: {n_spark} rows, cols={dcols} "
              f"[{time.time()-t0:.1f}s]")
    spark.stop()
    if failures:
        print(f"\n{len(failures)} FAILURES: {failures}")
        sys.exit(1)
    print("\nall queries match their oracles")


if __name__ == "__main__":
    main()
