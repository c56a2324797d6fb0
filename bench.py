"""Benchmark harness: run every ``__spark_entry__.queries()`` entry at
``$SPARK_GRAFT_SF_DIR`` (default ``/root/testdata/sf0.1``) on
``local[$SPARK_GRAFT_CPUS]`` and print ONE JSON line::

    {"metric": "total_query_time", "value": N, "unit": "sec",
     "queries": {"q1_pricing_summary": sec, ...}, "sf": 0.1,
     "sessions": 3}

Each query is forced end-to-end with the ``noop`` sink (full computation,
no serialization to disk, no driver collect) so the measured time is the
Spark plan's, not the harness's.

**Variance protocol (r12 — VERDICT r11 item 5).** Identical code has
measured 52.9–102.7 s across driver sessions on this shared box, so a
single session cannot attribute a regression. By default the harness
runs ``--sessions 3`` ISOLATED sessions (separate JVM each, spawned
sequentially as subprocesses) and aggregates:

- ``queries``/``value`` — per-query MIN across sessions (of each
  session's per-query min-of-``runs``): the steady-state number host
  noise can only inflate, so the min is the comparable headline;
- ``queries_p50``/``value_p50`` — per-query MEDIAN across sessions:
  what a typical single-session harness run would see;
- ``queries_spread`` — per-query max/min ratio across sessions: the
  self-diagnosis. A query whose spread is 2.5× on unchanged code is
  host noise (r11's q_minhash_dedup read 4.58 s in the driver vs
  1.75 s isolated, same SHA); a query whose MIN moved is a real
  change;
- ``host_load`` per session — 1-minute loadavg before/after plus cpu
  count: the telemetry that says WHY a session was slow.

Inside each session, each query still runs ``$SPARK_GRAFT_BENCH_RUNS``
(default 2) times: run 1 pays one-time codegen/broadcast, run 2 is
steady state; ``warmup_sec`` keeps session bring-up outside every query
timing. ``--sessions 1`` (or env ``SPARK_GRAFT_BENCH_SESSIONS=1``)
restores the single-session behavior for quick iteration.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _loadavg() -> float | None:
    try:
        return round(os.getloadavg()[0], 2)
    except OSError:  # pragma: no cover
        return None


def _clear_cache(spark) -> None:
    """Drop cached blocks between measurements. A failure that killed
    the session must not abort the loop: the next query reports its
    own error instead."""
    try:
        spark.catalog.clearCache()
    except Exception as e:  # pragma: no cover - bench robustness
        print(f"bench clearCache failed: {type(e).__name__}: {e}",
              file=sys.stderr)


def _one_session(sf_dir: str, sf: float) -> dict:
    """One isolated measurement session (the pre-r12 harness body)."""
    import __spark_entry__ as entry
    from pyspark.sql import functions as F

    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.session import get_spark

    load0 = _loadavg()
    spark = get_spark("bench")  # master local[$SPARK_GRAFT_CPUS] inside
    spark.sparkContext.setLogLevel("ERROR")

    # session warm-up: JVM/scheduler bring-up and the noop sink's first
    # codegen are not any query's cost
    t0 = time.time()
    spark.range(1000).groupBy((F.col("id") % 10).alias("k")).count() \
        .write.format("noop").mode("overwrite").save()
    warmup = round(time.time() - t0, 3)

    # min of N runs per query: run 1 pays one-time codegen/broadcast
    # build; run 2 is the steady state a long-running job sees
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2"))
    qs = entry.queries()
    timings: dict[str, float] = {}
    p50s: dict[str, float] = {}
    lasts: dict[str, float] = {}
    variants: dict[str, dict[str, float]] = {}
    for name, fn in qs.items():
        samples: list[float] = []
        try:
            for _ in range(runs):
                t0 = time.time()
                fn(spark, sf_dir).write.format("noop") \
                    .mode("overwrite").save()
                samples.append(time.time() - t0)
                # r15 (VERDICT r14 item 6): clear BETWEEN runs too, so a
                # register_persist query's later runs rebuild their cache
                # instead of reporting a warm-cache min — every sample
                # computes from the parquet inputs
                spark.catalog.clearCache()
            timings[name] = round(min(samples), 3)
            p50s[name] = round(statistics.median(samples), 3)
            lasts[name] = round(samples[-1], 3)
        except Exception as e:  # pragma: no cover - bench robustness
            print(f"bench error in {name}: {type(e).__name__}: {e}",
                  file=sys.stderr)
            timings[name] = -1.0
            p50s[name] = -1.0
            lasts[name] = -1.0
            # an errored run may have left cache behind (the dedup pair
            # operators persist() their signature relation; the CALLER
            # owns the lifetime, dedup.py:24-29) — don't let it skew the
            # next query's measurement
            _clear_cache(spark)

    # per-variant attribution for folded (tagged-union) entries
    # (r14 — VERDICT r13 item 6): one filtered steady-state run per
    # variant. The tag column is a per-branch literal, so
    # `variant = 'x'` constant-folds through the union and each run
    # costs only that branch — the detector can then attribute fold
    # growth to the branch that grew instead of by narration. Runs
    # as a SECOND pass after every main timing so the extra actions
    # never heat the box under a query being measured.
    for name, fn in qs.items():
        if timings.get(name, -1.0) < 0:
            continue
        try:
            df = fn(spark, sf_dir)
            tag = next((c for c in ("variant", "kind")
                        if c in df.columns), None)
            if tag is None:
                continue
            vals = sorted(r[0] for r in
                          df.select(tag).distinct().collect()
                          if r[0] is not None)
            vt: dict[str, float] = {}
            for v in vals:
                t0 = time.time()
                df.where(F.col(tag) == v) \
                    .write.format("noop").mode("overwrite").save()
                vt[v] = round(time.time() - t0, 3)
                # each variant builds its own cache, like the main loop
                _clear_cache(spark)
            variants[name] = vt
        except Exception as e:  # pragma: no cover
            print(f"bench variant error in {name}: "
                  f"{type(e).__name__}: {e}", file=sys.stderr)
        _clear_cache(spark)
    spark.stop()

    total = round(sum(t for t in timings.values() if t >= 0), 3)
    total_last = round(sum(t for t in lasts.values() if t >= 0), 3)
    return {"metric": "total_query_time", "value": total, "unit": "sec",
            "queries": timings, "queries_p50": p50s,
            "queries_last": lasts, "value_last": total_last,
            "variants": variants,
            "warmup_sec": warmup, "runs": runs, "sf": sf,
            "host_load": {"start_1m": load0, "end_1m": _loadavg(),
                          "cpus": os.cpu_count()}}


def _aggregate(sessions: list[dict], sf: float) -> dict:
    """Cross-session aggregation: min is the headline, median the
    typical session, spread the noise self-diagnosis."""
    names: list[str] = []
    for s in sessions:
        for n in s["queries"]:
            if n not in names:
                names.append(n)
    queries, p50s, spread = {}, {}, {}
    for n in names:
        vals = [s["queries"][n] for s in sessions
                if s["queries"].get(n, -1.0) >= 0]
        if not vals:
            queries[n] = p50s[n] = -1.0
            spread[n] = None
            continue
        queries[n] = round(min(vals), 3)
        p50s[n] = round(statistics.median(vals), 3)
        spread[n] = (round(max(vals) / min(vals), 2)
                     if min(vals) > 0 else None)
    total = round(sum(t for t in queries.values() if t >= 0), 3)
    total_p50 = round(sum(t for t in p50s.values() if t >= 0), 3)
    variants: dict[str, dict[str, float]] = {}
    for s in sessions:
        for qn, vt in (s.get("variants") or {}).items():
            agg = variants.setdefault(qn, {})
            for v, t in vt.items():
                agg[v] = round(min(agg.get(v, t), t), 3)
    return {"metric": "total_query_time", "value": total, "unit": "sec",
            "queries": queries, "queries_p50": p50s,
            "queries_spread": spread, "value_p50": total_p50,
            "variants": variants,
            "sessions": len(sessions),
            "session_totals": [s["value"] for s in sessions],
            "session_loads": [s.get("host_load") for s in sessions],
            "warmup_sec": [s["warmup_sec"] for s in sessions],
            "runs": sessions[0].get("runs"), "sf": sf}


def _detect_regressions(doc: dict, repo: str) -> dict:
    """Self-adjudicating regression check (r13 — VERDICT r12 item 6):
    compare this run's per-query MIN against the previous round's and
    flag only deltas exceeding the measured noise envelope, so the
    verdict's perf section stops hand-attributing host noise.

    Baseline preference: the committed isolated-run artifact
    ``bench_out.json`` (carries per-query spread — the measured
    envelope), falling back to the newest driver-recorded
    ``BENCH_r*.json``'s parsed queries (min only). The envelope for a
    query is ``max(spread_now, spread_baseline, 1.4)`` — identical
    code has measured per-query max/min spreads beyond 2× on this
    shared box, so anything inside the observed spread (with a 1.4×
    floor for queries that happened to measure quietly) is noise, not
    a regression. An absolute floor of 0.3 s keeps sub-second queries
    from flagging on scheduler jitter. Returns
    ``{"baseline": <file>, "regressions": [...]}`` — empty list when
    nothing exceeds the envelope."""
    import glob
    import re

    base, base_name = None, None
    bo = os.path.join(repo, "bench_out.json")
    if os.path.exists(bo):
        try:
            with open(bo) as f:
                base = json.load(f)
            base_name = "bench_out.json"
        except Exception:
            base = None
    if base is None:
        rounds = []
        for p in glob.glob(os.path.join(repo, "BENCH_r*.json")):
            m = re.search(r"BENCH_r(\d+)\.json$", p)
            if m:
                rounds.append((int(m.group(1)), p))
        for _, p in sorted(rounds, reverse=True):
            try:
                with open(p) as f:
                    d = json.load(f)
                parsed = d.get("parsed") or d
                if parsed.get("queries"):
                    base, base_name = parsed, os.path.basename(p)
                    break
            except Exception:
                continue
    if base is None or base.get("sf") != doc.get("sf"):
        return {"baseline": None, "regressions": []}

    spread_now = doc.get("queries_spread") or {}
    spread_base = base.get("queries_spread") or {}
    regressions = []
    for name, new_min in (doc.get("queries") or {}).items():
        prev_min = (base.get("queries") or {}).get(name)
        if prev_min is None or prev_min <= 0 or new_min is None \
                or new_min < 0:
            continue
        env = max(spread_now.get(name) or 1.0,
                  spread_base.get(name) or 1.0, 1.4)
        if new_min > prev_min * env and new_min - prev_min > 0.3:
            regressions.append({
                "query": name, "prev_min": prev_min,
                "min": new_min,
                "ratio": round(new_min / prev_min, 2),
                "envelope": round(env, 2)})
    # per-variant attribution (r14): when both artifacts carry fold
    # timings, flag the BRANCH that grew (the query-level envelope
    # applies — variant runs share the query's noise profile)
    base_vars = base.get("variants") or {}
    for qn, vt in (doc.get("variants") or {}).items():
        for v, new_t in vt.items():
            prev_t = (base_vars.get(qn) or {}).get(v)
            if prev_t is None or prev_t <= 0 or new_t < 0:
                continue
            env = max(spread_now.get(qn) or 1.0,
                      spread_base.get(qn) or 1.0, 1.4)
            if new_t > prev_t * env and new_t - prev_t > 0.3:
                regressions.append({
                    "query": f"{qn}[{v}]", "prev_min": prev_t,
                    "min": new_t,
                    "ratio": round(new_t / prev_t, 2),
                    "envelope": round(env, 2)})
    regressions.sort(key=lambda r: -r["ratio"])
    return {"baseline": base_name, "regressions": regressions}


def main() -> None:
    # the artifact path is run-scoped BY DEFAULT (bench_out.last.json,
    # gitignored): the committed bench_out.json records isolated-run
    # numbers and is only updated deliberately via
    # `python bench.py --out bench_out.json` — a driver/CI invocation
    # with no args can therefore never clobber the committed numbers
    # (r5 finding: the driver's single run overwrote the artifact).
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default=os.environ.get(
        "SPARK_GRAFT_BENCH_OUT", "bench_out.last.json"))
    ap.add_argument("--sessions", type=int, default=int(os.environ.get(
        "SPARK_GRAFT_BENCH_SESSIONS", "3")))
    args = ap.parse_args()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)

    if args.sessions <= 1:
        full_doc = _one_session(sf_dir, sf)
    else:
        session_docs: list[dict] = []
        for i in range(args.sessions):
            with tempfile.NamedTemporaryFile(
                    suffix=".json", prefix=f"bench_s{i}_",
                    delete=False) as tf:
                tmp = tf.name
            try:
                # a fresh interpreter + JVM per session: no shared
                # codegen cache, no leaked executors, no warm pages —
                # the isolation that makes cross-session spread
                # meaningful
                r = subprocess.run(
                    [sys.executable, os.path.abspath(__file__),
                     "--out", tmp, "--sessions", "1"],
                    stdout=subprocess.DEVNULL, check=False)
                if r.returncode != 0:
                    print(f"bench session {i} exited "
                          f"{r.returncode}", file=sys.stderr)
                    continue
                with open(tmp) as f:
                    session_docs.append(json.load(f))
            finally:
                try:
                    os.unlink(tmp)
                except OSError:
                    pass
        if not session_docs:
            print("bench: every session failed", file=sys.stderr)
            sys.exit(1)
        full_doc = _aggregate(session_docs, sf)

    reg = _detect_regressions(full_doc,
                              os.path.dirname(os.path.abspath(__file__)))
    full_doc["baseline"] = reg["baseline"]
    full_doc["regressions"] = reg["regressions"]
    full = json.dumps(full_doc)
    # The stdout line carries ONLY the spec-required fields plus the
    # (usually empty) regressions verdict: r3's artifact had
    # parsed:null because the harness keeps a bounded tail of output
    # and the 59-query × two-dict line was cut mid-JSON. The compact
    # line is ~half the size; the per-query medians, spreads, and
    # load telemetry live in the --out artifact.
    compact = json.dumps({"metric": "total_query_time",
                          "value": full_doc["value"], "unit": "sec",
                          "queries": full_doc["queries"], "sf": sf,
                          "baseline": reg["baseline"],
                          "regressions": reg["regressions"]},
                         separators=(",", ":"))
    out_path = args.out
    if not os.path.isabs(out_path):
        out_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                out_path)
    with open(out_path, "w") as f:
        f.write(full + "\n")
    sys.stdout.flush()
    print(compact, flush=True)


if __name__ == "__main__":
    main()
