"""Bag-to-scene benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Generates seeded ROS1 bags inside the checkout, sets up one Spark session
on ``local[<cores>]``, runs the reference's three hops (extract ->
synchronize -> detect) through the package's public functions for
``--seconds`` seconds, checks every pass and query against the
generator's ground truth, and prints one JSON object as the last line of
standard output: end-to-end metrics with ``--trace 0``, per-layer
metrics with ``--trace 1``. See README.md.
"""

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import baggen  # noqa: E402
import check  # noqa: E402
from spans import NullTracer, Tracer, group_counts  # noqa: E402

#: name -> bag family and kind; sizes live in baggen.FAMILIES
WORKLOADS = {
    "scenes_dense": {"family": "dense", "kind": "batch"},
    "landing_microbatch": {"family": "highrate", "kind": "landing"},
}
MIN_SAMPLES = 2          # passes or landing steps per run, at least
QUERY_ROUNDS = 1         # query mixes the client runs after each pass or step
WARM_SECONDS = 4         # tiny fixed warm-up input: 2 bags of 4 s each


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def pct(values: list[float], q: int) -> float:
    """q-th percentile (inclusive interpolation)."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def parquet_bytes(*dirs: str) -> tuple[int, int]:
    """(bytes, files) of the parquet data files under ``dirs``."""
    total = files = 0
    for d in dirs:
        for base, _, names in os.walk(d):
            for n in names:
                if n.endswith(".parquet"):
                    total += os.path.getsize(os.path.join(base, n))
                    files += 1
    return total, files


# ------------------------------------------------------------- memory

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(p))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, stack = _children(), [], [pid]
    while stack:
        for c in kids.get(stack.pop(), []):
            out.append(c)
            stack.append(c)
    return out


def rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


class RssSampler(threading.Thread):
    """Samples the RSS of the JVM and of its Python workers."""

    def __init__(self, jvm_pid: int, period: float = 0.2):
        super().__init__(daemon=True)
        self.jvm_pid, self.period = jvm_pid, period
        self.peak_total = self.peak_jvm = self.peak_workers = 0.0
        self._stop_evt = threading.Event()

    def run(self):
        while not self._stop_evt.is_set():
            jvm = rss_mb(self.jvm_pid)
            workers = sum(rss_mb(p) for p in descendants(self.jvm_pid))
            self.peak_jvm = max(self.peak_jvm, jvm)
            self.peak_workers = max(self.peak_workers, workers)
            self.peak_total = max(self.peak_total, jvm + workers)
            self._stop_evt.wait(self.period)

    def stop(self):
        self._stop_evt.set()
        self.join(timeout=10)


# ------------------------------------------------------------- session

class Session:
    """The Spark session and its JVM, created inside the work dir."""

    def __init__(self, work: str):
        self.work = work
        self.spark = None

    def start(self, cores: int):
        from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.session import get_spark
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        os.environ.update({
            "SPARK_GRAFT_CPUS": str(cores),
            "SPARK_LOCAL_DIRS": os.path.join(self.work, "spark-local"),
            "SPARK_DRIVER_MEMORY": "1g",
            "TMPDIR": tmp,
        })
        self.spark = get_spark("perfbench", extra_conf={
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            # no hsperfdata file: the JVM would write it under /tmp
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        })
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def jvm_pid(self) -> int:
        return self.spark.sparkContext._gateway.proc.pid

    def stop(self):
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self):
        """Stop the session, end the JVM and wait for every process
        it started."""
        from pyspark import SparkContext
        gw = SparkContext._gateway
        self.stop()
        if gw is None:
            return
        pids = descendants(gw.proc.pid)
        gw.shutdown()
        gw.proc.stdin.close()           # the JVM exits at EOF on stdin
        try:
            gw.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            gw.proc.kill()
            gw.proc.wait(timeout=30)
        deadline = time.time() + 30
        for p in pids:
            while os.path.exists(f"/proc/{p}") and time.time() < deadline:
                time.sleep(0.05)
        SparkContext._gateway = None
        SparkContext._jvm = None


# --------------------------------------------------------------- runs

class Bench:
    """One run: the workload's passes or landing steps, their checks and
    their samples."""

    def __init__(self, args, work: str, session: Session):
        self.args, self.work, self.session = args, work, session
        self.wl = WORKLOADS[args.workload]
        self.topics = baggen.topics(baggen.FAMILIES[self.wl["family"]])
        self.attempted = self.failed = 0
        self.samples: dict[str, list[float]] = {
            "pass_s": [], "msgs": [], "fresh_s": [], "query_ms": []}
        self.traced_pass_s: list[float] = []
        self.untraced_ids: list[str] = []
        self.layer: dict[str, list[float]] = {}
        self.n = 0

    # -- bookkeeping
    def op(self, what: str, problems: list[str]) -> bool:
        self.attempted += 1
        if problems:
            self.failed += 1
            log(f"FAILED {what}: " + "; ".join(problems))
            return False
        return True

    def error(self, what: str) -> None:
        self.attempted += 1
        self.failed += 1
        log(f"FAILED {what}:\n{traceback.format_exc()}")

    def note(self, name: str, value: float) -> None:
        self.layer.setdefault(name, []).append(value)

    # -- batch workloads
    def batch_pass(self, spark, bags, truth, tracer, lake):
        from pipeline import SCENE_COLS, Pass
        p = Pass(spark, tracer, lake, self.topics, bags)
        t0 = time.perf_counter()
        p.run()
        dt = time.perf_counter() - t0
        scenes = p.read("scenes").select(*SCENE_COLS).collect()
        fresh = time.perf_counter() - t0
        names = [b.rsplit("/", 1)[-1] for b in bags]
        counts = p.counts()
        p.release()
        ok = self.op("pass", check.check_pass(truth, names, self.topics,
                                              counts, scenes))
        return ok, dt, fresh, counts

    def batch_queries(self, spark, lake, truth, names, rng,
                      rounds=QUERY_ROUNDS):
        for q in self.queries(truth, names, rng, rounds):
            try:
                t0 = time.perf_counter()
                df = spark.read.parquet(f"{lake}/scenes").where(q["where"])
                rows = self._query_rows(df, q)
                dt = time.perf_counter() - t0
            except Exception:
                self.error(f"query {q['name']}")
                continue
            if self.op(f"query {q['name']}",
                       check.check_rows(q["name"], q["want"], rows)):
                self.samples["query_ms"].append(dt * 1e3)

    @staticmethod
    def queries(truth, bags, rng, rounds=QUERY_ROUNDS):
        return [q for _ in range(rounds)
                for q in check.query_mix(truth, bags, rng)]

    @staticmethod
    def _query_rows(df, q):
        from pyspark.sql import functions as F

        from pipeline import SCENE_COLS
        if q["agg"]:
            return [tuple(r) for r in df.groupBy("bag_file").agg(
                F.count(F.lit(1)), F.sum("num_people_in_scene_start")).collect()]
        return [tuple(r) for r in df.select(*SCENE_COLS).collect()]

    def run_batch(self, session, tracer_for):
        fam = self.wl["family"]
        data = os.path.join(self.work, "data")
        truth = baggen.generate(data, fam, self.args.seed)
        names = sorted(truth["bags"])
        bags = [os.path.join(data, b) for b in names]
        bag_bytes = sum(truth["bags"][b]["bytes"] for b in names)
        msgs = sum(truth["bags"][b]["messages"] for b in names)
        rng = random.Random(f"{self.args.seed}/queries")
        spark = session.spark
        t_end = time.perf_counter() + self.args.seconds
        prev = None
        while time.perf_counter() < t_end or self.n < MIN_SAMPLES:
            i = self.n
            self.n += 1
            tracer = tracer_for(i)
            lake = os.path.join(self.work, f"lake-{i}")
            group = self._group(tracer, i)
            try:
                ok, dt, fresh, counts = self.batch_pass(spark, bags, truth,
                                                        tracer, lake)
            except Exception:
                self.error("pass")
                ok = False
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            if ok:
                (self.traced_pass_s if tracer.enabled
                 else self.samples["pass_s"]).append(dt)
                if not tracer.enabled:
                    self.samples["fresh_s"].append(fresh)
                    self.samples["msgs"].append(msgs)
                    if group:
                        self.untraced_ids.append(group)
                else:
                    self._layer_counts(counts, truth, names, (lake,), (0, 0))
            self.batch_queries(spark, lake, truth, names, rng)
            if prev:
                shutil.rmtree(prev, ignore_errors=True)
            prev = lake
        self.lake_bytes = parquet_bytes(prev)[0] / bag_bytes
        return bags, truth, names, msgs

    def _group(self, tracer, i):
        """Untraced passes of a traced run get one job group each, so
        their Spark jobs and tasks can be counted."""
        if not self.args.trace or tracer.enabled:
            return None
        g = f"perfbench-pass-{i}"
        self.session.spark.sparkContext.setJobGroup(g, g)
        return g

    def _layer_counts(self, counts, truth, names, dirs, before):
        """Counts of one traced pass; bytes and files written are those
        added under ``dirs`` since ``before`` was taken."""
        per = [truth["bags"][b] for b in names]
        self.note("sources.rosbag.messages", sum(counts["topics"].values()))
        self.note("sources.rosbag.bag_mb", sum(p["bytes"] for p in per) / 2**20)
        self.note("pipeline.synchronize.rows_in", counts["sync_rows_in"])
        self.note("pipeline.synchronize.rows_out", counts["synced"])
        self.note("pipeline.scenes.det_lane_point_pairs",
                  sum(p["det_lane_point_pairs"] for p in per))
        self.note("pipeline.scenes.in_lane_frac",
                  counts["dets_in_lane"] / max(1, counts["dets_examined"]))
        self.note("pipeline.scenes.scenes_out", counts["scenes"])
        b, f = (now - was for now, was in zip(parquet_bytes(*dirs), before))
        self.note("sources.tables.bytes_written", b)
        self.note("sources.tables.files_written", f)

    # -- landing workload
    def landing_setup(self, root, seed, seconds=None):
        """State of one landing zone; batches are generated on demand."""
        return {"seed": seed, "seconds": seconds,
                "staging": os.path.join(root, "staging"),
                "truth": {"bags": {}}, "next": 0, "committed": [],
                "landing": os.path.join(root, "landing"),
                "ledger": os.path.join(root, "ledger"),
                "table": os.path.join(root, "scenes"),
                "lake": os.path.join(root, "lake")}

    def landing_step(self, spark, st, tracer, rng, rounds=QUERY_ROUNDS):
        from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.sources.snapshots import (
            read_snapshot, scan_pruning_stats, snapshot_append, sql_predicates,
        )
        from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.streaming.sources import (
            file_ingest_batch,
        )

        from pipeline import SCENE_COLS, Pass
        k = st["next"]
        st["next"] += 1
        t_gen = time.perf_counter()
        n = baggen.FAMILIES[self.wl["family"]]["bags"]
        staging = os.path.join(st["staging"], str(k))
        new = baggen.generate(staging, self.wl["family"], st["seed"],
                              seconds=st["seconds"], first=k * n)["bags"]
        st["truth"]["bags"].update(new)
        batch = sorted(new)
        truth = st["truth"]
        gen_s = time.perf_counter() - t_gen
        day = f"2026-01-{k + 1:02d}"
        dest = os.path.join(st["landing"], f"date={day}")
        os.makedirs(dest, exist_ok=True)
        for b in batch:
            os.replace(os.path.join(staging, b), os.path.join(dest, b))
        t_land = time.perf_counter()
        tracer.pass_id = k
        box = {}

        def process(files_df, batch_id):
            t0 = time.perf_counter()
            paths = [r["path"] for r in files_df.collect()]
            p = Pass(spark, tracer, st["lake"], self.topics, paths)

            def commit(df):
                with tracer.span("sources.snapshots.snapshot_append"):
                    snapshot_append(spark, st["table"], df.select(*SCENE_COLS),
                                    partition_cols=[],
                                    stats_cols=["start_time"],
                                    bloom_cols=["scene_id"],
                                    source_batch=("scenes", batch_id))
            p.run(commit)
            box["counts"] = p.counts()
            p.release()
            box["process_s"] = time.perf_counter() - t0

        with tracer.span("streaming.sources.file_ingest_batch"):
            stats = file_ingest_batch(spark, st["landing"], st["ledger"],
                                      process=process, glob="*.bag",
                                      partition_col="date")
        step_s = time.perf_counter() - t_land
        names = ", ".join(f"'{b}'" for b in batch)
        with tracer.span("sources.snapshots.read_snapshot"):
            scenes = read_snapshot(spark, st["table"],
                                   where=f"bag_file in ({names})").collect()
        fresh = time.perf_counter() - t_land
        problems = check.check_pass(truth, batch, self.topics,
                                    box.get("counts", {}),
                                    [tuple(r[c] for c in SCENE_COLS) for r in scenes])
        if stats.get("files_new") != len(batch):
            problems.append(f"files_new {stats.get('files_new')} != {len(batch)}")
        ok = self.op(f"landing step {k}", problems)
        st["committed"] += batch
        msgs = sum(truth["bags"][b]["messages"] for b in batch)
        out = {"ok": ok, "step_s": step_s, "fresh_s": fresh, "msgs": msgs,
               "gen_s": gen_s,
               "counts": box.get("counts"), "batch": batch,
               "overhead_s": step_s - box.get("process_s", 0.0),
               "files_new_frac": stats.get("files_new", 0)
               / max(1, stats.get("files_listed", 0))}
        if not rounds:
            return out
        for q in self.queries(truth, st["committed"], rng, rounds):
            try:
                t0 = time.perf_counter()
                with tracer.span("sources.snapshots.read_snapshot"):
                    df = read_snapshot(spark, st["table"], where=q["where"])
                    rows = self._query_rows(df, q)
                dt = time.perf_counter() - t0
            except Exception:
                self.error(f"query {q['name']}")
                continue
            if self.op(f"query {q['name']}",
                       check.check_rows(q["name"], q["want"], rows)):
                self.samples["query_ms"].append(dt * 1e3)
            if tracer.enabled:
                dnf = sql_predicates(spark, q["where"])
                ps = scan_pruning_stats(spark, st["table"], dnf or [])
                self.note("sources.snapshots.files_read_frac",
                          ps["files_read"] / max(1, ps["files_total"]))
                self.note("sources.snapshots.files_total", ps["files_total"])
        return out

    def run_landing(self, session, tracer_for):
        st = self.landing_setup(os.path.join(self.work, "landing-run"),
                                self.args.seed)
        rng = random.Random(f"{self.args.seed}/queries")
        spark = session.spark
        t_end = time.perf_counter() + self.args.seconds
        while time.perf_counter() < t_end or self.n < MIN_SAMPLES:
            i = self.n
            self.n += 1
            tracer = tracer_for(i)
            group = self._group(tracer, i)
            before = parquet_bytes(st["lake"], st["table"])
            try:
                r = self.landing_step(spark, st, tracer, rng)
            except Exception:
                self.error("landing step")
                r = {"ok": False}
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            t_end += r.get("gen_s", 0.0)     # generating inputs is not measured
            if not r["ok"]:
                continue
            if tracer.enabled:
                self.traced_pass_s.append(r["step_s"])
                self.note("streaming.sources.ingest_overhead_s", r["overhead_s"])
                self.note("streaming.sources.files_new_frac", r["files_new_frac"])
                self._layer_counts(r["counts"], st["truth"], r["batch"],
                                   (st["lake"], st["table"]), before)
            else:
                self.samples["pass_s"].append(r["step_s"])
                self.samples["fresh_s"].append(r["fresh_s"])
                self.samples["msgs"].append(r["msgs"])
                if group:
                    self.untraced_ids.append(group)
        landed = sum(st["truth"]["bags"][b]["bytes"] for b in st["committed"])
        self.lake_bytes = parquet_bytes(st["lake"], st["table"])[0] / landed
        return st

    # -- warm-up
    def warm_up(self, session):
        """One pass (or landing step) and one query round on a tiny fixed
        input. Its operations and samples are set-up, not measurements."""
        root = os.path.join(self.work, "warm")
        saved = self.attempted, self.failed, self.samples
        self.samples = {k: [] for k in saved[2]}
        spark, rng = session.spark, random.Random(0)
        if self.wl["kind"] == "landing":
            st = self.landing_setup(root, 0, WARM_SECONDS)
            ok = self.landing_step(spark, st, NullTracer(), rng, rounds=1)["ok"]
        else:
            data, lake = os.path.join(root, "data"), os.path.join(root, "lake")
            truth = baggen.generate(data, self.wl["family"], 0, bags=2,
                                    seconds=WARM_SECONDS)
            names = sorted(truth["bags"])
            bags = [os.path.join(data, b) for b in names]
            ok = self.batch_pass(spark, bags, truth, NullTracer(), lake)[0]
            self.batch_queries(spark, lake, truth, names, rng, rounds=1)
        ok = ok and self.failed == saved[1]
        self.attempted, self.failed, self.samples = saved
        shutil.rmtree(root, ignore_errors=True)
        if not ok:
            raise RuntimeError("warm-up pass produced wrong output")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    try:
        import aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        log(f"perfbench: the package under test is not importable: {e}")
        return 3

    work = os.path.join(HERE, "_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    session = Session(work)
    bench = Bench(args, work, session)
    cores = len(os.sched_getaffinity(0))
    sampler = None
    try:
        # set-up: process start -> session -> one warm-up pass
        t = time.perf_counter()
        session.start(cores)
        get_spark_s = time.perf_counter() - t
        sampler = RssSampler(session.jvm_pid())
        sampler.start()
        bench.warm_up(session)
        setup_s = time.perf_counter() - T_PROCESS
        log(f"setup {setup_s:.2f} s")

        tracer = Tracer(session.spark.sparkContext) if args.trace else None

        def tracer_for(i):
            # traced runs alternate untraced and traced passes so the
            # tracing overhead is measured in the same run
            if tracer is not None and i % 2 == 1:
                tracer.pass_id = i
                return tracer
            return NullTracer()

        if bench.wl["kind"] == "batch":
            bags, truth, names, msgs = bench.run_batch(session, tracer_for)
        else:
            st = bench.run_landing(session, tracer_for)
        s = bench.samples
        if not s["pass_s"]:
            log("no successful pass")
            return 1
        med_pass = statistics.median(s["pass_s"])
        if bench.wl["kind"] == "batch":
            msgs_per_s = msgs / med_pass
        else:
            msgs_per_s = sum(s["msgs"]) / sum(s["pass_s"])
        log(f"passes {[round(x, 2) for x in s['pass_s']]} traced "
            f"{[round(x, 2) for x in bench.traced_pass_s]} queries "
            f"{[round(x) for x in s['query_ms']]}")

        if args.trace:
            metrics = trace_metrics(bench, session, tracer, get_spark_s,
                                    sampler)
            if bench.wl["kind"] == "batch":
                one = single_core_rate(bench, session, bags, truth, msgs)
            else:
                one = single_core_landing(bench, session, st)
            metrics["spark.parallel_speedup"] = {
                "value": msgs_per_s / one if one else 0.0, "unit": "x"}
            os.makedirs(os.path.join(HERE, "_spans"), exist_ok=True)
            tracer.write(os.path.join(
                HERE, "_spans", f"{args.workload}-{args.seed}.json"))
        else:
            metrics = {
                "setup_s": (setup_s, "s"),
                "msgs_per_s": (msgs_per_s, "1/s"),
                "bag_to_scenes_s": (med_pass, "s"),
                "freshness_s_p50": (pct(s["fresh_s"], 50), "s"),
                "freshness_s_p90": (pct(s["fresh_s"], 90), "s"),
                "peak_rss_mb": (sampler.peak_total, "MB"),
                "lake_bytes_per_bag_byte": (bench.lake_bytes, "B/B"),
                "ok_ops_frac": ((bench.attempted - bench.failed)
                                / max(1, bench.attempted), "frac"),
            }
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
        result = {"correct": bench.failed == 0, "attempted": bench.attempted,
                  "failed": bench.failed, "metrics": metrics}
    finally:
        if sampler is not None:
            sampler.stop()
        session.shutdown()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.join(HERE, "_work"))
        except OSError:
            pass
    print(json.dumps(result))
    return 0


def trace_metrics(bench, session, tracer, get_spark_s, sampler) -> dict:
    """Per-layer metrics, per traced pass (or landing step)."""
    n = max(1, len(bench.traced_pass_s))
    self_times = tracer.self_times()
    spark_c = tracer.spark_counts()
    untraced_c = [group_counts(session.spark.sparkContext, g)
                  for g in bench.untraced_ids]
    failed = sum(c["failed_tasks"] for c in [*spark_c.values(), *untraced_c])
    rosbag_tasks = sum(c["tasks"] for k, c in spark_c.items()
                       if k.startswith("sources.rosbag."))

    def self_s(span):
        return self_times.get(span, 0.0) / n, "s"

    def mean(name, unit):
        v = bench.layer.get(name)
        return (sum(v) / len(v) if v else 0.0), unit

    q = bench.samples["query_ms"] or [0.0]
    untraced = statistics.median(bench.samples["pass_s"])
    traced = statistics.median(bench.traced_pass_s or [untraced])
    m = {
        "session.get_spark_s": (get_spark_s, "s"),
        "sources.rosbag.read_bag_messages_s": self_s("sources.rosbag.read_bag_messages"),
        "sources.rosbag.decode_messages_s": self_s("sources.rosbag.decode_messages"),
        "sources.rosbag.messages": mean("sources.rosbag.messages", "count"),
        "sources.rosbag.bag_mb": mean("sources.rosbag.bag_mb", "MB"),
        "sources.rosbag.spark_tasks": (rosbag_tasks / n, "count"),
        "sources.tables.write_s": self_s("sources.tables.write_partitioned"),
        "sources.tables.bytes_written": mean("sources.tables.bytes_written", "B"),
        "sources.tables.files_written": mean("sources.tables.files_written", "count"),
        "pipeline.synchronize.synchronize_topics_s":
            self_s("pipeline.synchronize.synchronize_topics"),
        "pipeline.synchronize.rows_in": mean("pipeline.synchronize.rows_in", "count"),
        "pipeline.synchronize.rows_out": mean("pipeline.synchronize.rows_out", "count"),
        "pipeline.scenes.objects_in_lane_by_key_s":
            self_s("pipeline.scenes.objects_in_lane_by_key"),
        "pipeline.scenes.summarize_person_scenes_s":
            self_s("pipeline.scenes.summarize_person_scenes"),
        "pipeline.scenes.det_lane_point_pairs":
            mean("pipeline.scenes.det_lane_point_pairs", "count"),
        "pipeline.scenes.in_lane_frac": mean("pipeline.scenes.in_lane_frac", "frac"),
        "pipeline.scenes.scenes_out": mean("pipeline.scenes.scenes_out", "count"),
        "streaming.sources.ingest_overhead_s":
            mean("streaming.sources.ingest_overhead_s", "s"),
        "streaming.sources.files_new_frac":
            mean("streaming.sources.files_new_frac", "frac"),
        "sources.snapshots.snapshot_append_s": self_s("sources.snapshots.snapshot_append"),
        "sources.snapshots.read_snapshot_s": self_s("sources.snapshots.read_snapshot"),
        "sources.snapshots.files_read_frac":
            mean("sources.snapshots.files_read_frac", "frac"),
        "sources.snapshots.files_total": mean("sources.snapshots.files_total", "count"),
        "client.scene_query_ms_p50": (pct(q, 50), "ms"),
        "client.scene_query_ms_p90": (pct(q, 90), "ms"),
        "spark.jobs_per_batch":
            (sum(c["jobs"] for c in untraced_c) / max(1, len(untraced_c)), "count"),
        "spark.failed_tasks": (failed, "count"),
        "jvm.peak_rss_mb": (sampler.peak_jvm, "MB"),
        "python_workers.peak_rss_mb": (sampler.peak_workers, "MB"),
        "trace.overhead_frac": ((traced - untraced) / untraced, "frac"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def single_core_rate(bench, session, bags, truth, msgs) -> float:
    """msgs/s of one untraced pass on a ``local[1]`` session."""
    session.stop()
    spark = session.start(1)
    lake = os.path.join(bench.work, "lake-local1")
    ok, dt, _, _ = bench.batch_pass(spark, bags, truth, NullTracer(), lake)
    return msgs / dt if ok else 0.0


def single_core_landing(bench, session, st) -> float:
    """msgs/s of one untraced landing step on a ``local[1]`` session."""
    session.stop()
    spark = session.start(1)
    r = bench.landing_step(spark, st, NullTracer(), random.Random(0),
                           rounds=0)
    return r["msgs"] / r["step_s"] if r["ok"] else 0.0


if __name__ == "__main__":
    sys.exit(main())
