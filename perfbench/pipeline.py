"""The benchmark's drive of the package: the reference's three hops.

hop 1, extract:  read_bag_messages -> decode_messages (per topic)
                 -> write_partitioned (per-topic parquet)
hop 2, sync:     per-topic tables -> synchronize_topics (10 Hz grid)
                 -> write_partitioned
hop 3, detect:   synced -> objects_in_lane_by_key -> write_partitioned;
                 detections -> summarize_person_scenes -> scene sink

Every hop is materialized like the reference materializes it, so each
hop reads the previous hop's files. Untraced, each write is the only
action, exactly as a production job would run it. Traced, every call is
wrapped in a span and its output is persisted and run inside that span,
so each layer's work is timed in its own span; the next layer then
reads the persisted result (see README.md for what that changes).

Row counts ride on ``DataFrame.observe`` in both modes: the checker
needs them, and an observation adds no pass over the data.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.pipeline.scenes import (
    objects_in_lane_by_key, summarize_person_scenes,
)
from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.pipeline.synchronize import (
    synchronize_topics,
)
from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.sources.rosbag import (
    decode_messages, read_bag_messages,
)
from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.sources.tables import (
    write_partitioned,
)

from baggen import STEP_NS, TOPICS

KEYS = ["bag_file"]
TIME = "time_ns"
SCENE_COLS = ["bag_file", "start_time", "end_time",
              "num_people_in_scene_start", "scene_id"]

def _rows() -> F.Column:
    return F.count(F.lit(1)).alias("rows")


class Pass:
    """One run of the three hops over a set of bags into ``lake``.

    ``tracer.enabled`` selects the traced shape (persist + run each
    layer's output inside its span). Cached frames are released by
    :meth:`release` once the pass is done."""

    def __init__(self, spark: SparkSession, tracer, lake: str,
                 topics: list[str], bags: list[str]):
        self.spark, self.tracer, self.lake = spark, tracer, lake
        self.topics, self.bags = topics, bags
        self.cached: list[DataFrame] = []
        self.obs: dict[str, Observation] = {}
        self.tag = uuid.uuid4().hex

    def _observe(self, key: str, df: DataFrame, *exprs) -> DataFrame:
        """``df`` with an observation of ``exprs`` stored under ``key``;
        names are unique per pass, as Spark requires."""
        self.obs[key] = Observation(f"{key}_{self.tag}".replace(".", "_"))
        return df.observe(self.obs[key], *exprs)

    def _done(self, df: DataFrame) -> DataFrame:
        """Traced mode: persist and run ``df`` inside the open span."""
        if not self.tracer.enabled:
            return df
        df = df.persist()
        df.write.format("noop").mode("overwrite").save()
        self.cached.append(df)
        return df

    def _write(self, df: DataFrame, table: str) -> None:
        with self.tracer.span("sources.tables.write_partitioned"):
            write_partitioned(df, f"{self.lake}/{table}", KEYS)

    def read(self, table: str) -> DataFrame:
        """This pass's bags' rows of one of its tables."""
        names = ", ".join("'%s'" % b.rsplit("/", 1)[-1] for b in self.bags)
        return (self.spark.read.parquet(f"{self.lake}/{table}")
                .where(f"bag_file in ({names})"))

    def extract(self) -> None:
        t = self.tracer
        with t.span("sources.rosbag.read_bag_messages"):
            msgs = self._done(read_bag_messages(self.spark, self.bags))
        for name in self.topics:
            topic, _, defn, cols = TOPICS[name]
            with t.span("sources.rosbag.decode_messages"):
                df = (decode_messages(msgs.where(F.col("topic") == topic), defn)
                      .select(*KEYS, TIME, *cols))
                df = self._observe(f"topic.{name}", df, _rows())
                df = self._done(df)
            self._write(df, f"topics/{name}")

    def synchronize(self) -> None:
        with self.tracer.span("pipeline.synchronize.synchronize_topics"):
            inputs = {}
            for name in self.topics:
                inputs[name] = self._observe(
                    f"sync_in.{name}", self.read(f"topics/{name}"), _rows())
            synced = synchronize_topics(inputs, KEYS, time_col=TIME,
                                        step=STEP_NS)
            synced = self._observe("synced", synced, _rows())
            synced = self._done(synced)
        self._write(synced, "synced")

    def detect(self, scene_sink) -> None:
        """Hop 3; ``scene_sink(df)`` stores the scene rows."""
        t = self.tracer
        syn = self.read("synced").select(
            *KEYS, TIME, F.col("detections.detections").alias("detections"),
            F.col("lanes.lanes").alias("lanes"))
        valid = F.col("detections").isNotNull() & F.col("lanes").isNotNull()
        syn = self._observe(
            "examined", syn,
            F.sum(F.when(valid, F.size("detections"))).alias("dets"))
        with t.span("pipeline.scenes.objects_in_lane_by_key"):
            det = objects_in_lane_by_key(syn, "detections", "lanes",
                                         KEYS + [TIME]).select(
                *KEYS, TIME, "objects_in_lane")
            oil = F.col("objects_in_lane")
            det = self._observe(
                "detections", det, _rows(),
                F.sum(F.when(oil.isNotNull(), F.size(oil))).alias("in_lane"))
            det = self._done(det)
        self._write(det, "detections")
        with t.span("pipeline.scenes.summarize_person_scenes"):
            scenes = summarize_person_scenes(
                self.read("detections"), KEYS, time_col=TIME,
                objects_col="objects_in_lane",
                topics_analyzed=",".join(self.topics))
            scenes = self._observe("scenes", scenes, _rows())
            scenes = self._done(scenes)
        scene_sink(scenes)

    def run(self, scene_sink=None) -> None:
        self.extract()
        self.synchronize()
        self.detect(scene_sink or (lambda df: self._write(df, "scenes")))

    def counts(self) -> dict:
        """Observed stage counts; call after :meth:`run`."""
        get = {k: o.get for k, o in self.obs.items()}
        out = {"topics": {k.split(".", 1)[1]: v["rows"]
                          for k, v in get.items() if k.startswith("topic.")},
               "sync_rows_in": sum(v["rows"] for k, v in get.items()
                                   if k.startswith("sync_in.")),
               "synced": get["synced"]["rows"],
               "detections": get["detections"]["rows"],
               "dets_examined": get["examined"]["dets"] or 0,
               "dets_in_lane": get["detections"]["in_lane"] or 0,
               "scenes": get["scenes"]["rows"]}
        return out

    def release(self) -> None:
        for df in self.cached:
            df.unpersist()
        self.cached = []
