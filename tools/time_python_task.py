"""Per-job floor of a Python task: how long a trivial job takes when it
runs Python workers, against the same job with none.

Usage: python tools/time_python_task.py [repeats]

Starts one ``get_spark`` session and, after one warm-up of each, times
``repeats`` (default 15) ``noop`` writes of a 4-row frame for each job:

- ``jvm_only``: no Python worker;
- ``arrow_1p``: an identity ``mapInArrow`` on 1 partition;
- ``arrow_4p``: the same on 4 partitions;
- ``arrow_2x_4p``: two chained identity ``mapInArrow`` runners on 4
  partitions.

Prints one line per job with the median seconds and, last, one JSON
object with the same medians. The difference between an ``arrow_*`` row
and ``jvm_only`` is what every Python task pays before it runs a row.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _identity(batches):
    yield from batches


def main() -> None:
    repeats = int(sys.argv[1]) if len(sys.argv) > 1 else 15

    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.session import (
        get_spark,
    )

    spark = get_spark("time-python-task", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")

    def frame(partitions):
        return spark.range(0, 4, 1, partitions)

    jobs = {
        "jvm_only": lambda: frame(1),
        "arrow_1p": lambda: frame(1).mapInArrow(_identity, "id long"),
        "arrow_4p": lambda: frame(4).mapInArrow(_identity, "id long"),
        "arrow_2x_4p": lambda: frame(4).mapInArrow(_identity, "id long")
                                       .mapInArrow(_identity, "id long"),
    }
    medians = {}
    for name, build in jobs.items():
        times = []
        for i in range(repeats + 1):
            df = build()
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            if i:  # the first run is the warm-up
                times.append(time.perf_counter() - t0)
        medians[name] = round(statistics.median(times), 4)
        print(f"{name:12s} median {medians[name]:.4f} s over {repeats} jobs",
              flush=True)
    spark.stop()
    print(json.dumps(medians))


if __name__ == "__main__":
    main()
