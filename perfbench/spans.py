"""In-memory span tracer for the benchmark's calls into the package.

A span records name, start, end, parent span and the pass (or landing
batch) it belongs to. With a SparkContext attached, each span also runs
its actions under its own Spark job group, so Spark jobs, tasks and
failed tasks can be attributed to the innermost span that started
them. Spans stay in memory until :meth:`Tracer.write` at exit.

Self time is a span's duration minus the part of it that its direct
children cover (spans opened from one thread never overlap, but the
union is taken anyway).
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import defaultdict


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class Tracer:
    """Records spans; ``sc`` (optional) enables per-span job groups."""

    enabled = True

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.pass_id = None

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "parent": parent,
               "pass": self.pass_id, "start": time.perf_counter(),
               "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        if self.sc is not None:
            self.sc.setJobGroup(self._group(rec["id"]), name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                if self._stack:
                    self.sc.setJobGroup(self._group(self._stack[-1]),
                                        self.spans[self._stack[-1]]["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)

    @staticmethod
    def _group(span_id: int) -> str:
        return f"perfbench-span-{span_id}"

    def self_time(self, span: dict) -> float:
        kids = [(s["start"], s["end"]) for s in self.spans
                if s["parent"] == span["id"] and s["end"] is not None]
        return (span["end"] - span["start"]) - covered(
            kids, span["start"], span["end"])

    def self_times(self) -> dict[str, float]:
        """Total self time per span name."""
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["end"] is not None:
                out[s["name"]] += self.self_time(s)
        return dict(out)

    def spark_counts(self) -> dict[str, dict[str, int]]:
        """Per span name: Spark jobs, tasks and failed tasks started
        under the span's own job group (not its children's)."""
        out: dict[str, dict[str, int]] = {}
        if self.sc is None:
            return out
        for s in self.spans:
            c = group_counts(self.sc, self._group(s["id"]))
            tot = out.setdefault(s["name"], dict.fromkeys(c, 0))
            for k, v in c.items():
                tot[k] += v
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans}, f)


def group_counts(sc, group: str) -> dict[str, int]:
    """Spark jobs, completed tasks and failed tasks of one job group."""
    st = sc.statusTracker()
    c = {"jobs": 0, "tasks": 0, "failed_tasks": 0}
    for jid in st.getJobIdsForGroup(group):
        job = st.getJobInfo(jid)
        if job is None:
            continue
        c["jobs"] += 1
        for sid in job.stageIds:
            stage = st.getStageInfo(sid)
            if stage is not None:
                c["tasks"] += stage.numCompletedTasks
                c["failed_tasks"] += stage.numFailedTasks
    return c


class NullTracer:
    """The untraced mode: spans cost one attribute lookup."""

    enabled = False
    pass_id = None

    def span(self, name: str):
        return contextlib.nullcontext()
