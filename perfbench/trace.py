"""Spans around the benchmark's calls into the program, with Spark's own
metrics per span.

A span is (name, start, end, parent, run id). While a span is open its id is
the Spark job group of the calling thread, so the jobs it ran can be found
in the application status store afterwards and their stages' shuffle-write
and spill bytes summed. Jobs the program submits from its own worker
threads (rewrite_partitions with max_concurrency > 1) carry no job group.
A span opened with ``threaded=True`` also claims the group-less jobs that
appear while it is open: the benchmark runs one call at a time, so they
are its own. Spans stay in memory and are written out by the
caller when the run ends. A disabled tracer records nothing and calls
nothing in Spark.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager

from pyspark.sql import SparkSession


class Tracer:
    def __init__(self, spark: SparkSession, run_id: str, enabled: bool):
        self.spark = spark
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self.overhead_s = 0.0  # time spent in the tracer's own bookkeeping
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str, threaded: bool = False, **attrs):
        """Yield a dict the caller may add counts to; with tracing off the
        dict is thrown away."""
        rec = dict(attrs)
        if not self.enabled:
            yield rec
            return
        t_in = time.perf_counter()
        sc = self.spark.sparkContext
        sid = f"{self.run_id}.{len(self.spans)}"
        parent = self._stack[-1] if self._stack else None
        rec.update(name=name, id=sid, parent=parent, run=self.run_id)
        self.spans.append(rec)
        self._stack.append(sid)
        sc.setJobGroup(sid, name)
        ungrouped = set(sc.statusTracker().getJobIdsForGroup(None)) if threaded else set()
        rec["start"] = time.perf_counter()
        self.overhead_s += rec["start"] - t_in
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent is None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            else:
                sc.setJobGroup(parent, parent)
            tracker = sc.statusTracker()
            jobs = set(tracker.getJobIdsForGroup(sid))
            if threaded:
                jobs |= set(tracker.getJobIdsForGroup(None)) - ungrouped
            rec.update(self._spark_metrics(sorted(jobs)))
            self.overhead_s += time.perf_counter() - rec["end"]

    def _spark_metrics(self, job_ids: list[int]) -> dict:
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        out = {"jobs": 0, "stages": 0, "shuffle_bytes": 0, "spill_bytes": 0}
        for job_id in job_ids:
            info = tracker.getJobInfo(job_id)
            if info is None:
                continue
            out["jobs"] += 1
            for stage_id in info.stageIds:
                try:
                    st = store.lastStageAttempt(stage_id)
                except Exception:  # noqa: BLE001 - skipped stages have no attempt
                    continue
                out["stages"] += 1
                out["shuffle_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return out

    # ------------------------------------------------------------ reading spans back

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def median_ms(self, name: str) -> float:
        """Median wall of the named spans in ms; 0.0 when the workload made
        no such call."""
        durs = [(s["end"] - s["start"]) * 1000 for s in self.named(name)]
        return statistics.median(durs) if durs else 0.0

    def dump(self, path: str) -> None:
        """Write every span with its self time: its wall minus the part its
        children cover (children of one span never overlap)."""
        child_time: dict[str, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] = child_time.get(s["parent"], 0.0) + s["end"] - s["start"]
        t0 = min((s["start"] for s in self.spans), default=0.0)
        rows = []
        for s in self.spans:
            row = dict(s)
            row["start"] = round(s["start"] - t0, 6)
            row["end"] = round(s["end"] - t0, 6)
            row["self_s"] = round(s["end"] - s["start"] - child_time.get(s["id"], 0.0), 6)
            rows.append(row)
        with open(path, "w") as fh:
            json.dump(rows, fh, indent=0, default=str)
