"""In-memory spans, Spark job groups per span, and stage numbers read back
from Spark's status store (readable with the UI off).

A span is (id, name, start, end, parent, run_id). Spans that touch Spark
set the job group to their id, so every job a span starts, and the
stages of those jobs, can be attributed to it afterwards.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from pathlib import Path


class Tracer:
    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._n = 0

    def span(self, name: str, run_id: str | None = None, spark_group: bool = True) -> "_Span":
        """A context manager that records one span (and, with a
        SparkContext and ``spark_group``, makes its id the job group)."""
        parent = self._stack[-1] if self._stack else None
        self._n += 1
        rec = {
            "id": f"perfbench-{self._n}",
            "name": name,
            "parent": parent["id"] if parent else None,
            "run_id": run_id if run_id is not None else (parent or {}).get("run_id"),
        }
        return _Span(self, rec, spark_group and self.sc is not None)

    def current(self) -> dict | None:
        return self._stack[-1] if self._stack else None

    def attach_stage_stats(self) -> None:
        """Fill jobs/stages/tasks/executor time/shuffle/spill into every
        span that set a job group and has none yet. Call after the traced
        work ends."""
        if self.sc is None:
            return
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(30000)
        tracker, store = self.sc.statusTracker(), jsc.statusStore()
        for rec in self.spans:
            if "jobs" not in rec:
                rec.update(stage_stats(tracker, store, rec["id"]))

    def children(self) -> dict[str, list[dict]]:
        out: dict[str, list[dict]] = {}
        for s in self.spans:
            out.setdefault(s["parent"], []).append(s)
        return out

    def write(self, path: Path, meta: dict) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps({"meta": meta, "spans": self.spans}))


class _Span:
    """Class-based rather than generator-based: the extractor probe opens
    tens of spans per page, so their cost outside the timed window shows
    in the parent's self time."""

    __slots__ = ("tracer", "rec", "group", "prev")

    def __init__(self, tracer: Tracer, rec: dict, group: bool):
        self.tracer, self.rec, self.group = tracer, rec, group

    def __enter__(self) -> dict:
        t = self.tracer
        if self.group:
            self.prev = t.sc.getLocalProperty("spark.jobGroup.id")
            t.sc.setJobGroup(self.rec["id"], self.rec["name"])
        t._stack.append(self.rec)
        self.rec["start"] = time.perf_counter()
        return self.rec

    def __exit__(self, *exc) -> bool:
        self.rec["end"] = time.perf_counter()
        t = self.tracer
        t._stack.pop()
        t.spans.append(self.rec)
        if self.group:
            t.sc.setLocalProperty("spark.jobGroup.id", self.prev)
        return False


def covered(span: dict, kids: list[dict]) -> float:
    """Seconds of ``span`` covered by the union of its children."""
    total, reach = 0.0, span["start"]
    for k in sorted(kids, key=lambda s: s["start"]):
        lo, hi = max(k["start"], reach), min(k["end"], span["end"])
        if hi > lo:
            total += hi - lo
            reach = hi
    return total


def self_seconds(span: dict, kids: list[dict]) -> float:
    return span["end"] - span["start"] - covered(span, kids)


_ZERO = {
    "jobs": 0, "stages": 0, "tasks": 0, "executor_ms": 0,
    "shuffle_write_bytes": 0, "shuffle_read_bytes": 0, "spill_bytes": 0,
}


def stage_stats(tracker, store, group: str) -> dict:
    """Totals over the non-skipped stages of a job group's jobs."""
    out = dict(_ZERO)
    job_ids = tracker.getJobIdsForGroup(group)
    out["jobs"] = len(job_ids)
    stage_ids = set()
    for j in job_ids:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(int(s) for s in info.stageIds)
    out["stage_ids"] = sorted(stage_ids)
    for s in stage_ids:
        sd = store.lastStageAttempt(s)
        if sd.status().toString() == "SKIPPED":
            continue
        out["stages"] += 1
        out["tasks"] += sd.numTasks()
        out["executor_ms"] += sd.executorRunTime()
        out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        out["shuffle_read_bytes"] += sd.shuffleReadBytes()
        out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
    return out


def task_ms(sc, stage_id: int) -> list[int]:
    """Executor run time of each task of a stage's last attempt."""
    store = sc._jsc.sc().statusStore()
    sd = store.lastStageAttempt(stage_id)
    tasks = store.taskList(stage_id, sd.attemptId(), 1 << 20)
    out, it = [], tasks.iterator()
    while it.hasNext():
        m = it.next().taskMetrics()
        if m.isDefined():
            out.append(int(m.get().executorRunTime()))
    return out


# -- run_extract phases ---------------------------------------------------

#: Every Spark-touching call ``plans.pipeline.run_extract`` makes, in order.
PHASES = (
    "build_plan",      # build_extract_df (reads the checkpoint table)
    "pending_scan",    # _pending_buckets: url scan + collect
    "write",           # the output parquet write (runs the extractor)
    "mark_done",       # mark_bucket_list_done: checkpoint append
    "load_metrics",    # load_metrics: glob + read the side-channel files
    "metrics_append",  # metrics table append
    "metrics_sum",     # processed-rows collect
    "output_count",    # read + count of the whole output
)


@contextmanager
def pipeline_phases(tracer: Tracer):
    """Wrap each call ``run_extract`` makes in a phase span (with its own
    job group). Only calls made directly inside a ``run_extract`` span
    become phases; calls nested inside a phase pass through."""
    from pyspark.sql import DataFrameReader, DataFrameWriter
    from pyspark.sql.classic.dataframe import DataFrame

    import readembedability_spark.plans.pipeline as pl

    def by_path(_self, path, *a, **kw):
        p = str(path).rstrip("/")
        if p.endswith("/extracted"):
            return "write"
        if p.endswith("/metrics"):
            return "metrics_append"
        return None

    rules = [
        (pl, "build_extract_df", lambda *a, **kw: "build_plan"),
        (pl, "_pending_buckets", lambda *a, **kw: "pending_scan"),
        (pl, "mark_bucket_list_done", lambda *a, **kw: "mark_done"),
        (pl, "load_metrics", lambda *a, **kw: "load_metrics"),
        (DataFrameWriter, "parquet", by_path),
        (DataFrame, "collect", lambda *a, **kw: "metrics_sum"),
        (DataFrameReader, "parquet", lambda *a, **kw: "output_count"),
        (DataFrame, "count", lambda *a, **kw: "output_count"),
    ]
    saved = []

    def wrap(owner, attr, phase_of):
        orig = getattr(owner, attr)

        def wrapper(*a, **kw):
            cur = tracer.current()
            if cur is None or cur["name"] != "run_extract":
                return orig(*a, **kw)
            phase = phase_of(*a, **kw)
            if phase is None:
                return orig(*a, **kw)
            with tracer.span(phase):
                return orig(*a, **kw)

        saved.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    for owner, attr, phase_of in rules:
        wrap(owner, attr, phase_of)
    try:
        yield
    finally:
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)
