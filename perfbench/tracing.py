"""Spans, counters and Spark status-store readouts for the traced run.

Spans are recorded from the benchmark's own code, around calls into the
package's public functions. Each span runs its Spark jobs under a job
group of its own, so the status store attributes every Spark stage to
exactly one span. Spans are kept in memory and written out at the end.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


def wait_listener_bus(spark) -> None:
    """Block until the status store has seen every finished job."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def ungrouped_job_ids(spark) -> set[int]:
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup(None))


def stage_totals(spark, job_ids) -> dict:
    """Summed shuffle write, spill, executor CPU and task count over the
    distinct Spark stages the given jobs ran (skipped stages read 0)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    stage_ids: set[int] = set()
    for j in job_ids:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(int(s) for s in info.stageIds)
    shuffle = spill = cpu_ns = tasks = 0
    for s in stage_ids:
        sd = store.lastStageAttempt(s)
        if sd.executorRunTime() == 0 and sd.executorCpuTime() == 0:
            continue  # skipped: its output was reused from an earlier job
        shuffle += sd.shuffleWriteBytes()
        spill += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        cpu_ns += sd.executorCpuTime()
        tasks += sd.numTasks()
    return {
        "spark.shuffle_write_mb": shuffle / 1e6,
        "spark.spill_mb": spill / 1e6,
        "spark.executor_cpu_s": cpu_ns / 1e9,
        "spark.tasks": tasks,
        "spark.jobs": len(job_ids),
    }


class Tracer:
    """In-memory span recorder. A span is (id, parent, name, start, end,
    counts, spark stage totals); self time = duration minus the part of
    it covered by child spans."""

    def __init__(self, spark, trace_id: str):
        self.spark = spark
        self.trace_id = trace_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.monotonic()

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {
            "trace": self.trace_id, "id": sid,
            "parent": self._stack[-1] if self._stack else None,
            "name": name, "counts": {},
        }
        self.spans.append(rec)
        self._stack.append(sid)
        sc = self.spark.sparkContext
        group = f"{self.trace_id}:{sid}:{name}"
        sc.setJobGroup(group, name)
        rec["start"] = time.monotonic() - self._t0
        try:
            yield rec["counts"]
        finally:
            rec["end"] = time.monotonic() - self._t0
            self._stack.pop()
            if self._stack:
                parent = self.spans[self._stack[-1]]
                sc.setJobGroup(
                    f"{self.trace_id}:{parent['id']}:{parent['name']}", parent["name"]
                )
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            rec["group"] = group

    def finish(self) -> None:
        """Attach each span's own Spark stage totals (call once, after
        the traced work, so the listener bus is drained only once)."""
        wait_listener_bus(self.spark)
        tracker = self.spark.sparkContext.statusTracker()
        for rec in self.spans:
            rec["spark"] = stage_totals(
                self.spark, list(tracker.getJobIdsForGroup(rec["group"]))
            )

    def self_times(self) -> dict[int, float]:
        out = {}
        for rec in self.spans:
            children = [c for c in self.spans if c["parent"] == rec["id"]]
            covered = sum(c["end"] - c["start"] for c in children)
            out[rec["id"]] = (rec["end"] - rec["start"]) - covered
        return out

    def coverage(self, root_id: int) -> float:
        """Share of a root span's wall covered by the self time of the
        layer spans under it (named ``<layer>.<op>``; structural spans
        such as ``pass`` and ``batch`` have no dot)."""
        st = self.self_times()
        inside, covered = {root_id}, 0.0
        for rec in self.spans:  # parents are recorded before children
            if rec["parent"] in inside:
                inside.add(rec["id"])
                if "." in rec["name"]:
                    covered += st[rec["id"]]
        root = self.spans[root_id]
        return covered / (root["end"] - root["start"])

    def layer_self_seconds(self) -> dict[str, float]:
        """Self time summed per span name."""
        st = self.self_times()
        out: dict[str, float] = {}
        for rec in self.spans:
            out[rec["name"]] = out.get(rec["name"], 0.0) + st[rec["id"]]
        return out

    def table(self) -> str:
        """Per-layer self-time table, largest first."""
        st = self.layer_self_seconds()
        total = sum(st.values()) or 1.0
        lines = [f"{'layer':<28}{'self_s':>10}{'share':>8}"]
        for name, sec in sorted(st.items(), key=lambda kv: -kv[1]):
            lines.append(f"{name:<28}{sec:>10.3f}{sec / total:>8.1%}")
        return "\n".join(lines)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)
