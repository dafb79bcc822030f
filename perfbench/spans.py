"""Spans around the benchmark's calls into the engine, and the Spark
counters of the jobs each call launched.

A span records name, start, end, parent span and run id. In a warm
session every span sets a Spark job group, so after the call the jobs
it launched are read back from the JVM's status store (the data the
Spark UI serves, present even with the UI off). Cold subprocesses are
measured from a Spark event log instead (``event_log_counters``).
Spans stay in memory and are written out with the run record.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from pathlib import Path

MB = 1024.0 * 1024.0

#: Spark counters summed per span (stage-level, over executed stages)
COUNTER_KEYS = (
    "jobs",
    "stages",
    "tasks",
    "failed_tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "shuffle_write_mb",
    "shuffle_read_mb",
    "spill_mb",
)


def zero_counters() -> dict:
    return {k: 0.0 if k.endswith(("_s", "_mb")) else 0 for k in COUNTER_KEYS}


def add_counters(into: dict, other: dict) -> dict:
    for k in COUNTER_KEYS:
        into[k] += other[k]
    return into


class StatusStoreCounters:
    """Reads job and stage metrics of a live SparkContext by job group."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()

    def for_group(self, group: str) -> dict:
        # the status store is fed asynchronously by the listener bus:
        # drain it so the last task/stage events of the call are counted
        self._bus.waitUntilEmpty()
        tracker = self.sc.statusTracker()
        out = zero_counters()
        stage_ids: set[int] = set()
        for job_id in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job_id)
            if info is None:
                continue
            out["jobs"] += 1
            stage_ids.update(info.stageIds)
        for sid in sorted(stage_ids):
            st = self._store.lastStageAttempt(sid)
            status = st.status().toString()
            if status not in ("COMPLETE", "FAILED"):
                continue  # skipped (reused exchange) or still pending
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
            out["failed_tasks"] += st.numFailedTasks()
            out["executor_run_s"] += st.executorRunTime() / 1000.0
            out["executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["gc_s"] += st.jvmGcTime() / 1000.0
            out["shuffle_write_mb"] += st.shuffleWriteBytes() / MB
            out["shuffle_read_mb"] += st.shuffleReadBytes() / MB
            out["spill_mb"] += st.diskBytesSpilled() / MB
        return out


class Tracer:
    """Span recorder, off until ``enable``: while off, ``span`` only runs
    its body, so untraced rounds carry no job groups or counter reads."""

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._spark = None
        self._counters: StatusStoreCounters | None = None

    def attach(self, spark) -> None:
        """Bind the run's warm session (job groups and counters)."""
        self._spark = spark
        if self.enabled:
            self._counters = StatusStoreCounters(spark)

    def enable(self) -> None:
        self.enabled = True
        if self._spark is not None:
            self._counters = StatusStoreCounters(self._spark)

    def _set_group(self, group: str | None) -> None:
        if self._spark is None:
            return
        sc = self._spark.sparkContext
        if group is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(group, "perfbench span", interruptOnCancel=False)

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "run_id": self.run_id,
            "attrs": attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        group = f"{self.run_id}/{rec['id']}"
        self._set_group(group)
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["wall_s"]
            self._stack.pop()
            self._set_group(
                f"{self.run_id}/{self._stack[-1]['id']}" if self._stack else None
            )
            if self._counters is not None:
                rec["self_counters"] = self._counters.for_group(group)

    def counters(self, span: dict) -> dict:
        """Counters of a span including every descendant span."""
        out = add_counters(zero_counters(), span.get("self_counters") or zero_counters())
        for s in self.spans:
            if s["parent"] == span["id"]:
                add_counters(out, self.counters(s))
        return out

    def find(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def total(self) -> dict:
        """Counters over every root span."""
        out = zero_counters()
        for s in self.spans:
            if s["parent"] is None:
                add_counters(out, self.counters(s))
        return out


def event_log_counters(log_dir: Path) -> tuple[dict, dict]:
    """Counters of the single application whose event log is in
    ``log_dir``, plus its timeline: application start and first job
    submission (epoch seconds)."""
    logs = [p for p in log_dir.iterdir() if p.is_file()]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, got {len(logs)}")
    out = zero_counters()
    timeline: dict = {}
    stages: set[tuple[int, int]] = set()
    with logs[0].open() as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerApplicationStart":
                timeline["app_start"] = ev["Timestamp"] / 1000.0
            elif kind == "SparkListenerJobStart":
                out["jobs"] += 1
                timeline.setdefault("first_job", ev["Submission Time"] / 1000.0)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                stages.add((info["Stage ID"], info["Stage Attempt ID"]))
            elif kind == "SparkListenerTaskEnd":
                out["tasks"] += 1
                if ev["Task Info"].get("Failed"):
                    out["failed_tasks"] += 1
                m = ev.get("Task Metrics") or {}
                out["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
                out["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                out["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                sw = m.get("Shuffle Write Metrics") or {}
                out["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / MB
                sr = m.get("Shuffle Read Metrics") or {}
                out["shuffle_read_mb"] += (
                    sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                ) / MB
                out["spill_mb"] += m.get("Disk Bytes Spilled", 0) / MB
    out["stages"] = len(stages)
    return out, timeline
