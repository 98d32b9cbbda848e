"""Call recorder: timings always, spans plus Spark metrics when traced.

Every library call the benchmark makes goes through ``Recorder.span``,
which tags the call's Spark jobs with ``sc.setJobGroup`` and times it.
With tracing on, the span also records its parent and run id, and on
exit reads the call's jobs and stages back from Spark's status store
(outside the timed interval): tasks, executor run/CPU/GC time, shuffle
bytes, spill, input/output records and bytes, and the driver time left
when the job intervals are subtracted from the wall time. Spans stay in
memory until ``write_spans``.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")

STAGE_FIELDS = (
    "executor_run_s", "executor_cpu_s", "gc_s", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "input_records", "input_bytes",
    "output_records", "output_bytes",
)


class SparkMetrics:
    """Reads jobs and stages of one job group from the status store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._seen_stages: set[int] = set()

    def settle(self) -> None:
        """Wait until the listener bus has delivered every event so far."""
        self._jsc.listenerBus().waitUntilEmpty()

    def group(self, group: str, t0: float, t1: float) -> dict:
        """Totals over the group's jobs. Stages count once: a shuffle stage
        reused (skipped) by a later call belongs to the call that ran it."""
        out = dict.fromkeys(STAGE_FIELDS, 0.0)
        out.update(jobs=0, tasks=0, job_s=0.0)
        intervals = []
        for job_id in self.sc.statusTracker().getJobIdsForGroup(group):
            job = self._store.job(job_id)
            out["jobs"] += 1
            sub, comp = job.submissionTime(), job.completionTime()
            if sub.isDefined():
                end = comp.get().getTime() / 1000 if comp.isDefined() else t1
                intervals.append((max(sub.get().getTime() / 1000, t0), min(end, t1)))
            ids = job.stageIds()
            for i in range(ids.size()):
                sid = ids.apply(i)
                if sid in self._seen_stages:
                    continue
                self._seen_stages.add(sid)
                try:
                    st = self._store.lastStageAttempt(sid)
                except Exception:  # py4j: stage never submitted or evicted
                    continue
                out["tasks"] += st.numCompleteTasks()
                out["executor_run_s"] += st.executorRunTime() / 1000
                out["executor_cpu_s"] += st.executorCpuTime() / 1e9
                out["gc_s"] += st.jvmGcTime() / 1000
                out["shuffle_read_bytes"] += st.shuffleReadBytes()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                out["input_records"] += st.inputRecords()
                out["input_bytes"] += st.inputBytes()
                out["output_records"] += st.outputRecords()
                out["output_bytes"] += st.outputBytes()
        out["job_s"] = _union(intervals)
        return out


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def steal_s() -> float:
    """CPU time the hypervisor has given to other guests since boot,
    summed over CPUs (0 where the kernel does not report it)."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / _TICK
    except (OSError, IndexError, ValueError):
        return 0.0


def store_usage(path: str) -> tuple[int, int]:
    """(data files, data bytes) under ``path``: Spark's visible files only
    (names starting with '.' or '_' are metadata, as Spark treats them)."""
    files = size = 0
    for root, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if "=" in d or d[0] not in "._"]
        for n in names:
            if n[0] not in "._":
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


class Recorder:
    """Latency samples per layer; spans and Spark metrics when ``traced``."""

    def __init__(self, spark, run_id: str, traced: bool):
        self.spark = spark
        self.run_id = run_id
        self.traced = traced
        #: timed calls per layer: the span dict plus its duration ``s``
        self.calls: dict[str, list[dict]] = defaultdict(list)
        self.spans: list[dict] = []
        self.metrics = SparkMetrics(spark) if traced else None
        #: spans and Spark metrics are collected only while active
        self.active = False
        self._stack: list[dict] = []
        self._n = 0

    @property
    def tracing(self) -> bool:
        return self.traced and self.active

    def samples(self, layer: str) -> list[float]:
        return [c["s"] for c in self.calls[layer]]

    def total(self, layer: str, key: str) -> float:
        return sum(c.get(key, 0) for c in self.calls[layer])

    @contextmanager
    def span(self, layer: str, timed: bool = True):
        """Time one call into ``layer``. The yielded dict takes counts
        (rows returned, docs kept, ...) for the call's span."""
        self._n += 1
        sc = self.spark.sparkContext
        rec: dict = {"name": layer, "group": f"{layer}#{self._n}", "id": self._n}
        tracing = self.tracing
        if tracing:
            self.metrics.settle()
            rec.update(run=self.run_id, parent=self._stack[-1]["id"] if self._stack else None)
        self._stack.append(rec)
        sc.setJobGroup(rec["group"], layer)
        t0, w0 = time.perf_counter(), time.time()
        try:
            yield rec
        finally:
            dt = time.perf_counter() - t0
            rec["s"] = dt
            self._stack.pop()
            if self._stack:
                sc.setJobGroup(self._stack[-1]["group"], self._stack[-1]["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
            if timed:
                self.calls[layer].append(rec)
            if tracing:
                self._close(rec, w0, w0 + dt)

    def _close(self, rec: dict, w0: float, w1: float) -> None:
        self.metrics.settle()
        groups = [rec["group"]] + rec.pop("extra_groups", [])
        spark_m = dict.fromkeys(STAGE_FIELDS, 0.0)
        spark_m.update(jobs=0, tasks=0, job_s=0.0)
        for g in groups:
            for k, v in self.metrics.group(g, w0, w1).items():
                spark_m[k] += v
        rec.update(start=w0, end=w1, wall_s=w1 - w0,
                   driver_s=max(0.0, (w1 - w0) - spark_m["job_s"]), **spark_m)
        self.spans.append(rec)

    def layer_totals(self) -> dict[str, dict[str, float]]:
        """Sums of every numeric span field, per layer, plus ``calls``."""
        out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for s in self.spans:
            tot = out[s["name"]]
            tot["calls"] += 1
            for k, v in s.items():
                if isinstance(v, (int, float)) and not isinstance(v, bool) and k not in (
                    "id", "parent", "start", "end", "s"
                ):
                    tot[k] += v
        return out

    def self_times(self) -> dict[str, float]:
        """Per-layer self time: span duration minus its child spans."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["wall_s"]
        out = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += s["wall_s"] - child[s["id"]]
        return dict(out)

    def write_spans(self, path: str) -> None:
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s, default=str) + "\n")
