"""Spark status-store collector and the per-layer spans of a traced run.

A span times one public call from outside and attributes to it every Spark
job that started during the call, except jobs of the benchmark's reader
thread (tagged with READER_GROUP), which run concurrently. Job, stage and
task figures come from the driver's status store (the data behind the Spark
UI, populated with the UI off), read after the listener bus has drained.
"""

from __future__ import annotations

import threading
import time
from collections import defaultdict
from contextlib import contextmanager

from stats import diff_counters

READER_GROUP = "perfbench-reader"

JOB_FIELDS = ("jobs", "tasks", "executor_run_ms", "input_bytes",
              "shuffle_read_bytes", "shuffle_write_bytes")


class StatusStore:
    """Read-only view of the JVM AppStatusStore of one SparkContext."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()

    def drain(self) -> None:
        self._sc.listenerBus().waitUntilEmpty()

    def _jobs_newest_first(self):
        # the store lists jobs by descending id
        it = self._store.jobsList(None).iterator()
        while it.hasNext():
            yield it.next()

    def mark(self) -> tuple[int, int]:
        """(last job id, last stage id) so far. A job's stages all get their
        ids when it is submitted, so the newest job holds the newest stage.
        A stage at or below the mark ran before it, even when a later job
        lists it again (reused shuffle output)."""
        self.drain()
        for j in self._jobs_newest_first():
            ids = j.stageIds()
            return j.jobId(), max((ids.apply(i) for i in range(ids.size())), default=-1)
        return -1, -1

    def jobs_after(self, mark: tuple[int, int]) -> list[dict]:
        """Plain-dict rows for every job started after `mark`, each with
        the stages it ran after the mark."""
        self.drain()
        job_mark, stage_mark = mark
        rows = []
        for j in self._jobs_newest_first():
            if j.jobId() <= job_mark:
                break
            stages = []
            it = j.stageIds().iterator()
            while it.hasNext():
                sid = it.next()
                if sid <= stage_mark:
                    continue
                try:
                    s = self._store.lastStageAttempt(sid)
                except Exception:  # evicted from the store, or never submitted
                    continue
                stages.append({
                    "id": sid,
                    "status": s.status().toString(),
                    "tasks": s.numCompleteTasks(),
                    "executor_run_ms": s.executorRunTime(),
                    "input_bytes": s.inputBytes(),
                    "shuffle_read_bytes": s.shuffleReadBytes(),
                    "shuffle_write_bytes": s.shuffleWriteBytes(),
                })
            grp = j.jobGroup()
            rows.append({
                "id": j.jobId(),
                "group": grp.get() if grp.isDefined() else None,
                "stages": stages,
            })
        return rows

    def totals(self) -> dict:
        """Cumulative executor counters (never evicted, unlike jobs)."""
        self.drain()
        out = {"tasks": 0, "executor_run_ms": 0, "shuffle_write_bytes": 0}
        it = self._store.executorList(False).iterator()
        while it.hasNext():
            e = it.next()
            out["tasks"] += e.totalTasks()
            out["executor_run_ms"] += e.totalDuration()
            out["shuffle_write_bytes"] += e.totalShuffleWrite()
        return out


def aggregate_jobs(rows: list[dict], group: str | None = None) -> dict:
    """Sum job rows into JOB_FIELDS: the jobs of `group` when given, else
    every job outside READER_GROUP. A stage counts once even when several
    jobs list it, and skipped stages count nothing."""
    out = dict.fromkeys(JOB_FIELDS, 0)
    seen = set()
    for j in rows:
        if (j["group"] != group) if group is not None else (j["group"] == READER_GROUP):
            continue
        out["jobs"] += 1
        for s in j["stages"]:
            if s["id"] in seen or s["status"] == "SKIPPED":
                continue
            seen.add(s["id"])
            for k in JOB_FIELDS[1:]:
                out[k] += s[k]
    return out


class Tracer:
    """Spans keyed by layer name; each span records wall seconds plus the
    aggregated Spark job counters of the call. A disabled tracer only
    yields, so untraced runs pay nothing."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.store = StatusStore(spark) if enabled else None
        self.spans: dict[str, list[dict]] = defaultdict(list)
        self._lock = threading.Lock()

    @contextmanager
    def span(self, layer: str, group: str | None = None):
        """Time the block; attribute the jobs of `group` (None: every job
        outside READER_GROUP) started meanwhile. Yields a dict the block
        may fill with extra span fields."""
        attrs: dict = {}
        if not self.enabled:
            yield attrs
            return
        mark = self.store.mark()
        t0 = time.perf_counter()
        try:
            yield attrs
        finally:
            sec = time.perf_counter() - t0
            counts = aggregate_jobs(self.store.jobs_after(mark), group)
            with self._lock:
                self.spans[layer].append({"sec": sec, **counts, **attrs})

    def wrap(self, obj, method: str, layer: str, attrs=None) -> None:
        """Replace obj.<method> on the INSTANCE with a spanned call; the
        class and every other instance stay untouched. attrs(result) may
        add fields to the span from the call's return value."""
        if not self.enabled:
            return
        inner = getattr(obj, method)

        def spanned(*a, **kw):
            with self.span(layer) as extra:
                res = inner(*a, **kw)
                if attrs is not None:
                    extra.update(attrs(res))
            return res

        setattr(obj, method, spanned)

    def total(self, layer: str, field: str = "sec") -> float:
        with self._lock:
            return float(sum(s.get(field, 0) for s in self.spans.get(layer, [])))

    def count(self, layer: str) -> int:
        with self._lock:
            return len(self.spans.get(layer, []))


class Totals:
    """Global executor counters over a window (all jobs, reader included)."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.start = tracer.store.totals() if tracer.enabled else None

    def finish(self) -> dict:
        if not self.tracer.enabled:
            return {}
        return diff_counters(self.start, self.tracer.store.totals())
