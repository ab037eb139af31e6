"""Spans around the benchmark's calls into each engine layer.

A span is (id, name, layer, start, end, parent, run). With tracing on,
each span also tags the Spark jobs it fires with a job group. After the
schedule, the jobs, stages and tasks of every closed span are read from
``SparkStatusTracker`` and the status store (via py4j).
Jobs fired from threads that do not inherit the job group (the engine's
own thread pools) are attributed by submission time to the innermost
span open at that moment.

With tracing off, ``span`` only yields: no timestamps, no job groups.
"""

from __future__ import annotations

import itertools
import threading
import time
from contextlib import contextmanager

GROUP_PREFIX = "etlbench:"


class Tracer:
    def __init__(self, spark, enabled: bool, run_id: str):
        self.spark = spark
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._open: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._harvested = 0
        self._seen_ungrouped: set[int] = set()

    # ------------------------------------------------------------ spans --
    @contextmanager
    def span(self, layer: str, name: str):
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        with self._lock:
            parent = self._open[-1] if self._open else None
            sp = {
                "id": next(self._ids),
                "name": name,
                "layer": layer,
                "parent": parent["id"] if parent else None,
                "run": self.run_id,
                "start": time.time(),
                "end": None,
            }
            self._open.append(sp)
        # one py4j call each way: calls from a foreachBatch callback
        # thread are slow enough to show in the traced append times
        sc.setJobGroup(f"{GROUP_PREFIX}{sp['id']}", f"{layer}:{name}")
        try:
            yield
        finally:
            sp["end"] = time.time()
            with self._lock:
                self._open.remove(sp)
                self.spans.append(sp)
            if parent:
                sc.setJobGroup(f"{GROUP_PREFIX}{parent['id']}",
                               f"{parent['layer']}:{parent['name']}")
            else:
                sc._jsc.clearJobGroup()

    # ------------------------------------------------------------- jobs --
    def harvest(self) -> None:
        """Attach Spark job/stage/task counts to every span closed since
        the last harvest. Called after the schedule and after the
        read-back; a schedule fires far fewer jobs and stages than the
        status store retains (1000 each)."""
        if not self.enabled:
            return
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        store = jsc.statusStore()
        new = self.spans[self._harvested :]
        self._harvested = len(self.spans)
        by_id = {sp["id"]: sp for sp in new}
        for sp in new:
            sp["jobs"] = list(tracker.getJobIdsForGroup(f"{GROUP_PREFIX}{sp['id']}"))
        # ungrouped jobs: attribute by submission time to the innermost span
        seen = self._seen_ungrouped
        for jid in tracker.getJobIdsForGroup(None):
            if jid in seen:
                continue
            try:
                sub = store.job(jid).submissionTime()
            except Exception:  # evicted or never stored
                continue
            if not sub.isDefined():
                continue
            t = sub.get().getTime() / 1000.0
            owner = None
            for sp in new:
                if sp["start"] <= t <= sp["end"] and (
                    owner is None or sp["start"] >= owner["start"]
                ):
                    owner = sp
            if owner is not None:
                owner["jobs"].append(jid)
                seen.add(jid)
        for sp in by_id.values():
            stats = dict(stages=0, tasks=0, failed_tasks=0, executor_cpu_s=0.0,
                         shuffle_write_bytes=0, input_bytes=0)
            for jid in sp["jobs"]:
                info = tracker.getJobInfo(jid)
                if info is None:
                    continue
                for sid in info.stageIds:
                    try:
                        sd = store.lastStageAttempt(sid)
                    except Exception:  # skipped stage: never attempted
                        continue
                    if str(sd.status().toString()) == "SKIPPED":
                        continue
                    stats["stages"] += 1
                    stats["tasks"] += sd.numTasks()
                    stats["failed_tasks"] += sd.numFailedTasks()
                    stats["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                    stats["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                    stats["input_bytes"] += sd.inputBytes()
            sp["job_stats"] = stats

    def dump(self) -> list[dict]:
        return [dict(sp) for sp in self.spans]
