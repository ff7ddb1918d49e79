"""Spans recorded from outside the program, with Spark stage attribution.

A span is opened around one call into a layer (and the action that makes
the call's lazy DataFrame do its work).  Each span records its name, its
start and end, its parent span and a request id shared by every span of
one operation.  Spans stay in memory and are written out once, when the
run ends.

Every span sets its own Spark job group on the calling thread, so the
jobs a layer call launches can be found afterwards through the status
tracker, and the stage metrics the status store keeps for them (executor
busy time, GC time, spill, shuffle write, failed tasks, input records)
can be summed per span.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager

STAGE_FIELDS = (
    "busy_ms",
    "gc_ms",
    "spill_bytes",
    "shuffle_write_bytes",
    "failed_tasks",
    "input_records",
)


class Tracer:
    """Collects spans for one run. ``enabled=False`` makes ``span`` a
    no-op, so the timed runs execute the same code without tracing."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def span(self, name: str, request_id: int | None = None):
        if not self.enabled:
            yield {}
            return
        parent = getattr(self._local, "current", None)
        sid = next(self._ids)
        if request_id is None:
            request_id = parent["request_id"] if parent else sid
        rec = {
            "id": sid,
            "name": name,
            "parent": parent["id"] if parent else None,
            "request_id": request_id,
            "group": f"perfbench-{id(self):x}-{sid}",
            "attrs": {},
        }
        self._set_group(rec)
        self._local.current = rec
        rec["start"] = time.perf_counter()
        try:
            yield rec["attrs"]
        finally:
            rec["end"] = time.perf_counter()
            self._local.current = parent
            self._set_group(parent)
            with self._lock:
                self.spans.append(rec)

    def _set_group(self, rec: dict | None) -> None:
        self.sc.setLocalProperty(
            "spark.jobGroup.id", rec["group"] if rec else None
        )
        self.sc.setLocalProperty(
            "spark.job.description", rec["name"] if rec else None
        )

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def attach_stage_metrics(self) -> None:
        """Sum the stage metrics of each span's own jobs into the span
        (``rec["stage"]``); ``subtree_stage`` adds the descendants'."""
        if not self.enabled:
            return
        jsc = self.sc._jsc.sc()
        try:
            jsc.listenerBus().waitUntilEmpty()
        except Exception:  # older/newer listener bus API: let it drain
            time.sleep(1.0)
        tracker = self.sc.statusTracker()
        store = jsc.statusStore()
        jvm = self.sc._jvm
        no_status = jvm.java.util.ArrayList()
        no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        for rec in self.spans:
            tot = dict.fromkeys(STAGE_FIELDS, 0)
            stage_ids: set[int] = set()
            for job in tracker.getJobIdsForGroup(rec["group"]):
                info = tracker.getJobInfo(job)
                if info is not None:
                    stage_ids.update(info.stageIds)
            for sid in stage_ids:
                try:
                    attempts = store.stageData(
                        sid, False, no_status, False, no_quantiles
                    )
                except Exception:  # stage skipped (shuffle reuse): no data
                    continue
                for i in range(attempts.size()):
                    d = attempts.apply(i)
                    tot["busy_ms"] += d.executorRunTime()
                    tot["gc_ms"] += d.jvmGcTime()
                    tot["spill_bytes"] += (
                        d.memoryBytesSpilled() + d.diskBytesSpilled()
                    )
                    tot["shuffle_write_bytes"] += d.shuffleWriteBytes()
                    tot["failed_tasks"] += d.numFailedTasks()
                    tot["input_records"] += d.inputRecords()
            rec["stage"] = tot

    def subtree_stage(self, rec: dict) -> dict:
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            kids.setdefault(s["parent"], []).append(s)
        tot = dict.fromkeys(STAGE_FIELDS, 0)
        todo = [rec]
        while todo:
            cur = todo.pop()
            for k in STAGE_FIELDS:
                tot[k] += cur.get("stage", {}).get(k, 0)
            todo.extend(kids.get(cur["id"], []))
        return tot

    def task_scheduler_delays_ms(self, group: str) -> list[float]:
        """Scheduler delay of every task of the jobs in ``group``."""
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        out = []
        for job in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job)
            for sid in info.stageIds if info is not None else ():
                stage = tracker.getStageInfo(sid)
                if stage is None:
                    continue
                tasks = store.taskList(sid, stage.currentAttemptId, 10_000)
                for i in range(tasks.size()):
                    out.append(float(tasks.apply(i).schedulerDelay()))
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                [
                    {k: v for k, v in s.items() if k != "group"}
                    for s in sorted(self.spans, key=lambda s: s["id"])
                ],
                f,
            )
