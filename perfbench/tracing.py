"""Spans and Spark counters for the traced run, recorded from outside the program.

Each span is one call into a program layer. While the span is open its
calls run under a Spark job group named after the span, so the jobs and
stages Spark ran for it can be read back from the status store afterwards
(this works with the UI disabled). Spans stay in memory and are written to
a side file when the run ends.

A disabled tracer records nothing and sets no job group; the untraced run
uses one, so its timings carry no tracing cost.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._sc = spark.sparkContext
        self._stack: list[int] = []
        self.self_s = 0.0  # time spent in tracer bookkeeping, for the overhead figure

    @contextmanager
    def span(self, name: str):
        """Time ``name``; with tracing on, tag its Spark jobs and harvest their stages."""
        if not self.enabled:
            yield {}
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
        }
        self.spans.append(rec)
        self._stack.append(sid)
        group = f"perfbench-{sid}"
        t0 = time.perf_counter()
        self._sc.setJobGroup(group, name)
        self.self_s += time.perf_counter() - t0
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            t0 = time.perf_counter()
            self._stack.pop()
            if self._stack:
                parent = self._stack[-1]
                self._sc.setJobGroup(f"perfbench-{parent}", self.spans[parent]["name"])
            else:
                self._sc._jsc.clearJobGroup()
            rec.update(self._harvest(group, rec["start"]))
            self.self_s += time.perf_counter() - t0

    def _harvest(self, group: str, start: float) -> dict:
        """Job and stage counters of the jobs Spark ran under ``group``."""
        jsc = self._sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self._sc.statusTracker()
        out = {
            "jobs": 0,
            "first_job_ms": None,
            "run_ms": 0,
            "input_records": 0,
            "shuffle_read_records": 0,
            "shuffle_write_records": 0,
            "shuffle_write_bytes": 0,
            "spill_bytes": 0,
        }
        for job_id in tracker.getJobIdsForGroup(group):
            out["jobs"] += 1
            sub = store.job(job_id).submissionTime()
            if sub.isDefined():
                ms = sub.get().getTime() - start * 1000.0
                if out["first_job_ms"] is None or ms < out["first_job_ms"]:
                    out["first_job_ms"] = ms
            info = tracker.getJobInfo(job_id)
            for stage_id in info.stageIds if info else ():
                try:
                    sd = store.lastStageAttempt(stage_id)
                except Py4JJavaError:  # the store no longer holds the stage
                    continue
                out["run_ms"] += sd.executorRunTime()
                out["input_records"] += sd.inputRecords()
                out["shuffle_read_records"] += sd.shuffleReadRecords()
                out["shuffle_write_records"] += sd.shuffleWriteRecords()
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return out

    def of(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({**extra, "spans": self.spans}, f, indent=1, default=str)
