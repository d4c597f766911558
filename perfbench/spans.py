"""Spans for the traced run, and Spark job/stage data from the status store.

Spans are recorded in memory at the calls the benchmark makes into each
layer and written out once, when the run ends. Times are wall-clock
seconds so they line up with progress records and the status store.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Trace:
    """In-memory spans: name, start, end, parent span, trace id, attributes."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self.self_s = 0.0  # time spent recording spans

    def add(self, name: str, start: float, end: float, trace_id: str,
            parent: int | None = None, **attrs) -> int | None:
        if not self.enabled:
            return None
        t0 = time.perf_counter()
        self.spans.append({
            "id": len(self.spans), "name": name, "start": start, "end": end,
            "parent": parent, "trace_id": trace_id, **attrs,
        })
        self.self_s += time.perf_counter() - t0
        return len(self.spans) - 1

    @contextmanager
    def span(self, name: str, trace_id: str, parent: int | None = None, **attrs):
        """Time the body; yields the span id (``None`` when disabled)."""
        if not self.enabled:
            yield None
            return
        sid = self.add(name, time.time(), float("nan"), trace_id, parent, **attrs)
        try:
            yield sid
        finally:
            self.spans[sid]["end"] = time.time()

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans}, fh)


class StatusStore:
    """Jobs and stages from the driver's ``AppStatusStore`` (works with
    the UI disabled), serialised to JSON inside the JVM in one call."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        jvm = sc._jvm
        self._sc = sc
        self._store = sc._jsc.sc().statusStore()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala_module, "MODULE$"))
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)

    def jobs(self) -> list[dict]:
        return json.loads(self._mapper.writeValueAsString(self._store.jobsList(None)))

    def stages(self) -> dict[int, dict]:
        raw = self._store.stageList(None, False, False, self._no_quantiles, None)
        out: dict[int, dict] = {}
        for st in json.loads(self._mapper.writeValueAsString(raw)):
            st.pop("details", None)
            prev = out.get(st["stageId"])
            if prev is None or st["attemptId"] > prev["attemptId"]:
                out[st["stageId"]] = st
        return out

    def groups(self, prefix: str) -> dict[str, dict]:
        """Per job group starting with ``prefix``: job count, stage and task
        counts, executor CPU, shuffle and spill totals, and job spans."""
        stages = self.stages()
        out: dict[str, dict] = {}
        for job in self.jobs():
            group = job.get("jobGroup")
            if not group or not group.startswith(prefix):
                continue
            agg = out.setdefault(group, {
                "jobs": 0, "stages": 0, "tasks": 0, "executor_cpu_ms": 0.0,
                "shuffle_write_bytes": 0, "shuffle_read_bytes": 0, "spill_bytes": 0,
                "job_spans": [],
            })
            agg["jobs"] += 1
            agg["tasks"] += job.get("numTasks", 0)
            start = job.get("submissionTime")
            end = job.get("completionTime") or start
            if start is not None:
                agg["job_spans"].append((start / 1000.0, end / 1000.0, job["jobId"]))
            for sid in job.get("stageIds", []):
                st = stages.get(sid)
                if st is None or st.get("status") == "SKIPPED":
                    continue
                agg["stages"] += 1
                agg["executor_cpu_ms"] += st.get("executorCpuTime", 0) / 1e6
                agg["shuffle_write_bytes"] += st.get("shuffleWriteBytes", 0)
                agg["shuffle_read_bytes"] += st.get("shuffleReadBytes", 0)
                agg["spill_bytes"] += st.get("memoryBytesSpilled", 0) + st.get("diskBytesSpilled", 0)
        return out


def covered_s(intervals: list[tuple[float, float]], start: float, end: float) -> float:
    """Seconds of [start, end] covered by the union of ``intervals``."""
    total = 0.0
    cur_s = cur_e = None
    for s, e, *_ in sorted(intervals):
        s, e = max(s, start), min(e, end)
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
