"""Spans and Spark status-store counters for the traced run.

A span wraps one call into a layer. When it names a job group, the span
sets it on the calling thread (``SparkContext.setJobGroup``), so every
Spark job the call runs can be read back from the status store. The
status store works with the UI disabled; it is read once, after the
timed window, through Spark's own JSON (Jackson) serialisation.
Streaming jobs need no span: Structured Streaming runs each query's
jobs under the query's ``runId`` as job group.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager


class Tracer:
    """Records spans in memory; does nothing when ``enabled`` is false,
    so the untraced runs pay for no bookkeeping and set no job groups.
    Spans are opened from one thread only."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, group: str | None = None):
        if not self.enabled:
            yield None
            return
        stack = self._stack
        rec = {"id": next(self._ids), "name": name, "parent": stack[-1] if stack else None,
               "group": group}
        prev = self.sc.getLocalProperty("spark.jobGroup.id") if group else None
        if group:
            self.sc.setJobGroup(group, name)
        stack.append(rec["id"])
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            if group:
                self.sc.setLocalProperty("spark.jobGroup.id", prev)
            self.spans.append(rec)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(sorted(self.spans, key=lambda s: s["start"]), f)


def status_store(sc) -> tuple[list[dict], dict[int, dict]]:
    """(jobs, stages by id) from the live application's status store."""
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    mapper.registerModule(
        getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$").__getattr__("MODULE$")
    )
    jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
    stages = json.loads(
        mapper.writeValueAsString(
            store.stageList(None, False, False, sc._gateway.new_array(jvm.double, 0),
                            jvm.java.util.ArrayList())
        )
    )
    by_id: dict[int, dict] = {}
    for s in stages:  # keep the latest attempt of each stage
        if s["stageId"] not in by_id or s["attemptId"] > by_id[s["stageId"]]["attemptId"]:
            by_id[s["stageId"]] = s
    return jobs, by_id


def group_counters(jobs: list[dict], stages: dict[int, dict], groups, window: tuple[float, float]) -> dict:
    """Sum the status-store counters of every job whose group is in
    ``groups``. ``driver_gap_ms`` is the part of ``window`` (epoch s)
    during which none of those jobs was running."""
    mine = [j for j in jobs if j.get("jobGroup") in groups]
    ran = {sid for j in mine for sid in j["stageIds"]
           if sid in stages and stages[sid]["status"] in ("COMPLETE", "FAILED")}
    st = [stages[s] for s in ran]
    busy, cur_s, cur_e = 0.0, None, None
    spans = [(max(j["submissionTime"] / 1e3, window[0]), min(j["completionTime"] / 1e3, window[1]))
             for j in mine if j.get("submissionTime") and j.get("completionTime")]
    for s, e in sorted(x for x in spans if x[1] > x[0]):
        if cur_e is None or s > cur_e:
            busy += (cur_e - cur_s) if cur_e is not None else 0.0
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    busy += (cur_e - cur_s) if cur_e is not None else 0.0
    return {
        "jobs": len(mine),
        "stages": len(st),
        "tasks": sum(s["numCompleteTasks"] + s["numFailedTasks"] for s in st),
        "executor_run_ms": sum(s["executorRunTime"] for s in st),
        "executor_cpu_ms": sum(s["executorCpuTime"] for s in st) / 1e6,
        "gc_ms": sum(s["jvmGcTime"] for s in st),
        "shuffle_read_bytes": sum(s["shuffleReadBytes"] for s in st),
        "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in st),
        "input_bytes": sum(s["inputBytes"] for s in st),
        "output_bytes": sum(s["outputBytes"] for s in st),
        "spill_bytes": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in st),
        "driver_gap_ms": max(0.0, (window[1] - window[0] - busy) * 1e3),
    }
