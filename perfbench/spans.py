"""Spans and Spark counters, recorded from outside the program.

A traced op is a tree: the op span, one span per call into a layer's
public function, and the Spark jobs that call ran. Each call runs under
its own Spark job group, so after the op the jobs of every call are
read back from ``sc.statusTracker()`` and their stage counters from
the JVM status store (``statusStore().lastStageAttempt(id)``), which
is populated with the UI disabled. Counters are read after the op has
finished, so the op's timed interval pays only for setting job groups.

A span's self time is its duration minus the part of it its children
cover: a call's children are its jobs, an op's children are its calls.
Spans are kept in memory and written out by ``dump``.
"""

from __future__ import annotations

import functools
import json
import os
import time
from collections.abc import Callable

from py4j.protocol import Py4JJavaError

# stage counters summed per call, from v1.StageData getters
STAGE_COUNTERS = {
    "tasks": "numTasks",
    "executor_run_ms": "executorRunTime",
    "gc_ms": "jvmGcTime",
    "input_rows": "inputRecords",
    "input_bytes": "inputBytes",
    "output_rows": "outputRecords",
    "output_bytes": "outputBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "memory_spill_bytes": "memoryBytesSpilled",
    "disk_spill_bytes": "diskBytesSpilled",
}
# counters that must repeat exactly for identical inputs and plans
DETERMINISTIC = ("jobs", "stages", *(k for k in STAGE_COUNTERS if not k.endswith("_ms")))


def _covered(start: float, end: float, intervals: list[tuple[float, float]]) -> float:
    """Length of [start, end] covered by the union of ``intervals``."""
    total, cursor = 0.0, start
    for a, b in sorted(intervals):
        a, b = max(a, cursor), min(b, end)
        if b > a:
            total += b - a
            cursor = b
    return total


class Tracer:
    """Records op and call spans; resolves their Spark counters per op."""

    def __init__(self, spark, cores: int):
        self.sc = spark.sparkContext
        self.cores = cores
        self.spans: list[dict] = []
        self._op: dict | None = None
        self._calls: list[dict] = []
        self._n_calls = 0  # makes every call's job group unique

    def begin_op(self, name: str) -> None:
        self._op = {
            "id": len(self.spans),
            "kind": "op",
            "name": name,
            "parent": None,
            "start": time.time(),
        }
        self._calls = []

    def end_op(self) -> None:
        """Close the op span and resolve its calls' counters."""
        op = self._op
        op["end"] = time.time()
        self.spans.append(op)
        self._resolve(op)
        self._op = None

    def call(self, layer: str, name: str, fn: Callable, *args, **kwargs):
        """Run ``fn`` under its own job group as a call span of the open op."""
        span = {
            "kind": "call",
            "layer": layer,
            "name": name,
            "group": f"perfbench-{self._n_calls}",
        }
        self._n_calls += 1
        self._calls.append(span)
        self.sc.setJobGroup(span["group"], f"{layer}:{name}")
        span["start"] = time.time()
        try:
            return fn(*args, **kwargs)
        finally:
            span["end"] = time.time()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def wrap(self, layer: str, name: str, fn: Callable) -> Callable:
        """``fn`` as a traced call, for patching into a module namespace."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            return self.call(layer, name, fn, *args, **kwargs)

        return traced

    def _resolve(self, op: dict) -> None:
        # the status listener is asynchronous: drain it before reading
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        store = self.sc._jsc.sc().statusStore()
        tracker = self.sc.statusTracker()
        op_counters = dict.fromkeys(("jobs", "stages", *STAGE_COUNTERS), 0)
        for span in self._calls:
            span["id"] = len(self.spans)
            span["parent"] = op["id"]
            counters = dict.fromkeys(("jobs", "stages", *STAGE_COUNTERS), 0)
            jobs: list[tuple[float, float]] = []
            for job_id in sorted(tracker.getJobIdsForGroup(span["group"])):
                jd = store.job(job_id)
                start = jd.submissionTime().get().getTime() / 1000.0
                end = jd.completionTime().get().getTime() / 1000.0
                jobs.append((start, end))
                counters["jobs"] += 1
                for stage_id in tracker.getJobInfo(job_id).stageIds:
                    try:
                        sd = store.lastStageAttempt(stage_id)
                    except Py4JJavaError:  # never attempted: nothing ran
                        continue
                    if sd.status().toString() != "COMPLETE":
                        continue  # skipped: its shuffle output was reused
                    counters["stages"] += 1
                    for key, getter in STAGE_COUNTERS.items():
                        counters[key] += int(getattr(sd, getter)())
            span["counters"] = counters
            span["jobs"] = [{"start": a, "end": b} for a, b in jobs]
            span["self_s"] = span["end"] - span["start"] - _covered(
                span["start"], span["end"], jobs
            )
            for key, v in counters.items():
                op_counters[key] += v
            self.spans.append(span)
        op["counters"] = op_counters
        op["self_s"] = op["end"] - op["start"] - _covered(
            op["start"], op["end"], [(c["start"], c["end"]) for c in self._calls]
        )
        op["calls"] = [c["id"] for c in self._calls]
        storage = self.sc._jsc.sc().getRDDStorageInfo()
        op["persisted_rdds"] = len(storage)
        op["persisted_bytes"] = sum(i.memSize() + i.diskSize() for i in storage)

    def ops(self) -> list[dict]:
        return [s for s in self.spans if s["kind"] == "op"]

    def calls_of(self, op: dict) -> list[dict]:
        return [self.spans[i] for i in op["calls"]]

    def dump(self, path: str, header: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(dict(header, spans=self.spans), f, indent=1)
