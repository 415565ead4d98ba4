"""Layer spans with the Spark counters of the jobs each span ran.

Every span gets its own job group (reusing a group name makes Spark's
tracker return the jobs of every call under that name). At the end the
group's jobs are read back through `statusTracker()` and each of their
stages from the JVM status store, which keeps task metrics even with the UI
disabled. Nested spans own only their own jobs: entering a child sets the
child's group and leaving it restores the parent's. Spans stay in memory;
the caller writes them out when the run ends.
"""

from __future__ import annotations

import time
import uuid
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

# StageData getter -> counter name. executorCpuTime is in ns, executorRunTime
# in ms; both are converted to seconds.
_STAGE_COUNTERS = {
    "executorCpuTime": "cpu_s",
    "executorRunTime": "run_s",
    "numFailedTasks": "failed_tasks",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "memoryBytesSpilled": "spill_bytes",
    "diskBytesSpilled": "spill_bytes",
    "outputRecords": "rows_out",
    "inputBytes": "input_bytes",
}
_SCALE = {"executorCpuTime": 1e-9, "executorRunTime": 1e-3}
_GROUP_PROP = "spark.jobGroup.id"


class EvictedError(RuntimeError):
    """The status store dropped a job or stage of a traced span."""


class Tracer:
    def __init__(self, spark):
        self._sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        # Time spent in span bookkeeping inside the traced calls: what
        # tracing adds to their wall time.
        self.overhead_s = 0.0

    @contextmanager
    def span(self, layer: str, call: str):
        entered = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        sp = {
            "id": len(self.spans),
            "parent": parent["id"] if parent else None,
            "layer": layer,
            "call": call,
            "group": f"perfbench-{layer}-{uuid.uuid4().hex[:12]}",
        }
        self.spans.append(sp)
        self._stack.append(sp)
        self._sc.setJobGroup(sp["group"], call)
        sp["start"] = time.perf_counter()
        self.overhead_s += sp["start"] - entered
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()
            self._sc.setLocalProperty(_GROUP_PROP, parent["group"] if parent else None)
            self.overhead_s += time.perf_counter() - sp["end"]

    def wrap(self, fn, layer: str):
        def traced(*args, **kwargs):
            with self.span(layer, fn.__name__):
                return fn(*args, **kwargs)

        return traced

    def collect(self) -> None:
        """Attach self time and Spark counters to every span (after the run).

        A stage listed by several jobs (a shuffle reused by a later action)
        counts once, for the span whose job was submitted first."""
        tracker = self._sc.statusTracker()
        store = self._sc._jsc.sc().statusStore()
        jobs: list[tuple[int, dict]] = []
        for sp in self.spans:
            covered = sum(
                c["end"] - c["start"] for c in self.spans if c["parent"] == sp["id"]
            )
            sp["wall_s"] = sp["end"] - sp["start"] - covered
            sp["counters"] = dict.fromkeys(
                ["cpu_s", "run_s", "jobs", "tasks", *_STAGE_COUNTERS.values()], 0
            )
            ids = tracker.getJobIdsForGroup(sp["group"])
            sp["counters"]["jobs"] = len(ids)
            jobs += [(j, sp) for j in ids]
        owner: dict[int, dict] = {}
        for j, sp in sorted(jobs, key=lambda t: t[0]):
            info = tracker.getJobInfo(j)
            if info is None:
                raise EvictedError(f"job {j} of span {sp['layer']}")
            for s in info.stageIds:
                owner.setdefault(s, sp)
        for s, sp in owner.items():
            try:
                data = store.lastStageAttempt(s)
            except Py4JJavaError as e:  # NoSuchElementException in the JVM
                raise EvictedError(f"stage {s} of span {sp['layer']}") from e
            if data.status().toString() == "SKIPPED":
                continue  # its shuffle output already existed, no task ran
            c = sp["counters"]
            c["tasks"] += (
                data.numCompleteTasks() + data.numFailedTasks() + data.numKilledTasks()
            )
            for getter, name in _STAGE_COUNTERS.items():
                c[name] += getattr(data, getter)() * _SCALE.get(getter, 1)
        t0 = min((sp["start"] for sp in self.spans), default=0.0)
        for sp in self.spans:
            sp["start"] -= t0
            sp["end"] -= t0
