"""Spans and Spark counters for the traced run (`--trace 1`).

Spans are recorded from the benchmark's own files around calls into the
package's public functions: name, start, end, the op they belong to and
their parent span. They are kept in memory and written out once, when
the run ends. Spark counters come from the status tracker (jobs and
their stages) and the JVM status store (per-stage executor time and
bytes), read after each op once the listener bus has drained, so
nothing is read while an op is being timed.
"""

from __future__ import annotations

import contextlib
import json
import re
import time

_RDD_SCAN = re.compile(r"Scan ExistingRDD")

COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "exec_run_s",
    "exec_cpu_s",
    "input_mb",
    "shuffle_read_mb",
    "shuffle_write_mb",
    "spill_mb",
)


class Tracer:
    """Collects spans always (they cost two clock reads) and Spark
    counters only when `enabled`."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._sc = spark.sparkContext
        self._seen: set[int] = set()

    @contextlib.contextmanager
    def span(self, name: str, op: int):
        idx = len(self.spans)
        rec = {"op": op, "name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def durations(self, name: str, setup: bool = False) -> list[float]:
        """Durations of the spans called `name`: of the timed ops (op
        ids from 1), or with `setup`, of the set-up (op id 0)."""
        return [
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and s["end"] is not None and (s["op"] == 0) == setup
        ]

    # -- Spark counters ---------------------------------------------------
    def _new_jobs(self) -> list[int]:
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()
        ids = set(self._sc.statusTracker().getJobIdsForGroup(None))
        new = sorted(ids - self._seen)
        self._seen |= ids
        return new

    def mark(self) -> None:
        """Attribute every job launched so far to nobody."""
        if self.enabled:
            self._new_jobs()

    def counters(self) -> dict[str, float]:
        """Jobs, stages, tasks, executor time and bytes of every job
        launched since the previous call."""
        out = dict.fromkeys(COUNTERS, 0.0)
        tracker = self._sc.statusTracker()
        store = self._sc._jsc.sc().statusStore()
        for jid in self._new_jobs():
            out["jobs"] += 1
            info = tracker.getJobInfo(jid)
            for sid in list(info.stageIds) if info else []:
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # stage never attempted (skipped)
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                out["exec_run_s"] += st.executorRunTime() / 1e3
                out["exec_cpu_s"] += st.executorCpuTime() / 1e9
                out["input_mb"] += st.inputBytes() / 1e6
                out["shuffle_read_mb"] += st.shuffleReadBytes() / 1e6
                out["shuffle_write_mb"] += st.shuffleWriteBytes() / 1e6
                out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 1e6
        return out

    @staticmethod
    def rdd_scans(df) -> int:
        """RDD-backed scan nodes (driver-built literal frames) in the
        executed plan of `df`."""
        return len(_RDD_SCAN.findall(df._jdf.queryExecution().executedPlan().toString()))

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)
