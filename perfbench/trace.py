"""Spans and Spark-side counters for the traced run.

Spans are recorded from the benchmark's own code around each call into
a layer (the engine itself carries no instrumentation).  They stay in
memory and are written out once, when the run ends.  A layer's self
time is its span's duration minus the part its child spans cover.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from typing import Dict, List, Optional

# SQL metrics summed over the executed plan, by the name the benchmark
# reports them under.  ArrowEvalPython (pandas UDFs) and MapInPandas
# report the Python-stage ones; Exchange reports shuffle bytes.
PLAN_METRICS = {
    "pythonBootTime": "python_boot_ms",
    "pythonInitTime": "python_init_ms",
    "pythonTotalTime": "python_total_ms",
    "pythonDataSent": "arrow_bytes_sent",
    "pythonDataReceived": "arrow_bytes_received",
    "pythonNumRowsReceived": "python_rows",
    "shuffleBytesWritten": "shuffle_bytes",
}


class Tracer:
    """In-memory span recorder: (id, name, parent, start, end)."""

    def __init__(self) -> None:
        self.spans: List[dict] = []
        self._stack: List[int] = []
        self._call_id: Optional[str] = None

    @contextmanager
    def call(self, call_id: str, name: str):
        """Root span of one timed call; nested spans share its id."""
        self._call_id = call_id
        try:
            with self.span(name) as root:
                yield root
        finally:
            self._call_id = None

    @contextmanager
    def span(self, name: str):
        rec = {"call": self._call_id, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> List[float]:
        """Per span: duration minus the time its children cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return [s["end"] - s["start"] - c for s, c in zip(self.spans, child)]

    def write(self, path: str, extra: dict) -> None:
        selfs = self.self_times()
        t0 = self.spans[0]["start"] if self.spans else 0.0
        out = [dict(s, id=i, start=s["start"] - t0, end=s["end"] - t0,
                    self=st) for i, (s, st) in enumerate(zip(self.spans, selfs))]
        with open(path, "w") as fh:
            json.dump(dict(extra, spans=out), fh, indent=1)


def _scala_iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def plan_metrics(qe_plan) -> Dict[str, float]:
    """Sum :data:`PLAN_METRICS` over an executed (AQE final) plan,
    descending into adaptive wrappers and query stages."""
    sums = {v: 0.0 for v in PLAN_METRICS.values()}
    todo = [qe_plan]
    while todo:
        node = todo.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        for kv in _scala_iter(node.metrics()):
            name = PLAN_METRICS.get(kv._1())
            if name is not None:
                sums[name] += float(kv._2().value())
        todo.extend(_scala_iter(node.children()))
    return sums


def job_counts(sc, group: str, timeout_s: float = 5.0) -> Dict[str, int]:
    """Jobs and tasks run under a job group, read from the status
    tracker once every job of the group has finished reporting."""
    tracker = sc.statusTracker()
    deadline = time.monotonic() + timeout_s
    while True:
        ids = tracker.getJobIdsForGroup(group)
        infos = [tracker.getJobInfo(j) for j in ids]
        done = all(i is not None and i.status in ("SUCCEEDED", "FAILED")
                   for i in infos)
        if done or time.monotonic() > deadline:
            break
        time.sleep(0.02)
    tasks = 0
    for info in infos:
        for sid in (info.stageIds if info is not None else []):
            st = tracker.getStageInfo(sid)
            if st is not None:
                tasks += st.numTasks
    return {"jobs": len(ids), "tasks": tasks}
