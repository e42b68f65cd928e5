"""Spans and Spark-side counters recorded from outside the program.

A span is ``(name, start, end, parent, batch)``. Spans live in memory and
are written out once, when the run ends. :class:`Tracer` with
``enabled=False`` keeps timing a call but records nothing else, so the
untraced run pays only ``perf_counter``.

Each traced call runs in its own Spark job group, so the job and task
counts of its build, plan and execute phases come from
``sc.statusTracker()``. SQL metrics and plan shape come from the executed
plan after ``collect()``.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# Executed-plan nodes that cross into a Python worker.
PY_BOUNDARY_NODES = frozenset({
    "MapInPandas", "MapInArrow", "PythonMapInArrow", "ArrowEvalPython",
    "BatchEvalPython", "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas",
    "FlatMapGroupsInArrow", "FlatMapCoGroupsInArrow", "AggregateInPandas",
    "WindowInPandas",
})


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    batch: int | None
    attrs: dict = field(default_factory=dict)


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._groups: list[str] = []

    @contextmanager
    def span(self, name: str, batch: int | None = None, jobs: bool = False):
        """Time a block. When tracing, record it; with ``jobs=True`` run it
        in its own job group and record the job and task counts of it and
        its child spans."""
        rec = Span(name, time.perf_counter(), 0.0, None, batch)
        if not self.enabled:
            try:
                yield rec
            finally:
                rec.end = time.perf_counter()
            return
        rec.parent = self._stack[-1] if self._stack else None
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        group = None
        if jobs:
            group = f"pb{len(self.spans)}"
            self._groups.append(group)
            self.sc.setJobGroup(group, name)
            rec.attrs["jobs"] = rec.attrs["tasks"] = 0
            rec.start = time.perf_counter()
        try:
            yield rec
        finally:
            rec.end = time.perf_counter()
            self._stack.pop()
            if group is not None:
                self._groups.pop()
                if self._groups:
                    self.sc.setJobGroup(self._groups[-1], name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                jobs_n, tasks_n = self._job_counts(group)
                rec.attrs["jobs"] += jobs_n
                rec.attrs["tasks"] += tasks_n
                # counts are inclusive: roll them up to the nearest
                # job-counting ancestor
                for i in reversed(self._stack):
                    anc = self.spans[i]
                    if "jobs" in anc.attrs:
                        anc.attrs["jobs"] += rec.attrs["jobs"]
                        anc.attrs["tasks"] += rec.attrs["tasks"]
                        break

    def _job_counts(self, group: str) -> tuple[int, int]:
        st = self.sc.statusTracker()
        ids = list(st.getJobIdsForGroup(group))
        tasks = 0
        for j in ids:
            info = st.getJobInfo(j)
            if info is None:
                continue
            for s in list(info.stageIds):
                si = st.getStageInfo(s)
                tasks += si.numTasks if si is not None else 0
        return len(ids), tasks

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({
                    "id": i, "name": s.name, "start": s.start, "end": s.end,
                    "parent": s.parent, "batch": s.batch, **s.attrs,
                }) + "\n")


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the time its direct children cover."""
    child = [0.0] * len(spans)
    for s in spans:
        if s.parent is not None:
            child[s.parent] += s.end - s.start
    return [(s.end - s.start) - c for s, c in zip(spans, child)]


def plan_metrics(jdf) -> dict:
    """Walk the executed plan of ``jdf`` (a py4j Dataset) after execution.

    Returns scan-node ``numOutputRows``, shuffle bytes written and the
    count of Python-boundary nodes. Adaptive query stages, reused
    exchanges and subqueries are followed; a reused exchange is counted
    once, where it was first planned.
    """
    out = {"scan_rows": 0, "shuffle_bytes": 0, "py_boundary_nodes": 0}
    root = jdf.queryExecution().executedPlan()
    stack = [root]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        name = node.nodeName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if cls in ("ReusedExchangeExec", "ReusedSubqueryExec"):
            continue
        metrics = node.metrics()
        if name.startswith("Scan") and metrics.contains("numOutputRows"):
            out["scan_rows"] += metrics.apply("numOutputRows").value()
        if metrics.contains("shuffleBytesWritten"):
            out["shuffle_bytes"] += metrics.apply("shuffleBytesWritten").value()
        if cls.removesuffix("Exec") in PY_BOUNDARY_NODES or name in PY_BOUNDARY_NODES:
            out["py_boundary_nodes"] += 1
        children = node.children()
        for i in range(children.size()):
            stack.append(children.apply(i))
        subs = node.subqueries()
        for i in range(subs.size()):
            stack.append(subs.apply(i))
    return out
