"""Timing spans for the traced run.

The engine is not instrumented: :meth:`Tracer.wrap` replaces a public
function of an engine module (and every alias of it that another engine
module imported) with a wrapper that opens a span around the call. Each
span records its name, start, end, parent span and the operation it ran
under, sets its own Spark job group, and counts the Spark jobs and tasks
started inside it. Spans stay in memory until the run ends, when
``layers.per_layer`` folds them into per-layer figures.
"""

from __future__ import annotations

import functools
import sys
import time
from contextlib import contextmanager

#: plan nodes whose SQL metrics :meth:`Tracer.plan_metrics` reads
SCAN_NODES = ("Scan parquet", "FileScan parquet")
PYTHON_NODES = ("MapInPandas", "PythonMapInArrow", "MapInArrow")


class Span:
    __slots__ = ("sid", "name", "op", "parent", "start", "end", "jobs",
                 "tasks", "children")

    def __init__(self, sid, name, op, parent):
        self.sid, self.name, self.op, self.parent = sid, name, op, parent
        self.start = self.end = 0.0
        self.jobs: list[int] = []
        self.tasks = 0
        self.children: list[Span] = []


class Tracer:
    """Span recorder bound to one SparkContext."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.op = None
        #: results some wrapped calls hand back, kept for counting
        self.captured: dict[str, object] = {}

    # -- spans ---------------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        parent = self.stack[-1] if self.stack else None
        s = Span(len(self.spans), name, self.op, parent.sid if parent else None)
        self.spans.append(s)
        if parent:
            parent.children.append(s)
        self.stack.append(s)
        group = f"perfbench-{s.sid}"
        self.sc.setJobGroup(group, name)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self.stack.pop()
            st = self.sc.statusTracker()
            s.jobs = list(st.getJobIdsForGroup(group))
            for j in s.jobs:
                info = st.getJobInfo(j)
                for stage in (info.stageIds if info else ()):
                    si = st.getStageInfo(stage)
                    s.tasks += si.numTasks if si else 0
            if parent:
                self.sc.setJobGroup(f"perfbench-{parent.sid}", parent.name)
            else:
                self.sc._jsc.clearJobGroup()

    # -- wrapping engine functions ------------------------------------------
    def wrap(self, owner, attr: str, name: str) -> None:
        """Trace ``owner.attr`` (a module function or a class method) as
        span ``name``; module-level aliases of the same function in other
        engine modules are wrapped too."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*a, **kw):
            with tracer.span(name):
                return orig(*a, **kw)

        targets = [owner]
        if not isinstance(owner, type):
            targets += [
                m for n, m in list(sys.modules.items())
                if n.startswith("parquet_on_fhir_spark") and m is not owner
                and getattr(m, attr, None) is orig
            ]
        for t in targets:
            setattr(t, attr, traced)

    # -- executed-plan metrics -----------------------------------------------
    def plan_metrics(self, df) -> dict[str, float]:
        """Sum SQL metrics of the plan the last action on ``df`` executed,
        plus its Catalyst phase times."""
        qe = df._jdf.queryExecution()
        out = {"rows_scanned": 0, "files_read": 0, "shuffle_bytes": 0,
               "python_rows_sent": 0, "python_bytes_sent": 0,
               "nested_loop_rows": 0}
        phases = qe.tracker().phases()
        it = phases.iterator()
        while it.hasNext():
            kv = it.next()
            out[f"catalyst_{kv._1()}_ms"] = kv._2().durationMs()

        def metric(node, key):
            m = node.metrics()
            return m.apply(key).value() if m.contains(key) else 0

        def walk(node):
            cls = node.getClass().getSimpleName()
            if cls == "AdaptiveSparkPlanExec":
                return walk(node.executedPlan())
            if cls.endswith("QueryStageExec"):
                return walk(node.plan())
            name = node.nodeName()
            kids = node.children()
            if name.startswith(SCAN_NODES):
                out["rows_scanned"] += metric(node, "numOutputRows")
                out["files_read"] += metric(node, "numFiles")
            if name.startswith("BroadcastNestedLoopJoin"):
                out["nested_loop_rows"] += metric(node, "numOutputRows")
            if name.startswith("Exchange"):
                out["shuffle_bytes"] += metric(node, "shuffleBytesWritten")
            if name.startswith(PYTHON_NODES):
                out["python_bytes_sent"] += metric(node, "pythonDataSent")
                for i in range(kids.size()):
                    out["python_rows_sent"] += _output_rows(kids.apply(i))
            for i in range(kids.size()):
                walk(kids.apply(i))

        walk(qe.executedPlan())
        return out

    # -- summary ---------------------------------------------------------------
    def layer_totals(self, lo: int, hi: int) -> dict[str, dict[str, float]]:
        """Per span name over ``spans[lo:hi]``: wall ms, self ms, jobs and
        tasks, counting only the outermost span of each name (a recursive
        call is not counted twice)."""
        by_sid = {s.sid: s for s in self.spans}
        out: dict[str, dict[str, float]] = {}
        for s in self.spans[lo:hi]:
            p, nested = s.parent, False
            while p is not None:
                if by_sid[p].name == s.name:
                    nested = True
                    break
                p = by_sid[p].parent
            if nested:
                continue
            t = out.setdefault(s.name, {"ms": 0.0, "self_ms": 0.0, "jobs": 0, "tasks": 0})
            wall = (s.end - s.start) * 1000
            t["ms"] += wall
            t["self_ms"] += wall - sum((c.end - c.start) * 1000 for c in s.children)
            jobs, tasks = _subtree_work(s)
            t["jobs"] += jobs
            t["tasks"] += tasks
        return out


def _subtree_work(s: Span) -> tuple[int, int]:
    jobs, tasks = len(s.jobs), s.tasks
    for c in s.children:
        j, t = _subtree_work(c)
        jobs += j
        tasks += t
    return jobs, tasks


def _output_rows(node) -> int:
    """Rows a plan node emitted: its own ``numOutputRows``, or that of the
    first descendant that records one (codegen wrappers do not)."""
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        return _output_rows(node.executedPlan())
    if cls.endswith("QueryStageExec"):
        return _output_rows(node.plan())
    m = node.metrics()
    if m.contains("numOutputRows"):
        return m.apply("numOutputRows").value()
    kids = node.children()
    return _output_rows(kids.apply(0)) if kids.size() else 0
