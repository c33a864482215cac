"""Span tracing for the traced run (``--trace 1``).

Spans are recorded from the benchmark's side only: the public functions of
the program's modules are wrapped at their module or class attribute for
the length of the run (``instrument``), and the benchmark opens spans
around its own calls into Spark.  Spans stay in memory and are written out
when the run ends.  With ``--trace 0`` nothing is wrapped and the
``NullTracer`` records nothing.
"""

from __future__ import annotations

import functools
import json
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from typing import Dict, List, Optional


class NullTracer:
    enabled = False
    op_id: Optional[int] = None

    @contextmanager
    def span(self, name: str, jobs: bool = False):
        yield {}


class Tracer:
    """Spans: name, start, end, parent span, operation id, and the number
    of Spark jobs started while the span was innermost (counted through a
    per-span job group).  ``overhead_s`` sums the time spent in the
    tracer's own bookkeeping."""

    enabled = True

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: List[dict] = []
        self.op_id: Optional[int] = None
        self.overhead_s = 0.0
        self._local = threading.local()
        self._lock = threading.Lock()
        self._main_stack = self._stack()

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, jobs: bool = False):
        t_in = time.perf_counter()
        stack = self._stack()
        # a span opened on a thread Spark calls back on (a streaming sink)
        # belongs to the span the benchmark's thread is waiting in
        parents = stack or self._main_stack
        with self._lock:
            rec = {"id": len(self.spans), "name": name,
                   "parent": parents[-1] if parents else None,
                   "op": self.op_id, "start": 0.0, "end": 0.0, "jobs": 0}
            self.spans.append(rec)
        stack.append(rec["id"])
        group = prev = None
        if jobs and self.sc is not None:
            group = f"perfbench-span-{rec['id']}"
            prev = self.sc.getLocalProperty("spark.jobGroup.id")
            self.sc.setJobGroup(group, name)
        rec["start"] = time.perf_counter()
        self.overhead_s += rec["start"] - t_in
        try:
            yield rec
        finally:
            rec["end"] = t_out = time.perf_counter()
            stack.pop()
            if group is not None:
                rec["jobs"] = len(
                    self.sc.statusTracker().getJobIdsForGroup(group))
                self.sc.setLocalProperty("spark.jobGroup.id", prev)
            self.overhead_s += time.perf_counter() - t_out

    def tasks_of(self, rec: dict) -> int:
        """Tasks of the stages of the jobs a span started."""
        st = self.sc.statusTracker()
        n = 0
        for jid in st.getJobIdsForGroup(f"perfbench-span-{rec['id']}"):
            job = st.getJobInfo(jid)
            for sid in (job.stageIds if job else []):
                stage = st.getStageInfo(sid)
                n += stage.numTasks if stage else 0
        return n

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans}, f)


def patch(owner, attr: str, make) -> tuple:
    """Replace ``owner.attr`` with ``make(original)``; returns the entry
    ``restore`` needs to put the original back."""
    orig = getattr(owner, attr)
    setattr(owner, attr, functools.wraps(orig)(make(orig)))
    return owner, attr, orig


def instrument(tracer: Tracer, targets) -> List[tuple]:
    """Wrap ``(owner, attribute, span name, count jobs)`` targets in spans;
    returns what ``restore`` needs to undo it.  Job counting sets the
    calling thread's job group, so it is off for code Spark calls back into
    from its own threads (a streaming sink)."""
    def spanned(name, jobs):
        def make(orig):
            def wrapper(*args, **kwargs):
                with tracer.span(name, jobs=jobs):
                    return orig(*args, **kwargs)
            return wrapper
        return make

    return [patch(owner, attr, spanned(name, jobs))
            for owner, attr, name, jobs in targets]


def restore(saved: List[tuple]) -> None:
    for owner, attr, orig in reversed(saved):
        setattr(owner, attr, orig)


# ---- span arithmetic ---------------------------------------------------------


def layer_of(name: str) -> str:
    """Layer a span belongs to: its name's first segment, except that
    Catalyst planning is its own layer apart from Spark execution."""
    return "catalyst" if name == "spark.plan" else name.split(".", 1)[0]


def self_times(spans: List[dict]) -> Dict[int, float]:
    """Span id -> self time: its duration minus the part of its interval
    that its child spans cover (children of one span never overlap, as
    they run on the caller's thread one after another)."""
    child_time: Dict[int, float] = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child_time[s["parent"]] += s["end"] - s["start"]
    return {s["id"]: max(0.0, s["end"] - s["start"] - child_time[s["id"]])
            for s in spans}


def layer_self_seconds(spans: List[dict]) -> Dict[str, float]:
    out: Dict[str, float] = defaultdict(float)
    st = self_times(spans)
    for s in spans:
        out[layer_of(s["name"])] += st[s["id"]]
    return dict(out)


def outermost(spans: List[dict], name: str) -> List[dict]:
    """Spans called ``name`` with no ancestor of the same name (a
    recursive call counts once, at its outermost level)."""
    by_id = {s["id"]: s for s in spans}
    out = []
    for s in spans:
        if s["name"] != name:
            continue
        p = s["parent"]
        while p is not None and by_id[p]["name"] != name:
            p = by_id[p]["parent"]
        if p is None:
            out.append(s)
    return out


def subtree_jobs(spans: List[dict], root: dict) -> int:
    """Jobs started inside ``root``, its descendants included."""
    kids: Dict[int, List[dict]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append(s)
    n, todo = 0, [root]
    while todo:
        s = todo.pop()
        n += s["jobs"]
        todo.extend(kids[s["id"]])
    return n


def median_ms(values: List[float]) -> float:
    return statistics.median(values) * 1000.0 if values else 0.0


# ---- executed-plan statistics ----------------------------------------------


def plan_stats(df) -> Dict[str, int]:
    """Walk the executed (after-AQE) physical plan of an action's Dataset
    and sum its SQL metrics: plan nodes, rows and bytes read by file
    scans, bytes written by shuffles."""
    out = {"nodes": 0, "scan_rows": 0, "scan_bytes": 0, "shuffle_bytes": 0}

    def metric(node, key):
        m = node.metrics()
        return int(m.apply(key).value()) if m.contains(key) else 0

    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        name = str(node.nodeName())
        if name == "AdaptiveSparkPlan":
            todo.append(node.executedPlan())
            continue
        if "QueryStage" in name:
            todo.append(node.plan())
            continue
        out["nodes"] += 1
        if name.startswith("Scan"):
            out["scan_rows"] += metric(node, "numOutputRows")
            out["scan_bytes"] += metric(node, "filesSize")
        elif "Exchange" in name:
            out["shuffle_bytes"] += metric(node, "shuffleBytesWritten")
        it = node.children().iterator()
        while it.hasNext():
            todo.append(it.next())
    return out


def logical_nodes(df) -> int:
    """Logical-plan operators behind a DataFrame (one per tree line)."""
    return len(str(df._jdf.queryExecution().logical().toString())
               .strip().splitlines())
