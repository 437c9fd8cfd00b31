"""Spans around calls into the program, attributed to Spark work
through the status store.

A span records its name, start, end, parent and op id, plus the
status-store watermarks (next stage id, next job id, last SQL
execution id) at both ends. Spark work is synchronous under an action,
so the stages a span owns are exactly the ids between its two stage
watermarks: lazy work lands in the span whose call ran the action,
and nothing here adds an action of its own. Spans are kept in memory
and resolved against the status store after each op, once the
listener bus has drained.
"""

from __future__ import annotations

import math
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


def tail_quantile(values: list[float], q_max: float) -> tuple[float, float]:
    """The highest percentile up to ``q_max`` with at least ten
    samples beyond it, as (value, q). With fewer than twenty samples
    no tail above the median is supported, and the median is returned
    with q = 0.5."""
    xs = sorted(values)
    n = len(xs)
    q = min(q_max, 1.0 - 10.0 / n) if n else 0.5
    if q <= 0.5:
        q = 0.5
    # nearest rank: the value with at least ceil(q n) samples at or below
    k = max(0, math.ceil(q * n - 1e-9) - 1)
    if q == 0.5:
        return median(xs), q
    return xs[k], q


def median(values: list[float]) -> float:
    xs = sorted(values)
    n = len(xs)
    if not n:
        return float("nan")
    m = n // 2
    return xs[m] if n % 2 else (xs[m - 1] + xs[m]) / 2.0


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


@dataclass
class Span:
    name: str
    op: int
    parent: int | None  # index into Tracer.spans
    start: float
    marks0: tuple[int, int, int]  # (next stage, next job, last execution)
    end: float = 0.0
    marks1: tuple[int, int, int] = (0, 0, 0)
    stats: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start

    def stage_ids(self) -> range:
        return range(self.marks0[0], self.marks1[0])

    def execution_ids(self) -> range:
        return range(self.marks0[2] + 1, self.marks1[2] + 1)


def self_times(spans: list[Span]) -> list[float]:
    """Each span's wall time minus the part of it its children cover
    (``spans`` is a tracer's whole list: parents are indices into it)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return [
        s.wall - union_length(kids.get(i, []), s.start, s.end)
        for i, s in enumerate(spans)
    ]


class Tracer:
    """Collects spans when enabled; a disabled tracer's ``span`` costs
    one branch, so the same workload code runs in both modes."""

    def __init__(self, status=None, enabled: bool = False):
        self.status = status
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op = 0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(name, self.op, parent, time.time(), self.status.marks())
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.marks1 = self.status.marks()
            s.end = time.time()
            self._stack.pop()

    def resolve(self, op: int) -> list[Span]:
        """Fill ``stats`` of op ``op``'s spans from the status store."""
        spans = [s for s in self.spans if s.op == op]
        if spans and self.status is not None:
            self.status.drain()
            for s in spans:
                s.stats = self.status.span_stats(s)
        return spans


# -- Spark status store ------------------------------------------------------

_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9}
_TOTAL_RE = re.compile(r"^([\d.,]+)\s*([A-Za-z]*)")


def parse_metric(text: str | None) -> float:
    """A formatted SQL metric value ('1,175', '335.0 KiB', or a
    'total (min, med, max ...)' block) as a number in bytes, seconds
    or rows."""
    if not text:
        return 0.0
    line = text.split("\n")[-1] if text.startswith("total") else text
    m = _TOTAL_RE.match(line.strip())
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


class SparkStatus:
    """Reads stage, job and SQL-execution data from the live
    application's status stores (populated with the UI disabled)."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._jvm = spark._jvm
        self._dag = self._sc.dagScheduler()
        self._app = self._sc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._no_tasks = self._jvm.java.util.ArrayList()
        self._no_quantiles = spark.sparkContext._gateway.new_array(self._jvm.double, 0)

    def marks(self) -> tuple[int, int, int]:
        n = self._sql.executionsCount()
        last = self._sql.executionsList(int(n) - 1, 1).head().executionId() if n else -1
        return (self._dag.nextStageId(), self._dag.nextJobId(), last)

    def drain(self) -> None:
        self._sc.listenerBus().waitUntilEmpty()

    def stage(self, sid: int) -> dict | None:
        try:
            attempts = self._app.stageData(sid, False, self._no_tasks, False,
                                           self._no_quantiles)
        except Exception:  # evicted from the store, or never submitted
            return None
        out = {"cpu_s": 0.0, "shuffle_mb": 0.0, "input_mb": 0.0, "intervals": []}
        for i in range(attempts.length()):
            a = attempts.apply(i)
            out["cpu_s"] += a.executorCpuTime() / 1e9
            out["shuffle_mb"] += (a.shuffleReadBytes() + a.shuffleWriteBytes()) / 1e6
            out["input_mb"] += a.inputBytes() / 1e6
            sub, done = a.submissionTime(), a.completionTime()
            if sub.isDefined() and done.isDefined():
                out["intervals"].append(
                    (sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
        return out

    def span_stats(self, s: Span) -> dict:
        cpu = shuffle = inp = 0.0
        intervals: list[tuple[float, float]] = []
        for sid in s.stage_ids():
            st = self.stage(sid)
            if st:
                cpu += st["cpu_s"]
                shuffle += st["shuffle_mb"]
                inp += st["input_mb"]
                intervals += st["intervals"]
        return {
            "wall_s": s.wall,
            # stage times have millisecond resolution: widen the span
            # by that much so a stage that ends with it is not clipped
            "driver_s": max(0.0, s.wall - union_length(intervals, s.start - 1e-3,
                                                       s.end + 1e-3)),
            "jobs": s.marks1[1] - s.marks0[1],
            "cpu_s": cpu,
            "shuffle_mb": shuffle,
            "input_mb": inp,
        }

    def execution(self, eid: int) -> dict:
        """Wall time, CPU time and per-operator metrics of one SQL
        execution: ``nodes`` is a list of (name, {metric: text},
        [child node ids]) keyed by node id."""
        e = self._sql.execution(eid).get()
        done = e.completionTime()
        wall = (done.get().getTime() - e.submissionTime()) / 1e3 if done.isDefined() else 0.0
        stages = [int(x) for x in e.stages().mkString(",").split(",") if x]
        cpu = sum((self.stage(sid) or {"cpu_s": 0.0})["cpu_s"] for sid in stages)
        values = self._sql.executionMetrics(eid)
        graph = self._sql.planGraph(eid)
        nodes: dict[int, tuple[str, dict, list[int]]] = {}
        all_nodes = graph.allNodes()
        for i in range(all_nodes.length()):
            node = all_nodes.apply(i)
            metrics = {}
            ms = node.metrics()
            for j in range(ms.length()):
                m = ms.apply(j)
                v = values.get(m.accumulatorId())
                metrics[m.name()] = v.get() if v.isDefined() else None
            nodes[node.id()] = (node.name(), metrics, [])
        edges = graph.edges()
        for i in range(edges.length()):
            ed = edges.apply(i)  # child -> parent
            if ed.toId() in nodes:
                nodes[ed.toId()][2].append(ed.fromId())
        return {"wall_s": wall, "cpu_s": cpu, "nodes": nodes}


TRACE_LAYERS = [("trace.traced_op_s", "s"), ("trace.untraced_op_s", "s"),
                ("trace.span_coverage", "ratio")]


def traced_medians(run: dict, op_layers) -> dict[str, float]:
    """Median of each per-op layer metric over the traced ops, plus
    the run's tracing overhead and span coverage."""
    per_op = [op_layers(op) for op in range(run["ops"]) if op % 2 == 0]
    keys = {k for d in per_op for k in d}
    out = {k: median([d.get(k, 0.0) for d in per_op]) for k in keys}
    out.update(trace_summary(run, out.pop("_covered_s")))
    return out


def trace_summary(run: dict, covered_s: float) -> dict[str, float]:
    """Tracing overhead and span coverage of a closed-loop traced run."""
    traced, untraced = run["op_walls"][True], run["op_walls"][False]
    t = median(traced)
    return {
        "trace.traced_op_s": t,
        "trace.untraced_op_s": median(untraced) if untraced else t,
        "trace.span_coverage": covered_s / t if t else 0.0,
    }


def rows_into(nodes: dict, node_id: int) -> float:
    """Rows fed into a node: the row count of its nearest descendant
    that reports one (codegen'd filters and projections report none)."""
    todo = list(nodes[node_id][2])
    while todo:
        nid = todo.pop(0)
        name, metrics, kids = nodes[nid]
        if "number of output rows" in metrics:
            return parse_metric(metrics["number of output rows"])
        todo += kids
    return 0.0
