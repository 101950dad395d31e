"""Spans around the calls into each layer, plus what Spark records about
the jobs those calls ran.

``Tracer`` keeps spans (name, layer, start, end, parent, run id) in
memory; ``to_json`` writes them out once the run ends. The benchmark
times every call from outside, so spans exist in both modes. Only the
traced mode (``--trace 1``) adds the costly parts:

- ``SparkHarvest`` reads Spark's in-process status stores after the
  measured pass: SQL executions past a watermark with their plan
  metrics (``MapInPandas`` Python worker boot / init / run time, Arrow
  bytes, rows into and out of the near-duplicate verify join), jobs,
  and stages (task time, GC time, shuffle bytes written).
  Each execution, job and stage is charged to the innermost span whose
  wall-clock interval contains its submission time; the benchmark has
  one client, so no two spans of the same depth overlap. Plan-metric
  values are Spark's own totals over tasks;
- ``make_gate_listener`` builds a ``StreamingQueryListener`` that
  records each micro-batch's ``durationMs`` (``addBatch``,
  ``queryPlanning``, ...).
"""

from __future__ import annotations

import contextlib
import re
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    layer: str
    start: float  # epoch seconds
    end: float
    parent: int | None
    run_id: str
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, layer: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, layer, time.time(), 0.0, parent, self.run_id, attrs)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()

    def owner(self, t: float) -> int | None:
        """Index of the innermost span containing epoch time ``t``."""
        best = None
        for i, sp in enumerate(self.spans):
            if sp.start <= t <= sp.end and (best is None or sp.start >= self.spans[best].start):
                best = i
        return best

    def to_json(self) -> list[dict]:
        return [
            {"name": s.name, "layer": s.layer, "start": s.start, "end": s.end,
             "parent": s.parent, "run_id": s.run_id, **s.attrs}
            for s in self.spans
        ]


# ------------------------------------------------------------ status store

_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9}
_TOTAL = re.compile(r"([\d.,]+)\s*([A-Za-z]+)?")


def metric_value(text: str) -> float:
    """Parse a status-store metric string (``'1,000'``, ``'5.9 KiB'``,
    ``'total (min, med, max ...)\\n6.9 s (1.5 s, ...)'``) to bytes,
    seconds or a count: the total, never a per-task figure."""
    body = text.split("\n", 1)[1] if text.startswith("total") else text
    m = _TOTAL.match(body.strip())
    if not m:
        return 0.0
    v = float(m.group(1).replace(",", ""))
    return v * _UNITS.get(m.group(2) or "", 1.0)


# plan-metric display names (Spark 4.1) → short keys
PLAN_METRICS = {
    "time to start Python workers": "python_boot_s",
    "time to initialize Python workers": "python_init_s",
    "time to run Python workers": "python_total_s",
    "data sent to Python workers": "arrow_sent_bytes",
    "data returned from Python workers": "arrow_recv_bytes",
}


# layers whose executions may hold a near-duplicate verify join
VERIFY_LAYERS = ("gate", "curate")


class SparkHarvest:
    """Reads the SQL and application status stores of one SparkSession.
    ``mark()`` sets the watermark; ``collect(tracer)`` charges every
    later execution, job and stage to the span that submitted it."""

    def __init__(self, spark):
        self.spark = spark
        # Python worker boot + init of the first execution past the
        # watermark that started workers: the session's worker warm-up
        self.first_python_s = 0.0
        self.exec_mark = -1
        self.job_mark = -1
        self.stage_mark = -1

    def _stores(self):
        jvm = self.spark._jvm
        conv = jvm.scala.jdk.javaapi.CollectionConverters
        sql = self.spark._jsparkSession.sharedState().statusStore()
        app = self.spark.sparkContext._jsc.sc().statusStore()
        return jvm, conv, sql, app

    def _executions(self):
        _, conv, sql, _ = self._stores()
        return list(conv.asJava(sql.executionsList()))

    def _jobs(self):
        _, conv, _, app = self._stores()
        return list(conv.asJava(app.jobsList(None)))

    def _stages(self):
        jvm, conv, _, app = self._stores()
        gw = self.spark.sparkContext._gateway
        return list(conv.asJava(app.stageList(
            None, False, False, gw.new_array(jvm.double, 0), jvm.java.util.ArrayList()
        )))

    def mark(self) -> None:
        self.exec_mark = max([e.executionId() for e in self._executions()], default=-1)
        self.job_mark = max([j.jobId() for j in self._jobs()], default=-1)
        self.stage_mark = max([s.stageId() for s in self._stages()], default=-1)

    def collect(self, tracer: Tracer) -> dict[int | None, dict]:
        """{span index: {"sql_executions", "jobs", "task_s", "gc_s",
        "shuffle_bytes", plan-metric keys...}} for everything past the
        watermark; key None collects work outside every span."""
        _, conv, sql, _ = self._stores()
        out: dict[int | None, dict] = {}

        def acc(t_ms: float, key: str, v: float) -> None:
            d = out.setdefault(tracer.owner(t_ms / 1000.0), {})
            d[key] = d.get(key, 0.0) + v

        wanted = re.compile(
            r"SQLPlanMetric\((" + "|".join(map(re.escape, PLAN_METRICS)) + r"),(\d+),")
        warm_eid = None
        for e in sorted(self._executions(), key=lambda e: e.executionId()):
            eid = e.executionId()
            if eid <= self.exec_mark:
                continue
            t = e.submissionTime()
            acc(t, "sql_executions", 1)
            vals = conv.asJava(sql.executionMetrics(eid))
            # one call for every metric's (name, accumulator); an
            # accumulator listed twice (initial and adaptive plan) counts once
            for name, acc_id in dict.fromkeys(wanted.findall(e.metrics().toString())):
                text = vals.get(int(acc_id))
                if text is None:
                    continue
                v = metric_value(text)
                acc(t, PLAN_METRICS[name], v)
                if PLAN_METRICS[name] in ("python_boot_s", "python_init_s") and v > 0 \
                        and warm_eid in (None, eid):
                    warm_eid = eid
                    self.first_python_s += v
            owner = tracer.owner(t / 1000.0)
            if owner is not None and tracer.spans[owner].layer in VERIFY_LAYERS:
                verified, candidates = _verify_counts(conv, sql, eid, vals)
                if candidates:
                    acc(t, "verify_in", candidates)
                    acc(t, "verify_out", verified)
        for j in self._jobs():
            if j.jobId() > self.job_mark and j.submissionTime().isDefined():
                acc(j.submissionTime().get().getTime(), "jobs", 1)
        for s in self._stages():
            if s.stageId() <= self.stage_mark or not s.submissionTime().isDefined():
                continue
            t = s.submissionTime().get().getTime()
            acc(t, "task_s", s.executorRunTime() / 1000.0)
            acc(t, "gc_s", s.jvmGcTime() / 1000.0)
            acc(t, "shuffle_bytes", float(s.shuffleWriteBytes()))
        return out


def _verify_counts(conv, sql, eid, vals) -> tuple[float, float]:
    """Rows into and out of the exact-Jaccard verify step of a
    near-duplicate pass in one execution's plan graph. The optimizer
    folds ``|a ∩ b| * 1e6 / |a ∪ b| >= threshold`` into the condition of
    the join that attaches the second side's hashes, so that join's
    output rows are the verified pairs and its left input's rows the
    candidate pairs."""
    graph = sql.planGraph(eid)
    nodes = {n.id(): n for n in conv.asJava(graph.allNodes())}
    children: dict[int, list[int]] = {}
    for e in conv.asJava(graph.edges()):  # in child order: left input first
        children.setdefault(e.toId(), []).append(e.fromId())

    def rows(n) -> float | None:
        for m in conv.asJava(n.metrics()):
            if m.name() == "number of output rows":
                text = vals.get(m.accumulatorId())
                return metric_value(text) if text is not None else None
        return None

    out_rows = in_rows = 0.0
    for nid, n in nodes.items():
        if "Join" not in n.name():
            continue
        desc = n.desc()
        if "array_intersect" not in desc or "array_union" not in desc:
            continue
        verified, fed = rows(n), None
        c = (children.get(nid) or [None])[0]
        while c in nodes and fed is None:
            fed = rows(nodes[c])
            c = (children.get(c) or [None])[0]
        if verified is not None and fed:
            out_rows += verified
            in_rows += fed
    return out_rows, in_rows


# ------------------------------------------------------- streaming listener

def make_gate_listener():
    """A ``StreamingQueryListener`` that keeps each micro-batch's
    ``durationMs``; built lazily so importing this module needs no
    Spark."""
    from pyspark.sql.streaming import StreamingQueryListener

    class GateListener(StreamingQueryListener):
        def __init__(self):
            self.batches: list[dict] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            self.batches.append({"batch_id": p.batchId, "rows": p.numInputRows,
                                 **{k: float(v) for k, v in p.durationMs.items()}})

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return GateListener()
