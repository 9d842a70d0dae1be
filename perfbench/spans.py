"""Layer tracing from outside the package.

``Tracer.install`` wraps the public functions of each package module
(and pyspark's ``DataStreamWriter.foreachBatch``) with spans; the
package itself is not modified, and ``Tracer.restore`` puts every
original back. Spans are kept in memory. After a traced phase,
``layer_metrics`` joins the spans with the Spark jobs and stages read
from the UI REST API: a job belongs to every span whose interval holds
its submission time.

Span names are ``<layer>.<part>``; the layers are the package modules
(``core.engine`` → ``engine``, ``operators.row_dq`` → ``row_dq``,
``sinks.writer`` → ``writer``, ...).
"""

from __future__ import annotations

import functools
import itertools
import json
import statistics
import threading
import time
import urllib.request
from dataclasses import dataclass, field
from datetime import datetime
from typing import Callable, Optional


@dataclass
class Span:
    sid: int
    name: str
    parent: Optional[int]
    t0: float
    t1: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.t1 - self.t0


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._ids = itertools.count()
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def span(self, name: str, **attrs) -> "_SpanCtx":
        return _SpanCtx(self, name, attrs)

    def wrap(self, owner, attr: str, name: str,
             attrs_of: Optional[Callable[..., dict]] = None) -> None:
        """Replace ``owner.attr`` by a wrapper that runs it in a span."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            attrs = attrs_of(*args, **kwargs) if attrs_of else {}
            with self.span(name, **attrs):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, orig))

    def install(self) -> None:
        from pyspark.sql.streaming import DataStreamWriter
        from spark_expectations_spark.core.engine import DQEngine
        from spark_expectations_spark.operators import (agg_dq, dedup, graph,
                                                        linkage, query_dq,
                                                        row_dq)
        from spark_expectations_spark.sinks import writer

        self.wrap(DQEngine, "run", "engine.run")
        for fn in ("project_flags", "errors_from_flags", "final_from_flags"):
            self.wrap(row_dq, fn, "row_dq.build")
        for fn in ("summarize_flags", "summarize_flags_with"):
            self.wrap(row_dq, fn, "row_dq.scan")
        self.wrap(agg_dq, "evaluate_agg_rules", "agg_dq.eval")
        self.wrap(query_dq, "evaluate_query_rules", "query_dq.eval")
        self.wrap(writer, "write_batch", "writer.write",
                  lambda df, table, opts: {"table": table})
        self.wrap(graph, "triangle_counts", "graph.build")
        self.wrap(linkage, "weighted_cosine_join", "linkage.build")
        for fn in ("jaccard_pairs", "contamination_screened"):
            self.wrap(dedup, fn, "dedup.build")

        tracer = self
        orig_fb = DataStreamWriter.foreachBatch

        @functools.wraps(orig_fb)
        def foreach_batch(writer_self, func):
            def body(batch_df, batch_id):
                with tracer.span("streaming.batch", batch_id=batch_id):
                    return func(batch_df, batch_id)
            return orig_fb(writer_self, body)

        DataStreamWriter.foreachBatch = foreach_batch
        self._patches.append((DataStreamWriter, "foreachBatch", orig_fb))

    def restore(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, attrs: dict):
        self.tracer, self.name, self.attrs = tracer, name, attrs

    def __enter__(self) -> Span:
        stack = self.tracer._stack()
        self.span = Span(next(self.tracer._ids), self.name,
                         stack[-1] if stack else None, time.time(),
                         attrs=self.attrs)
        stack.append(self.span.sid)
        return self.span

    def __exit__(self, *exc) -> None:
        self.span.t1 = time.time()
        self.tracer._stack().pop()
        with self.tracer._lock:
            self.tracer.spans.append(self.span)


# --------------------------------------------------------------- Spark REST

def _epoch(ts: Optional[str]) -> Optional[float]:
    if not ts:
        return None
    return datetime.strptime(ts.replace("GMT", "+0000"),
                             "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


@dataclass
class SparkJob:
    t: float
    stage_ids: list[int]


def fetch_jobs(spark) -> tuple[list[SparkJob], dict[int, dict]]:
    """Every finished job and every completed stage of the application,
    read from the UI REST API once the listener has caught up."""
    sc = spark.sparkContext
    port = sc.uiWebUrl.rsplit(":", 1)[1]
    base = f"http://localhost:{port}/api/v1/applications/{sc.applicationId}"
    tracker = sc.statusTracker()
    deadline = time.time() + 10
    jobs: list = []
    while time.time() < deadline:
        jobs = _get(base + "/jobs")
        running = tracker.getActiveJobsIds()
        if all(j.get("completionTime") for j in jobs) and not running:
            break
        time.sleep(0.2)
    stages = {s["stageId"]: s for s in _get(base + "/stages?status=complete")}
    return ([SparkJob(_epoch(j["submissionTime"]), j.get("stageIds", []))
             for j in jobs if j.get("submissionTime")], stages)


# ---------------------------------------------------------------- metrics

def _union(intervals: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for a, b in sorted(intervals):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def _length(intervals) -> float:
    return sum(b - a for a, b in intervals)


def _within(intervals, t: float) -> bool:
    return any(a <= t <= b for a, b in intervals)


def _job_stages(jobs: list[SparkJob], stages: dict[int, dict],
                intervals) -> tuple[int, list[dict]]:
    """Jobs submitted inside ``intervals`` and their completed stages
    (each stage once, however many jobs list it)."""
    n_jobs, ids = 0, set()
    for j in jobs:
        if _within(intervals, j.t):
            n_jobs += 1
            ids.update(i for i in j.stage_ids if i in stages)
    return n_jobs, [stages[i] for i in ids]


def _writer_table(span: Span) -> str:
    table = span.attrs.get("table", "")
    if table.endswith("_error"):
        return "error"
    if "_stats" in table:
        return "stats"
    return "target"


#: per-layer time metric -> predicate selecting its spans
TIME_METRICS: dict[str, Callable[[Span], bool]] = {
    "engine.run_s": lambda s: s.name == "engine.run",
    "row_dq.build_s": lambda s: s.name == "row_dq.build",
    "row_dq.scan_s": lambda s: s.name == "row_dq.scan",
    "agg_dq.eval_s": lambda s: s.name == "agg_dq.eval",
    "query_dq.eval_s": lambda s: s.name == "query_dq.eval",
    "writer.error_s": lambda s: (s.name == "writer.write"
                                 and _writer_table(s) == "error"),
    "writer.target_s": lambda s: (s.name == "writer.write"
                                  and _writer_table(s) == "target"),
    "writer.stats_s": lambda s: (s.name == "writer.write"
                                 and _writer_table(s) == "stats"),
    "streaming.batch_s": lambda s: s.name == "streaming.batch",
}
#: layers whose job count is reported, by span-name prefix
JOB_LAYERS = ("engine", "row_dq", "agg_dq", "query_dq")
#: operator layers reported as build/exec/cpu/shuffle/jobs
OPERATOR_LAYERS = ("graph", "linkage", "dedup")

LAYER_METRICS = (
    list(TIME_METRICS)
    + ["engine.self_s"]
    + [f"{layer}.jobs" for layer in JOB_LAYERS]
    + [f"{layer}.{m}" for layer in OPERATOR_LAYERS
       for m in ("build_s", "exec_s", "cpu_s", "shuffle_mb", "jobs")]
    + ["spark.task_s", "spark.cpu_s", "spark.core_util",
       "spark.sched_gap_s", "spark.shuffle_mb", "spark.stages"]
)


def layer_metrics(spans: list[Span], ops: list[tuple[float, float]],
                  jobs: list[SparkJob], stages: dict[int, dict],
                  cores: int, phase: tuple[float, float]) -> dict[str, float]:
    """Median over operations of each layer's per-operation figures.

    ``ops`` are the (start, end) epoch intervals of the measured
    operations; a span or job counts for the operation whose interval
    holds it. ``spark.core_util`` is task time over the whole traced
    phase divided by its wall time times ``cores``."""
    per_op: dict[str, list[float]] = {m: [] for m in LAYER_METRICS}
    for t0, t1 in ops:
        inside = [s for s in spans if s.t0 >= t0 and s.t1 <= t1]

        def iv(pred):
            return _union([(s.t0, s.t1) for s in inside if pred(s)])

        def job_stages(intervals):
            return _job_stages(jobs, stages, intervals)

        for name, pred in TIME_METRICS.items():
            per_op[name].append(_length(iv(pred)))
        engine = [s for s in inside if s.name == "engine.run"]
        self_s = 0.0
        for e in engine:
            kids = _union([(s.t0, s.t1) for s in inside if s.parent == e.sid])
            self_s += e.seconds - _length(kids)
        per_op["engine.self_s"].append(self_s)
        for layer in JOB_LAYERS:
            n, _ = job_stages(iv(lambda s, p=layer + ".": s.name.startswith(p)))
            per_op[f"{layer}.jobs"].append(n)
        for layer in OPERATOR_LAYERS:
            build = iv(lambda s, n=layer + ".build": s.name == n)
            exe = iv(lambda s, n=layer + ".exec": s.name == n)
            n, st = job_stages(_union(build + exe))
            per_op[f"{layer}.build_s"].append(_length(build))
            per_op[f"{layer}.exec_s"].append(_length(exe))
            per_op[f"{layer}.cpu_s"].append(
                sum(s.get("executorCpuTime", 0) for s in st) / 1e9)
            per_op[f"{layer}.shuffle_mb"].append(
                sum(s.get("shuffleWriteBytes", 0) for s in st) / 1e6)
            per_op[f"{layer}.jobs"].append(n)
        _, st = job_stages([(t0, t1)])
        task_s = sum(s.get("executorRunTime", 0) for s in st) / 1e3
        per_op["spark.task_s"].append(task_s)
        per_op["spark.cpu_s"].append(
            sum(s.get("executorCpuTime", 0) for s in st) / 1e9)
        per_op["spark.sched_gap_s"].append((t1 - t0) - task_s / cores)
        per_op["spark.shuffle_mb"].append(
            sum(s.get("shuffleWriteBytes", 0) for s in st) / 1e6)
        per_op["spark.stages"].append(len(st))

    out = {m: (statistics.median(v) if v else 0.0) for m, v in per_op.items()}
    _, st = _job_stages(jobs, stages, [phase])
    wall = phase[1] - phase[0]
    out["spark.core_util"] = (
        sum(s.get("executorRunTime", 0) for s in st) / 1e3 / (wall * cores)
        if wall > 0 else 0.0)
    return out

