"""Spans and Spark status-store readers for the traced run.

Spans are recorded only here, around calls into the program's public
functions (see ``job.trace_targets``); nothing inside the package is
changed. A span has a name, start, end, parent and job id; spans stay in
memory and are written out once, at exit, with their self time (duration
minus the part of it covered by child spans).
"""

from __future__ import annotations

import itertools
import json
import re
import threading
import time
from contextlib import contextmanager


class Tracer:
    """Thread-safe span recorder. ``enabled`` is toggled per job, so one
    process can alternate traced and untraced jobs to measure the
    tracing overhead."""

    def __init__(self) -> None:
        self.enabled = False
        self.job_id: int | None = None
        self.spans: list[dict] = []
        self.last_result: dict[str, object] = {}
        self._lock = threading.Lock()
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._main_stack: list[int] = self._stack()
        self._t0 = time.perf_counter()

    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def _parent(self, stack: list[int]) -> int | None:
        if stack:
            return stack[-1]
        # a pool thread (run_pipeline submits catalog stages to one) has
        # no stack of its own: attach it to the outermost program call
        # open on the main thread, i.e. the run_pipeline span
        main = list(self._main_stack)
        if len(main) > 1:
            return main[1]
        return main[0] if main else None

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        with self._lock:
            sid = next(self._ids)
        job = self.job_id
        stack = self._stack()
        parent = self._parent(stack)
        stack.append(sid)
        start = time.perf_counter() - self._t0
        try:
            yield sid
        finally:
            end = time.perf_counter() - self._t0
            stack.pop()
            with self._lock:
                self.spans.append(
                    {
                        "id": sid,
                        "name": name,
                        "start": start,
                        "end": end,
                        "parent": parent,
                        "job": job,
                        **attrs,
                    }
                )

    def wrap(self, fn, name: str, attrs=None):
        """``fn`` inside a span; ``attrs(*args, **kwargs)`` adds span
        attributes (e.g. the catalog table)."""

        def wrapped(*args, **kwargs):
            extra = attrs(*args, **kwargs) if attrs and self.enabled else {}
            with self.span(name, **extra):
                out = fn(*args, **kwargs)
            if self.enabled:
                self.last_result[name] = out
            return out

        wrapped.__name__ = getattr(fn, "__name__", name)
        wrapped.__wrapped__ = fn
        return wrapped

    def job_spans(self, job_id: int) -> list[dict]:
        with self._lock:
            return [s for s in self.spans if s["job"] == job_id]

    def write(self, path: str) -> None:
        with self._lock:
            spans = sorted(self.spans, key=lambda s: s["id"])
        children: dict[int, list[dict]] = {}
        for s in spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        with open(path, "w") as f:
            for s in spans:
                row = dict(s)
                row["dur"] = s["end"] - s["start"]
                row["self"] = self_time(s, children.get(s["id"], []))
                f.write(json.dumps(row) + "\n")


def self_time(span: dict, children: list[dict]) -> float:
    """Duration minus the union of the child intervals clipped to the
    span (concurrent children, e.g. the triples/edges pair, overlap)."""
    ivs = sorted(
        (max(c["start"], span["start"]), min(c["end"], span["end"]))
        for c in children
    )
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in ivs:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (span["end"] - span["start"]) - covered


@contextmanager
def patched(targets):
    """Temporarily replace ``(owner, attribute, replacement)`` triples."""
    saved = [(owner, attr, getattr(owner, attr)) for owner, attr, _ in targets]
    try:
        for owner, attr, new in targets:
            setattr(owner, attr, new)
        yield
    finally:
        for owner, attr, old in reversed(saved):
            setattr(owner, attr, old)


# -- Spark status store -------------------------------------------------------

def last_job_id(spark) -> int:
    jobs = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
    return max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1)


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def _clusters(cluster) -> list[str]:
    names = [cluster.name()]
    for child in _seq(cluster.childClusters()):
        names += _clusters(child)
    return names


_PYTHON_NODES = ("MapInPandas", "MapInArrow", "ArrowEvalPython", "BatchEvalPython")


def stage_metrics(spark, after_job: int, upto_job: int) -> dict[str, float]:
    """Session-layer counters of the jobs ``after_job < id <= upto_job``,
    read from the status store (works with the UI disabled). Skipped
    stages (reused shuffle output) are not counted."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    stage_ids: set[int] = set()
    for job in _seq(store.jobsList(None)):
        if after_job < job.jobId() <= upto_job:
            stage_ids.update(_seq(job.stageIds()))
    out = {
        "executor_run_s": 0.0,
        "executor_cpu_s": 0.0,
        "stages": 0,
        "tasks": 0,
        "shuffle_write_mb": 0.0,
        "shuffle_read_mb": 0.0,
        "spill_mb": 0.0,
        "task_skew": 0.0,
        "udf_stage_s": 0.0,
    }
    longest = None
    for sid in sorted(stage_ids):
        st = store.lastStageAttempt(sid)
        if str(st.status()) != "COMPLETE":
            continue
        run_ms = st.executorRunTime()
        out["stages"] += 1
        out["tasks"] += st.numCompleteTasks()
        out["executor_run_s"] += run_ms / 1e3
        out["executor_cpu_s"] += st.executorCpuTime() / 1e9
        out["shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
        out["shuffle_read_mb"] += st.shuffleReadBytes() / 2**20
        out["spill_mb"] += (
            st.memoryBytesSpilled() + st.diskBytesSpilled()
        ) / 2**20
        graph = store.operationGraphForStage(sid)
        if any(n in _PYTHON_NODES for n in _clusters(graph.rootCluster())):
            out["udf_stage_s"] += run_ms / 1e3
        if longest is None or run_ms > longest[1]:
            longest = (st, run_ms)
    if longest is not None:
        gw = sc._gateway
        qs = gw.new_array(gw.jvm.double, 2)
        qs[0], qs[1] = 0.5, 1.0
        st = longest[0]
        summary = store.taskSummary(st.stageId(), st.attemptId(), qs)
        if summary.isDefined():
            run = summary.get().executorRunTime()
            med, mx = run.apply(0), run.apply(1)
            out["task_skew"] = mx / med if med > 0 else 1.0
    return out


_UNITS = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
}


def _metric_total(text: str) -> float:
    """Total of a formatted SQL metric: ``'5,496'`` or, after a
    ``'total (min, med, max ...)'`` header line, ``'10.0 s (...)'``."""
    head = text.strip().split("\n")[-1].split("(")[0].strip()
    m = re.fullmatch(r"([\d,.]+)\s*([A-Za-z]*)", head)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2), 1.0)


def python_udf_metrics(spark, after_job: int, upto_job: int) -> dict[str, float]:
    """Arrow bytes and Python-worker time of the Python UDF operators in
    the SQL executions that ran the given jobs."""
    sql = spark._jsparkSession.sharedState().statusStore()
    out = {"arrow_sent_mb": 0.0, "arrow_received_mb": 0.0, "python_run_s": 0.0}
    names = {
        "data sent to Python workers": ("arrow_sent_mb", 1 / 2**20),
        "data returned from Python workers": ("arrow_received_mb", 1 / 2**20),
        "time to run Python workers": ("python_run_s", 1.0),
    }
    for ex in _seq(sql.executionsList()):
        jobs = [int(j) for j in _seq(ex.jobs().keys().toSeq())]
        if not any(after_job < j <= upto_job for j in jobs):
            continue
        values = sql.executionMetrics(ex.executionId())
        for node in _seq(sql.planGraph(ex.executionId()).allNodes()):
            if node.name() not in _PYTHON_NODES:
                continue
            for metric in _seq(node.metrics()):
                key = names.get(metric.name())
                value = values.get(metric.accumulatorId())
                if key and value.isDefined():
                    out[key[0]] += _metric_total(value.get()) * key[1]
    return out
