"""Spans and Spark counters for the traced run.

Spans are recorded from the benchmark's own files: around the calls it
makes into each layer, and around the package functions it wraps at run
time (``install_wrappers``).  Nothing in the package is edited.  Spans live
in memory and are written once, at exit.  Counters come from Spark itself:
the application status store (executor and stage totals), the SQL status
store (per-operator metrics of every execution, including the
Python-operator metrics of the Arrow crossing) and
``StreamingQuery.recentProgress``.
"""

from __future__ import annotations

import contextlib
import gc
import itertools
import json
import re
import threading
import time
from dataclasses import dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run: str
    attrs: dict


class NullTracer:
    """Tracing off: every hook is a no-op."""

    enabled = False

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        yield None

    @contextlib.contextmanager
    def pause(self):
        """Record nothing inside the block (answer checks between ops)."""
        yield


class Tracer(NullTracer):
    enabled = True

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        # spans opened on threads the benchmark did not start (foreachBatch
        # callbacks, writer pools) hang under the main thread's open span
        self._main_stack: list[int] = []
        self._main = threading.get_ident()
        self._paused = False

    def _stack(self) -> list[int]:
        if threading.get_ident() == self._main:
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def pause(self):
        self._paused = True
        try:
            yield
        finally:
            self._paused = False

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if self._paused:
            yield attrs
            return
        stack = self._stack()
        parent = stack[-1] if stack else (
            self._main_stack[-1] if self._main_stack else None
        )
        sid = next(self._ids)
        stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield attrs
        finally:
            t1 = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(Span(sid, name, t0, t1, parent, self.run_id, attrs))

    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name]

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the part of each span's
        interval that its children cover (children may overlap)."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append((s.start, s.end))
        out: dict[str, float] = {}
        for s in self.spans:
            covered, cur_s, cur_e = 0.0, None, None
            for a, b in sorted(kids.get(s.id, ())):
                a, b = max(a, s.start), min(b, s.end)
                if b <= a:
                    continue
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                covered += cur_e - cur_s
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start - covered)
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                [
                    {"id": s.id, "name": s.name, "start": s.start, "end": s.end,
                     "parent": s.parent, "run": s.run, **s.attrs}
                    for s in self.spans
                ],
                f,
            )


def install_wrappers(tracer: Tracer) -> None:
    """Wrap the table layer's and the batch pipeline's public functions so
    each call records a span.  Called only for the traced loop."""
    from unstructured_data_pipeline_spark.operators import dml
    from unstructured_data_pipeline_spark.pipelines import batch
    from unstructured_data_pipeline_spark.streaming import intake

    def wrap(fn, name):
        def inner(*a, **k):
            with tracer.span(name):
                return fn(*a, **k)

        inner.__wrapped__ = fn
        return inner

    for meth in ("read", "append", "upsert"):
        setattr(dml.ParquetTable, meth, wrap(getattr(dml.ParquetTable, meth), f"dml.{meth}"))
    build = wrap(batch.run_document_pipeline, "pipeline.build")
    persist = wrap(batch.persist_pipeline_outputs_idempotent, "pipeline.persist")
    for mod in (batch, intake):
        mod.run_document_pipeline = build
        mod.persist_pipeline_outputs_idempotent = persist


# ---------------------------------------------------------------------------
# Spark's own counters

_UNITS = {
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_PY_METRICS = {
    "time to run Python workers": "python_s",
    "data sent to Python workers": "arrow_bytes_sent",
    "data returned from Python workers": "arrow_bytes_received",
}
# the incremental dedup operator's plan: the distinct over its candidate
# pairs (a, b), and the comparison of the Jaccard ratio with the threshold
_CANDIDATES = re.compile(r"HashAggregate\(keys=\[a#\d+L?, b#\d+L?\], functions=\[\]")
_JACCARD = re.compile(r"array_intersect\(.*>= ")
GC_MAX_ROUNDS = 10  # full collections per live-heap reading


def parse_metric(text: str) -> float:
    """Total of a formatted SQL metric: '1,234', '3.3 s', '624.0 B' or the
    multi-line 'total (min, med, max ...)\\n<total> (...)' form."""
    line = text.strip().splitlines()[-1]
    head = line.split(" (")[0].strip().replace(",", "")
    m = re.match(r"^(-?[\d.]+)\s*([A-Za-z]*)$", head)
    if not m:
        return 0.0
    return float(m.group(1)) * _UNITS.get(m.group(2), 1)


def _newest_first(seq, key):
    """Iterate a status-store list (a Scala Seq over py4j) from its newest
    entry, whichever way the store sorts it."""
    n = seq.size()
    ascending = n > 1 and key(seq.apply(0)) < key(seq.apply(n - 1))
    for i in (range(n - 1, -1, -1) if ascending else range(n)):
        yield seq.apply(i)


class SparkCounters:
    """Snapshots of the status stores; ``delta`` gives what ran between
    two snapshots."""

    def __init__(self, spark):
        self.spark = spark
        sc = spark.sparkContext
        self.sc, self.jvm = sc, sc._jvm
        self.store = sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()

    def executor_totals(self) -> dict[str, float]:
        ex = self.store.executorList(True)
        t = dict(tasks=0.0, task_s=0.0, gc_s=0.0, input_bytes=0.0, shuffle_write_bytes=0.0)
        for i in range(ex.size()):
            e = ex.apply(i)
            t["tasks"] += e.totalTasks()
            t["task_s"] += e.totalDuration() / 1000.0
            t["gc_s"] += e.totalGCTime() / 1000.0
            t["input_bytes"] += e.totalInputBytes()
            t["shuffle_write_bytes"] += e.totalShuffleWrite()
        return t

    def _stage_list(self):
        gw = self.sc._gateway
        return self.store.stageList(
            self.jvm.java.util.ArrayList(), False, False,
            gw.new_array(self.jvm.double, 0), self.jvm.java.util.ArrayList(),
        )

    def execution_mark(self) -> int:
        """Id of the newest SQL execution so far (-1 before the first)."""
        top = next(_newest_first(self.sql.executionsList(), lambda x: x.executionId()), None)
        return top.executionId() if top is not None else -1

    def snapshot(self) -> dict:
        top_stage = next(_newest_first(self._stage_list(), lambda s: s.stageId()), None)
        return {
            "exec": self.executor_totals(),
            "jobs": self.store.jobsList(self.jvm.java.util.ArrayList()).size(),
            "stage": top_stage.stageId() if top_stage is not None else -1,
            "execution": self.execution_mark(),
        }

    def delta(self, before: dict) -> dict[str, float]:
        """What ran since ``before``: executor totals, jobs, and the spill
        and output bytes of the stages and the Python-operator metrics of
        the SQL executions that are newer than the snapshot."""
        self.settle()
        ex = self.executor_totals()
        d = {k: ex[k] - before["exec"][k] for k in ex}
        d["jobs"] = self.store.jobsList(self.jvm.java.util.ArrayList()).size() - before["jobs"]
        d["spill_bytes"] = d["output_bytes"] = 0.0
        for s in _newest_first(self._stage_list(), lambda s: s.stageId()):
            if s.stageId() <= before["stage"]:
                break
            d["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            d["output_bytes"] += s.outputBytes()
        d.update(self.python_metrics(before["execution"]))
        return d

    def settle(self) -> None:
        """Wait until the listener bus has delivered every event posted so
        far, so the status stores hold the executions that just ended."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def sql_nodes(self, after_execution: int, want):
        """(execution id, depth below the plan root, node name, node
        description, {metric name: total}) for every operator of the SQL
        executions newer than the mark for which ``want(name, desc)``."""
        for x in _newest_first(self.sql.executionsList(), lambda x: x.executionId()):
            eid = x.executionId()
            if eid <= after_execution:
                break
            try:
                graph = self.sql.planGraph(eid)
            except Exception:  # execution evicted or still being planned
                continue
            vals = self.sql.executionMetrics(eid)
            edges = graph.edges()
            parent = {}
            for k in range(edges.size()):
                e = edges.apply(k)
                parent[e.fromId()] = e.toId()
            nodes = graph.allNodes()
            for j in range(nodes.size()):
                node = nodes.apply(j)
                name, desc = node.name(), node.desc()
                if not want(name, desc):
                    continue
                metrics = {}
                ms = node.metrics()
                for k in range(ms.size()):
                    m = ms.apply(k)
                    v = vals.get(m.accumulatorId())
                    if v.isDefined():
                        metrics[m.name()] = parse_metric(v.get())
                nid, depth = node.id(), 0
                while nid in parent:
                    nid, depth = parent[nid], depth + 1
                yield eid, depth, name, desc, metrics

    def python_metrics(self, after_execution: int) -> dict[str, float]:
        """Arrow-crossing totals from the Python operators (ArrowEvalPython,
        FlatMapGroupsInPandas, ...) of executions newer than the mark."""
        out = {v: 0.0 for v in _PY_METRICS.values()}
        out["udf_rows"] = 0.0
        python = lambda name, _: "Python" in name or "Pandas" in name  # noqa: E731
        for _, _, _, _, metrics in self.sql_nodes(after_execution, python):
            for k, v in metrics.items():
                key = _PY_METRICS.get(k, "udf_rows" if k == "number of output rows" else None)
                if key is not None:
                    out[key] += v
        return out

    def dedup_metrics(self, after_execution: int, index_path: str) -> dict[str, float]:
        """What the incremental dedup operator's executions since the mark
        did, read from their plans: candidate pairs are the output rows of
        the outermost distinct over ``(a, b)`` in each execution, verified
        pairs the output rows of the operator that applies the Jaccard
        threshold, and index bytes the bytes read by scans of the band
        index table at ``index_path``."""
        self.settle()

        def kind(name: str, desc: str) -> str | None:
            if _CANDIDATES.match(desc):
                return "candidate_pairs"
            if _JACCARD.search(desc):
                return "verified_pairs"
            if name.startswith("Scan") and index_path in desc:
                return "index_bytes_read"
            return None

        out = {"candidate_pairs": 0.0, "verified_pairs": 0.0, "index_bytes_read": 0.0}
        distinct: dict[int, tuple[int, float]] = {}  # execution -> (depth, rows)
        for eid, depth, name, desc, metrics in self.sql_nodes(after_execution, kind):
            k = kind(name, desc)
            rows = metrics.get("number of output rows", 0.0)
            if k == "candidate_pairs":
                if eid not in distinct or depth < distinct[eid][0]:
                    distinct[eid] = (depth, rows)
            elif k == "verified_pairs":
                out[k] += rows
            else:
                out[k] += metrics.get("size of files read", 0.0)
        out["candidate_pairs"] = sum(rows for _, rows in distinct.values())
        return out

    def persistent_rdds(self) -> int:
        return self.sc._jsc.getPersistentRDDs().size()

    def full_gc(self) -> None:
        self.jvm.java.lang.System.gc()

    def live_heap_mb(self) -> float:
        """Heap in use after full collections, repeated (at least three,
        half a second apart) until a collection frees less than 1%: each
        collection can make more objects unreachable (finalizers, the
        ContextCleaner dropping blocks whose owners the previous collection
        freed).  Python's collector runs first so py4j proxies in
        unreachable Python cycles release the JVM objects they pin."""
        gc.collect()
        rt = self.jvm.java.lang.Runtime.getRuntime()
        readings: list[float] = []
        for _ in range(GC_MAX_ROUNDS):
            self.full_gc()
            readings.append((rt.totalMemory() - rt.freeMemory()) / 2**20)
            if len(readings) >= 3 and readings[-1] > 0.99 * readings[-2]:
                break
            time.sleep(0.5)
        return min(readings)
