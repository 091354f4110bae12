"""Traced run: spans around the calls into each layer, plus Spark's own
status store for what the JVM did.

Spans are recorded from the benchmark's side of a layer boundary: a few of
the program's functions are wrapped in place (``WRAPPED``), so the program's
code is not edited.  A span is ``(layer, name, start, end, parent, op)``;
spans stay in memory and are written once, at the end.

Spark counters come from the ``AppStatusStore`` of the running context: each
timed op runs under its own job group, and the jobs and stages of that group
give executor run/CPU/GC time, shuffle and spill bytes and task counts.
Catalyst phase times come from ``QueryExecution.tracker().phases()`` of the
queries that actually run, read by a ``QueryExecutionListener``.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import os
import threading
import time
from collections import defaultdict

from measure import driver_peak_rss_mb, tree_rss_mb

PKG = "projeto_de_etl_com_api_do_meta_spark"

#: (module, attribute, layer) of every function the traced run wraps.  A
#: function imported by name into another module is listed there too: that
#: copy is the one its caller looks up.
WRAPPED = (
    ("sources.meta_rest", "MetaRestSource.read_ads", "sources"),
    ("sources.meta_rest", "MetaRestSource.read_insights", "sources"),
    ("sources.meta_rest", "MetaRestSource.read_leads", "sources"),
    ("sinks.upsert", "parquet_upsert", "sinks"),
    ("operators.dedup", "lsh_candidate_pairs", "dedup"),
    ("operators.dedup", "minhash_near_dup", "dedup"),
    ("queries.documents_queries", "minhash_near_dup", "dedup"),
    ("operators.similarity", "embedding_near_dup", "similarity"),
    ("queries.embeddings_queries", "embedding_near_dup", "similarity"),
)
#: functions whose returned DataFrame is counted after the op: the pair
#: counts of the dedup and similarity layers
COUNTED = {
    "lsh_candidate_pairs": "dedup.candidate_pairs",
    "minhash_near_dup": "dedup.confirmed_pairs",
    "embedding_near_dup": "similarity.pairs_scored",
}

#: every per-layer metric the traced run prints, with its unit
PER_LAYER = {
    "session.start_s": "s",
    "sources.fetch_s": "s",
    "sources.pages": "count",
    "sources.rows": "count",
    "plans.plan_s": "s",
    "plans.exec_s": "s",
    "sinks.upsert_s": "s",
    "sinks.rows_written": "count",
    "sinks.rewrite_ratio": "ratio",
    "sinks.bytes_written": "bytes",
    "streaming.trigger_s": "s",
    "streaming.batches": "count",
    "queries.plan_s": "s",
    "queries.exec_s": "s",
    "dedup.s": "s",
    "dedup.candidate_pairs": "count",
    "dedup.confirmed_pairs": "count",
    "dedup.precision": "ratio",
    "text.s": "s",
    "similarity.s": "s",
    "similarity.pairs_scored": "count",
    "multimodal.s": "s",
    "jvm.executor_run_s": "s",
    "jvm.executor_cpu_s": "s",
    "jvm.gc_s": "s",
    "jvm.shuffle_bytes": "bytes",
    "jvm.spill_bytes": "bytes",
    "jvm.tasks": "count",
    "jvm.jobs": "count",
    "driver.gap_s": "s",
    "driver.peak_rss_mb": "MiB",
    "jvm.peak_rss_mb": "MiB",
    "trace.overhead_s": "s",
}


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_times(spans: list[dict]) -> list[float]:
    """Each span's duration minus the part of it its child spans cover."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append((s["start"], s["end"]))
    return [s["end"] - s["start"] - _union(kids[i]) for i, s in enumerate(spans)]


class Tracer:
    """Spans and counters for one traced run.  ``enabled`` can be flipped
    between ops, so one run can time the same ops with and without tracing
    and report the difference as the tracing overhead."""

    def __init__(self) -> None:
        self.enabled = True
        self.spans: list[dict] = []
        self.totals: dict[str, float] = defaultdict(float)
        self._tls = threading.local()
        self._op: str | None = None
        self._op_span: int | None = None
        self._stash: list[tuple[str, object]] = []
        self._sinks: list[tuple[str, object]] = []
        self._phases: _PhaseListener | None = None
        self.ops = 0
        #: job groups of streaming queries started by the current op (a
        #: stream's thread runs its jobs under its own run id)
        self.stream_groups: set[str] = set()
        self.peak_tree_rss_mb = 0.0
        self.spark = None

    # -- spans -------------------------------------------------------------
    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        if not self.enabled:
            yield
            return
        stack = self._tls.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else self._op_span
        idx = len(self.spans)
        main = threading.current_thread() is threading.main_thread()
        self.spans.append({"layer": layer, "name": name, "start": time.time(),
                           "end": None, "parent": parent, "op": self._op,
                           "main": main})
        stack.append(idx)
        try:
            yield
        finally:
            stack.pop()
            self.spans[idx]["end"] = time.time()

    def add(self, key: str, value: float) -> None:
        if self.enabled:
            self.totals[key] += value

    def instrument(self) -> None:
        """Wrap every function in ``WRAPPED`` in a span of its layer."""
        # import every module before wrapping anything, so no module
        # copies a function that is already wrapped
        mods = {m: importlib.import_module(f"{PKG}.{m}") for m, _, _ in WRAPPED}
        wrappers: dict[int, object] = {}
        for module, attr, layer in WRAPPED:
            owner = mods[module]
            *path, name = attr.split(".")
            for part in path:
                owner = getattr(owner, part)
            fn = getattr(owner, name)
            if id(fn) not in wrappers:
                wrappers[id(fn)] = _wrap(self, layer, fn)
            setattr(owner, name, wrappers[id(fn)])

    def listen(self) -> None:
        """Register the listener that reads the Catalyst phases of every
        query the session runs (call once the session is up)."""
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(self.spark.sparkContext._gateway)
        self._phases = _PhaseListener(self.spark._jvm)
        self.spark._jsparkSession.listenerManager().register(self._phases)

    @contextlib.contextmanager
    def planning(self, key: str):
        """Add under ``key`` the Catalyst phase time (analysis, optimization,
        planning) of the queries run inside the block.  The listener bus is
        drained on both sides, so no other block's queries are counted."""
        if not self.enabled or self._phases is None:
            yield
            return
        bus = self.spark.sparkContext._jsc.sc().listenerBus()
        bus.waitUntilEmpty()
        before = self._phases.ms
        try:
            yield
        finally:
            bus.waitUntilEmpty()
            self.totals[key] += (self._phases.ms - before) / 1e3

    # -- ops ---------------------------------------------------------------
    @contextlib.contextmanager
    def op(self, op_id: str, layers: tuple[str, ...] = ()):
        """One timed op: its own job group, a root span, and afterwards the
        counts and Spark status-store figures of everything it ran.  The
        op's wall time counts towards ``<layer>.s`` of each of ``layers``."""
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        sc.setJobGroup(op_id, op_id)
        self._op = op_id
        self._op_span = len(self.spans)
        self.spans.append({"layer": "op", "name": op_id, "start": time.time(),
                           "end": None, "parent": None, "op": op_id,
                           "main": True})
        try:
            yield
        finally:
            root = self.spans[self._op_span]
            root["end"] = time.time()
            self._op, self._op_span = None, None
            sc.setJobGroup("trace", "trace")
            self._after_op(op_id, root, layers)
            sc.setJobGroup("untimed", "untimed")

    def _after_op(self, op_id: str, root: dict, layers: tuple[str, ...]) -> None:
        wall = root["end"] - root["start"]
        for layer in layers:
            if f"{layer}.s" in PER_LAYER:
                self.totals[f"{layer}.s"] += wall
        for key, df in self._stash:
            self.totals[key] += df.count()
        batch_rows = 0
        for path, batch in self._sinks:
            batch_rows += batch.count() if batch is not None else 0
            rows, size = _parquet_size(path)
            self.totals["sinks.rows_written"] += rows
            self.totals["sinks.bytes_written"] += size
        self.totals["sinks.batch_rows"] += batch_rows
        self._stash, self._sinks = [], []
        jobs = self._jobs({op_id} | self.stream_groups)
        self.stream_groups = set()
        self.totals["jvm.jobs"] += len(jobs)
        busy = [(j["start"], j["end"]) for j in jobs]
        self.totals["driver.gap_s"] += max(0.0, wall - _union(busy))
        for j in jobs:
            for k, v in j["stages"].items():
                self.totals[k] += v
        # job time inside the sink calls that write the plans' output (the
        # stream's own upserts run on its callback thread)
        plan_sinks = [
            (s["start"], s["end"]) for s in self.spans
            if s["op"] == op_id and s["name"] == "parquet_upsert" and s["main"]
        ]
        self.totals["plans.exec_s"] += _union([
            (max(a, s0), min(b, s1)) for a, b in busy for s0, s1 in plan_sinks
            if min(b, s1) > max(a, s0)
        ])
        if "queries" in layers:
            self.totals["queries.exec_s"] += _union(busy)
        self.peak_tree_rss_mb = max(self.peak_tree_rss_mb, tree_rss_mb())
        self.ops += 1

    def _jobs(self, groups: set[str]) -> list[dict]:
        jvm = self.spark._jvm
        conv = jvm.scala.jdk.javaapi.CollectionConverters
        store = self.spark.sparkContext._jsc.sc().statusStore()
        out = []
        for j in conv.asJava(store.jobsList(None)):
            g = j.jobGroup()
            if not (g.isDefined() and g.get() in groups):
                continue
            if not (j.submissionTime().isDefined() and j.completionTime().isDefined()):
                continue
            stages = defaultdict(float)
            for sid in conv.asJava(j.stageIds()):
                try:
                    s = store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 - skipped stage never ran
                    continue
                stages["jvm.executor_run_s"] += s.executorRunTime() / 1e3
                stages["jvm.executor_cpu_s"] += s.executorCpuTime() / 1e9
                stages["jvm.gc_s"] += s.jvmGcTime() / 1e3
                stages["jvm.shuffle_bytes"] += s.shuffleWriteBytes()
                stages["jvm.spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
                stages["jvm.tasks"] += s.numCompleteTasks()
            out.append({
                "start": j.submissionTime().get().getTime() / 1e3,
                "end": j.completionTime().get().getTime() / 1e3,
                "stages": stages,
            })
        return out

    # -- report ------------------------------------------------------------
    def metrics(self, session_start_s: float, overhead_s: float) -> dict:
        ops = max(1, self.ops)
        t = self.totals
        spans = self.spans
        layer_s = defaultdict(float)
        for s in spans:  # outermost span of each layer, so nesting inside
            p = s["parent"]  # one layer is not counted twice
            while p is not None and spans[p]["layer"] != s["layer"]:
                p = spans[p]["parent"]
            if p is None and s["op"] is not None and s["end"] is not None:
                layer_s[s["layer"]] += s["end"] - s["start"]
        values = {
            "session.start_s": session_start_s,
            "sources.fetch_s": layer_s["sources"] / ops,
            "sinks.upsert_s": layer_s["sinks"] / ops,
            "sinks.rewrite_ratio": (t["sinks.rows_written"] / t["sinks.batch_rows"]
                                    if t["sinks.batch_rows"] else 0.0),
            "dedup.precision": (t["dedup.confirmed_pairs"] / t["dedup.candidate_pairs"]
                                if t["dedup.candidate_pairs"] else 0.0),
            "driver.peak_rss_mb": driver_peak_rss_mb(),
            "jvm.peak_rss_mb": max(0.0, self.peak_tree_rss_mb - driver_peak_rss_mb()),
            "trace.overhead_s": overhead_s,
        }
        for key in PER_LAYER:
            if key not in values:
                values[key] = t[key] / ops
        return {k: {"value": values[k], "unit": u} for k, u in PER_LAYER.items()}

    def dump(self, path: str) -> None:
        selfs = self_times(self.spans)
        out = [dict(s, self_s=st) for s, st in zip(self.spans, selfs)]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(out, fh)


def _wrap(tracer: Tracer, layer: str, fn):
    """``fn`` in a span of ``layer``; a call's output is noted for the
    counts taken after the op."""

    @functools.wraps(fn)
    def traced(*args, **kwargs):
        if not tracer.enabled:
            return fn(*args, **kwargs)
        with tracer.span(layer, fn.__name__):
            out = fn(*args, **kwargs)
        if fn.__name__ in COUNTED:
            tracer._stash.append((COUNTED[fn.__name__], out))
        elif fn.__name__ == "parquet_upsert":
            # a foreachBatch micro-batch frame is dead once its batch ends,
            # so only main-thread batches are counted afterwards; the
            # workload adds stream batch sizes from query progress
            main = threading.current_thread() is threading.main_thread()
            tracer._sinks.append((args[2], args[1] if main else None))
        return out

    return traced


class _PhaseListener:
    """A JVM ``QueryExecutionListener`` (through the py4j callback server)
    that sums the Catalyst phase times of every successful query."""

    def __init__(self, jvm) -> None:
        self._conv = jvm.scala.jdk.javaapi.CollectionConverters
        self.ms = 0.0

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 - JVM API
        phases = self._conv.asJava(qe.tracker().phases())
        self.ms += sum(phases.get(k).durationMs() for k in phases.keySet())

    def onFailure(self, func_name, qe, exception):  # noqa: N802 - JVM API
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def _parquet_size(path: str) -> tuple[int, int]:
    import pyarrow.parquet as pq

    rows = size = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                full = os.path.join(root, f)
                size += os.path.getsize(full)
                rows += pq.read_metadata(full).num_rows
    return rows, size
