"""Outside-in per-layer tracing for the benchmark's traced run.

The engine has no spans of its own, so the traced run wraps the public
functions of each layer from here. A wrapper records a span (layer, name,
parent, thread, start, end) in memory and sets the Spark job group of the
calling thread to the span's id, so the event log (enabled for the traced
run only) ties every job, stage and task back to a span. After the session
stops, ``layer_metrics`` reads the event log and aggregates per layer.

A wrapper must replace the name where the caller looks it up: a function
imported by name (``plans.builder.train_kmeans``) is replaced in every
loaded module that holds it, and methods are replaced on their class.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import json
import os
import sys
import threading
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass

GROUP_KEY = "spark.jobGroup.id"
GROUP_PREFIX = "perfbench-"

# layer → the public callables that time it: "module:attr" for a function,
# "module:Class.method" for a method or classmethod. ``force`` is the
# benchmark's own action (collects and input frames) and has no target.
LAYERS: dict[str, list[str]] = {
    "session": ["next_plaid_spark.session:get_spark"],
    "encoding": ["next_plaid_spark.encoding:encode_documents",
                 "next_plaid_spark.encoding:encode_queries"],
    "kmeans": ["next_plaid_spark.operators.kmeans:train_kmeans"],
    "codec": ["next_plaid_spark.operators.codec:train_codec_from_tokens",
              "next_plaid_spark.operators.codec:assign_and_quantize"],
    "index_store": ["next_plaid_spark.sources.index_store:write_index",
                    "next_plaid_spark.sources.index_store:PlaidIndex.load"],
    "builder": ["next_plaid_spark.plans.builder:IndexBuilder.build"],
    "searcher": ["next_plaid_spark.plans.searcher:BatchSearcher.search"],
    "bm25": ["next_plaid_spark.operators.bm25:BM25Index.build",
             "next_plaid_spark.operators.bm25:BM25Index.save",
             "next_plaid_spark.operators.bm25:BM25Index.load",
             "next_plaid_spark.operators.bm25:BM25Index.search"],
    "fusion": ["next_plaid_spark.operators.fusion:hybrid_search"],
    "filtering": ["next_plaid_spark.filtering:MetadataStore.where_condition"],
    "code_parse": ["next_plaid_spark.operators.code_parse:parse_code_units"],
    "code_index": ["next_plaid_spark.operators.code_index:CodeIndex.build"],
    "force": [],
}
LAYER_FIELDS = ("calls", "wall_s", "self_s", "jobs", "cpu_s", "queue_s",
                "shuffle_mb", "spill_mb")
EXTRA_METRICS = (("spark.failed_tasks", "count"), ("spark.jvm_hwm_mb", "MB"),
                 ("spark.unattributed_jobs", "count"), ("trace.overhead_s", "s"))
FIELD_UNITS = {"calls": "count", "wall_s": "s", "self_s": "s", "jobs": "count",
               "cpu_s": "s", "queue_s": "s", "shuffle_mb": "MB", "spill_mb": "MB"}


def per_layer_names() -> list[tuple[str, str]]:
    """Every per-layer metric as (name, unit), in BENCHMARK.json order."""
    out = [(f"{layer}.{f}", FIELD_UNITS[f]) for layer in LAYERS for f in LAYER_FIELDS]
    return out + list(EXTRA_METRICS)


@dataclass
class Span:
    sid: int
    layer: str
    name: str
    parent: int | None
    thread: int
    t0: float           # epoch seconds, comparable with event-log times
    t1: float = 0.0


class NullTracer:
    """Tracing off: spans cost one nullcontext and nothing is patched."""

    def span(self, layer: str, name: str):
        return nullcontext()

    def paused(self):
        return nullcontext()


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._stacks: dict[int, list[Span]] = {}
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._paused = False
        self.overhead_s = 0.0

    # -- spans ---------------------------------------------------------------
    def _stack(self, thread: int | None = None) -> list[Span]:
        return self._stacks.setdefault(
            threading.get_ident() if thread is None else thread, [])

    @contextmanager
    def paused(self):
        """Record nothing inside: the benchmark's output checks are not part
        of the workload."""
        self._paused = True
        try:
            yield
        finally:
            self._paused = False

    @contextmanager
    def span(self, layer: str, name: str):
        from pyspark import SparkContext

        if self._paused:
            yield None
            return
        c0 = time.perf_counter()
        st = self._stack()
        with self._lock:
            sid = next(self._ids)
            # a span opened on an engine worker thread hangs under the
            # innermost span of the client (main) thread, which started it
            main = self._stack(threading.main_thread().ident)
            parent = st[-1] if st else (main[-1] if main else None)
            rec = Span(sid, layer, name, parent.sid if parent else None,
                       threading.get_ident(), 0.0)
            self.spans.append(rec)
        st.append(rec)
        sc = SparkContext._active_spark_context
        prev = sc.getLocalProperty(GROUP_KEY) if sc else None
        if sc:
            sc.setLocalProperty(GROUP_KEY, f"{GROUP_PREFIX}{sid}")
        self._charge(time.perf_counter() - c0)
        rec.t0 = time.time()
        try:
            yield rec
        finally:
            rec.t1 = time.time()
            c1 = time.perf_counter()
            st.pop()
            if sc and SparkContext._active_spark_context is sc:
                sc.setLocalProperty(GROUP_KEY, prev)
            self._charge(time.perf_counter() - c1)

    def _charge(self, seconds: float) -> None:
        with self._lock:
            self.overhead_s += seconds

    # -- patching -----------------------------------------------------------
    def install(self) -> None:
        """Wrap every target in ``LAYERS`` for the rest of the process."""
        for layer, targets in LAYERS.items():
            for target in targets:
                mod_name, attr = target.split(":")
                mod = importlib.import_module(mod_name)
                if "." in attr:
                    cls_name, meth = attr.split(".")
                    self._wrap_method(getattr(mod, cls_name), meth, layer, attr)
                else:
                    self._wrap_function(getattr(mod, attr), layer, attr)

    def _wrapper(self, fn, layer: str, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(layer, name):
                return fn(*args, **kwargs)
        return traced

    def _wrap_method(self, cls, meth: str, layer: str, name: str) -> None:
        raw = cls.__dict__[meth]
        if isinstance(raw, classmethod):
            setattr(cls, meth, classmethod(self._wrapper(raw.__func__, layer, name)))
        else:
            setattr(cls, meth, self._wrapper(raw, layer, name))

    def _wrap_function(self, fn, layer: str, name: str) -> None:
        traced = self._wrapper(fn, layer, name)
        for mod_name, mod in list(sys.modules.items()):
            if not mod_name.startswith("next_plaid_spark"):
                continue
            for attr, val in list(vars(mod).items()):
                if val is fn:
                    setattr(mod, attr, traced)


# -- event-log attribution ------------------------------------------------------

def _read_event_log(log_dir: str) -> list[dict]:
    events = []
    for fname in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, fname)) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def layer_metrics(tracer: Tracer, log_dir: str) -> dict[str, float]:
    """Per-layer metrics from the spans plus the event log's task metrics.

    ``wall_s`` sums a layer's outermost spans (a layer nested in itself counts
    once); ``self_s`` is span time not covered by child spans. Jobs and task
    metrics go to the span whose group the job carries; a job without a
    group (engine worker threads do not inherit it) goes to the innermost
    span open at its submit time and is counted as unattributed. Jobs
    outside every span (the output checks) are left out."""
    spans = {s.sid: s for s in tracer.spans}
    by_id = {f"{GROUP_PREFIX}{s.sid}": s for s in tracer.spans}

    def innermost_at(t: float) -> Span | None:
        return max((s for s in tracer.spans if s.t0 <= t <= s.t1),
                   key=lambda s: s.t0, default=None)

    def owner(props: dict, t_ms: float) -> tuple[Span | None, bool]:
        group = (props or {}).get(GROUP_KEY)
        if group in by_id:
            return by_id[group], False
        return innermost_at(t_ms / 1000.0), True

    out = {f"{layer}.{f}": 0.0 for layer in LAYERS for f in LAYER_FIELDS}
    stage_owner: dict[tuple[int, int], tuple[Span | None, float]] = {}
    unattributed = failed = 0
    for ev in _read_event_log(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            sp, fallback = owner(ev.get("Properties"), ev["Submission Time"])
            if sp is not None:
                unattributed += fallback
                out[f"{sp.layer}.jobs"] += 1
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            t = info.get("Submission Time") or 0
            sp, _ = owner(ev.get("Properties"), t)
            stage_owner[(info["Stage ID"], info["Stage Attempt ID"])] = (sp, t)
        elif kind == "SparkListenerTaskEnd":
            sp, submit = stage_owner.get(
                (ev["Stage ID"], ev["Stage Attempt ID"]), (None, 0))
            if ev.get("Task End Reason", {}).get("Reason") != "Success":
                failed += 1
            if sp is None:
                continue
            tm = ev.get("Task Metrics") or {}
            info = ev["Task Info"]
            rd = tm.get("Shuffle Read Metrics", {})
            wr = tm.get("Shuffle Write Metrics", {})
            out[f"{sp.layer}.cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            out[f"{sp.layer}.queue_s"] += max(0, info["Launch Time"] - submit) / 1e3
            out[f"{sp.layer}.shuffle_mb"] += (
                rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                + wr.get("Shuffle Bytes Written", 0)) / 2**20
            out[f"{sp.layer}.spill_mb"] += tm.get("Disk Bytes Spilled", 0) / 2**20

    children: dict[int, list[Span]] = {}
    for s in tracer.spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    for s in tracer.spans:
        dur = s.t1 - s.t0
        out[f"{s.layer}.calls"] += 1
        covered = _union([(max(c.t0, s.t0), min(c.t1, s.t1))
                          for c in children.get(s.sid, []) if c.t1 > s.t0])
        out[f"{s.layer}.self_s"] += max(0.0, dur - covered)
        p, nested = s.parent, False
        while p is not None:
            if spans[p].layer == s.layer:
                nested = True
                break
            p = spans[p].parent
        if not nested:
            out[f"{s.layer}.wall_s"] += dur
    out["spark.failed_tasks"] = failed
    out["spark.unattributed_jobs"] = unattributed
    return out


def top_level_coverage(tracer: Tracer, windows: list[tuple[float, float]]) -> float:
    """Share of the timed windows' wall covered by top-level spans."""
    tops = [s for s in tracer.spans if s.parent is None]
    covered = total = 0.0
    for a, b in windows:
        total += b - a
        covered += sum(max(0.0, min(s.t1, b) - max(s.t0, a)) for s in tops)
    return covered / total if total else 0.0


def dump_spans(tracer: Tracer, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump([vars(s) for s in tracer.spans], f)
