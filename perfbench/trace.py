"""Spans around the calls into each layer's public functions, recorded
from the benchmark's own files (the program itself is not edited).

``hgn_spark`` is lazy: a span around a layer call covers plan
construction plus the eager actions inside that call (checkpoints,
counts, collects); the remaining lazy work is billed to the next
action, usually the benchmark's drain.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import sys
import threading
import time
from dataclasses import dataclass

# (module, attribute, layer) — attribute may be "Class.method".
LAYER_TARGETS = (
    ("hgn_spark.checkpoint", "CheckpointJanitor.checkpoint", "checkpoint"),
    ("hgn_spark.checkpoint", "attributed_local_checkpoint", "checkpoint"),
    ("hgn_spark.checkpoint", "release_rdds", "checkpoint.release"),
    ("hgn_spark.graph.components", "connected_components", "components"),
    ("hgn_spark.graph.hgn", "hgn_communities", "hgn"),
    ("hgn_spark.graph.rmetrics", "r_metrics_edges_pairs", "rmetrics"),
    ("hgn_spark.graph.rmetrics", "candidate_common_members", "rmetrics"),
    ("hgn_spark.graph.weights", "one_hot_cosine_similarities", "weights"),
    ("hgn_spark.graph.weights", "hybrid_edge_weights_members", "weights"),
    ("hgn_spark.graph.betweenness", "edge_betweenness", "betweenness"),
    ("hgn_spark.graph.pagerank", "build_links", "pagerank"),
    ("hgn_spark.graph.pagerank", "pagerank_fused", "pagerank"),
    ("hgn_spark.graph.lpa", "label_propagation", "lpa"),
    ("hgn_spark.graph.kcore", "core_numbers", "kcore"),
    ("hgn_spark.graph.queries", "derived_edges", "graph.derived_edges"),
    ("hgn_spark.operators.dedup", "dedup_canonical_groups", "dedup.canonical_groups"),
    ("hgn_spark.operators.text", "decontaminate_ngram_overlap", "text.decontaminate"),
    ("hgn_spark.pipeline", "curate_corpus", "pipeline"),
)


@dataclass
class Span:
    id: int
    name: str
    job: int
    parent: int | None
    start: float
    end: float = 0.0
    thread: str = ""


class Tracer:
    """In-memory span recorder; off unless ``enabled``."""

    def __init__(self) -> None:
        self.enabled = False
        self.job = -1
        self.spans: list[Span] = []
        self._ids = itertools.count()
        self._lock = threading.Lock()
        self._local = threading.local()
        # The stack of the thread that opened the job's root span: a span
        # opened on a pool thread (empty stack of its own) hangs under
        # whatever that thread has open, e.g. the construct that
        # submitted the pool work.
        self._main: list[int] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def begin(self, name: str) -> Span | None:
        if not self.enabled:
            return None
        stack = self._stack()
        with self._lock:
            parent = stack[-1] if stack else (self._main[-1] if self._main else None)
            sp = Span(next(self._ids), name, self.job, parent,
                      time.perf_counter(), thread=threading.current_thread().name)
            self.spans.append(sp)
        stack.append(sp.id)
        return sp

    def end(self, sp: Span | None) -> None:
        if sp is None:
            return
        sp.end = time.perf_counter()
        stack = self._stack()
        if stack and stack[-1] == sp.id:
            stack.pop()

    def root(self, name: str) -> Span | None:
        """Open a job's root span on the calling thread, whose open spans
        become the parents of pool-thread spans."""
        sp = self.begin(name)
        if sp is not None:
            self._main = self._stack()
        return sp

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            sp = self.begin(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self.end(sp)

        return traced


def span_cost(n: int = 20000) -> float:
    """Seconds one span adds to a call: a traced no-op call against the
    bare call, averaged over ``n`` calls."""
    t = Tracer()
    t.enabled = True

    def noop():
        return None

    traced = t.wrap("cost", noop)
    t0 = time.perf_counter()
    for _ in range(n):
        noop()
    bare = time.perf_counter() - t0
    t0 = time.perf_counter()
    for _ in range(n):
        traced()
    return max(time.perf_counter() - t0 - bare, 0.0) / n


def install(tracer: Tracer, targets=LAYER_TARGETS) -> None:
    """Wrap each target in its defining module and rebind every
    ``from ... import name`` copy of it in loaded ``hgn_spark``
    modules, so calls through either name are traced."""
    for modname, attr, layer in targets:
        mod = importlib.import_module(modname)
        if "." in attr:
            cls_name, meth = attr.split(".")
            cls = getattr(mod, cls_name)
            setattr(cls, meth, tracer.wrap(layer, getattr(cls, meth)))
            continue
        orig = getattr(mod, attr)
        wrapped = tracer.wrap(layer, orig)
        for m in list(sys.modules.values()):
            if (getattr(m, "__name__", "").startswith("hgn_spark")
                    and getattr(m, attr, None) is orig):
                setattr(m, attr, wrapped)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of its interval covered by the
    union of its children's intervals (children may overlap when they
    run on pool threads)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(kids.get(s.id, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.id] = (s.end - s.start) - covered
    return out


def layer_totals(spans: list[Span], job: int) -> dict[str, dict[str, float]]:
    """Per layer name within one job: calls, inclusive seconds of its
    outermost spans (nested same-layer spans are not double counted)
    and summed self seconds."""
    own = [s for s in spans if s.job == job]
    by_id = {s.id: s for s in own}
    selfs = self_times(own)
    out: dict[str, dict[str, float]] = {}
    for s in own:
        acc = out.setdefault(s.name, {"calls": 0, "s": 0.0, "self_s": 0.0})
        acc["calls"] += 1
        acc["self_s"] += selfs[s.id]
        p = by_id.get(s.parent) if s.parent is not None else None
        while p is not None and p.name != s.name:
            p = by_id.get(p.parent) if p.parent is not None else None
        if p is None:
            acc["s"] += s.end - s.start
    return out
