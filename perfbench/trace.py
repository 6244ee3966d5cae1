"""Per-layer tracing for the survey-engine benchmark.

Spans are recorded from the benchmark's own files: :func:`install` wraps the
public entry points of each ``hbsir_old_spark`` layer *where callers look
them up*. ``api.py`` binds ``add_decile_op`` / ``average_table_op`` at import
time, the registry binds ``resolve_versioned`` / ``union_tables`` /
``attribute_column`` by name, so those names are patched in the importing
module; methods such as ``TableRegistry.load_table`` are patched on the class.
Every patch is undone by :meth:`Tracer.uninstall`.

A span is ``(id, parent, layer, name, op, start, end)``; spans of one
operation share ``op``. Self time of a span is its duration minus the
durations of its direct children (single-threaded driver: children are
disjoint and nested inside the parent). Recursive calls of one function
(``resolve_versioned`` walking a metadata tree) are folded into the outer
span; recursion *across* functions (``load_table`` -> ``add_weights`` ->
``load_table``) keeps one span per call, linked by parent id.
"""

from __future__ import annotations

import contextlib
import functools
import time
from collections import defaultdict
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    parent: int | None
    layer: str
    name: str
    op: int | None
    start: float
    end: float = 0.0
    children_s: float = 0.0
    #: the wrapped function, to fold direct self-recursion into one span
    fn: object = field(default=None, repr=False)

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.duration - self.children_s


class Tracer:
    """In-memory span recorder; ``op`` tags spans with the current operation."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patches: list[tuple[object, str, object]] = []
        self.op: int | None = None
        #: free-form per-layer counters (cache hits, bytes written, ...)
        self.counts: dict[str, float] = defaultdict(float)

    # -- spans -------------------------------------------------------------
    def open(self, layer: str, name: str, fn=None) -> Span:
        parent = self._stack[-1] if self._stack else None
        span = Span(len(self.spans), parent.id if parent else None, layer, name, self.op,
                    time.perf_counter(), fn=fn)
        self.spans.append(span)
        self._stack.append(span)
        return span

    def close(self, span: Span) -> None:
        span.end = time.perf_counter()
        popped = self._stack.pop()
        if popped is not span:
            raise RuntimeError(f"span {span.name} closed out of order")
        if self._stack:
            self._stack[-1].children_s += span.duration

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        span = self.open(layer, name)
        try:
            yield span
        finally:
            self.close(span)

    def wrap(self, layer: str, name: str, fn, after=None):
        """``fn`` recorded as a ``layer`` span; ``after(result, args)`` may
        record counters from the call's result."""
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            top = tracer._stack[-1] if tracer._stack else None
            if top is not None and top.fn is fn:
                return fn(*args, **kwargs)  # direct self-recursion
            span = tracer.open(layer, name, fn)
            try:
                result = fn(*args, **kwargs)
            finally:
                tracer.close(span)
            if after is not None:
                after(result, args)
            return result

        traced.__wrapped_by_tracer__ = fn
        return traced

    def patch(self, owner, attr: str, layer: str, name: str | None = None, after=None) -> None:
        original = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        setattr(owner, attr, self.wrap(layer, name or attr, original, after))
        self._patches.append((owner, attr, original))

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)

    # -- summaries ---------------------------------------------------------
    def matching(self, layer: str, name: str | None = None, ops: set[int] | None = None) -> list[Span]:
        return [
            s for s in self.spans
            if s.layer == layer and (name is None or s.name == name) and (ops is None or s.op in ops)
        ]

    def self_time(self, layer: str, name: str | None = None, ops: set[int] | None = None) -> float:
        return sum(s.self_s for s in self.matching(layer, name, ops))

    def total_time(self, layer: str, name: str | None = None, ops: set[int] | None = None) -> float:
        return sum(s.duration for s in self.matching(layer, name, ops))

    def dump(self) -> list[dict]:
        return [
            {"id": s.id, "parent": s.parent, "layer": s.layer, "name": s.name, "op": s.op,
             "start": s.start, "end": s.end, "self_s": s.self_s}
            for s in self.spans
        ]


def _file_bytes(df) -> int:
    """Bytes on disk of the files a DataFrame reads."""
    import os
    from urllib.parse import urlparse

    return sum(os.path.getsize(urlparse(f).path) for f in df.inputFiles())


def install(tracer: Tracer) -> None:
    """Patch the public entry points of every engine layer."""
    from hbsir_old_spark import api
    from hbsir_old_spark.metadata import corpus, versioning
    from hbsir_old_spark.operators import quantile, reshape
    from hbsir_old_spark.plans import pipeline, registry
    from hbsir_old_spark.sources import cache, cleaner

    # metadata
    for module in (versioning, registry, cleaner):
        tracer.patch(module, "resolve_versioned", "metadata", "resolve")
    tracer.patch(corpus, "load_corpus", "metadata", "corpus_load")
    tracer.patch(corpus, "_shared_default_corpus", "metadata", "corpus_load")

    # plans
    tracer.patch(registry.TableRegistry, "load_table", "plans", "load_table")
    tracer.patch(registry.TableRegistry, "dependency_fingerprint", "plans", "fingerprint")
    tracer.patch(pipeline.PipelineCompiler, "apply", "plans", "compile")
    tracer.patch(pipeline.PipelineCompiler, "apply_batched", "plans", "compile")

    # sources
    tracer.patch(cleaner, "clean_table", "sources", "clean")
    tracer.patch(cleaner, "clean_table_resolved", "sources", "clean")

    def count_get(result, args):
        tracer.counts["cache_gets"] += 1
        tracer.counts["cache_hits"] += result is not None

    def count_put(result, args):
        # put returns the frame read back from the parquet it wrote
        tracer.counts["cache_bytes_written"] += _file_bytes(result)

    tracer.patch(cache.FingerprintCache, "get", "sources", "cache_get", after=count_get)
    tracer.patch(cache.FingerprintCache, "put", "sources", "cache_put", after=count_put)

    # operators (patched in the namespace that calls them)
    tracer.patch(registry, "add_classification_op", "operators", "classification")
    tracer.patch(registry, "build_classification_dim", "operators", "classification")
    tracer.patch(registry, "attribute_column", "operators", "attribute")
    tracer.patch(api, "add_decile_op", "operators", "quantile")
    tracer.patch(api, "add_percentile_op", "operators", "quantile")
    tracer.patch(quantile, "weighted_ecdf", "operators", "quantile")
    tracer.patch(quantile, "add_quantile_bin", "operators", "quantile")
    tracer.patch(api, "average_table_op", "operators", "weighted")
    tracer.patch(registry, "union_tables", "operators", "reshape")
    tracer.patch(reshape, "pivot_table", "operators", "reshape")

    # api verbs
    for verb in (
        "load_table", "add_classification", "add_attribute", "select", "add_weight",
        "add_cpi", "adjust_by_cpi", "adjust_by_equivalence_scale",
        "add_quantile_by_variable", "average_table", "add_decile",
    ):
        tracer.patch(api.HBSIREngine, verb, "api", verb)


class StageCounters:
    """Spark job/stage/task/byte counters read from the driver's status
    store (``statusStore().stageList``, Spark 4.1's five-argument form),
    diffed between calls to :meth:`delta`."""

    FIELDS = ("jobs", "stages", "tasks", "input_bytes", "shuffle_write_bytes", "spill_bytes")

    def __init__(self, sc) -> None:
        self.sc = sc
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._seen_stages: set[tuple[int, int]] = set()
        self._seen_jobs: set[int] = set()
        self.delta()  # baseline

    def delta(self) -> dict[str, int]:
        self._jsc.listenerBus().waitUntilEmpty()
        jvm = self.sc._jvm
        stages = self._store.stageList(
            jvm.java.util.ArrayList(), False, False,
            self.sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
        )
        out = dict.fromkeys(self.FIELDS, 0)
        # the list is ordered newest first: stop at the first stage seen before
        for i in range(stages.size()):
            s = stages.apply(i)
            key = (s.stageId(), s.attemptId())
            if key in self._seen_stages:
                break
            status = s.status().toString()
            if status in ("ACTIVE", "PENDING"):
                continue
            self._seen_stages.add(key)
            if status != "COMPLETE":
                continue
            out["stages"] += 1
            out["tasks"] += s.numCompleteTasks()
            out["input_bytes"] += s.inputBytes()
            out["shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        jobs = set(self.sc.statusTracker().getJobIdsForGroup(None))
        out["jobs"] = len(jobs - self._seen_jobs)
        self._seen_jobs |= jobs
        return out
