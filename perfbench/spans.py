"""Traced-run instrumentation: wrappers, in-memory spans, self time.

``Tracer.installed`` swaps wrappers onto the package's public functions
(module attributes, so calls made inside the package are seen too) and
restores the originals on exit. Each wrapped call records a span named
``<layer>.<fn>`` with start, end, parent span and request id. Outside a
request, a span also opens its own Spark job group, so every Spark job is
attributed to the innermost span that ran it.

Spark is lazy: a span around a function that only builds a plan measures
planning. For batch layers the wrapper can ``force`` the returned frames
(write to parquet and read back) inside the span, so the layer's
execution lands in it. Forcing changes the work done; the tracing
overhead reported beside the per-layer table includes it.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import threading
import time
from dataclasses import asdict, dataclass

from pyspark.sql import DataFrame

from probe import GroupStats, SparkProbe, union_length
from serve import TILES


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    request: str | None
    group: str | None
    tags: dict


# (module, attribute, span name, force outputs). Span names follow
# "<layer>.<fn>"; the layer is everything before the last dot.
TARGETS = [
    ("blockchair_etl_spark.schema.inference", "infer_from_tsv", "schema.inference.infer_from_tsv", False),
    ("blockchair_etl_spark.io.sources", "load_with_pattern_routing", "io.sources.load_with_pattern_routing", True),
    ("blockchair_etl_spark.pipeline", "run_transform_dag", "transform.run_transform_dag", False),
    ("blockchair_etl_spark.pipeline", "materialize", "io.sinks.materialize", False),
    ("blockchair_etl_spark.pipeline", "run_checks", "quality.checks.run_checks", False),
    ("blockchair_etl_spark.query.analytics", "trace_funds_with_fallback", "query.trace.trace_funds_with_fallback", False),
    ("blockchair_etl_spark.caching", "release_tracked", "caching.release_tracked", False),
    ("blockchair_etl_spark.llmdata.text", "normalize_text", "llmdata.text.normalize_text", True),
    ("blockchair_etl_spark.llmdata.text", "gopher_quality_gate", "llmdata.text.gopher_quality_gate", True),
    ("blockchair_etl_spark.llmdata.classify", "linear_classifier_scores", "llmdata.classify.linear_classifier_scores", True),
    ("blockchair_etl_spark.llmdata.dedup", "minhash_lsh_pairs", "llmdata.dedup.minhash_lsh_pairs", True),
    ("blockchair_etl_spark.llmdata.clusters", "connected_clusters", "llmdata.clusters.connected_clusters", True),
    ("blockchair_etl_spark.llmdata.sampling", "quality_budget_select", "llmdata.sampling.quality_budget_select", True),
]
# The six dashboard tiles and the fund trace only build plans; their
# execution is timed per request by the serving loop.
TARGETS += [
    ("blockchair_etl_spark.query.analytics", t, f"query.analytics.{t}", False) for t in TILES
]
TARGETS += [
    ("blockchair_etl_spark.query.analytics", "trace_from_address", "query.trace.trace_from_address", False),
    ("blockchair_etl_spark.pipeline", "QueryCache.run", "pipeline.QueryCache.run", False),
]


def layer_of(span_name: str) -> str:
    return span_name.rsplit(".", 1)[0]


class Tracer:
    """In-memory span recorder. Timed runs create none, so they pay no
    tracing cost."""

    def __init__(self, probe: SparkProbe, force_dir: str):
        self.probe = probe
        self.force_dir = force_dir
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._forced = 0

    # -- span recording -------------------------------------------------
    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @property
    def request(self) -> str | None:
        return getattr(self._local, "request", None)

    @contextlib.contextmanager
    def request_scope(self, rid: str):
        """Spans opened in this thread inside the block carry ``rid`` and
        leave job groups to the caller (one group per request)."""
        self._local.request = rid
        try:
            yield
        finally:
            self._local.request = None

    @contextlib.contextmanager
    def span(self, name: str, **tags):
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            idx = len(self.spans)
            self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.request, None, tags))
        stack.append(idx)
        sp = self.spans[idx]
        try:
            if self.request is None:
                gid = self.probe.new_group(name)
                sp.group = gid
                with self.probe.group(gid):
                    yield sp
            else:
                yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()

    # -- wrappers -------------------------------------------------------
    def _force(self, value):
        if isinstance(value, DataFrame):
            with self._lock:
                self._forced += 1
                path = f"{self.force_dir}/f{self._forced}"
            value.write.mode("overwrite").parquet(path)
            return value.sparkSession.read.parquet(path)
        if isinstance(value, dict):
            return {k: self._force(v) for k, v in value.items()}
        if isinstance(value, tuple):
            return tuple(self._force(v) for v in value)
        return value

    def _wrap(self, fn, name: str, force: bool):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            tags = {}
            if name == "io.sinks.materialize":
                tags["model"] = args[1] if len(args) > 1 else kwargs.get("name")
            with tracer.span(name, **tags) as sp:
                out = fn(*args, **kwargs)
                if name == "query.trace.trace_funds_with_fallback":
                    sp.tags["fallback"] = out[1] != args[2]
                return tracer._force(out) if force else out

        return wrapper

    @contextlib.contextmanager
    def installed(self):
        """Swap wrappers onto every TARGET for the duration of the block."""
        saved = []
        for mod_name, attr, name, force in TARGETS:
            owner = importlib.import_module(mod_name)
            path = attr.split(".")
            for p in path[:-1]:
                owner = getattr(owner, p)
            orig = getattr(owner, path[-1])
            saved.append((owner, path[-1], orig))
            setattr(owner, path[-1], self._wrap(orig, name, force))
        try:
            yield self
        finally:
            for owner, attr, orig in reversed(saved):
                setattr(owner, attr, orig)

    # -- analysis -------------------------------------------------------
    def children(self) -> dict[int, list[int]]:
        kids: dict[int, list[int]] = {}
        for i, s in enumerate(self.spans):
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(i)
        return kids

    def self_ms(self, idx: int, kids: dict) -> float:
        s = self.spans[idx]
        covered = union_length(
            [(max(self.spans[k].start, s.start), min(self.spans[k].end, s.end)) for k in kids.get(idx, [])]
        )
        return (s.end - s.start - covered) * 1e3

    def phase_breakdown(self, t0: float, t1: float) -> dict:
        """Self time per layer over the root spans opened in [t0, t1]
        (this thread's batch phase), plus the glue: phase wall not covered
        by any root span."""
        kids = self.children()
        roots, by_layer = [], {}
        for i, s in enumerate(self.spans):
            if s.start < t0 or s.end > t1:
                continue
            if s.parent is None:
                roots.append(i)
            layer = layer_of(s.name)
            by_layer[layer] = by_layer.get(layer, 0.0) + self.self_ms(i, kids)
        covered = union_length([(self.spans[i].start, self.spans[i].end) for i in roots])
        return {"self_ms": by_layer, "glue_ms": (t1 - t0 - covered) * 1e3}

    def group_stats(self) -> dict[int, GroupStats]:
        """Status-store counters of every span that owns a job group."""
        self.probe.settle()
        return {i: self.probe.stats(s.group) for i, s in enumerate(self.spans) if s.group}

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)
