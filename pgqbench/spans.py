"""Span tracing for the traced run.

`Tracer.install` wraps the engine's public entry points, each at the place
its caller looks the name up, and `Tracer.uninstall` puts the originals
back.  Nothing is patched unless `install` is called: the untraced run
measures the engine exactly as shipped.

A span is (name, start, end, parent, query id).  Spans stay in memory and
are written as JSON lines when the run ends.  A layer's self time is its
span's duration minus the time its child spans cover; spans of one thread
nest, so children never overlap.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import time
import weakref
from dataclasses import dataclass, field

# (module path, attribute, span name) -- the module path is where the
# CALLER resolves the name: api imports the parser and compiler entry
# points by name; algorithms and compiler call `pathops.<name>`; paths.py
# resolves its own `materialize` and `_prep_edges` as module globals.
WRAP_POINTS = (
    ("duckpgq_extension_spark.api", "parse_graph_table_body", "parser"),
    ("duckpgq_extension_spark.api", "parse_match", "parser"),
    ("duckpgq_extension_spark.api", "compile_match", "compiler"),
    ("duckpgq_extension_spark.api:PGQSession", "sql", "api.sql"),
    ("duckpgq_extension_spark.api:PGQSession", "execute", "catalog.ddl"),
    ("duckpgq_extension_spark.algorithms", "pagerank", "algorithms.pagerank"),
    ("duckpgq_extension_spark.algorithms", "weakly_connected_component",
     "algorithms.weakly_connected_component"),
    ("duckpgq_extension_spark.algorithms", "local_clustering_coefficient",
     "algorithms.local_clustering_coefficient"),
    ("duckpgq_extension_spark.operators.paths", "bfs_distances", "paths.kernel"),
    ("duckpgq_extension_spark.operators.paths", "bfs_all_paths", "paths.kernel"),
    ("duckpgq_extension_spark.operators.paths", "bidirectional_length", "paths.kernel"),
    ("duckpgq_extension_spark.operators.paths", "cheapest_path_distances", "paths.kernel"),
    ("duckpgq_extension_spark.operators.paths", "materialize", "paths.materialize"),
    ("duckpgq_extension_spark.operators.paths", "_prep_edges", "paths.adj_prep"),
    ("duckpgq_extension_spark.operators.paths", "persist_partitioned", "paths.adj_prep"),
)
ALGORITHMS = ("pagerank", "weakly_connected_component", "local_clustering_coefficient")


@dataclass
class Span:
    sid: int
    name: str
    start: float
    parent: int | None
    qid: str | None
    end: float = 0.0
    jobs: int = 0  # Spark jobs started while the span was open
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def _resolve(path: str):
    mod, _, cls = path.partition(":")
    obj = importlib.import_module(mod)
    return getattr(obj, cls) if cls else obj


class Tracer:
    """In-memory span recorder.  `job_counter` returns the id the next Spark
    job will get, so a span's job count is the change across it."""

    def __init__(self, job_counter=lambda: 0, clock=time.perf_counter):
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._job_counter = job_counter
        self._clock = clock
        self._jobs_at_open: dict[int, int] = {}
        self._patched: list[tuple[object, str, object]] = []
        self._adj_seen: dict[int, weakref.ref] = {}
        self.qid: str | None = None

    # -- span recording -------------------------------------------------
    def open(self, name: str) -> Span:
        parent = self._stack[-1].sid if self._stack else None
        span = Span(len(self.spans), name, self._clock(), parent, self.qid)
        self._jobs_at_open[span.sid] = self._job_counter()
        self.spans.append(span)
        self._stack.append(span)
        return span

    def close(self, span: Span) -> None:
        span.end = self._clock()
        span.jobs = self._job_counter() - self._jobs_at_open.pop(span.sid)
        popped = self._stack.pop()
        if popped is not span:
            raise RuntimeError(f"span {span.name} closed out of order")

    @contextlib.contextmanager
    def span(self, name: str):
        span = self.open(name)
        try:
            yield span
        finally:
            self.close(span)

    # -- wrappers -------------------------------------------------------
    def _wrap(self, fn, name: str):
        tracer = self
        is_adj = name == "paths.adj_prep"

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            span = tracer.open(name)
            try:
                out = fn(*args, **kwargs)
            finally:
                tracer.close(span)
            span.attrs["fn"] = fn.__name__
            if is_adj:
                span.attrs["hit"] = tracer._adj_hit(out, span)
            return out

        return wrapper

    def _adj_hit(self, frame, span: Span) -> bool:
        """A cache hit returns a frame object this run has seen before.  A
        frame cached before the wrappers were installed is recognised by
        the call running no Spark job: building a frame always runs one."""
        ref = self._adj_seen.get(id(frame))
        seen = ref is not None and ref() is frame
        self._adj_seen[id(frame)] = weakref.ref(frame)
        return seen or span.jobs == 0

    def install(self) -> None:
        if self._patched:
            raise RuntimeError("tracer already installed")
        for path, attr, name in WRAP_POINTS:
            owner = _resolve(path)
            original = owner.__dict__[attr]
            self._patched.append((owner, attr, original))
            setattr(owner, attr, self._wrap(original, name))

    def uninstall(self) -> None:
        while self._patched:
            owner, attr, original = self._patched.pop()
            setattr(owner, attr, original)


def write_spans(spans: list[Span], path: str) -> None:
    """One JSON object per span, in the order they opened."""
    with open(path, "w") as f:
        for s in spans:
            f.write(json.dumps({
                "id": s.sid, "name": s.name, "start": s.start, "end": s.end,
                "parent": s.parent, "qid": s.qid, "jobs": s.jobs, **s.attrs,
            }) + "\n")


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the time covered by its direct children."""
    child = {s.sid: 0.0 for s in spans}
    for s in spans:
        if s.parent is not None:
            child[s.parent] += s.duration
    return {s.sid: s.duration - child[s.sid] for s in spans}


def _ancestor(spans_by_id: dict[int, Span], s: Span, prefix: str) -> Span | None:
    p = s.parent
    while p is not None:
        a = spans_by_id[p]
        if a.name.startswith(prefix):
            return a
        p = a.parent
    return None


def layer_metrics(spans: list[Span]) -> dict[str, float]:
    """Per-layer totals over one traced run of a fixed sequence, so the
    times add up towards its wall time; `spark.action_s`, `spark.jobs` and
    `spark.tasks` are means per query instead."""
    by_id = {s.sid: s for s in spans}
    own = self_times(spans)
    m: dict[str, float] = {}

    def add(key: str, value: float) -> None:
        m[key] = m.get(key, 0.0) + value

    for key in ("parser.calls", "compiler.calls", "paths.materialize_calls",
                "paths.adj_prep_calls", "paths.adj_cache_hits", "paths.adj_cache_misses",
                "catalog.ddl_calls", "paths.materialize_s", "paths.kernel_construct_s",
                "paths.adj_build_s", "parser.self_s", "compiler.self_s", "api.sql_self_s",
                "spark.plan_s", "catalog.ddl_s"):
        m[key] = 0.0
    for algo in ALGORITHMS:
        for part in ("calls", "self_s", "construct_s", "materialize_calls", "jobs"):
            m[f"algorithms.{algo}.{part}"] = 0.0
    for s in spans:
        if s.name == "parser":
            add("parser.calls", 1)
            add("parser.self_s", own[s.sid])
        elif s.name == "compiler":
            add("compiler.calls", 1)
            add("compiler.self_s", own[s.sid])
        elif s.name == "api.sql":
            add("api.sql_self_s", own[s.sid])
        elif s.name == "spark.plan":
            add("spark.plan_s", s.duration)
        elif s.name == "catalog.ddl":
            add("catalog.ddl_calls", 1)
            add("catalog.ddl_s", s.duration)
        elif s.name == "paths.materialize":
            if _ancestor(by_id, s, "paths.adj_prep") is not None:
                continue  # an adjacency build, counted in paths.adj_build_s
            add("paths.materialize_calls", 1)
            add("paths.materialize_s", s.duration)
            algo = _ancestor(by_id, s, "algorithms.")
            if algo is not None:
                add(f"{algo.name}.materialize_calls", 1)
        elif s.name == "paths.kernel":
            add("paths.kernel_construct_s", own[s.sid])
        elif s.name == "paths.adj_prep":
            add("paths.adj_prep_calls", 1)
            if s.attrs.get("hit"):
                add("paths.adj_cache_hits", 1)
            else:
                add("paths.adj_cache_misses", 1)
                add("paths.adj_build_s", s.duration)
        elif s.name.startswith("algorithms."):
            add(f"{s.name}.calls", 1)
            add(f"{s.name}.self_s", s.duration)
            add(f"{s.name}.construct_s", own[s.sid])
            add(f"{s.name}.jobs", s.jobs)
    out = dict(m)
    prep = m["paths.adj_prep_calls"]
    out["paths.adj_cache_hit_ratio"] = m["paths.adj_cache_hits"] / prep if prep else None
    queries = [s for s in spans if s.name == "query"]
    n = len(queries) or 1
    out["spark.action_s"] = sum(s.duration for s in spans if s.name == "spark.action") / n
    out["spark.jobs"] = sum(s.jobs for s in queries) / n
    out["spark.tasks"] = sum(s.attrs.get("tasks", 0) for s in queries) / n
    return out
