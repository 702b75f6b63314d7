"""Batched multi-source BFS / shortest-path / weighted-SSSP operators.

Spark re-expression of the reference's CSR scalar kernels:
- iterativelength (multi-source BFS, 512 searches per pass via bitset
  lanes — /root/reference/src/core/functions/scalar/iterativelength.cpp:34-143,
  LANE_LIMIT at src/include/duckpgq/core/utils/duckpgq_utils.hpp:10)
- shortestpath (parent tracking + interleaved [v,e,v,...,v] output —
  src/core/functions/scalar/shortest_path.cpp:148-216)
- reachability (src/core/functions/scalar/reachability.cpp:165-254)
- cheapest_path_length (multi-lane Bellman-Ford —
  src/core/functions/scalar/cheapest_path_length.cpp:52-163)

The batching trick transfers directly: instead of per-(src,dst) traversals,
ALL searches advance together in ONE join per BFS level — the frontier is a
DataFrame keyed by (search origin, current vertex), so a single
frontier-to-edges hash join per level serves every search at once.  That is
the 512-lane idea with the lane count unbounded.

Scale notes (100 TB / 1000 executors):
- The adjacency DataFrame is hash-partitioned by `src` and cached once, so
  every per-level join co-partitions with the frontier and only the frontier
  side shuffles.
- Every BFS-family kernel (bfs_distances, bfs_all_paths,
  bidirectional_length, algorithms.shortest_path_counts, the betweenness
  forward pass, the SCC backward reach) runs on ONE level-synchronous
  loop, `frontier_loop`: the kernel supplies the lazy next level, the
  loop owns the hop budget, one observed checkpoint per level (the
  checkpoint job also counts the level, so the stop-on-empty test and
  the accumulated-row cap cost no extra job), and the visited set, a
  union of checkpointed levels re-materialized every VISITED_EVERY
  levels.  `materialize()` is `localCheckpoint` by default; set
  `spark.duckpgq.reliableCheckpoint=true` + a checkpoint dir for
  executor-loss-tolerant reliable checkpoints.
- Vertex ids are natural long keys — no dense 0..N-1 renumbering (a CSR
  artifact) and therefore no global sort at build time.
- Path tracking needs an `edge_id`.  Callers designate an existing unique
  edge column (`EDGE ID (col)` in the property-graph DDL routes it here);
  without one we fall back to `monotonically_increasing_id()` — fully
  distributed (no global sort), but the ids are then per-query artifacts,
  not stable across runs.  Supply a real id column whenever path contents
  must be reproducible.
- ANY SHORTEST ties break DETERMINISTICALLY: each BFS level keeps the
  lexicographically-smallest path array per (src, dst).  The reference
  keeps an arbitrary shortest path (shortest_path.cpp:28-29); emitting the
  lex-min one is a strict refinement (still "a shortest path") that makes
  results reproducible and oracle-checkable.  The induction holds because a
  lex-min shortest path's prefix is itself the lex-min shortest path to its
  endpoint (same-length prefixes compare element-wise).
"""

from __future__ import annotations

import functools
import itertools
import logging
import os
import time
import weakref
from typing import NamedTuple
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..errors import PGQCapacityError, PGQNotImplementedError
from . import csr

_INTEGRAL_TYPES = {"tinyint", "smallint", "int", "bigint"}

_obs_seq = itertools.count()
_log = logging.getLogger("duckpgq_extension_spark")

RELIABLE_CHECKPOINT_CONF = "spark.duckpgq.reliableCheckpoint"

def materialize(df: DataFrame) -> DataFrame:
    """Lineage-truncating materialization for iterative loops.

    Defaults to `localCheckpoint` (executor-local blocks, no HDFS write —
    right for local mode and healthy clusters).  Setting the runtime conf
    `spark.duckpgq.reliableCheckpoint=true` (plus
    `sparkContext.setCheckpointDir(...)`; see PGQSession.set_checkpoint_dir)
    switches every iterative kernel to reliable `.checkpoint()`, which
    survives executor loss — preferable for long BFS/pagerank runs on a
    1000-executor cluster where losing one executor's local blocks would
    otherwise fail the whole query."""
    if df.sparkSession.conf.get(RELIABLE_CHECKPOINT_CONF, "false").lower() == "true":
        return df.checkpoint()
    return df.localCheckpoint()


def _release(df: DataFrame) -> None:
    try:
        df.unpersist()
    except Exception:  # session already stopped; nothing to release
        pass


def default_parallelism(spark) -> int:
    """Kernel repartition width."""
    return spark.sparkContext.defaultParallelism


def checkpoint_observed(
    df: DataFrame, label: str, *aggs, keep=None
) -> tuple[DataFrame, dict]:
    """Lineage-truncating checkpoint + the aggregates `aggs` in ONE Spark
    job: an Observation (named `__pgq_<label>_<n>`) collects them while
    the checkpoint job materializes the frame, so an iterative loop gets
    its emptiness/convergence signal for free instead of launching a
    second `isEmpty`/`count` job per level — per-level driver round-trips
    halve, which dominates small-frontier rounds (the reference's kernels
    are single-process and have no analog of this cost).  `keep`
    projects the frame after the observation, for aggregates over
    columns the next round does not need.

    Returns (frame, metrics by alias).  With the package logger at DEBUG,
    each call logs one record carrying the label, the checkpoint's wall
    seconds and the metrics (as `label`/`seconds`/`metrics` attributes);
    otherwise the log costs one isEnabledFor check."""
    obs = Observation(f"__pgq_{label}_{next(_obs_seq)}")
    out = df.observe(obs, *aggs)
    if keep is not None:
        out = out.select(*keep)
    debug = _log.isEnabledFor(logging.DEBUG)
    t0 = time.perf_counter() if debug else 0.0
    out = materialize(out)
    row = obs.get
    if debug:
        secs = time.perf_counter() - t0
        _log.debug("checkpoint %s: %.3f s, %s", label, secs, row,
                   extra={"label": label, "seconds": secs, "metrics": row})
    return out, row


def checkpoint_with_count(df: DataFrame) -> tuple[DataFrame, int]:
    """Lineage-truncating checkpoint + row count in ONE Spark job."""
    out, row = checkpoint_observed(df, "ckpt", F.count(F.lit(1)).alias("n"))
    return out, row["n"]


def fixpoint(state: DataFrame, step, *, label: str, rounds: int | None = None,
             every: int = 1, observe=(), done=None, keep=None) -> DataFrame:
    """The round loop of every single-state iterative kernel — Pregel-style
    DataFrame iteration: `state = step(state, last, ckpt)` for at most
    `rounds` rounds (unbounded when None).

    A round checkpoints when it is an `every`-th round or the last one;
    the rounds between stay lazy and fuse into the next checkpoint's job
    (one barrier per `every` rounds).  With `observe` aggregates a
    checkpoint goes through checkpoint_observed (`label`, `keep`) and the
    loop stops as soon as `done(metrics, previous metrics)` holds
    (previous is None at the first checkpoint).  `step` receives `last`,
    the previous checkpoint's metrics (None before the first), and
    `ckpt`, whether this round checkpoints.  Returns the final state."""
    last = None
    for i in itertools.count() if rounds is None else range(rounds):
        ckpt = (i + 1) % every == 0 or i + 1 == rounds
        state = step(state, last, ckpt)
        if not ckpt:
            continue
        if not observe:
            state = materialize(state)
            continue
        prev = last
        state, last = checkpoint_observed(state, label, *observe, keep=keep)
        if done is not None and done(last, prev):
            break
    return state


# A frontier loop's visited set is a union of checkpointed levels (no job
# to extend it); it is re-materialized every this many levels so a deep
# (high-diameter) traversal does not grow an O(levels)-wide union plan in
# the per-level anti-join.
VISITED_EVERY = 10


class LevelCap(NamedTuple):
    """The accumulated-row cap of a frontier loop: more than `limit` rows
    over all levels (None: no cap) raises PGQCapacityError at the end of
    the offending level, naming `kernel`, `param`, the level, the count
    of `rows` and the kernel's `remedy` — a loud, catchable failure
    instead of an executor OOM."""

    kernel: str
    param: str
    limit: int | None
    rows: str
    remedy: str


def frontier_level(frontier: DataFrame, visited: DataFrame, level: int, step,
                   label: str, keep=None, cap: LevelCap | None = None,
                   total: int = 0) -> tuple[DataFrame, int, DataFrame]:
    """One level of frontier_loop: checkpoint `step(frontier, visited,
    level)` and count its rows in one observed job.  A non-empty level
    raises when `total` plus its rows crosses `cap`, else joins
    `visited` (projected to `keep`).  Returns (level, rows, visited)."""
    nxt, row = checkpoint_observed(
        step(frontier, visited, level), label, F.count(F.lit(1)).alias("n"))
    n = row["n"]
    if n:
        if cap is not None and cap.limit is not None and total + n > cap.limit:
            raise PGQCapacityError(
                f"{cap.kernel} exceeded {cap.param}={cap.limit} at level "
                f"{level} ({total + n} {cap.rows}): {cap.remedy}")
        visited = visited.unionByName(nxt if keep is None else nxt.select(*keep))
        if level % VISITED_EVERY == 0:
            visited = materialize(visited)
    return nxt, n, visited


def frontier_loop(seed: DataFrame, step, *, label: str, max_hops: int | None = None,
                  cap: LevelCap | None = None,
                  keep=None) -> tuple[DataFrame, list[DataFrame]]:
    """The level loop of every BFS-family kernel — the reference's
    multi-source lane BFS (iterativelength.cpp:34-143) with the lanes
    unbounded: level L is `step(frontier, visited, L)`, the lazy rows
    first reached at L from the level-(L-1) frontier (the kernel's
    expand + dedup + anti-join against `visited`).

    `seed` (checkpointed by the caller) is level 0 and the first
    frontier.  Each level is one observed checkpoint job (`label`,
    see frontier_level); the loop stops at the first empty level or
    after `max_hops` levels.  `visited` starts as the seed projected to
    `keep` (all columns when None) and accumulates every level the same
    way.  Returns (visited, [seed, level 1, level 2, ...]), the non-empty
    checkpointed levels."""
    visited = seed if keep is None else seed.select(*keep)
    levels, total = [seed], 0
    for level in itertools.count(1) if max_hops is None else range(1, max_hops + 1):
        nxt, n, visited = frontier_level(
            levels[-1], visited, level, step, label, keep, cap, total)
        if not n:
            break
        total += n
        levels.append(nxt)
    return visited, levels


def require_integral_keys(df: DataFrame | StructType, cols: list[str], context: str) -> None:
    """Bind-time guard for the places that splice NATURAL vertex/edge ids
    into long arrays (EDGE ID columns, named-path fixed segments): a
    non-integral value would cast to NULL and corrupt the array.
    Quantified patterns and whole-graph algorithms no longer need this —
    they route composite/string keys through the collision-checked
    xxhash64 surrogate (compiler._key_hash), the no-global-sort analog of
    the reference's dense CSR renumbering (csr_creation.cpp)."""
    types = col_types(df)
    for c in cols:
        dt = types.get(c.lower())
        if dt not in _INTEGRAL_TYPES:
            raise PGQNotImplementedError(
                f"{context}: key column '{c}' has type '{dt}'; path-finding "
                "and whole-graph algorithms require integral vertex keys "
                "(map non-numeric keys to dense long ids first)"
            )


def edge_frame(
    edf: DataFrame,
    src_col: str,
    dst_col: str,
    undirected: bool = False,
    weight_col: str | None = None,
    edge_id_col: str | None = None,
    with_edge_ids: bool = False,
) -> DataFrame:
    """Normalize an edge table to (src, dst[, edge_id][, weight]).

    Undirected graphs get both orientations with the same edge_id (the
    reference builds its undirected CSR the same way:
    compressed_sparse_row.cpp:208-223).
    """
    cols = [F.col(src_col).cast("long").alias("src"), F.col(dst_col).cast("long").alias("dst")]
    if with_edge_ids:
        if edge_id_col is not None:
            cols.append(F.col(edge_id_col).cast("long").alias("edge_id"))
        else:
            # distributed fallback: per-partition monotonic ids, no global
            # sort.  Ids are per-query artifacts (not stable across runs) —
            # designate a real edge id column for reproducible path output.
            edf = edf.withColumn("__pgq_eid", F.monotonically_increasing_id())
            cols.append(F.col("__pgq_eid").alias("edge_id"))
    if weight_col is not None:
        cols.append(F.col(weight_col).alias("weight"))
    edges = edf.select(*cols)
    if undirected:
        swapped = edges.withColumn("__t", F.col("src")).withColumn(
            "src", F.col("dst")
        ).withColumn("dst", F.col("__t")).drop("__t")
        edges = edges.unionByName(swapped)
    return edges


# Session cache — the Spark analog of the reference's session-lifetime CSR
# cache (DuckPGQ builds the CSR on first MATCH and keeps it in
# DuckPGQState::csr_list until an explicit delete_csr,
# duckpgq_state.cpp:167-185): adjacency frames and MinHash signatures are
# built once and reused by every kernel in the session.  An entry is keyed
# on (caller params, file fingerprint, analyzed plan); the plan is probed by
# semanticHash and confirmed by Catalyst's same-result check (the two steps
# Spark's own exchange reuse takes).  The plan alone is not enough: a parquet
# relation over a directory compares equal by its root path, so a view
# re-read after a file is appended to the directory matches the old plan,
# while its file listing does not.  An entry whose plan matches but whose
# fingerprint differs is unpersisted BEFORE the rebuild: Spark's
# CacheManager also matches persisted plans by that check, and would
# otherwise serve the rebuild's repartition().persist() from the stale
# twin.  Only local files carry sizes and mtimes in the fingerprint, so a
# file rewritten in place on other storage still needs clear_prep_cache(),
# the delete_csr analog.  Eviction is FIFO per kind.  Unpersisting an entry
# never breaks an in-flight query: persisted frames keep their lineage and
# recompute, and on checkpointed frames it is a no-op (their blocks are
# freed by the ContextCleaner once no live query references the frame).
_SESSION_CACHE: dict[int, tuple] = {}  # id(session) -> (weakref(session), {kind: entries})
_ADJ_CACHE_MAX = 16


def _local_path(p: str) -> str | None:
    """The local filesystem path of `p` (a `file:` URI or a plain path);
    None for other schemes."""
    uri = urlparse(p)
    return unquote(uri.path) if uri.scheme == "file" else None if uri.scheme else p


def file_fingerprint(paths) -> tuple:
    """What "the same data" means in this package: sorted (path, size,
    mtime_ns) for local files (`file:` URIs or plain paths), the path
    alone for other schemes."""
    out = []
    for p in paths:
        local = _local_path(p)
        if local is not None:
            try:
                st = os.stat(local)
                out.append((p, st.st_size, st.st_mtime_ns))
                continue
            except OSError:  # removed since it was listed: reading it fails anyway
                pass
        out.append((p,))
    return tuple(sorted(out))


def dir_fingerprint(local_dir: str) -> tuple:
    """file_fingerprint of every file under the local directory."""
    return file_fingerprint(
        os.path.join(root, name) for root, _, files in os.walk(local_dir) for name in files
    )


_DIR_CACHE: dict = {}


def dir_cached(kind: str, path: str, load):
    """`load()` once per dir_fingerprint of the directory `path`, keeping
    one entry per `kind`: driver-side standing state read from an index
    directory (IVF centroids, temporal bucket bounds).  A file rewritten
    in place changes the key even where the directory's mtime stays.  A
    non-local path has no listing to key on, so it is never cached."""
    local = _local_path(path)
    if local is None or not os.path.isdir(local):
        return load()
    key = (path, dir_fingerprint(local))
    hit = _DIR_CACHE.get(kind)
    if hit is None or hit[0] != key:
        hit = _DIR_CACHE[kind] = (key, load())
    return hit[1]


def session_cached(df: DataFrame, kind: str, params: tuple, cap: int, build):
    """`build()` once per (params, column names, file fingerprint of `df`,
    analyzed plan of `df`) in df's session, keeping the newest `cap`
    entries of `kind`.  A hit returns the same frame object.  The names
    are part of the key because sameResult ignores them: `weight` and
    `edge_id` copies of one column are the same plan."""
    params = (params, tuple(df.columns))
    jplan = df._jdf.queryExecution().analyzed()
    spark = df.sparkSession
    hit = _SESSION_CACHE.get(id(spark))
    if hit is None or hit[0]() is not spark:  # id() reuse after session GC
        hit = (weakref.ref(spark), {})
        _SESSION_CACHE[id(spark)] = hit
    entries = hit[1].setdefault(kind, [])
    h, fp = jplan.semanticHash(), file_fingerprint(df.inputFiles())
    for entry in entries:
        ep, eh, eplan, efp, cached = entry
        if ep == params and eh == h and eplan.sameResult(jplan):
            if efp == fp:
                return cached
            entries.remove(entry)  # same plan over changed files
            _release(cached)
            break
    out = build()
    entries.append((params, h, jplan, fp, out))
    while len(entries) > cap:
        _release(entries.pop(0)[-1])
    return out


def clear_prep_cache(spark=None) -> None:
    """Drop cached adjacency frames and MinHash signatures (all sessions,
    or one session's) — the delete_csr analog.  Every entry is
    unpersisted (see the cache note above)."""
    keys = list(_SESSION_CACHE) if spark is None else [id(spark)]
    for k in keys:
        hit = _SESSION_CACHE.pop(k, None)
        if hit is not None:
            for entries in hit[1].values():
                for entry in entries:
                    _release(entry[-1])


def persist_partitioned(
    df: DataFrame, num_partitions: int | None = None, key: str = "src"
) -> DataFrame:
    """Repartition-by-key + persist, cached per session like _prep_edges.

    persist (NOT checkpoint) because these frames feed per-round joins
    that rely on the surviving HashPartitioning(key) — a checkpointed
    frame surfaces as UnknownPartitioning and re-shuffles every round
    (see temporal_reachability's adjacency note).  Lineage stays intact,
    so evicting + unpersisting can never break an in-flight query — it
    just recomputes.  The build's count is kept for row_count."""
    n = num_partitions or default_parallelism(df.sparkSession)

    def build():
        out = df.repartition(n, key).persist()
        # eager populate: a lazy persist makes the FIRST consuming query pay
        # columnar-cache serialization inside its own stages (measured: WCC
        # first run 12.6 s lazy vs 5.1 s eager at sf0.1, r6); one cheap
        # count() job up front keeps every consumer on the fast path
        _ROWS[out] = out.count()
        return out

    return session_cached(df, "persist", (n, key), _ADJ_CACHE_MAX, build)


def _prep_edges(edges: DataFrame, num_partitions: int | None) -> DataFrame:
    """Materialize the adjacency hash-partitioned by src, cached per
    session (see the session cache note above).

    Checkpoint (not just persist) on purpose: it severs the upstream
    logical plan, so (a) per-level joins don't re-analyze an arbitrarily
    deep user plan, and (b) Catalyst's Union constraint propagation never
    sees exotic upstream operators (scalar subqueries in a derived edge
    view trip `UnionBase.rewriteConstraints` otherwise).
    """
    if num_partitions == 0:
        # caller vouches the input is already laid out by src (e.g. a
        # bucketed table from sources.io.write_bucketed_edges) — skip the
        # repartition shuffle entirely
        return materialize(edges)
    n = num_partitions or default_parallelism(edges.sparkSession)

    def build():
        return materialize(edges.repartition(n, "src"))

    return session_cached(edges, "prep", (n,), _ADJ_CACHE_MAX, build)


# Row counts of cached frames, by frame object: what the CSR route of
# algorithms decides on, so that a warm call counts nothing again
_ROWS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def known_rows(df: DataFrame) -> int | None:
    """The row count of a cached frame, when one has been taken."""
    return _ROWS.get(df)


def row_count(df: DataFrame) -> int:
    """The row count of a cached frame: the one its build took, or a
    count() job the first time it is asked for."""
    n = _ROWS.get(df)
    if n is None:
        n = _ROWS[df] = df.count()
    return n


# Single-task CSR route (operators/csr.py): the reference builds a
# transient CSR and runs pagerank, WCC, LCC, its multi-lane BFS and its
# multi-lane Bellman-Ford in one process, where each DataFrame round here
# pays Spark's per-job driver cost.  When the cached adjacency frame a
# kernel reads has at most `spark.duckpgq.csrMaxEdges` rows (default
# CSR_MAX_EDGES; 0 keeps every call on the DataFrame kernels), the call
# is one `mapInArrow` task over that frame and the call's vertex or
# source rows, coalesced to one partition (no shuffle).
CSR_MAX_EDGES_CONF = "spark.duckpgq.csrMaxEdges"
# the CSR route was faster at every size measured up to 6e6 adjacency rows,
# and a pagerank task over 1e7 rows holds about 1 GB (PERF.md "Single-task
# CSR route")
CSR_MAX_EDGES = 6_000_000


def routed(kernel: str, adjacency: DataFrame, keys: list, run_csr, run_spark,
           unsupported: str | None = None) -> DataFrame:
    """Run `run_csr()` when the cached `adjacency` frame has at most the
    conf's threshold rows, every frame in `keys` (frame, key columns) has
    integral keys and the caller names no `unsupported` reason, else
    `run_spark()`; both return (frame, vertex count or None).  The row
    count comes from the cache, so a warm call counts nothing.  Logs the
    call's one DEBUG record (`kernel`, `route`, `reason`, `n_vertices`,
    `n_edges`, `threshold` and `seconds` attributes on the package
    logger)."""
    t0 = time.perf_counter()
    threshold = int(adjacency.sparkSession.conf.get(CSR_MAX_EDGES_CONF, str(CSR_MAX_EDGES)))
    n_edges = known_rows(adjacency)
    if threshold <= 0:
        reason = "forced"
    elif unsupported:
        reason = unsupported
    elif not all(integral_keys(df, cols) for df, cols in keys):
        reason = "non-integral keys"
    else:
        reason = "threshold"
        n_edges = row_count(adjacency)
    route = "csr" if reason == "threshold" and n_edges <= threshold else "spark"
    out, n_vertices = run_csr() if route == "csr" else run_spark()
    if _log.isEnabledFor(logging.DEBUG):
        secs = time.perf_counter() - t0
        _log.debug(
            "%s: %s route (%s), %s vertices, %s edges, threshold %d, %.3f s",
            kernel, route, reason, n_vertices, n_edges, threshold, secs,
            extra={"kernel": kernel, "route": route, "reason": reason,
                   "n_vertices": n_vertices, "n_edges": n_edges,
                   "threshold": threshold, "seconds": secs})
    return out


def csr_task(kernel, out: str, edges: DataFrame, *, w: str | None = None,
             vertices: DataFrame | None = None,
             sources: DataFrame | None = None) -> DataFrame:
    """`kernel` (an operators/csr.py function) as one mapInArrow task with
    output schema `out` over the tagged union of the vertex ids, the
    (src, dst) edges with weight expression `w` (no `w` column when None)
    and the sources (a second column is each source's target), coalesced
    to one partition."""
    def tagged(df, kind, a, b="NULL", weight="NULL"):
        cols = [f"CAST({kind} AS TINYINT) AS kind", f"CAST({a} AS BIGINT) AS a",
                f"CAST({b} AS BIGINT) AS b"]
        return df.selectExpr(*cols, *([] if w is None else [f"CAST({weight} AS DOUBLE) AS w"]))

    rows = tagged(edges, csr.EDGE, "src", "dst", w)
    if vertices is not None:
        rows = tagged(vertices.toDF("vid"), csr.VERTEX, "vid").union(rows)
    if sources is not None:
        pair = len(sources.columns) == 2
        rows = rows.union(tagged(sources.toDF(*("a", "b")[:1 + pair]), csr.SOURCE,
                                 "a", "b" if pair else "NULL"))
    return rows.coalesce(1).mapInArrow(kernel, out)


def as_type(df: DataFrame, vid_type: str, *ids: str) -> DataFrame:
    """`df` with its vertex-id columns `ids` cast from bigint to `vid_type`."""
    if vid_type == "bigint":
        return df
    return df.selectExpr(*(f"CAST({c} AS {vid_type}) AS {c}" if c in ids else c
                           for c in df.columns))


def _sources_routed(kernel: str, edges: DataFrame, sources: DataFrame | None, task,
                    out: str, run_spark, unsupported: str | None = None,
                    w: str | None = None) -> DataFrame:
    """`routed` for a kernel from `sources` (every edge endpoint when
    None) over the prepared `edges`: the CSR route runs `task`, an
    operators/csr.py function taking `all_sources`, with output schema
    `out`.  The DataFrame kernels' output id types follow the source and
    edge key types, and widen in a union only when a level is non-empty,
    so the CSR route takes only inputs with one shared id type."""
    types = {edges.schema["src"].dataType.simpleString(),
             edges.schema["dst"].dataType.simpleString()}
    keys = [(edges, ["src", "dst"])]
    if sources is not None:
        types.add(sources.schema[0].dataType.simpleString())
        keys.append((sources, sources.columns[:1]))
    if len(types) > 1:
        unsupported = unsupported or "key types differ"

    def run_csr():
        rows = csr_task(functools.partial(task, all_sources=sources is None), out, edges,
                        w=w, sources=sources)
        return as_type(rows, min(types), "src", "dst"), None

    return routed(kernel, edges, keys, run_csr, lambda: (run_spark(), None), unsupported)


_PATH_REMEDY = (
    "Bound the traversal with max_hops / a quantifier upper bound, restrict "
    "the source set, or raise max_rows."
)


def bfs_distances(
    edges: DataFrame,
    sources: DataFrame | None = None,
    max_hops: int | None = None,
    track_paths: bool = False,
    num_partitions: int | None = None,
    k: int = 1,
    all_shortest: bool = False,
    max_rows: int | None = None,
) -> DataFrame:
    """All-pairs-from-sources BFS: returns (src, dst, dist [, path]).

    src   = search origin vertex id
    dst   = reached vertex id
    dist  = hop count of the shortest path (0 for src itself)
    path  = interleaved [v0, e0, v1, e1, ..., vk] matching the reference's
            shortestpath output convention (shortest_path.cpp:213-216);
            [src] alone for the zero-hop path (shortest_path.cpp:158-166).

    Unreachable pairs are simply absent (the caller's join produces no row,
    which is the DataFrame analog of the reference's NULL result,
    iterativelength.cpp:132-140).

    When several shortest paths tie, the lexicographically-smallest path
    array is kept (deterministic; see module notes).  The reference keeps
    an arbitrary one (shortest_path.cpp:28-29) — any shortest path is a
    valid ANY SHORTEST answer, so this is a compatible refinement.

    k > 1 (beyond-reference `SHORTEST k`, which the reference rejects,
    top_k.test:33-49) keeps the k best walks per (src, dst) ordered by
    (dist, lexicographic path) — up to k rows per pair.  Correct for WALK
    semantics because the k best walks to a vertex extend the k best walks
    to its predecessors; entries beyond k are pruned permanently, bounding
    state at k rows per pair regardless of cycles.

    max_rows: cap on the ACCUMULATED result rows, intended for
    all_shortest (the other modes are bounded at k rows per (src, dst)
    pair by construction, but the cap applies there too if set).
    ALL-SHORTEST path counts grow combinatorially on diamond-rich
    graphs; when the cap is crossed the traversal raises PGQCapacityError
    at the end of the offending level — a loud, catchable failure instead
    of an executor OOM.  The count rides the per-level checkpoint
    Observation, so the cap adds no extra Spark job.

    The plain mode (no paths, no max_rows) takes the single-task CSR
    route (see `routed`) when the adjacency fits one task and the source
    and edge ids share one integral type: operators/csr.bfs_distances, a
    level-synchronous multi-lane BFS with the same rows and types.
    """
    if k > 1 and not track_paths:
        raise ValueError("k > 1 requires track_paths (paths break ties)")
    if all_shortest and (k > 1 or not track_paths):
        raise ValueError("all_shortest requires track_paths and k == 1")
    if track_paths and "edge_id" not in edges.columns:
        raise ValueError("track_paths requires an edge_id column (use edge_frame)")
    edges = _prep_edges(edges, num_partitions)
    return _sources_routed(
        "bfs_distances", edges, sources,
        functools.partial(csr.bfs_distances, max_hops=max_hops),
        "src bigint, dst bigint, dist int NOT NULL",
        lambda: _bfs_spark(edges, sources, max_hops, track_paths, k, all_shortest, max_rows),
        "track_paths" if track_paths else None if max_rows is None else "max_rows")


def _bfs_spark(edges: DataFrame, sources: DataFrame | None, max_hops: int | None,
               track_paths: bool, k: int, all_shortest: bool,
               max_rows: int | None) -> DataFrame:
    """bfs_distances' DataFrame kernel over the prepared `edges`."""
    if sources is None:
        srcs = edges.select("src").union(edges.select(F.col("dst").alias("src"))).distinct()
    else:
        srcs = sources.toDF("src").distinct()

    seed = srcs.select(
        F.col("src"), F.col("src").alias("dst"), F.lit(0).alias("dist")
    )
    if track_paths:
        seed = seed.withColumn("path", F.array(F.col("src")))

    def step(frontier, visited, level):
        expanded = (
            frontier.alias("f")
            .join(edges.alias("e"), F.col("f.dst") == F.col("e.src"))
            .select(
                F.col("f.src").alias("src"),
                F.col("e.dst").alias("dst"),
                (F.col("f.dist") + 1).alias("dist"),
                *(
                    [
                        F.concat(
                            F.col("f.path"),
                            F.array(F.col("e.edge_id"), F.col("e.dst")),
                        ).alias("path")
                    ]
                    if track_paths
                    else []
                ),
            )
        )
        if k > 1:
            # keep the lex-smallest candidates that fit the remaining
            # per-pair capacity (k minus walks already kept); later
            # levels only ever ADD longer walks, so adding in level
            # order == ranking by (dist, path)
            counts = visited.groupBy("src", "dst").agg(
                F.count("*").alias("__cnt")
            )
            w = Window.partitionBy("src", "dst").orderBy("path")
            return (
                expanded.withColumn("__rn", F.row_number().over(w))
                .join(counts, ["src", "dst"], "left")
                .where(
                    F.col("__rn")
                    <= F.lit(k) - F.coalesce(F.col("__cnt"), F.lit(0))
                )
                .drop("__rn", "__cnt")
            )
        if all_shortest:
            # ALL SHORTEST (beyond-reference, rejected by the reference
            # match.cpp:81-104): keep EVERY distinct path that first
            # reaches a pair this level — all have dist == level, and
            # every shortest path's prefix is a shortest path to its
            # penultimate vertex, so extending the full per-vertex path
            # set is exhaustive.  One row per path; path count per pair
            # can grow combinatorially on dense diamond-rich graphs
            # (inherent to the semantics — bound with quantifier upper
            # bounds or selective sources).
            nxt = expanded.dropDuplicates(["src", "dst", "path"])
        elif track_paths:
            # deterministic tie-break: lexicographically-smallest path
            # per (src, dst) this level (see module notes); same shuffle
            # key + map-side partial agg as dropDuplicates
            nxt = expanded.groupBy("src", "dst").agg(
                F.min("dist").alias("dist"), F.min("path").alias("path")
            )
        else:
            nxt = expanded.dropDuplicates(["src", "dst"])
        return nxt.join(visited.select("src", "dst"), ["src", "dst"], "left_anti")

    cap = LevelCap(
        f"bfs_distances(all_shortest={all_shortest})", "max_rows", max_rows,
        "paths accumulated",
        "shortest-path multiplicity is growing combinatorially.  " + _PATH_REMEDY,
    )
    visited, _ = frontier_loop(
        materialize(seed), step, label="bfs", max_hops=max_hops, cap=cap)
    return visited


def bfs_all_paths(
    edges: DataFrame,
    sources: DataFrame | None = None,
    mode: str = "ACYCLIC",
    max_hops: int | None = None,
    num_partitions: int | None = None,
    max_rows: int | None = None,
) -> DataFrame:
    """Enumerate ALL distinct non-repeating paths (one row per path):
    (src, dst, dist, path) with the interleaved [v0, e0, v1, ...] array.

    Beyond-reference: the reference rejects every path mode except WALK
    (match.cpp:96-99).  Modes:
      ACYCLIC — no repeated vertex;
      TRAIL   — no repeated edge (by edge_id, so an undirected edge's two
                orientations count as the same edge);
      SIMPLE  — no repeated vertex, except the path may close back to its
                start as its final step (and then stops extending).

    Unlike bfs_distances there is no per-(src,dst) dedup — every distinct
    path is a row.  Termination needs no upper bound: a path consumes a
    vertex (ACYCLIC/SIMPLE) or an edge (TRAIL) per step, so depth is
    bounded by |V| / |E|.  Output size can still be combinatorial in
    dense graphs — bound it with quantifier upper bounds or selective
    sources, like any path-enumeration engine; `max_rows` caps the
    accumulated path count and raises PGQCapacityError at the end of
    the offending level (piggybacking the per-level checkpoint count —
    no extra job) instead of letting an executor OOM.

    Scale shape: identical to bfs_distances (the same frontier_loop);
    the per-path `seen` array adds O(path length) state per row but no
    extra shuffle.
    """
    mode = mode.upper()
    if mode not in ("ACYCLIC", "TRAIL", "SIMPLE"):
        raise ValueError(f"bfs_all_paths mode must be ACYCLIC/TRAIL/SIMPLE, got {mode!r}")
    if "edge_id" not in edges.columns:
        raise ValueError("bfs_all_paths requires an edge_id column (use edge_frame)")
    edges = _prep_edges(edges, num_partitions)
    if sources is None:
        srcs = edges.select("src").union(edges.select(F.col("dst").alias("src"))).distinct()
    else:
        srcs = sources.toDF("src").distinct()
    seed = srcs.select(
        F.col("src"),
        F.col("src").alias("dst"),
        F.lit(0).alias("dist"),
        F.array(F.col("src")).alias("path"),
        # seen: vertices consumed (ACYCLIC/SIMPLE) or edge ids (TRAIL)
        (
            F.array().cast("array<long>")
            if mode == "TRAIL"
            else F.array(F.col("src"))
        ).alias("seen"),
    )
    if mode == "TRAIL":
        keep = ~F.array_contains(F.col("f.seen"), F.col("e.edge_id"))
        new_seen = F.concat(F.col("f.seen"), F.array(F.col("e.edge_id")))
    elif mode == "ACYCLIC":
        keep = ~F.array_contains(F.col("f.seen"), F.col("e.dst"))
        new_seen = F.concat(F.col("f.seen"), F.array(F.col("e.dst")))
    else:  # SIMPLE: closure back to the start vertex is allowed
        keep = (~F.array_contains(F.col("f.seen"), F.col("e.dst"))) | (
            F.col("e.dst") == F.col("f.src")
        )
        new_seen = F.concat(F.col("f.seen"), F.array(F.col("e.dst")))

    def step(frontier, visited, level):
        if mode == "SIMPLE" and level > 1:
            # a closed path (dst == start, dist > 0) must not extend:
            # anything after the closure would repeat the start vertex
            frontier = frontier.where(
                (F.col("dst") != F.col("src")) | (F.col("dist") == 0)
            )
        f, e = frontier.alias("f"), edges.alias("e")
        return f.join(e, F.col("f.dst") == F.col("e.src")).where(keep).select(
            F.col("f.src").alias("src"),
            F.col("e.dst").alias("dst"),
            (F.col("f.dist") + 1).alias("dist"),
            F.concat(
                F.col("f.path"), F.array(F.col("e.edge_id"), F.col("e.dst"))
            ).alias("path"),
            new_seen.alias("seen"),
        )

    cap = LevelCap(
        f"bfs_all_paths(mode={mode!r})", "max_rows", max_rows, "paths accumulated",
        "path enumeration is growing combinatorially.  " + _PATH_REMEDY,
    )
    out, _ = frontier_loop(
        materialize(seed), step, label="allpaths", max_hops=max_hops, cap=cap)
    return out.drop("seen")


def iterative_length(
    edges: DataFrame,
    pairs: DataFrame,
    max_hops: int | None = None,
) -> DataFrame:
    """Reference `iterativelength` (hop count per (src,dst) pair, NULL when
    unreachable).  `pairs` has columns (src, dst)."""
    dist = bfs_distances(edges, sources=pairs.select("src"), max_hops=max_hops)
    return pairs.join(dist, ["src", "dst"], "left").select(
        pairs["src"], pairs["dst"], dist["dist"].alias("dist")
    )


def reachability(edges: DataFrame, pairs: DataFrame) -> DataFrame:
    """Reference `reachability`: boolean per (src,dst) pair."""
    dist = bfs_distances(edges, sources=pairs.select("src"))
    return pairs.join(dist, ["src", "dst"], "left").select(
        pairs["src"], pairs["dst"], dist["dist"].isNotNull().alias("reachable")
    )


def bidirectional_length(
    edges: DataFrame,
    pairs: DataFrame,
    max_hops: int | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Point-to-point shortest hop counts via meet-in-the-middle BFS.

    Spark re-expression of the reference's bidirectional perf variant
    (src/core/functions/scalar/iterativelength_bidirectional.cpp:12-41):
    expand a forward frontier from the src side and a backward frontier
    from the dst side, always growing the globally smaller one, and read
    distances off frontier meets.  On a graph with branching factor B and
    true distance L this touches O(B^(L/2)) vertices per side instead of
    O(B^L) — the win the reference's variant exists for, and the reason
    to prefer this over `iterative_length` for a handful of point queries
    on a huge graph (the multi-source batched BFS stays the right call
    when the source set is large).

    Semantics are identical to `iterative_length`: one row (src, dst,
    dist) per reachable input pair within `max_hops`; unreachable pairs
    are absent.

    Correctness invariant: after f forward and b backward levels, every
    path of length d <= f + b has a cut vertex v at position f with
    fwd_dist(v) <= f and bwd_dist(v) = d - f <= b, so the pair's meet
    minimum equals its true distance as soon as that minimum is <= f + b.
    A pair is "resolved" exactly then; searches whose pairs are all
    resolved are pruned from the frontiers.

    Scale notes: both adjacency orientations are checkpointed
    hash-partitioned by their join key (forward by src, reversed by dst),
    so per-level joins shuffle only the frontier side; `best` stays
    bounded by the input pair count and rides each meet update's
    checkpoint job via an Observation (no extra count jobs).

    When the forward adjacency fits one task (see `routed`), the call is
    operators/csr.pair_distances instead: one BFS lane per distinct pair
    source that stops at its last target, with no reversed adjacency.
    """
    fwd = _prep_edges(edges.select("src", "dst"), num_partitions)

    def run_csr():
        task = functools.partial(csr.pair_distances, max_hops=max_hops)
        return csr_task(task, "src bigint, dst bigint, dist int", fwd,
                        sources=pairs.select("src", "dst")), None

    return routed("bidirectional_length", fwd, [(fwd, ["src", "dst"])], run_csr,
                  lambda: (_bidirectional_spark(edges, fwd, pairs, max_hops, num_partitions),
                           None))


def _bidirectional_spark(edges: DataFrame, fwd: DataFrame, pairs: DataFrame,
                         max_hops: int | None, num_partitions: int | None) -> DataFrame:
    """bidirectional_length's DataFrame kernel over the prepared forward
    adjacency `fwd`."""
    pairs = (
        pairs.select(F.col("src").cast("long"), F.col("dst").cast("long"))
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
    )
    pairs, n_pairs = checkpoint_with_count(pairs)
    bwd = _prep_edges(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")),
        num_partitions,
    )
    # visited/frontier schema: (origin, v, dist); forward origins are
    # pair srcs, backward origins are pair dsts.  All three seed frames
    # (forward, backward, the src==dst zero-distance meets) materialize
    # in ONE tagged job with three observed counts — point queries are
    # fixed-cost-dominated, so pre-loop jobs matter as much as
    # per-level jobs.
    def tag(df, t):
        return df.select(
            F.lit(t).alias("__t"), "a", "b", F.lit(0).alias("dist")
        )

    seeds = (
        tag(
            pairs.select(F.col("src").alias("a")).distinct()
            .withColumn("b", F.col("a")),
            0,
        )
        .unionByName(
            tag(
                pairs.select(F.col("dst").alias("a")).distinct()
                .withColumn("b", F.col("a")),
                1,
            )
        )
        .unionByName(
            tag(
                pairs.where(F.col("src") == F.col("dst"))
                .select(F.col("src").alias("a"), F.col("dst").alias("b")),
                2,
            )
        )
    )
    seeds, vals = checkpoint_observed(
        seeds, "bidir",
        *(F.sum((F.col("__t") == t).cast("long")).alias(a)
          for t, a in enumerate(("nf", "nb", "nr"))),
    )
    n_f, n_b = int(vals["nf"] or 0), int(vals["nb"] or 0)
    n_resolved = int(vals["nr"] or 0)

    def untag(t, c1, c2):
        return seeds.where(F.col("__t") == t).select(
            F.col("a").alias(c1), F.col("b").alias(c2), "dist"
        )

    fvis = untag(0, "origin", "v")
    bvis = untag(1, "origin", "v")
    best = untag(2, "src", "dst")
    ffront, bfront = fvis, bvis

    def merge_best(best, new_meets, depth_sum):
        """Fold new meets into the per-pair minimum; the resolved count
        (best <= f + b) is observed during the checkpoint job."""
        merged = (
            best.unionByName(new_meets)
            .groupBy("src", "dst")
            .agg(F.min("dist").alias("dist"))
        )
        merged, row = checkpoint_observed(
            merged, "bidir",
            F.sum((F.col("dist") <= F.lit(depth_sum)).cast("long")).alias("n"),
        )
        return merged, int(row["n"] or 0)

    def step(front, vis, level):  # one level of the side `adj` holds
        return (
            front.alias("f")
            .join(adj.alias("e"), F.col("f.v") == F.col("e.src"))
            .select(
                F.col("f.origin").alias("origin"),
                F.col("e.dst").alias("v"),
                (F.col("f.dist") + 1).alias("dist"),
            )
            .dropDuplicates(["origin", "v"])
            .join(vis.select("origin", "v"), ["origin", "v"], "left_anti")
        )

    f = b = 0
    exhausted = False
    while n_resolved < n_pairs:
        if max_hops is not None and f + b >= max_hops:
            break
        if n_f == 0 and n_b == 0:
            # both sides exhausted: every unresolved pair's searches ran
            # to completion, so its accumulated meet minimum is already
            # its exact distance (or it is unreachable and has no meet)
            exhausted = True
            break
        # expand the smaller *non-exhausted* frontier (an exhausted
        # side's searches are complete, so its pairs' bests are final)
        expand_fwd = n_b == 0 or (n_f != 0 and n_f <= n_b)
        adj = fwd if expand_fwd else bwd
        if expand_fwd:
            f += 1
            nxt, n_new, fvis = frontier_level(ffront, fvis, f, step, "bidir")
            ffront, n_f, other_vis = nxt, n_new, bvis
        else:
            b += 1
            nxt, n_new, bvis = frontier_level(bfront, bvis, b, step, "bidir")
            bfront, n_b, other_vis = nxt, n_new, fvis
        if n_new == 0:
            continue  # exhaustion handled at the top of the loop
        # incremental meets: only the rows added this level can create
        # new (pair, cut-vertex) combinations
        meets = (
            nxt.alias("n")
            .join(other_vis.alias("o"), F.col("n.v") == F.col("o.v"))
            .select(
                F.col(f"{'n' if expand_fwd else 'o'}.origin").alias("src"),
                F.col(f"{'o' if expand_fwd else 'n'}.origin").alias("dst"),
                (F.col("n.dist") + F.col("o.dist")).alias("dist"),
            )
            .join(pairs, ["src", "dst"], "left_semi")
        )
        best, n_resolved = merge_best(best, meets, f + b)
        if n_resolved < n_pairs:
            # prune searches whose pairs are all resolved.  n_f/n_b
            # intentionally keep their pre-prune values (recounting the
            # pruned frontiers would cost a Spark job per iteration);
            # the smaller-side heuristic may therefore run on stale
            # sizes for one level after a partial resolve — a latency
            # trade, never a correctness one (exhaustion is only
            # declared by an actually-empty expansion)
            active = pairs.join(
                best.where(F.col("dist") <= F.lit(f + b)),
                ["src", "dst"],
                "left_anti",
            )
            ffront = ffront.join(
                active.select(F.col("src").alias("origin")).distinct(),
                "origin",
                "left_semi",
            )
            bfront = bfront.join(
                active.select(F.col("dst").alias("origin")).distinct(),
                "origin",
                "left_semi",
            )
    out = best if exhausted else best.where(F.col("dist") <= F.lit(f + b))
    if max_hops is not None:
        out = out.where(F.col("dist") <= F.lit(max_hops))
    return out.select("src", "dst", "dist")


def _min_label_fixpoint(
    dist: DataFrame,
    label: str,
    relax,
    adjacency,
    payload: tuple[str, ...] = (),
    max_iters: int | None = None,
) -> DataFrame:
    """Label-correcting min fixpoint shared by Bellman-Ford and temporal
    reachability: the reference's multi-lane Bellman-Ford
    (cheapest_path_length.cpp:52-136) with the relax step supplied by the
    caller.

    `dist` is the seeded (src, dst, label[, *payload], __improved) frame.
    Each round joins the improved-only frontier (alias `f`) to
    `adjacency(bound)` (alias `e`) on f.dst = e.src, where `bound` is the
    previous round's minimum improved label (None in round 1), and
    `relax(joined)` turns the joined rows into raw candidate rows with
    dist's columns minus __improved.

    Merge: old rows and raw candidates flow into ONE groupBy(src, dst)
    min, one Exchange per round (a full-outer merge pays two plus the
    sort-merge join's two sorts); map-side partial aggregation reduces
    the candidates.  Length-only labels keep a codegen HashAggregate:
    min over everything is the new label, min over the old row's echo
    (__oc, NULL on candidates) the previous one, and a pair improved
    when it had no previous label or got a strictly smaller one.  With a
    payload the min is over struct(label, *payload, __cand): at equal
    label the smaller payload wins, at equal (label, payload) the old
    row's 0 flag wins, so __cand=1 on the winner marks an improvement.
    Candidates must then never carry a NULL label (struct ordering puts
    NULLs first), so relax filters them.

    The improved count and the bound ride the round's checkpoint job
    (fixpoint's observed checkpoint), so a round is one Spark job.  Stops
    when nothing improved or after `max_iters` rounds.
    """
    keep = ["src", "dst", label, *payload]

    def step(dist, last, ckpt):
        frontier = dist.where(F.col("__improved")).select(*keep)
        bound = None if last is None else last["lo"]
        cand = relax(
            frontier.alias("f").join(
                adjacency(bound).alias("e"), F.col("f.dst") == F.col("e.src")
            )
        )
        if payload:
            return (
                dist.select(*keep)
                .withColumn("__cand", F.lit(0))
                .unionByName(cand.withColumn("__cand", F.lit(1)))
                .groupBy("src", "dst")
                .agg(F.min(F.struct(label, *payload, "__cand")).alias("m"))
                .select(
                    "src", "dst",
                    *(F.col(f"m.{c}").alias(c) for c in (label, *payload)),
                    (F.col("m.__cand") == 1).alias("__improved"),
                )
            )
        return (
            dist.select(*keep, F.col(label).alias("__oc"))
            .unionByName(
                cand.withColumn(
                    "__oc", F.lit(None).cast(dist.schema[label].dataType)
                )
            )
            .groupBy("src", "dst")
            .agg(F.min(label).alias(label), F.min("__oc").alias("__oc"))
            .select(
                *keep,
                (
                    F.col("__oc").isNull() | (F.col(label) < F.col("__oc"))
                ).alias("__improved"),
            )
        )

    observe = (
        F.sum(F.col("__improved").cast("int")).alias("n"),
        F.min(F.when(F.col("__improved"), F.col(label))).alias("lo"),
    )
    return fixpoint(
        dist, step, label="fix", rounds=max_iters, observe=observe,
        done=lambda row, _: not row["n"],
    ).select(*keep)


def cheapest_path_distances(
    edges: DataFrame,
    sources: DataFrame | None = None,
    max_iters: int | None = None,
    num_partitions: int | None = None,
    track_paths: bool = False,
) -> DataFrame:
    """Weighted SSSP from every source: (src, dst, cost[, path]).

    Batched Bellman-Ford relaxation — all sources relax together in one
    join per round, converging in at most |V|-1 rounds (the reference's
    multi-lane Bellman-Ford, cheapest_path_length.cpp:52-136), on the
    shared _min_label_fixpoint.  Weights are assumed non-negative (the
    reference makes the same assumption).

    track_paths=True (beyond-reference — the reference only returns the
    LENGTH, cheapest_path_length.cpp) additionally returns the path
    array of one cheapest path, ties broken to the lexicographically
    smallest array.  With an `edge_id` column on the edge frame the
    array is interleaved [v, e, v, ..., v] like bfs_distances (so the
    MATCH compiler's vertices()/edges()/path_length() slicing applies
    unchanged); otherwise it is vertex-only.  The (cost, path) pair is the relaxation order; with
    strictly positive weights this order has optimal substructure (two
    equal-cost candidates to the same vertex are never prefix-related,
    so extension preserves their lexicographic order), making the
    tie-break deterministic and engine-independent.  NOTE: exact
    tie-breaking relies on exact cost equality — use integer-valued
    weights (float summation order can perturb equal costs by 1 ulp and
    flip which path is 'the' minimum).

    Without paths, when the adjacency fits one task and the source and
    edge ids share one integral type (see `routed`), the call is
    operators/csr.cheapest_path_distances: the same Jacobi rounds in
    numpy, so `max_iters` counts the same rounds.
    """
    if "weight" not in edges.columns:
        raise ValueError("cheapest_path_distances requires a weight column")
    edges = _prep_edges(edges, num_partitions)
    return _sources_routed(
        "cheapest_path_distances", edges, sources,
        functools.partial(csr.cheapest_path_distances, max_iters=max_iters),
        "src bigint, dst bigint, cost double",
        lambda: _cheapest_spark(edges, sources, max_iters, track_paths),
        "track_paths" if track_paths else None, w="weight")


def _cheapest_spark(edges: DataFrame, sources: DataFrame | None, max_iters: int | None,
                    track_paths: bool) -> DataFrame:
    """cheapest_path_distances' DataFrame kernel over the prepared `edges`."""
    if track_paths and max_iters is None:
        # Termination guard: with a ZERO-weight cycle the lexicographic
        # tie-break can descend forever (each lap through the cycle can
        # produce an equal-cost, lexicographically smaller path, e.g.
        # [5,4,9] -> [5,4,2,4,9] -> [5,4,2,4,2,4,9] ...), so __improved
        # never reaches 0.  Strictly positive weights restore optimal
        # substructure (docstring) and bound the loop; verify that up
        # front — one column-pruned min() over the already-checkpointed edge
        # frame — instead of hanging.  Callers that genuinely want the
        # bounded-lap semantics can pass max_iters explicitly.
        min_w = edges.agg(F.min(F.col("weight").cast("double"))).first()[0]
        if min_w is not None and min_w <= 0:
            raise ValueError(
                "cheapest_path_distances(track_paths=True) requires strictly "
                f"positive weights (min weight found: {min_w}); a zero-weight "
                "cycle makes the equal-cost lexicographic tie-break descend "
                "forever.  Pass max_iters to bound the relaxation explicitly."
            )
    if sources is None:
        srcs = edges.select("src").union(edges.select(F.col("dst").alias("src"))).distinct()
    else:
        srcs = sources.toDF("src").distinct()
    # seed frame's lineage is a trivial projection over the (possibly
    # user-supplied) source list — no checkpoint needed before round 1;
    # round 1's merge materializes it together with the first relaxation,
    # saving one Spark job per call.
    #
    # NOTE on partitioning (tried and reverted, r3): pre-seeding dist
    # dense (sources x vertices) and merging with a LEFT join was
    # measured SLOWER (10.2 s vs 7.0 s warm at sf0.1) — PySpark's
    # localCheckpoint surfaces the frame as `Scan ExistingRDD
    # UnknownPartitioning(0)`, so a per-round dist exchange is
    # unavoidable at this layer and the dense seed only added upfront
    # jobs.  The per-round cost here is sequential-stage latency
    # (~0.3-0.5 s x optimal-path depth), a local-mode constant that
    # amortizes away on a real cluster where data >> scheduling.
    dist = srcs.select(
        F.col("src"),
        F.col("src").alias("dst"),
        F.lit(0.0).cast("double").alias("cost"),
        *([F.array(F.col("src")).alias("path")] if track_paths else []),
        F.lit(True).alias("__improved"),
    )
    cols = [
        F.col("f.src").alias("src"),
        F.col("e.dst").alias("dst"),
        (F.col("f.cost") + F.col("e.weight").cast("double")).alias("cost"),
    ]
    if track_paths:
        step = (
            F.array(F.col("e.edge_id"), F.col("e.dst"))
            if "edge_id" in edges.columns
            else F.array(F.col("e.dst"))
        )
        cols.append(F.concat(F.col("f.path"), step).alias("path"))

    def relax(joined):
        cand = joined.select(*cols)
        # NULL costs (only via NULL weights when max_iters skips the
        # positive-weight check) must lose the struct min
        return cand.where(F.col("cost").isNotNull()) if track_paths else cand

    return _min_label_fixpoint(
        dist, "cost", relax, lambda bound: edges,
        payload=("path",) if track_paths else (), max_iters=max_iters,
    )


def integral_keys(df: DataFrame | StructType, cols: list[str]) -> bool:
    """True iff every named column has an integral type (usable directly
    as a BFS vertex id); non-integral keys route through the xxhash64
    surrogate instead (reference analog: dense renumbering at CSR build
    supports arbitrary key types, csr_creation.cpp)."""
    types = col_types(df)
    return all(types.get(c.lower()) in _INTEGRAL_TYPES for c in cols)


def col_types(df: DataFrame | StructType) -> dict[str, str]:
    """Lowercased column name -> simple type string of a frame or schema."""
    schema = df if isinstance(df, StructType) else df.schema
    return {f.name.lower(): f.dataType.simpleString() for f in schema.fields}


def _temporal_seeds(seeds: DataFrame, start_ts: int | None) -> DataFrame:
    """Seeded dist frame for the temporal routes: every seed sits on itself
    at `start_ts` (the epoch if unset)."""
    t0 = F.lit(int(start_ts)) if start_ts is not None else F.lit(0)
    return seeds.toDF("vid").distinct().select(
        F.col("vid").alias("src"),
        F.col("vid").alias("dst"),
        t0.cast("long").alias("arrival"),
        F.lit(True).alias("__improved"),
    )


def _relax_arrival(joined: DataFrame) -> DataFrame:
    """Temporal relax step: an edge is taken only at or after the frontier
    pair's arrival, and taking it arrives at the edge's timestamp."""
    return joined.where(F.col("e.__ts") >= F.col("f.arrival")).select(
        F.col("f.src").alias("src"),
        F.col("e.dst").alias("dst"),
        F.col("e.__ts").alias("arrival"),
    )


def temporal_reachability(
    edges: DataFrame,
    seeds: DataFrame,
    ts_col: str = "ts",
    start_ts: int | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Time-respecting reachability (beyond-reference): earliest arrival
    time at every vertex reachable from each seed along edges whose
    timestamps never decrease — the temporal-graph semantics where an
    edge can only be taken AFTER reaching its source (information/
    contagion spread, payment-flow tracing, event-causality queries).

    Returns (src, dst, arrival): seed, reached vertex, and the earliest
    time the walk can sit on `dst` (the seed itself arrives at
    `start_ts`, or the epoch if unset; unreachable pairs are absent,
    like bfs_distances).

    Label-correcting relaxation on earliest-arrival (arrival times are
    monotone along a walk, so the fixpoint is unique and order-free):
    the same _min_label_fixpoint as cheapest_path_distances, with the
    relax step `arrival := ts when ts >= arrival` in place of `cost + w`.
    Only pairs improved last round are re-relaxed, and a round is one
    Spark job.

    Adjacency layout: `.persist()` (NOT localCheckpoint) on purpose — a
    checkpointed frame surfaces as `Scan ExistingRDD UnknownPartitioning`
    so every round re-shuffles the static edge set, while a persisted
    InMemoryRelation KEEPS its HashPartitioning(src) and Catalyst skips
    the adjacency-side exchange in every join (only the small frontier
    side shuffles).  Lineage depth is not a concern here: the adjacency
    is a one-step projection, not an iterated frame.
    (Negative result, r5: broadcasting the adjacency instead was 1.5-6x
    SLOWER at sf0.1 — F.broadcast over a checkpointed frame re-collects
    and re-ships it on every round's query; do not retry.)
    """
    parts = num_partitions or default_parallelism(edges.sparkSession)
    adj = (
        edges.select("src", "dst", F.col(ts_col).cast("long").alias("__ts"))
        .repartition(parts, "src")
        .persist()
    )
    try:
        return _min_label_fixpoint(
            _temporal_seeds(seeds, start_ts), "arrival", _relax_arrival,
            lambda bound: adj,
        )
    finally:
        adj.unpersist()


def write_temporal_index(
    edges: DataFrame,
    path: str,
    ts_col: str = "ts",
    n_buckets: int = 16,
) -> None:
    """Materialize a ts-range-bucketed STANDING adjacency on disk: the
    edge set rewritten PARTITIONED BY an equal-width timestamp bucket
    (one directory per bucket) plus a one-row bounds parquet — the
    temporal analog of similarity.write_ivf_index (layout paid once,
    every traversal afterwards amortizes it).

    Why this layout: the fixpoint's per-round monotone bound (every
    frontier pair relaxes only edges with ts >= its own arrival >= the
    round's minimum improved arrival) is EXACT, but as an in-memory row
    filter it measured NEGATIVE in r10 (the changing per-round literal
    recompiles the round's codegen for less than the cached-batch
    skipping saves).  Against this standing table the same
    predicate becomes FILE-LEVEL partition pruning — bucket directories
    wholly below the bound are never opened (PartitionFilters in the
    scan, pinned by test_paths), plus a pushed min/max row-group filter
    inside the boundary bucket — a different cost regime: at 100 TB a
    late round reads nprobe-like slices of the edge set instead of all
    of it.  Within each bucket directory rows are sorted by __ts so the
    residual `__ts >= bound` predicate skips whole row groups too.
    """
    from pyspark.sql import Row

    e = edges.select("src", "dst", F.col(ts_col).cast("long").alias("__ts"))
    lo, hi = e.agg(F.min("__ts"), F.max("__ts")).first()
    if lo is None:  # empty edge set: one empty bucket, degenerate meta
        lo, hi = 0, 0
    width = max(1, (int(hi) - int(lo)) // int(n_buckets) + 1)
    spark = edges.sparkSession
    spark.createDataFrame(
        [Row(lo=int(lo), width=int(width), n_buckets=int(n_buckets))],
        "lo long, width long, n_buckets int",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")
    (
        e.withColumn(
            "__tsb", F.expr(f"CAST((__ts - {int(lo)}) DIV {width} AS INT)")
        )
        .sortWithinPartitions("__tsb", "__ts")
        .write.mode("overwrite")
        .partitionBy("__tsb")
        .parquet(f"{path}/edges")
    )


def _temporal_index_scan(spark, path: str, lo: int, width: int, bound,
                         base: DataFrame | None = None):
    """One relaxation round's adjacency scan over a write_temporal_index
    directory: `__tsb >= bucket(bound)` is static partition pruning
    (PartitionFilters — bucket directories below the bound are never
    opened; plan-pinned in test_paths), `__ts >= bound` the pushed
    residual filter inside the boundary bucket.  Pass `base` (the
    relation read once) to share one file index across rounds instead of
    re-listing the directory every round."""
    scan = base if base is not None else spark.read.parquet(f"{path}/edges")
    if bound is not None:
        b = (int(bound) - lo) // width
        if b > 0:
            scan = scan.where(F.col("__tsb") >= b)
        scan = scan.where(F.col("__ts") >= int(bound))
    return scan.select("src", "dst", "__ts")


def temporal_reachability_from_index(
    spark,
    path: str,
    seeds: DataFrame,
    start_ts: int | None = None,
) -> DataFrame:
    """temporal_reachability against a `write_temporal_index` directory:
    value-identical to the in-memory kernel (same fixpoint, same merge
    and fold order, so the oracle is shared), but each round re-plans
    its adjacency scan as

        __tsb >= bucket(bound)  AND  __ts >= bound

    where `bound` is the round's minimum improved arrival (riding the
    existing Observation for free).  The first predicate is static
    partition pruning — bucket directories below the bound are never
    opened — the second a pushed parquet filter that min/max-skips row
    groups inside the boundary bucket.  EXACT: every frontier pair
    (s, u, a) only relaxes edges with ts >= a >= bound, so no candidate
    is lost.

    Bucket metadata is contract-small standing state (one row), cached
    driver-side by dir_cached like the IVF centroids.
    """
    def load_meta():
        r = spark.read.parquet(f"{path}/meta").first()
        return int(r["lo"]), int(r["width"])

    lo, width = dir_cached("temporal_meta", f"{path}/meta", load_meta)

    # read the relation ONCE: every round's filter re-plans against the
    # same cached file index (partition pruning still happens per round at
    # planning time) instead of paying a fresh directory listing + schema
    # read per round (guide §6 file-listing cost is driver-side)
    base = spark.read.parquet(f"{path}/edges")

    def adj_for_bound(bound):
        return _temporal_index_scan(spark, path, lo, width, bound, base=base)

    return _min_label_fixpoint(
        _temporal_seeds(seeds, start_ts), "arrival", _relax_arrival,
        adj_for_bound,
    )


def temporal_latest_departure(
    edges: DataFrame,
    targets: DataFrame,
    ts_col: str = "ts",
    horizon: int = 0,
    num_partitions: int | None = None,
) -> DataFrame:
    """Latest-departure dual of temporal_reachability: for each target,
    the LATEST time a walk may leave each vertex and still reach the
    target along non-decreasing edge timestamps by `horizon` — "how
    long can this node wait before the last feasible route closes",
    the deadline-side question of temporal-graph analysis.

    Computed on the TIME-REVERSED graph (edges flipped, ts' =
    horizon - ts): earliest arrival there equals horizon minus the
    latest departure here, so temporal_reachability's fixpoint does
    all the work.  Returns (target, vid, latest_departure); vertices
    with no feasible route are absent.
    """
    rev = edges.select(
        F.col("dst").alias("src"),
        F.col("src").alias("dst"),
        (F.lit(int(horizon)) - F.col(ts_col)).alias("__rts"),
    )
    ea = temporal_reachability(
        rev, targets, ts_col="__rts", num_partitions=num_partitions
    )
    return ea.select(
        F.col("src").alias("target"),
        F.col("dst").alias("vid"),
        (F.lit(int(horizon)) - F.col("arrival")).alias("latest_departure"),
    )
