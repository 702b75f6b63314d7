"""Single-task CSR kernels: pagerank, WCC, LCC and the three path
kernels (BFS distances, pair distances, Bellman-Ford costs) in one Arrow
task.

DuckPGQ builds a transient CSR over dense row ids and runs pagerank,
union-find WCC, LCC, the multi-lane BFS and the multi-lane Bellman-Ford
in one process (csr_creation.cpp, pagerank.cpp,
weakly_connected_component.cpp, local_clustering_coefficient.cpp,
iterativelength.cpp:34-143, cheapest_path_length.cpp:52-136).  When the
adjacency fits one task, `algorithms` and `operators/paths` do the
same: the vertex ids and the cached edge frame go to ONE `mapInArrow`
task as a tagged union (`kind` 0 = vertex id in `a`, 1 = edge `a -> b`
with weight `w`, 2 = source `a`, with a pair's target in `b`), and the
functions here map the natural ids to dense ones with
np.unique/searchsorted and run numpy kernels.  An unweighted input has
no `w` column.  The answers are the DataFrame kernels' (see each
function).

numpy and pyarrow only.  The module is pickled by value, so an executor
needs neither this package nor scipy to run it.
"""

from __future__ import annotations

import itertools
import sys
from typing import NamedTuple

import numpy as np
import pyarrow as pa
from pyspark import cloudpickle

VERTEX, EDGE, SOURCE = 0, 1, 2
INPUT_SCHEMA = pa.schema(
    [("kind", pa.int8()), ("a", pa.int64()), ("b", pa.int64()), ("w", pa.float64())]
)
# wedges closed per numpy pass in lcc: bounds the pass's temporaries
# (about 60 bytes a wedge) whatever the graph's wedge count
_WEDGE_CHUNK = 1 << 21
# bytes of search state per batch of path-kernel lanes: a lane holds
# about 16 bytes per vertex and, in its widest round, 48 per edge, so
# all-sources calls run in bounded batches
_LANE_BYTES = 1 << 28

cloudpickle.register_pickle_by_value(sys.modules[__name__])


def _columns(batches):
    """(kind, a, a_valid, b, b_valid, w, w_valid) numpy arrays of the
    task's input; nulls read as 0 (0.0 for `w`) where their valid mask is
    False, and a missing `w` column reads as all NULL."""
    batches = list(batches)
    tbl = pa.Table.from_batches(batches) if batches else INPUT_SCHEMA.empty_table()

    def col(name, fill):
        if name not in tbl.column_names:
            return np.full(tbl.num_rows, fill), np.zeros(tbl.num_rows, bool)
        c = tbl.column(name)
        return (c.fill_null(fill).to_numpy(),
                c.is_valid().to_numpy(zero_copy_only=False))

    (kind, _), (a, a_ok), (b, b_ok), (w, w_ok) = (
        col("kind", -1), col("a", 0), col("b", 0), col("w", 0.0))
    return kind, a, a_ok, b, b_ok, w, w_ok


def _lookup(keys, ids):
    """(dense index, found) of each id in the sorted unique `keys`."""
    if not len(keys):
        return np.zeros(len(ids), np.int64), np.zeros(len(ids), bool)
    idx = np.minimum(np.searchsorted(keys, ids), len(keys) - 1)
    return idx, keys[idx] == ids


def _batch(names, vids, values, null=False, null_value=None):
    """One output batch of (vid, value) rows, plus a NULL vertex id's row
    with `null_value` when `null` (the DataFrame kernels keep that row)."""
    vid, val = pa.array(vids, pa.int64()), pa.array(values)
    if null:
        vid = pa.concat_arrays([vid, pa.nulls(1, pa.int64())])
        val = pa.concat_arrays([val, pa.array([null_value], val.type)])
    return pa.RecordBatch.from_arrays([vid, val], names=names)


def pagerank(batches, damping, tol, max_iter, phantom_vertices):
    """algorithms.pagerank on one task; yields (vid, pagerank).

    Same formula and stop test as the DataFrame kernel: the domain is the
    distinct vertex ids (a NULL id is one more dangling vertex) plus the
    phantom ids max+1..max+p; out-degree (or out-weight) counts every edge
    of an in-domain source, and only edges with both ends in the domain
    deliver mass; a vertex with no positive out-weight is dangling and its
    rank is spread by `reset` (uniform 1/n, or 1/|sources| on the in-domain
    sources); tol > 0 stops at the first round whose max abs change is
    below tol, otherwise max_iter rounds run.  Edges are sorted by dense
    (dst, src) before each bincount, so the ranks do not depend on the
    order in which partitions arrive."""
    kind, a, a_ok, b, b_ok, w, _ = _columns(batches)
    is_v = kind == VERTEX
    real = np.unique(a[is_v & a_ok])
    has_null = bool((is_v & ~a_ok).any())
    keys = real
    if phantom_vertices:
        top = int(real[-1]) if len(real) and real[-1] else 0
        keys = np.concatenate([real, np.arange(top + 1, top + 1 + phantom_vertices)])
    n = len(keys) + has_null
    if n == 0:
        return
    e = kind == EDGE
    si, s_in = _lookup(keys, a[e])
    di, d_in = _lookup(keys, b[e])
    s_in &= a_ok[e]
    d_in &= b_ok[e]
    ew = w[e]
    out_deg = np.bincount(si[s_in], weights=ew[s_in], minlength=n)
    live = out_deg > 0
    keep = s_in & d_in & live[si]
    si, di, ew = si[keep], di[keep], ew[keep]
    order = np.lexsort((si, di))
    si, di, ew = si[order], di[order], ew[order]
    if (kind == SOURCE).any():
        src_idx, found = _lookup(real, np.unique(a[(kind == SOURCE) & a_ok]))
        reset = np.zeros(n)
        reset[src_idx[found]] = 1.0 / int(found.sum())
    else:
        reset = np.full(n, 1.0 / n)
    dangling = ~live
    rank = reset.copy()
    r = 1.0 - damping
    for _ in itertools.count() if max_iter is None else range(max_iter):
        share = np.divide(rank, out_deg, out=np.zeros(n), where=live)
        in_mass = np.bincount(di, weights=share[si] * ew, minlength=n)
        new = r * reset + damping * (in_mass + rank[dangling].sum() * reset)
        delta = np.abs(new - rank).max() if tol > 0 else None
        rank = new
        if delta is not None and delta < tol:
            break
    # phantoms are dropped by a semi-join on the real ids, which drops a
    # NULL id too
    null = has_null and not phantom_vertices
    yield _batch(["vid", "pagerank"], real, rank[:len(real)], null, rank[-1])


def _components(n, s, d):
    """Root (the minimum dense id) of each vertex's component over the
    undirected edges s-d: hook every root onto the smallest root across
    its edges, shortcut every pointer to its root, repeat until no edge
    joins two trees.  Edges inside one tree stay there, so each round
    keeps only the edges that still join two."""
    parent = np.arange(n)
    while len(s):
        ps, pd = parent[s], parent[d]
        join = ps != pd
        s, d, ps, pd = s[join], d[join], ps[join], pd[join]
        if not len(s):
            break
        np.minimum.at(parent, np.maximum(ps, pd), np.minimum(ps, pd))
        while True:
            up = parent[parent]
            if np.array_equal(up, parent):
                break
            parent = up
    return parent


def _graph(batches):
    """(vertex ids, NULL id present, dense ids of those vertices, sorted
    keys, dense src, dense dst) of each undirected pair once: the doubled
    neighbor frame holds both directions, so its rows with src < dst are
    every pair.  Their ids join the vertex ids in one key space, so
    out-of-domain endpoints get dense ids too."""
    kind, a, a_ok, b, *_ = _columns(batches)
    is_v = kind == VERTEX
    vids = np.unique(a[is_v & a_ok])
    pair = (kind == EDGE) & (a < b)
    src, dst = a[pair], b[pair]
    keys = np.unique(np.concatenate([vids, src, dst]))
    return (vids, bool((is_v & ~a_ok).any()), np.searchsorted(keys, vids),
            keys, np.searchsorted(keys, src), np.searchsorted(keys, dst))


def weakly_connected_component(batches):
    """algorithms.weakly_connected_component on one task; yields (vid,
    component_id): the component's minimum IN-DOMAIN member (dense ids are
    sorted like the natural ones), so an out-of-domain endpoint connects
    components but never names one; a vertex without edges is its own
    component, and a NULL vertex id gets a NULL component."""
    vids, has_null, dom, keys, s, d = _graph(batches)
    n = len(keys)
    root = _components(n, s, d)
    name = np.full(n, n)
    np.minimum.at(name, root[dom], dom)
    yield _batch(["vid", "component_id"], vids, keys[name[root[dom]]], has_null)


def local_clustering_coefficient(batches):
    """algorithms.local_clustering_coefficient on one task; yields (vid,
    local_clustering_coefficient) = 2 * triangles / (deg * (deg - 1)) over
    the doubled distinct neighbor frame, 0.0 when deg < 2.

    Degree-ordered wedges, as in the DataFrame plan: vertices are ranked
    by (degree, id), each undirected edge is kept once from its lower to
    its higher rank, and every pair of out-edges (a, b), (a, c) with
    rank(b) < rank(c) is a wedge closed by the out-edge (b, c).  Each
    vertex has O(sqrt(m)) out-edges, so the wedges number O(m^1.5); they
    are built and closed in bounded chunks."""
    vids, has_null, dom, keys, s, d = _graph(batches)
    n = len(keys)
    deg = np.bincount(s, minlength=n) + np.bincount(d, minlength=n)
    rank = np.empty(n, np.int64)
    rank[np.lexsort((np.arange(n), deg))] = np.arange(n)
    u, v = rank[s], rank[d]
    u, v = np.minimum(u, v), np.maximum(u, v)
    order = np.lexsort((v, u))
    u, v = u[order], v[order]
    out = np.bincount(u, minlength=n)
    start = np.cumsum(out) - out
    later = out[u] - 1 - (np.arange(len(u)) - start[u])  # wedges from edge i
    closing = u * n + v  # sorted, since the edges are sorted by (u, v)
    tri = np.zeros(n, np.int64)
    ends = np.cumsum(later)
    lo = 0
    while lo < len(u):
        hi = max(int(np.searchsorted(ends, ends[lo] - later[lo] + _WEDGE_CHUNK,
                                     side="right")), lo + 1)
        cnt = later[lo:hi]
        first = np.repeat(np.arange(lo, hi), cnt)
        step = np.arange(len(first)) - np.repeat(np.cumsum(cnt) - cnt, cnt)
        b, c = v[first], v[first + 1 + step]
        key = b * n + c
        pos = np.minimum(np.searchsorted(closing, key), len(closing) - 1)
        hit = closing[pos] == key
        tri += np.bincount(u[first[hit]], minlength=n)
        tri += np.bincount(b[hit], minlength=n)
        tri += np.bincount(c[hit], minlength=n)
        lo = hi
    tri = tri[rank]
    dd = deg[dom]
    with np.errstate(divide="ignore", invalid="ignore"):
        lcc = np.where(dd < 2, 0.0, (2.0 * tri[dom].astype(np.float64))
                       / (dd.astype(np.float64) * (dd - 1).astype(np.float64)))
    yield _batch(["vid", "local_clustering_coefficient"], vids, lcc, has_null, 0.0)


class _Graph(NamedTuple):
    """The path kernels' CSR over dense ids 0..n-1 (the sorted distinct
    non-NULL ids in `keys`); dense id n stands for NULL and has no
    out-edges.  Edge i of vertex v is `dst[indptr[v] + i]` with weight
    `w` (valid where `w_ok`)."""

    n: int
    keys: np.ndarray
    indptr: np.ndarray
    dst: np.ndarray
    w: np.ndarray
    w_ok: np.ndarray

    def ids(self, dense):
        """Arrow int64 natural ids of dense ids, NULL for n."""
        return pa.array(np.append(self.keys, 0)[dense], pa.int64(), mask=dense == self.n)


def _path_input(batches, all_sources=False):
    """(graph, source, target) of a path kernel's input: the dense ids of
    the SOURCE rows' `a` and `b`, or with `all_sources` every edge
    endpoint as a source.  Edges from a NULL id are dropped (the
    DataFrame kernels' joins never match them); an edge to NULL points
    at n."""
    kind, a, a_ok, b, b_ok, w, w_ok = _columns(batches)
    e, s = kind == EDGE, kind == SOURCE
    keys = np.unique(np.concatenate([a[(e | s) & a_ok], b[(e | s) & b_ok]]))
    n = len(keys)

    def dense(rows):
        return (np.where(a_ok[rows], np.searchsorted(keys, a[rows]), n),
                np.where(b_ok[rows], np.searchsorted(keys, b[rows]), n))

    es, ed = dense(e)
    if all_sources:
        src, tgt = np.concatenate([es, ed]), None
    else:
        src, tgt = dense(s)
    live = es < n
    order = np.argsort(es[live], kind="stable")
    indptr = np.zeros(n + 2, np.int64)
    np.cumsum(np.bincount(es[live], minlength=n + 1), out=indptr[1:])
    g = _Graph(n, keys, indptr, ed[live][order], w[e][live][order], w_ok[e][live][order])
    return g, src, tgt


def _lane_batches(g, roots):
    """`roots` in consecutive slices whose search state fits _LANE_BYTES."""
    per = max(1, _LANE_BYTES // (16 * (g.n + 1) + 48 * len(g.dst)))
    for lo in range(0, len(roots), per):
        yield roots[lo:lo + per]


def _expand(g, v):
    """(frontier row, edge index) of every out-edge of the vertices `v`."""
    deg = g.indptr[v + 1] - g.indptr[v]
    first = g.indptr[v] - (np.cumsum(deg) - deg)
    return np.repeat(np.arange(len(v)), deg), np.repeat(first, deg) + np.arange(int(deg.sum()))


def _bfs(g, roots, max_hops, null_rows, targets=None):
    """(lane, vertex, dist) rows of a level-synchronous BFS with one lane
    per root: paths.frontier_loop's levels, each vertex first reached at
    level L once per lane.  Stops at an empty level or after `max_hops`
    levels; with `targets` (sorted distinct lane * (n + 1) + vertex keys)
    a lane stops once it has reached all of its targets.  With
    `null_rows`, a lane whose level-(L-1) frontier has an edge to NULL
    gets a (lane, n, L) row at every such level: the DataFrame anti-join
    never matches a NULL id, and a NULL row does not expand."""
    n1 = g.n + 1
    seen = np.zeros(len(roots) * n1, bool)
    lane, v = np.arange(len(roots)), roots
    seen[lane * n1 + v] = True
    out = [(lane, v, np.zeros(len(v), np.int32))]
    left = None
    if targets is not None:
        left = np.bincount(targets // n1, minlength=len(roots)) - np.bincount(
            lane[np.isin(lane * n1 + v, targets)], minlength=len(roots))
    level = 0
    while len(v) and (max_hops is None or level < max_hops):
        if left is not None:
            live = left[lane] > 0
            lane, v = lane[live], v[live]
        level += 1
        row, edge = _expand(g, v)
        rl, u = lane[row], g.dst[edge]
        null = u == g.n
        key = rl[~null] * n1 + u[~null]
        key = np.unique(key[~seen[key]])
        seen[key] = True
        lane, v = key // n1, key % n1
        out.append((lane, v, np.full(len(v), level, np.int32)))
        if null_rows:
            nl = np.unique(rl[null])
            out.append((nl, np.full(len(nl), g.n), np.full(len(nl), level, np.int32)))
        if left is not None:
            left -= np.bincount(lane[np.isin(key, targets)], minlength=len(roots))
    return tuple(np.concatenate(c) for c in zip(*out))


def bfs_distances(batches, max_hops, all_sources):
    """paths.bfs_distances in its plain mode on one task; yields (src,
    dst, dist) per batch of lanes.  One lane per distinct source (every
    edge endpoint with `all_sources`), a NULL source included: its lane
    is the (NULL, NULL, 0) seed row alone."""
    g, src, _ = _path_input(batches, all_sources)
    for roots in _lane_batches(g, np.unique(src)):
        lane, v, dist = _bfs(g, roots, max_hops, True)
        yield pa.RecordBatch.from_arrays(
            [g.ids(roots[lane]), g.ids(v), pa.array(dist)], names=["src", "dst", "dist"])


def pair_distances(batches, max_hops):
    """paths.bidirectional_length on one task; yields (src, dst, dist) of
    every distinct (source, target) pair with neither NULL whose target
    is reachable within `max_hops`: a BFS lane per distinct source that
    stops at its last target."""
    g, src, tgt = _path_input(batches)
    n1 = g.n + 1
    ok = (src < g.n) & (tgt < g.n)
    pairs = np.unique(src[ok] * n1 + tgt[ok])
    for roots in _lane_batches(g, np.unique(pairs // n1)):
        mine = pairs[(pairs >= roots[0] * n1) & (pairs < (roots[-1] + 1) * n1)]
        targets = np.searchsorted(roots, mine // n1) * n1 + mine % n1
        lane, v, dist = _bfs(g, roots, max_hops, False, targets)
        hit = np.isin(lane * n1 + v, targets)
        if max_hops is not None:
            hit &= dist <= max_hops
        yield pa.RecordBatch.from_arrays(
            [g.ids(roots[lane[hit]]), g.ids(v[hit]), pa.array(dist[hit])],
            names=["src", "dst", "dist"])


def _bellman_ford(g, roots, max_iters):
    """(lane, vertex, cost, cost valid) of paths._min_label_fixpoint's
    Jacobi rounds with one lane per root: each round relaxes the out-edges
    of the rows improved in the previous round (the roots at cost 0 in
    round 1), and a pair's label becomes the minimum of its old label and
    its candidates, NULLs ignored.  A pair improved when it had no
    non-NULL old label or got a strictly smaller one, so a NULL label
    (from a NULL weight) stays improved every round, as in the
    DataFrame kernel.  Stops when nothing improved or after `max_iters`
    rounds."""
    n1 = g.n + 1
    has, null, imp = (np.zeros(len(roots) * n1, bool) for _ in range(3))
    cost = np.zeros(len(roots) * n1)
    seed = np.arange(len(roots)) * n1 + roots
    has[seed] = imp[seed] = True
    for _ in itertools.count() if max_iters is None else range(max_iters):
        f = np.flatnonzero(imp)
        if not len(f):
            break
        row, edge = _expand(g, f % n1)
        key = (f // n1)[row] * n1 + g.dst[edge]
        c = cost[f][row] + g.w[edge]
        ok = ~null[f][row] & g.w_ok[edge]
        imp = has & null
        uk, inv = np.unique(key[ok], return_inverse=True)
        best = np.full(len(uk), np.inf)
        np.minimum.at(best, inv, c[ok])
        old = has[uk] & ~null[uk]
        imp[uk] = ~old | (best < cost[uk])
        cost[uk] = np.where(old, np.minimum(cost[uk], best), best)
        has[uk], null[uk] = True, False
        kn = np.setdiff1d(key[~ok], uk)  # only NULL candidates
        kn = kn[~has[kn] | null[kn]]
        has[kn] = null[kn] = imp[kn] = True
    f = np.flatnonzero(has)
    return f // n1, f % n1, cost[f], ~null[f]


def cheapest_path_distances(batches, max_iters, all_sources):
    """paths.cheapest_path_distances without paths on one task; yields
    (src, dst, cost) per batch of lanes, one lane per distinct source as
    in bfs_distances."""
    g, src, _ = _path_input(batches, all_sources)
    for roots in _lane_batches(g, np.unique(src)):
        lane, v, cost, ok = _bellman_ford(g, roots, max_iters)
        yield pa.RecordBatch.from_arrays(
            [g.ids(roots[lane]), g.ids(v), pa.array(cost, pa.float64(), mask=~ok)],
            names=["src", "dst", "cost"])
