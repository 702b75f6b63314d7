"""Single-task CSR kernels: pagerank, WCC and LCC in one Arrow task.

DuckPGQ builds a transient CSR over dense row ids and runs pagerank,
union-find WCC and LCC in one process (csr_creation.cpp, pagerank.cpp,
weakly_connected_component.cpp, local_clustering_coefficient.cpp).  When
the adjacency fits one task, `algorithms` does the same: the vertex ids
and the cached edge frame go to ONE `mapInArrow` task as a tagged union
(`kind` 0 = vertex id in `a`, 1 = edge `a -> b` with weight `w`,
2 = personalized-pagerank source in `a`), and the functions here map the
natural ids to dense ones with np.unique/searchsorted and run numpy
kernels.  The answers are the DataFrame kernels' (see each function).

numpy and pyarrow only.  The module is pickled by value, so an executor
needs neither this package nor scipy to run it.
"""

from __future__ import annotations

import itertools
import sys

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

cloudpickle.register_pickle_by_value(sys.modules[__name__])


def _columns(batches):
    """(kind, a, a_valid, b, b_valid, w) numpy arrays of the task's input;
    nulls read as 0 (0.0 for `w`) where their valid mask is False."""
    batches = list(batches)
    tbl = pa.Table.from_batches(batches) if batches else INPUT_SCHEMA.empty_table()

    def col(name, fill):
        c = tbl.column(name)
        return (c.fill_null(fill).to_numpy(),
                c.is_valid().to_numpy(zero_copy_only=False))

    (kind, _), (a, a_ok), (b, b_ok), (w, _) = (
        col("kind", -1), col("a", 0), col("b", 0), col("w", 0.0))
    return kind, a, a_ok, b, b_ok, w


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
    kind, a, a_ok, b, b_ok, w = _columns(batches)
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
    kind, a, a_ok, b, _, _ = _columns(batches)
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
