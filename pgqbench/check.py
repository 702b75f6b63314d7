"""Independent reference answers for every query kind.

Computed with DuckDB plain SQL (the fixed-length MATCH reads), networkx
(components, clustering, paths) and a numpy power iteration (pagerank) over
the same parquet files the engine reads.  This
module never imports the engine, so an engine bug cannot cancel out.

Comparison rules, by kind:
- fixed-length reads: exact equality of the ordered rows;
- pagerank: every vertex within PAGERANK_ABS_TOL of the reference ranks;
- wcc: the same partition of the vertices (representatives may differ);
- lcc: every vertex within LCC_ABS_TOL (the engine returns FLOAT);
- shortest_path: the same path length; cheapest_path: the same cost;
- reach_1_3: the same set of vertices at shortest distance 1 to 3 (DuckPGQ
  bounds a quantified edge by the shortest path length, so the start vertex
  is never in the set, even on a cycle).
"""

from __future__ import annotations

import duckdb
import networkx as nx
import numpy as np

# the engine stops when no rank moves by more than 1e-6 in a round, so its
# ranks sit within about 1e-6 / (1 - 0.85) of the fixed point
PAGERANK_ABS_TOL = 1e-5
LCC_ABS_TOL = 1e-5


def pagerank(g: nx.DiGraph, alpha: float = 0.85, tol: float = 1e-13) -> dict:
    """Textbook power-iteration PageRank (uniform teleport, dangling mass
    spread uniformly), run to `tol` in L1.  networkx's own `pagerank`
    needs scipy, which this benchmark does not assume."""
    nodes = list(g)
    index = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    src = np.array([index[u] for u, _ in g.edges()], dtype=np.int64)
    dst = np.array([index[v] for _, v in g.edges()], dtype=np.int64)
    out_deg = np.bincount(src, minlength=n).astype(np.float64)
    dangling = out_deg == 0
    x = np.full(n, 1.0 / n)
    for _ in range(10_000):
        share = np.where(dangling, 0.0, x / np.where(dangling, 1.0, out_deg))
        nxt = alpha * np.bincount(dst, weights=share[src], minlength=n)
        nxt += (alpha * x[dangling].sum() + 1.0 - alpha) / n
        done = np.abs(nxt - x).sum() < tol
        x = nxt
        if done:
            break
    return dict(zip(nodes, x.tolist()))


class Reference:
    """Reference answers over the base table files plus the Knows batch
    files in the order they were appended.  `version` is how many of those
    batches the engine's graph held when it ran the query."""

    def __init__(self, base: dict[str, str], knows_batches: list[str]):
        self.base = base
        self.knows_batches = knows_batches
        self.con = duckdb.connect()
        for name in ("person", "message", "has_author"):
            self.con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{base[name]}')")
        self._graphs: dict[int, nx.DiGraph] = {}
        self._cache: dict[tuple, object] = {}

    def close(self) -> None:
        self.con.close()

    def _use_version(self, version: int) -> None:
        if version > len(self.knows_batches):
            raise ValueError(f"version {version} needs {version} Knows batches, "
                             f"{len(self.knows_batches)} were appended")
        files = ", ".join(f"'{f}'" for f in [self.base["knows"], *self.knows_batches[:version]])
        self.con.execute(f"CREATE OR REPLACE VIEW knows AS SELECT * FROM read_parquet([{files}])")
        self.con.execute(
            "CREATE OR REPLACE VIEW u AS "
            "SELECT src AS x, dst AS y, id, creationDate FROM knows "
            "UNION ALL SELECT dst AS x, src AS y, id, creationDate FROM knows"
        )

    def _graph(self, version: int) -> nx.DiGraph:
        if version not in self._graphs:
            self._use_version(version)
            g = nx.DiGraph()
            g.add_nodes_from(r[0] for r in self.con.execute("SELECT id FROM person").fetchall())
            g.add_weighted_edges_from(
                self.con.execute("SELECT src, dst, weight FROM knows").fetchall()
            )
            self._graphs[version] = g
        return self._graphs[version]

    def expected(self, kind: str, args: tuple, version: int = 0):
        key = (kind, args, version)
        if key not in self._cache:
            self._cache[key] = getattr(self, "_" + kind)(args, version)
        return self._cache[key]

    def _rows(self, sql: str, version: int, params=()) -> list[tuple]:
        self._use_version(version)
        return [tuple(r) for r in self.con.execute(sql, list(params)).fetchall()]

    # -- fixed-length reads (DuckDB) ------------------------------------
    def _is3_friends(self, args, version):
        return self._rows(
            "SELECT f.id, f.firstName, u.creationDate FROM u JOIN person f ON f.id = u.y "
            "WHERE u.x = ? ORDER BY u.creationDate DESC, f.id",
            version, args,
        )

    def _ic2_recent_messages(self, args, version):
        return self._rows(
            "SELECT f.id, m.id, m.creationDate FROM u "
            "JOIN person f ON f.id = u.y "
            "JOIN has_author h ON h.personId = f.id "
            "JOIN message m ON m.id = h.messageId "
            "WHERE u.x = ? AND m.creationDate < ? "
            "ORDER BY m.creationDate DESC, m.id LIMIT 20",
            version, args,
        )

    def _fof_count(self, args, version):
        return self._rows(
            "SELECT count(DISTINCT ff.id) FROM u u1 JOIN u u2 ON u2.x = u1.y "
            "JOIN person ff ON ff.id = u2.y "
            "WHERE u1.x = ? AND ff.gender = 'female' AND ff.id <> ?",
            version, (args[0], args[0]),
        )

    def _triangle_count(self, args, version):
        return self._rows(
            "SELECT count(*) FROM u u1 JOIN u u2 ON u2.x = u1.y "
            "JOIN u u3 ON u3.x = u2.y AND u3.y = u1.x WHERE u1.x = ?",
            version, args,
        )

    # -- kernels (networkx) ---------------------------------------------
    def _pagerank(self, args, version):
        return pagerank(self._graph(version))

    def _wcc(self, args, version):
        return {frozenset(c) for c in nx.weakly_connected_components(self._graph(version))}

    def _lcc(self, args, version):
        return nx.clustering(self._graph(version).to_undirected(as_view=True))

    def _shortest_path(self, args, version):
        return nx.shortest_path_length(self._graph(version), args[0], args[1])

    def _cheapest_path(self, args, version):
        return nx.dijkstra_path_length(self._graph(version), args[0], args[1], weight="weight")

    def _reach_1_3(self, args, version):
        dist = nx.single_source_shortest_path_length(self._graph(version), args[0], cutoff=3)
        return {v for v, d in dist.items() if d >= 1}


def canonical(kind: str, rows: list) -> object:
    """The engine's collected rows in the shape `Reference` answers in."""
    tuples = [tuple(r) for r in rows]
    if kind in ("pagerank", "lcc"):
        return {r[0]: r[1] for r in tuples}
    if kind == "wcc":
        comps: dict[int, set] = {}
        for vid, comp in tuples:
            comps.setdefault(comp, set()).add(vid)
        return {frozenset(c) for c in comps.values()}
    if kind == "shortest_path":
        return [r[0] for r in tuples]
    if kind == "cheapest_path":
        return [r[1] for r in tuples]
    if kind == "reach_1_3":
        return {r[0] for r in tuples}
    return tuples


def compare(kind: str, got, want) -> str | None:
    """None when `got` (from `canonical`) matches the reference answer,
    else a one-line description of the first difference."""
    if kind in ("pagerank", "lcc"):
        tol = PAGERANK_ABS_TOL if kind == "pagerank" else LCC_ABS_TOL
        if set(got) != set(want):
            return f"vertex sets differ ({len(got)} vs {len(want)} vertices)"
        worst = max(want, key=lambda v: abs(got[v] - want[v]))
        diff = abs(got[worst] - want[worst])
        return None if diff <= tol else f"vertex {worst}: {got[worst]} vs {want[worst]} (tol {tol})"
    if kind in ("shortest_path", "cheapest_path"):
        if len(got) != 1:
            return f"expected one row, got {len(got)}"
        return None if got[0] == want else f"{got[0]} vs {want}"
    if kind in ("wcc", "reach_1_3"):
        what = "components" if kind == "wcc" else "vertices"
        return None if got == want else f"differs: {len(got)} vs {len(want)} {what}"
    if got == want:
        return None
    for i, (g, w) in enumerate(zip(got, want)):
        if g != w:
            return f"row {i}: {g} vs {w}"
    return f"{len(got)} rows vs {len(want)}"
