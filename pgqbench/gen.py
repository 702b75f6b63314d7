"""Seeded SNB-shaped data generator.

Produces the tables an LDBC SNB interactive run touches -- Person, Knows,
Message and hasAuthor -- with skewed (Chung-Lu, power-law) degrees, plus the
anchor lists the workloads draw their parameters from and the Knows batches
the `evolving` workload appends.  Everything derives from one integer seed:
the same seed gives byte-identical parquet files, another seed gives other
files.  Knows holds each unordered pair at most once (LDBC stores the
undirected relation once) and no self-loops, so every reference answer is
well defined.
"""

from __future__ import annotations

import os
from collections import deque
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIRST_NAMES = [
    "Jan", "Ana", "Wei", "Ali", "Eva", "Ivan", "Mia", "Jun", "Lea", "Omar",
    "Ada", "Rui", "Zoe", "Karl", "Nia", "Yuki", "Sam", "Ines", "Tom", "Lin",
]
DAY_MS = 86_400_000
EPOCH_2010_MS = 1_262_304_000_000


@dataclass(frozen=True)
class Scale:
    persons: int = 3000
    knows_per_person: float = 6.0  # undirected pairs per person
    messages: int = 12000
    gamma: float = 2.3  # power-law exponent of the expected degree
    batch_edges: int = 300  # Knows pairs per evolving batch
    batches: int = 8


@dataclass
class Dataset:
    seed: int
    scale: Scale
    person: pa.Table
    knows: pa.Table
    message: pa.Table
    has_author: pa.Table
    batches: list[pa.Table]
    # anchors, all drawn among vertices with edges so results are non-empty
    persons_with_friends: np.ndarray
    reach_pairs: list[tuple[int, int]]  # directed-reachable (src, dst)
    cheap_pairs: list[tuple[int, int]]  # reach pairs of equal Bellman-Ford depth
    message_cutoff: int  # IC2 date filter: messages created before this


def _chung_lu_pairs(rng, n: int, m: int, gamma: float, taken: set[int]) -> np.ndarray:
    """m new unordered index pairs (i < j) drawn with probability
    proportional to the product of power-law vertex weights; pairs in
    `taken` (encoded i * n + j) and self-loops are skipped."""
    w = (np.arange(1, n + 1, dtype=np.float64)) ** (-1.0 / (gamma - 1.0))
    w = w[rng.permutation(n)]
    p = w / w.sum()
    out: list[int] = []
    seen = set(taken)
    while len(out) < m:
        k = 2 * (m - len(out)) + 16
        a = rng.choice(n, size=k, p=p)
        b = rng.choice(n, size=k, p=p)
        for i, j in zip(a.tolist(), b.tolist()):
            if i == j:
                continue
            code = min(i, j) * n + max(i, j)
            if code in seen:
                continue
            seen.add(code)
            out.append(code)
            if len(out) == m:
                break
    codes = np.array(out, dtype=np.int64)
    return np.stack([codes // n, codes % n], axis=1)


def _knows_table(rng, ids: np.ndarray, pairs: np.ndarray, first_edge_id: int,
                 t0_ms: int) -> pa.Table:
    flip = rng.random(len(pairs)) < 0.5
    src = np.where(flip, pairs[:, 1], pairs[:, 0])
    dst = np.where(flip, pairs[:, 0], pairs[:, 1])
    m = len(pairs)
    return pa.table({
        "id": pa.array(np.arange(first_edge_id, first_edge_id + m, dtype=np.int64)),
        "src": pa.array(ids[src]),
        "dst": pa.array(ids[dst]),
        "creationDate": pa.array(t0_ms + rng.integers(0, 3 * 365, m) * DAY_MS
                                 + rng.integers(0, DAY_MS, m)),
        "weight": pa.array(rng.integers(1, 11, m, dtype=np.int64)),
    })


def _bfs_reachable(adj: list[list[int]], s: int) -> dict[int, int]:
    dist = {s: 0}
    q = deque([s])
    while q:
        u = q.popleft()
        for v in adj[u]:
            if v not in dist:
                dist[v] = dist[u] + 1
                q.append(v)
    return dist


def _reach_pairs(rng, n: int, src_idx, dst_idx, count: int, hops: int) -> list[tuple[int, int]]:
    """`count` (source, target) index pairs with the target reachable from
    the source along directed edges, exactly `hops` hops away where the
    source reaches that far (so every search runs the same number of BFS
    levels), else as far as it reaches."""
    adj: list[list[int]] = [[] for _ in range(n)]
    for s, d in zip(src_idx.tolist(), dst_idx.tolist()):
        adj[s].append(d)
    starts = np.array([i for i in range(n) if adj[i]], dtype=np.int64)
    pairs: list[tuple[int, int]] = []
    while len(pairs) < count:
        s = int(starts[rng.integers(len(starts))])
        dist = _bfs_reachable(adj, s)
        depth = min(hops, max(dist.values()))
        if depth == 0:
            continue
        far = sorted(v for v, d in dist.items() if d == depth)
        pairs.append((s, far[int(rng.integers(len(far)))]))
    return pairs


def _bellman_ford_rounds(n: int, src, dst, weight, s: int) -> int:
    """Synchronous relaxation rounds from `s` until no distance changes --
    the round count of a frontier-free Bellman-Ford like the engine's."""
    dist = np.full(n, np.inf)
    dist[s] = 0.0
    rounds = 0
    while True:
        rounds += 1
        nxt = dist.copy()
        np.minimum.at(nxt, dst, dist[src] + weight)
        if np.array_equal(nxt, dist):
            return rounds
        dist = nxt


def generate(seed: int, scale: Scale = Scale()) -> Dataset:
    rng = np.random.default_rng(seed)
    n = scale.persons
    ids = np.sort(rng.choice(np.arange(1, 20 * n, dtype=np.int64), n, replace=False))
    person = pa.table({
        "id": pa.array(ids),
        "firstName": pa.array([FIRST_NAMES[i] for i in rng.integers(0, len(FIRST_NAMES), n)]),
        "gender": pa.array(np.where(rng.random(n) < 0.5, "female", "male").tolist()),
        "birthday": pa.array(rng.integers(0, 40 * 365, n, dtype=np.int64)),
        "creationDate": pa.array(EPOCH_2010_MS + rng.integers(0, 365, n) * DAY_MS),
    })

    m = int(n * scale.knows_per_person)
    pairs = _chung_lu_pairs(rng, n, m, scale.gamma, set())
    knows = _knows_table(rng, ids, pairs, 1, EPOCH_2010_MS)
    taken = set((pairs[:, 0] * n + pairs[:, 1]).tolist())
    batches = []
    next_eid = m + 1
    for b in range(scale.batches):
        bp = _chung_lu_pairs(rng, n, scale.batch_edges, scale.gamma, taken)
        taken.update((bp[:, 0] * n + bp[:, 1]).tolist())
        batches.append(_knows_table(rng, ids, bp, next_eid, EPOCH_2010_MS + (3 + b) * 365 * DAY_MS))
        next_eid += scale.batch_edges

    # messages: authors drawn proportionally to (1 + degree), so active
    # people post more, like SNB
    deg = np.bincount(pairs.ravel(), minlength=n).astype(np.float64) + 1.0
    author = rng.choice(n, size=scale.messages, p=deg / deg.sum())
    mdate = EPOCH_2010_MS + rng.integers(0, 3 * 365 * DAY_MS, scale.messages)
    mids = np.arange(1, scale.messages + 1, dtype=np.int64) * 10 + 3
    message = pa.table({
        "id": pa.array(mids),
        "creationDate": pa.array(mdate),
        "length": pa.array(rng.integers(1, 2000, scale.messages, dtype=np.int64)),
    })
    has_author = pa.table({
        "messageId": pa.array(mids),
        "personId": pa.array(ids[author]),
    })

    src_idx = np.searchsorted(ids, knows["src"].to_numpy())
    dst_idx = np.searchsorted(ids, knows["dst"].to_numpy())
    with_friends = ids[np.unique(pairs.ravel())]
    reach = _reach_pairs(rng, n, src_idx, dst_idx, 64, hops=3)
    # a cheapest-path search runs as many rounds as its source's cheapest-
    # path tree is deep; keep the pairs whose depth is the most common one,
    # so the work of a cheapest-path query does not depend on the draw
    weight = knows["weight"].to_numpy().astype(np.float64)
    depth = [_bellman_ford_rounds(n, src_idx, dst_idx, weight, s) for s, _ in reach]
    mode = max(sorted(set(depth)), key=depth.count)
    cheap = [p for p, d in zip(reach, depth) if d == mode]
    return Dataset(
        seed=seed,
        scale=scale,
        person=person,
        knows=knows,
        message=message,
        has_author=has_author,
        batches=batches,
        persons_with_friends=with_friends,
        reach_pairs=[(int(ids[s]), int(ids[d])) for s, d in reach],
        cheap_pairs=[(int(ids[s]), int(ids[d])) for s, d in cheap],
        message_cutoff=int(np.quantile(mdate, 0.8)),
    )


def write_table(table: pa.Table, path: str) -> None:
    """Deterministic single-file parquet write (same table, same bytes)."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


TABLES = ("person", "knows", "message", "has_author")


def write_base(ds: Dataset, root: str) -> dict[str, str]:
    """Write the base tables under `root`; returns table name -> file."""
    paths = {name: os.path.join(root, name, "part-0.parquet") for name in TABLES}
    for name, path in paths.items():
        write_table(getattr(ds, name), path)
    return paths


def batch_path(root: str, c: int) -> str:
    """Where Knows batch `c` is appended: beside the base Knows file."""
    return os.path.join(root, "knows", f"batch-{c:04d}.parquet")
