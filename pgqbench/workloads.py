"""Query sequences of the three workloads.

Each workload is a closed loop with one client: the next operation is sent
when the previous one has returned.  The sequence an invocation runs is
fixed by the seed and by its length in seconds (see `build`), so two
commits measured with the same arguments run the same work.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from .gen import Dataset

GRAPH_DDL = """CREATE OR REPLACE PROPERTY GRAPH snb
VERTEX TABLES (
  person LABEL Person,
  message LABEL Message
)
EDGE TABLES (
  knows SOURCE KEY (src) REFERENCES person (id)
        DESTINATION KEY (dst) REFERENCES person (id)
        EDGE ID (id) LABEL knows,
  has_author SOURCE KEY (messageId) REFERENCES message (id)
             DESTINATION KEY (personId) REFERENCES person (id)
             LABEL hasAuthor
)"""

INTERACTIVE_KINDS = ("is3_friends", "ic2_recent_messages", "fof_count", "triangle_count")
PATH_KINDS = ("shortest_path", "cheapest_path", "reach_1_3")
ANALYTICS_ROUND = ("pagerank", "shortest_path", "wcc", "cheapest_path", "lcc", "reach_1_3")
EVOLVING_READS = ("pagerank", "wcc", "shortest_path")

# Nominal cost of one unit of each workload on a 4-core host at the commit
# that introduced the benchmark; `build` sizes the sequence from it.
INTERACTIVE_S_PER_QUERY = 0.375
ANALYTICS_S_PER_ROUND = 25.0
EVOLVING_S_PER_CYCLE = 15.0


@dataclass(frozen=True)
class Op:
    """One operation of a sequence.  `kind` is a query kind, or "update"
    for an `evolving` batch append; `version` is the number of Knows
    batches the graph holds when the operation runs."""

    qid: str
    kind: str
    sql: str
    args: tuple
    version: int = 0


def query(qid: str, kind: str, args: tuple, version: int = 0) -> Op:
    return Op(qid, kind, _SQL[kind].format(*args), args, version)


_SQL = {
    "is3_friends": (
        "SELECT f_id, f_first, since FROM GRAPH_TABLE(snb MATCH "
        "(p:Person WHERE p.id = {0})-[k:knows]-(f:Person) "
        "COLUMNS (f.id AS f_id, f.firstName AS f_first, k.creationDate AS since)) "
        "ORDER BY since DESC, f_id"
    ),
    "ic2_recent_messages": (
        "SELECT f_id, m_id, m_date FROM GRAPH_TABLE(snb MATCH "
        "(p:Person WHERE p.id = {0})-[k:knows]-(f:Person)"
        "<-[h:hasAuthor]-(m:Message WHERE m.creationDate < {1}) "
        "COLUMNS (f.id AS f_id, m.id AS m_id, m.creationDate AS m_date)) "
        "ORDER BY m_date DESC, m_id LIMIT 20"
    ),
    "fof_count": (
        "SELECT count(DISTINCT ff_id) AS n FROM GRAPH_TABLE(snb MATCH "
        "(p:Person WHERE p.id = {0})-[k1:knows]-(f:Person)"
        "-[k2:knows]-(ff:Person WHERE ff.gender = 'female') "
        "COLUMNS (ff.id AS ff_id)) WHERE ff_id <> {0}"
    ),
    "triangle_count": (
        "SELECT count(*) AS n FROM GRAPH_TABLE(snb MATCH "
        "(a:Person WHERE a.id = {0})-[k1:knows]-(b:Person)-[k2:knows]-(c:Person)"
        "-[k3:knows]-(a:Person) COLUMNS (b.id AS b_id))"
    ),
    "pagerank": "SELECT id, pagerank FROM pagerank(snb, Person, knows)",
    "wcc": "SELECT id, componentId FROM weakly_connected_component(snb, Person, knows)",
    "lcc": (
        "SELECT id, local_clustering_coefficient "
        "FROM local_clustering_coefficient(snb, Person, knows)"
    ),
    "shortest_path": (
        "SELECT plen FROM GRAPH_TABLE(snb MATCH p = ANY SHORTEST "
        "(a:Person WHERE a.id = {0})-[k:knows]->*(b:Person WHERE b.id = {1}) "
        "COLUMNS (path_length(p) AS plen))"
    ),
    "cheapest_path": (
        "SELECT b_id, cost FROM GRAPH_TABLE(snb MATCH p = ANY CHEAPEST "
        "(a:Person WHERE a.id = {0})-[k:knows COST weight]->*(b:Person WHERE b.id = {1}) "
        "COLUMNS (b.id AS b_id, path_cost(p) AS cost))"
    ),
    "reach_1_3": (
        "SELECT DISTINCT b_id FROM GRAPH_TABLE(snb MATCH "
        "(a:Person WHERE a.id = {0})-[k:knows]->{{1,3}}(b:Person) "
        "COLUMNS (b.id AS b_id))"
    ),
}


def warm_query(ds: Dataset) -> Op:
    """The untimed query every set-up ends with: a cheap anchored read that
    touches parser, compiler and Spark planning but no iterative kernel."""
    return query("warm", "is3_friends", (int(ds.persons_with_friends[0]),))


def _kernel_op(qid: str, kind: str, ds: Dataset, rng, version: int = 0) -> Op:
    pool = ds.cheap_pairs if kind == "cheapest_path" else ds.reach_pairs
    s, d = pool[int(rng.integers(len(pool)))]
    args = (s,) if kind == "reach_1_3" else (s, d) if kind in PATH_KINDS else ()
    return query(qid, kind, args, version)


def warm_up(workload: str, ds: Dataset) -> list[Op]:
    """Untimed operations run after set-up and before the timed sequence:
    one query of each kind the workload times, on the base graph.  The
    first execution of a plan shape pays JIT compilation, code generation
    and class loading, which a fresh JVM spreads unevenly over minutes;
    doing it here keeps it out of the measurement.  In `analytics` it also
    fills the adjacency cache, the standing-graph state the round measures."""
    rng = np.random.default_rng([ds.seed, 99])
    if workload == "interactive":
        a = int(ds.persons_with_friends[0])
        return [
            query(f"warm.{kind}", kind,
                  (a, ds.message_cutoff) if kind == "ic2_recent_messages" else (a,))
            for kind in INTERACTIVE_KINDS
        ]
    kinds = ANALYTICS_ROUND if workload == "analytics" else EVOLVING_READS
    return [_kernel_op(f"warm.{kind}", kind, ds, rng) for kind in kinds]


def build(workload: str, ds: Dataset, seconds: float, stream: int = 0) -> list[Op]:
    """The fixed operation sequence of one measured run.  `stream` gives
    each run of a traced `evolving` invocation its own batches."""
    rng = np.random.default_rng([ds.seed, stream, 7])
    if workload == "interactive":
        friends = ds.persons_with_friends
        n = max(len(INTERACTIVE_KINDS), round(seconds / INTERACTIVE_S_PER_QUERY))
        kinds = [INTERACTIVE_KINDS[i % len(INTERACTIVE_KINDS)] for i in range(n)]
        rng.shuffle(kinds)
        ops = []
        for i, kind in enumerate(kinds):
            a = int(friends[rng.integers(len(friends))])
            args = (a, ds.message_cutoff) if kind == "ic2_recent_messages" else (a,)
            ops.append(query(f"s{stream}.q{i:03d}", kind, args))
        return ops
    if workload == "analytics":
        rounds = max(1, round(seconds / ANALYTICS_S_PER_ROUND))
        return [
            _kernel_op(f"s{stream}.r{r}.{kind}", kind, ds, rng)
            for r in range(rounds)
            for kind in ANALYTICS_ROUND
        ]
    if workload == "evolving":
        cycles = max(1, round(seconds / EVOLVING_S_PER_CYCLE))
        first = stream * cycles
        if first + cycles > len(ds.batches):
            raise ValueError(
                f"evolving needs {first + cycles} batches, the scale has {len(ds.batches)}"
            )
        ops = []
        for c in range(first, first + cycles):
            ops.append(Op(f"s{stream}.c{c}.update", "update", "", (c,), c + 1))
            ops += [_kernel_op(f"s{stream}.c{c}.{kind}", kind, ds, rng, c + 1)
                    for kind in EVOLVING_READS]
        return ops
    raise ValueError(f"unknown workload {workload!r}")


WORKLOADS = ("interactive", "analytics", "evolving")
