"""Round-5 guard rails (VERDICT r4 'next round' #4/#8 + ADVICE items):

- cheapest_path_distances(track_paths=True) refuses zero-weight cycles
  instead of looping forever (ADVICE medium, paths.py); max_iters remains
  the explicit escape hatch.
- bfs_distances(all_shortest=True) / bfs_all_paths raise PGQCapacityError
  at a configured max_rows instead of OOMing on combinatorial growth.
- betweenness_centrality raises PGQCapacityError when the (source, vertex)
  state crosses max_state_rows (seeds-too-large misuse guard).
- shortest_path_counts sigma stays exact past 2^53 (decimal accumulator).
- PGQSession.sql defers algorithm table functions until the statement
  parses, and failed statements leave no __pgq_* temp views behind.
"""

from __future__ import annotations

import pytest

from duckpgq_extension_spark import algorithms as A
from duckpgq_extension_spark.errors import PGQCapacityError
from duckpgq_extension_spark.operators.paths import (
    bfs_all_paths,
    bfs_distances,
    cheapest_path_distances,
    default_parallelism,
)


def _edges(spark, rows, schema="src long, dst long, edge_id long"):
    return spark.createDataFrame(rows, schema)


# ------------------------------------------------ zero-weight cycle guard


def test_cheapest_track_paths_rejects_zero_weight_cycle(spark):
    # 1 -> 2 -> 1 is a 0-cost cycle; 1 -> 3 the only useful edge.  Without
    # the guard the lexicographic tie-break descends forever (ADVICE r4).
    e = _edges(
        spark,
        [(1, 2, 10, 0.0), (2, 1, 11, 0.0), (1, 3, 12, 1.0)],
        "src long, dst long, edge_id long, weight double",
    )
    with pytest.raises(ValueError, match="strictly positive"):
        cheapest_path_distances(e, track_paths=True)


def test_cheapest_track_paths_zero_cycle_bounded_by_max_iters(spark):
    e = _edges(
        spark,
        [(1, 2, 10, 0.0), (2, 1, 11, 0.0), (1, 3, 12, 1.0)],
        "src long, dst long, edge_id long, weight double",
    )
    got = {
        (r.src, r.dst): r.cost
        for r in cheapest_path_distances(e, track_paths=True, max_iters=4).collect()
    }
    assert got[(1, 3)] == 1.0
    assert got[(1, 2)] == 0.0


def test_cheapest_cost_only_zero_cycle_terminates(spark):
    # cost-only relaxation is immune (equal cost is not an improvement)
    e = _edges(
        spark,
        [(1, 2, 10, 0.0), (2, 1, 11, 0.0), (1, 3, 12, 2.5)],
        "src long, dst long, edge_id long, weight double",
    )
    got = {
        (r.src, r.dst): r.cost for r in cheapest_path_distances(e).collect()
    }
    assert got[(1, 3)] == 2.5


def test_cheapest_positive_weights_unaffected(spark):
    e = _edges(
        spark,
        [(1, 2, 10, 1.0), (2, 3, 11, 1.0), (1, 3, 12, 5.0)],
        "src long, dst long, edge_id long, weight double",
    )
    got = {
        (r.src, r.dst): (r.cost, r.path)
        for r in cheapest_path_distances(e, track_paths=True).collect()
    }
    assert got[(1, 3)] == (2.0, [1, 10, 2, 11, 3])


# ------------------------------------------------------- max_rows caps


def _diamond_chain(spark, n_diamonds, width=2):
    """a_0 -> {m_i} -> a_1 -> {m_i} -> ... ; width shortest paths per
    diamond => width^n_diamonds shortest paths end-to-end."""
    rows, eid = [], 0
    for d in range(n_diamonds):
        a, b = d * 100, (d + 1) * 100
        for w in range(width):
            mid = a + 1 + w
            rows.append((a, mid, eid)); eid += 1
            rows.append((mid, b, eid)); eid += 1
    return _edges(spark, rows)


def test_all_shortest_max_rows_raises(spark):
    e = _diamond_chain(spark, 6, width=3)  # 3^6 = 729 end-to-end paths
    srcs = spark.createDataFrame([(0,)], "src long")
    with pytest.raises(PGQCapacityError, match="max_rows=200"):
        bfs_distances(
            e, sources=srcs, track_paths=True, all_shortest=True, max_rows=200
        )


def test_all_shortest_under_cap_is_unaffected(spark):
    e = _diamond_chain(spark, 2, width=2)  # 4 end-to-end paths
    srcs = spark.createDataFrame([(0,)], "src long")
    out = bfs_distances(
        e, sources=srcs, track_paths=True, all_shortest=True, max_rows=10_000
    )
    assert out.where("dst = 200").count() == 4


def test_bfs_all_paths_max_rows_raises(spark):
    e = _diamond_chain(spark, 6, width=3)
    srcs = spark.createDataFrame([(0,)], "src long")
    with pytest.raises(PGQCapacityError, match="bfs_all_paths"):
        bfs_all_paths(e, sources=srcs, mode="ACYCLIC", max_rows=100)


# ------------------------------------------------- betweenness state guard


def test_betweenness_state_guard(spark):
    # path graph 0->1->...->9 from all 10 seeds: state rows = 45 pairs
    # beyond level 0; a tiny cap must trip with the sampling hint.
    e = _edges(spark, [(i, i + 1, i) for i in range(9)])
    seeds = spark.createDataFrame([(i,) for i in range(10)], "vid long")
    with pytest.raises(PGQCapacityError, match="SAMPLED"):
        A.betweenness_centrality(e, seeds, max_state_rows=5)
    # same call un-capped still works (vertex 0 is reached by no OTHER
    # source on a forward chain, so it has no row — 9 vertices)
    out = A.betweenness_centrality(e, seeds, max_state_rows=None)
    assert out.count() == 9


# ------------------------------------------------- sigma exactness > 2^53


def test_shortest_path_counts_exact_past_double_precision(spark):
    # 9 diamonds, 63 mids each: sigma(end) = 63^9, an odd 54-bit number a
    # double accumulator CANNOT represent (63**9 != int(float(63**9))).
    expect = 63**9
    assert float(expect) != expect  # the precision trap this test pins
    e = _diamond_chain(spark, 9, width=63)
    seeds = spark.createDataFrame([(0,)], "vid long")
    out = A.shortest_path_counts(e.select("src", "dst"), seeds)
    got = {r.dst: r.sigma for r in out.where("dst = 900").collect()}
    assert got[900] == expect


# ------------------------------------------------- sql() view hygiene


def test_sql_algo_call_deferred_on_syntax_error(spark, pgq):
    """A syntax error elsewhere must fail at PARSE time — before the
    algorithm runs — and leave no __pgq_* temp views (ADVICE r4 low)."""
    before = {v.name for v in spark.catalog.listTables() if v.name.startswith("__pgq_")}
    with pytest.raises(Exception) as ei:
        # trailing '(' is a syntax error; pagerank(...) would otherwise run
        pgq.sql("SELECT * FROM pagerank(pg, Person, Knows) WHERE (")
    assert "PARSE_SYNTAX_ERROR" in str(ei.value) or "ParseException" in type(ei.value).__name__
    after = {v.name for v in spark.catalog.listTables() if v.name.startswith("__pgq_")}
    assert after == before


def test_sql_algo_call_still_works(spark, pgq):
    df = pgq.sql(
        "SELECT id, pagerank FROM pagerank(pg, Person, Knows) ORDER BY pagerank DESC"
    )
    assert df.count() == 5


def test_sql_graph_table_views_dropped_on_analysis_error(spark, pgq):
    before = {v.name for v in spark.catalog.listTables() if v.name.startswith("__pgq_")}
    with pytest.raises(Exception):
        pgq.sql(
            "SELECT no_such_column FROM GRAPH_TABLE (pg MATCH (a:Student) "
            "COLUMNS (a.id AS id)) t"
        )
    after = {v.name for v in spark.catalog.listTables() if v.name.startswith("__pgq_")}
    assert after == before


# ------------------------------------------------- kernel helpers


def test_default_parallelism_classic(spark):
    assert default_parallelism(spark) == spark.sparkContext.defaultParallelism
