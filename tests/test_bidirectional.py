"""Bidirectional (meet-in-the-middle) point-to-point BFS tests.

Reference analog: iterativelength_bidirectional
(/root/reference/src/core/functions/scalar/iterativelength_bidirectional.cpp:12-41)
— a perf variant with identical semantics to iterativelength, so every
test here cross-checks against the batched unidirectional BFS on the
same graph.
"""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from duckpgq_extension_spark.operators import paths as P

from .conftest import on_dataframe_route, rows

SF = "/root/testdata/sf0.001"


def _edges(spark, pairs):
    return spark.createDataFrame([Row(src=s, dst=d) for s, d in pairs], "src long, dst long")


@pytest.fixture(scope="module")
def diamond(spark):
    # 0 -> {1,2} -> 3 -> 4 -> 5 ; 6 isolated ; 7 -> 0 (feeder)
    return _edges(
        spark,
        [(0, 1), (0, 2), (1, 3), (2, 3), (3, 4), (4, 5), (7, 0)],
    )


def _pairs(spark, pairs):
    return spark.createDataFrame([Row(src=s, dst=d) for s, d in pairs], "src long, dst long")


def _as_dict(df):
    return {(r["src"], r["dst"]): r["dist"] for r in df.collect()}


def test_matches_unidirectional_on_diamond(spark, diamond):
    want = _pairs(
        spark,
        [(0, 3), (0, 5), (7, 5), (0, 0), (1, 2), (5, 0), (0, 6), (6, 6)],
    )
    got = _as_dict(P.bidirectional_length(diamond, want))
    assert got == {
        (0, 3): 2,
        (0, 5): 4,
        (7, 5): 5,
        (0, 0): 0,
        (6, 6): 0,
        # (1,2), (5,0), (0,6) unreachable -> absent
    }
    # cross-check against the batched unidirectional kernel
    uni = P.iterative_length(diamond, want)
    uni_d = {
        (r["src"], r["dst"]): r["dist"]
        for r in uni.collect()
        if r["dist"] is not None
    }
    assert got == uni_d


def test_max_hops_truncates(spark, diamond):
    want = _pairs(spark, [(0, 3), (0, 5), (7, 5)])
    got = _as_dict(P.bidirectional_length(diamond, want, max_hops=3))
    assert got == {(0, 3): 2}


def test_cycle_and_self_loops(spark):
    # 3-cycle plus a self loop: distances wrap around the cycle
    edges = _edges(spark, [(1, 2), (2, 3), (3, 1), (4, 4)])
    want = _pairs(spark, [(1, 3), (3, 2), (1, 1), (4, 4), (1, 4)])
    got = _as_dict(P.bidirectional_length(edges, want))
    assert got == {(1, 3): 2, (3, 2): 2, (1, 1): 0, (4, 4): 0}


def test_duplicate_and_null_pairs_ignored(spark, diamond):
    want = spark.createDataFrame(
        [Row(src=0, dst=3), Row(src=0, dst=3), Row(src=None, dst=3), Row(src=0, dst=None)],
        "src long, dst long",
    )
    out = P.bidirectional_length(diamond, want)
    assert rows(out) == [(0, 3, 2)]


def test_agrees_with_bfs_on_sf0001(spark):
    """Random point queries on the real nation-supplier graph must agree
    with bfs_distances exactly (including absent-when-unreachable)."""
    edges = (
        spark.read.parquet(f"{SF}/supplier.parquet")
        .select(
            F.col("s_suppkey").cast("long").alias("src"),
            F.col("s_nationkey").cast("long").alias("dst"),
        )
    )
    # supplier -> nation bipartite-ish ids overlap; build a denser graph by
    # also linking nations in a ring so multi-hop paths exist
    nations = spark.read.parquet(f"{SF}/nation.parquet").select(
        F.col("n_nationkey").cast("long").alias("src"),
        ((F.col("n_nationkey") + 1) % 25).cast("long").alias("dst"),
    )
    g = edges.unionByName(nations)
    want = _pairs(spark, [(1, 5), (1, 20), (3, 3), (9, 2), (9, 9999)])
    bi = _as_dict(P.bidirectional_length(g, want))
    uni = {
        (r["src"], r["dst"]): r["dist"]
        for r in P.iterative_length(g, want).collect()
        if r["dist"] is not None
    }
    assert bi == uni


def test_random_graphs_agree_with_batched_bfs(spark):
    """Seeded random digraphs: bidirectional must equal the batched BFS on
    every queried pair, including unreachable ones and max_hops cuts."""
    import random

    for seed in (7, 23):
        rng = random.Random(seed)
        n = 30
        edges = _edges(
            spark,
            list({(rng.randrange(n), rng.randrange(n)) for _ in range(70)}),
        )
        want = _pairs(
            spark, [(rng.randrange(n), rng.randrange(n)) for _ in range(12)]
        )
        for max_hops in (None, 3):
            bi = _as_dict(P.bidirectional_length(edges, want, max_hops=max_hops))
            uni = {
                (r["src"], r["dst"]): r["dist"]
                for r in P.iterative_length(edges, want, max_hops=max_hops).collect()
                if r["dist"] is not None
            }
            assert bi == uni, (seed, max_hops, bi, uni)


test_random_graphs_agree_with_batched_bfs_dataframe_route = on_dataframe_route(
    test_random_graphs_agree_with_batched_bfs)
