"""Algorithm golden tests ported from the reference test/sql/scalar suite."""

import os

import pytest
from pyspark.sql import Row

from duckpgq_extension_spark import PGQSession

from .conftest import on_dataframe_route, rows
from .test_snb import SNB


def test_pagerank_reference_parity(pgq):
    """Exact parity with pagerank.test:23-29 goldens.  The reference iterates
    over its CSR offset array of size |V|+2, so two phantom dangling
    vertices participate (see algorithms.pagerank docstring);
    phantom_vertices=2 reproduces its numbers."""
    df = pgq.pagerank("pg", "Person", "Knows", phantom_vertices=2)
    got = {r[0]: r[1] for r in df.collect()}
    expected = {
        0: 0.30722555839452875,
        1: 0.11534940106637968,
        2: 0.16437299553018173,
        3: 0.32814638463154105,
        4: 0.028301886792456276,
    }
    assert set(got) == set(expected)
    for k, v in expected.items():
        assert got[k] == pytest.approx(v, rel=1e-6), k


def test_pagerank_textbook_sums_to_one(pgq):
    df = pgq.pagerank("pg", "Person", "Knows")
    total = sum(r[1] for r in df.collect())
    assert total == pytest.approx(1.0, abs=1e-6)


def test_wcc_single_component(pgq):
    # weakly_connected_component.test:29-36: all 5 in one component
    # (representative differs: reference returns an arbitrary union-find
    # root, we return the min member — compare up to relabeling)
    df = pgq.weakly_connected_component("pg", "Person", "Knows")
    got = rows(df)
    assert len({c for _, c in got}) == 1
    assert {v for v, _ in got} == {0, 1, 2, 3, 4}
    assert got[0][1] == 0  # min-member representative


def test_wcc_self_loops_only(spark):
    spark.createDataFrame(
        [Row(id=i, name=n) for i, n in enumerate("ABCDE")], "id long, name string"
    ).createOrReplaceTempView("wcc_student")
    spark.createDataFrame(
        [Row(src=i, dst=i, createDate=10 + i) for i in range(5)],
        "src long, dst long, createDate long",
    ).createOrReplaceTempView("wcc_know")
    s = PGQSession(spark)
    s.execute(
        """CREATE PROPERTY GRAPH pg_disconnected
           VERTEX TABLES ( wcc_student LABEL S )
           EDGE TABLES ( wcc_know SOURCE KEY (src) REFERENCES wcc_student (id)
                         DESTINATION KEY (dst) REFERENCES wcc_student (id) LABEL K )"""
    )
    df = s.weakly_connected_component("pg_disconnected", "S", "K")
    # every vertex its own component (weakly_connected_component.test:38-60)
    assert rows(df) == [(0, 0), (1, 1), (2, 2), (3, 3), (4, 4)]


def test_wcc_isolated_vertex(spark):
    spark.createDataFrame(
        [Row(id=i, name=n) for i, n in enumerate("ABCDEF")], "id long, name string"
    ).createOrReplaceTempView("iso_student")
    spark.createDataFrame(
        [Row(src=a, dst=b, createDate=0) for a, b in [(0, 1), (1, 2), (2, 3), (3, 0)]],
        "src long, dst long, createDate long",
    ).createOrReplaceTempView("iso_know")
    s = PGQSession(spark)
    s.execute(
        """CREATE PROPERTY GRAPH pg_isolated
           VERTEX TABLES ( iso_student LABEL S )
           EDGE TABLES ( iso_know SOURCE KEY (src) REFERENCES iso_student (id)
                         DESTINATION KEY (dst) REFERENCES iso_student (id) LABEL K )"""
    )
    got = rows(s.weakly_connected_component("pg_isolated", "S", "K"))
    assert got == [(0, 0), (1, 0), (2, 0), (3, 0), (4, 4), (5, 5)]


def test_wcc_long_chain_pointer_jumping(spark):
    """512-vertex path graph: plain min-propagation needs 511 rounds
    (the min label walks one hop per round); the fused pointer-jumping
    step collapses it in ~log2(512) rounds.  This test is the round-count
    guard — without compression it times out the suite, with it it runs
    in seconds — plus the correctness pin (single component, min rep)."""
    from duckpgq_extension_spark import algorithms as A

    n = 512
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src long, dst long"
    )
    verts = spark.range(n).toDF("vid")
    got = rows(A.weakly_connected_component(edges, verts))
    assert len(got) == n
    assert {c for _, c in got} == {0}


_EMPTY_GRAPH_KERNELS = {
    "pagerank": lambda A, e, v: A.pagerank(e, v),
    "wcc": lambda A, e, v: A.weakly_connected_component(e, v),
    "k_core": lambda A, e, v: A.k_core(e, v, 2),
    "hits_fixed": lambda A, e, v: A.hits(e, v, tol=0),
    "hits_tol": lambda A, e, v: A.hits(e, v, tol=1e-6),
    "katz": lambda A, e, v: A.katz_centrality(e, v),
    "eigenvector": lambda A, e, v: A.eigenvector_centrality(e, v),
    "label_propagation": lambda A, e, v: A.label_propagation(e, v),
    "scc": lambda A, e, v: A.strongly_connected_component(e, v),
}


@pytest.mark.parametrize("name", list(_EMPTY_GRAPH_KERNELS))
def test_kernel_on_empty_graph(spark, name):
    """No vertices and no edges: every iterative kernel returns no rows."""
    from duckpgq_extension_spark import algorithms as A

    edges = spark.createDataFrame([], "src long, dst long")
    verts = spark.createDataFrame([], "vid long")
    assert _EMPTY_GRAPH_KERNELS[name](A, edges, verts).collect() == []


def test_lcc_goldens(pgq):
    # local_clustering_coefficient.test:73-80
    df = pgq.local_clustering_coefficient("pg", "Person", "Knows")
    got = {r[0]: r[1] for r in df.collect()}
    assert got[0] == pytest.approx(1.0)
    assert got[1] == pytest.approx(1.0)
    assert got[2] == pytest.approx(1.0)
    assert got[3] == pytest.approx(0.5)
    assert got[4] == pytest.approx(0.0)


def test_lcc_empty_graph(spark):
    spark.createDataFrame([], "id long, name string").createOrReplaceTempView("empty_student")
    spark.createDataFrame([], "src long, dst long").createOrReplaceTempView("empty_know")
    s = PGQSession(spark)
    s.execute(
        """CREATE PROPERTY GRAPH empty_pg
           VERTEX TABLES ( empty_student LABEL S )
           EDGE TABLES ( empty_know SOURCE KEY (src) REFERENCES empty_student (id)
                         DESTINATION KEY (dst) REFERENCES empty_student (id) LABEL K )"""
    )
    assert rows(s.local_clustering_coefficient("empty_pg", "S", "K")) == []


def test_summarize(pgq):
    """Reference-shape SUMMARIZE: one row per table, 22 columns, degree
    stats over edge-table occurrences only (zero-degree vertices absent,
    like the GROUP-BY-fk CTE of summarize_property_graph.cpp:54-69).
    F1 fixture: 5 students, know edges (0,1)(0,2)(0,3)(3,0)(1,2)(1,3)
    (2,3)(4,3)."""
    df = pgq.summarize_property_graph("pg")
    rows = {(r["table_name"], r["is_vertex_table"]): r.asDict() for r in df.collect()}
    stu = rows[("Student", True)]
    assert stu["vertex_count"] == 5
    assert stu["edge_count"] is None and stu["avg_in_degree"] is None
    know = rows[("know", False)]
    assert know["source_table"] == "Student"
    assert know["vertex_count"] is None
    assert know["edge_count"] == 8
    assert know["unique_source_count"] == 5      # 0,1,2,3,4 all emit edges
    assert know["unique_destination_count"] == 4  # 0,1,2,3
    assert know["isolated_sources"] == 0
    assert know["isolated_destinations"] == 1     # student 4 never a dst
    # out occurrences per src: [3,2,1,1,1]; in per dst: [4,2,1,1]
    assert know["avg_out_degree"] == pytest.approx(8 / 5)
    assert know["min_out_degree"] == 1 and know["max_out_degree"] == 3
    assert know["q50_out_degree"] == pytest.approx(1.0)
    assert know["avg_in_degree"] == pytest.approx(2.0)
    assert know["min_in_degree"] == 1 and know["max_in_degree"] == 4
    assert know["q50_in_degree"] == pytest.approx(1.5)


def test_cheapest_path(spark):
    """F4 weighted fixture: Bellman-Ford distances."""
    from duckpgq_extension_spark.operators import paths as pathops

    edges = spark.createDataFrame(
        [
            Row(src=0, dst=1, weight=5.0),
            Row(src=0, dst=2, weight=1.0),
            Row(src=2, dst=1, weight=1.0),
            Row(src=1, dst=3, weight=1.0),
        ],
        "src long, dst long, weight double",
    )
    dist = pathops.cheapest_path_distances(edges)
    got = {(r["src"], r["dst"]): r["cost"] for r in dist.collect()}
    assert got[(0, 1)] == 2.0  # via 2, not the direct 5.0 edge
    assert got[(0, 3)] == 3.0
    assert got[(0, 0)] == 0.0
    assert (3, 0) not in got  # unreachable pairs absent


def test_reachability(spark):
    from duckpgq_extension_spark.operators import paths as pathops

    edges = spark.createDataFrame(
        [Row(src=0, dst=1), Row(src=1, dst=2)], "src long, dst long"
    )
    pairs = spark.createDataFrame(
        [Row(src=0, dst=2), Row(src=2, dst=0)], "src long, dst long"
    )
    got = {(r[0], r[1]): r[2] for r in pathops.reachability(edges, pairs).collect()}
    assert got == {(0, 2): True, (2, 0): False}


def test_triangle_counts_shared_edge(spark):
    """Two triangles sharing edge 1-2: per-vertex participation counts."""
    from pyspark.sql import functions as F
    from duckpgq_extension_spark import algorithms as alg

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2), (1, 3), (2, 3)], "src long, dst long"
    )
    vertices = spark.range(0, 4).select(F.col("id").alias("vid"))
    got = {r[0]: r[1] for r in alg.triangle_counts(edges, vertices).collect()}
    assert got == {0: 1, 1: 2, 2: 2, 3: 1}


def test_lcc_star_graph_wedge_bound(spark):
    """Degree-ordered orientation: a 1000-spoke star generates ZERO wedge
    candidates (every edge orients spoke->hub, so no vertex has 2 oriented
    out-edges), where the old neighbor-list self-join built ~10^6 wedge
    rows centered on the hub.  This is the sum(deg^2) -> O(m^1.5) claim
    from VERDICT r2 made checkable."""
    from pyspark.sql import functions as F
    from duckpgq_extension_spark import algorithms as alg

    n = 1000
    edges = spark.range(1, n + 1).select(
        F.lit(0).cast("long").alias("src"), F.col("id").alias("dst")
    )
    vertices = spark.range(0, n + 1).select(F.col("id").alias("vid"))

    nbr = alg._doubled_neighbors(edges)
    deg = nbr.groupBy("src").agg(F.count("*").alias("deg"))
    half = alg._oriented_half_edges(nbr, deg)
    assert half.count() == n  # each undirected edge exactly once
    wedge_candidates = (
        half.alias("h1")
        .join(half.alias("h2"), F.col("h1.src") == F.col("h2.src"))
        .where(
            (F.col("h1.ddst") < F.col("h2.ddst"))
            | (
                (F.col("h1.ddst") == F.col("h2.ddst"))
                & (F.col("h1.dst") < F.col("h2.dst"))
            )
        )
        .count()
    )
    assert wedge_candidates == 0

    out = alg.local_clustering_coefficient(edges, vertices)
    vals = {r[0]: r[1] for r in out.collect()}
    assert len(vals) == n + 1 and all(v == 0.0 for v in vals.values())


def test_personalized_pagerank_numpy_golden(spark):
    """PPR on a 4-vertex chain with source {0}, checked against a numpy
    power iteration of the same formula (teleport + dangling mass to the
    source set only)."""
    import numpy as np
    from pyspark.sql import functions as F
    from duckpgq_extension_spark.algorithms import pagerank

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 1)], "src long, dst long"
    )
    vertices = spark.createDataFrame([(i,) for i in range(4)], "vid long")
    sources = spark.createDataFrame([(0,)], "vid long")
    got = {
        r["vid"]: r["pagerank"]
        for r in pagerank(
            edges, vertices, tol=0.0, max_iter=10, sources=sources
        ).collect()
    }

    reset = np.array([1.0, 0.0, 0.0, 0.0])
    out_deg = np.array([1, 1, 1, 1], dtype=float)
    adj = [(0, 1), (1, 2), (2, 3), (3, 1)]
    r = reset.copy()
    for _ in range(10):
        mass = np.zeros(4)
        for s, d in adj:
            mass[d] += r[s] / out_deg[s]
        dang = 0.0  # no dangling vertices in this graph
        r = 0.15 * reset + 0.85 * (mass + dang * reset)
    for i in range(4):
        assert abs(got[i] - r[i]) < 1e-12, (i, got[i], r[i])
    # walker restarts at 0, whose single out-edge feeds 1 (which also
    # collects the cycle's return mass) — 1 must rank highest
    assert max(got, key=got.get) == 1


def test_personalized_pagerank_guards(spark):
    from pyspark.sql import functions as F
    import pytest as _pytest
    from duckpgq_extension_spark.algorithms import pagerank

    edges = spark.createDataFrame([(0, 1)], "src long, dst long")
    vertices = spark.createDataFrame([(0,), (1,)], "vid long")
    empty = spark.createDataFrame([], "vid long")
    with _pytest.raises(ValueError, match="non-empty"):
        pagerank(edges, vertices, sources=empty)
    with _pytest.raises(ValueError, match="phantom"):
        pagerank(edges, vertices, sources=vertices, phantom_vertices=2)


@pytest.mark.skipif(not os.path.isdir(SNB), reason="SNB0.003 reference data absent")
def test_summarize_snb_reference_golden(spark):
    """summarize_property_graph.test:22-27 golden on the bundled SNB0.003
    data: Person/Person_knows_person counts and degree stats.  The
    reference's q25/50/75 use approx_quantile; we use exact percentiles,
    so quantiles are checked against numpy (linear interpolation), the
    count/avg/min/max columns against the reference's literal golden."""
    import numpy as np

    spark.read.parquet(
        "/root/reference/data/SNB0.003/person.parquet"
    ).createOrReplaceTempView("snb_sum_person")
    knows = spark.read.parquet(
        "/root/reference/data/SNB0.003/person_knows_person.parquet"
    )
    knows.createOrReplaceTempView("snb_sum_knows")
    s = PGQSession(spark)
    s.execute("DROP PROPERTY GRAPH IF EXISTS snb_sum")
    s.execute(
        """CREATE PROPERTY GRAPH snb_sum
           VERTEX TABLES (snb_sum_person LABEL Person)
           EDGE TABLES (snb_sum_knows
               SOURCE KEY (Person1Id) REFERENCES snb_sum_person (id)
               DESTINATION KEY (Person2Id) REFERENCES snb_sum_person (id)
               LABEL Knows)"""
    )
    got = {r["table_name"]: r.asDict()
           for r in s.summarize_property_graph("snb_sum").collect()}
    p = got["snb_sum_person"]
    assert p["is_vertex_table"] is True and p["vertex_count"] == 50
    k = got["snb_sum_knows"]
    # literal golden row: 83 edges, 28/29 unique src/dst, 22/21 isolated
    assert k["edge_count"] == 83
    assert k["unique_source_count"] == 28
    assert k["unique_destination_count"] == 29
    assert k["isolated_sources"] == 22
    assert k["isolated_destinations"] == 21
    assert k["avg_in_degree"] == pytest.approx(2.8620689655172415)
    assert k["min_in_degree"] == 1 and k["max_in_degree"] == 10
    assert k["avg_out_degree"] == pytest.approx(2.9642857142857144)
    assert k["min_out_degree"] == 1 and k["max_out_degree"] == 13
    pdf = knows.select("Person1Id", "Person2Id").toPandas()
    in_occ = pdf.groupby("Person2Id").size().to_numpy()
    out_occ = pdf.groupby("Person1Id").size().to_numpy()
    for q, col_i, col_o in [(25, "q25_in_degree", "q25_out_degree"),
                            (50, "q50_in_degree", "q50_out_degree"),
                            (75, "q75_in_degree", "q75_out_degree")]:
        assert k[col_i] == pytest.approx(np.percentile(in_occ, q)), col_i
        assert k[col_o] == pytest.approx(np.percentile(out_occ, q)), col_o


def test_neighbor_sample_cap_nested_deterministic(spark):
    from pyspark.sql import functions as F
    from duckpgq_extension_spark.algorithms import neighbor_sample

    # vertex 0 is a hub with 10 out-edges; 1 has a single edge
    edges = spark.createDataFrame(
        [(0, d) for d in range(10, 20)] + [(1, 5)], "src long, dst long"
    )
    k2 = neighbor_sample(edges, k=2, salt="s")
    per_src = {r["src"]: r["count"] for r in k2.groupBy("src").count().collect()}
    assert per_src == {0: 2, 1: 1}  # hub capped, small vertex untouched

    s2 = {tuple(r) for r in k2.collect()}
    s5 = {tuple(r) for r in neighbor_sample(edges, k=5, salt="s").collect()}
    assert s2 <= s5                                      # nested by k
    assert s2 == {tuple(r) for r in neighbor_sample(edges, k=2, salt="s").collect()}
    # by_dst caps in-degree instead
    fan_in = spark.createDataFrame([(s, 99) for s in range(8)], "src long, dst long")
    got = neighbor_sample(fan_in, k=3, by_dst=True)
    assert got.count() == 3

    import pytest as _pytest
    with _pytest.raises(ValueError):
        neighbor_sample(edges, k=0)


def test_weighted_pagerank_numpy_golden(spark):
    """Weighted PageRank vs numpy power iteration: rank splits across
    out-edges proportional to weight; vertex 0 favors 2 (weight 9) over
    1 (weight 1)."""
    import numpy as np
    from duckpgq_extension_spark.algorithms import pagerank

    edges = spark.createDataFrame(
        [(0, 1, 1.0), (0, 2, 9.0), (1, 0, 1.0), (2, 0, 1.0)],
        "src long, dst long, w double",
    )
    vertices = spark.createDataFrame([(i,) for i in range(3)], "vid long")
    got = {
        r["vid"]: r["pagerank"]
        for r in pagerank(edges, vertices, tol=0.0, max_iter=12, weight_col="w").collect()
    }
    n = 3
    W = np.zeros((n, n))
    for s, d, w in [(0, 1, 1.0), (0, 2, 9.0), (1, 0, 1.0), (2, 0, 1.0)]:
        W[s, d] = w
    r = np.full(n, 1.0 / n)
    for _ in range(12):
        shares = np.divide(r, W.sum(axis=1), out=np.zeros(n), where=W.sum(axis=1) > 0)
        mass = W.T @ shares
        dang = r[W.sum(axis=1) == 0].sum()
        r = 0.15 / n + 0.85 * (mass + dang / n)
    for i in range(n):
        assert got[i] == pytest.approx(r[i], abs=1e-12), i
    assert got[2] > got[1]  # the heavy edge wins


def test_weighted_pagerank_zero_weight_is_dangling(spark):
    """A vertex whose out-weights sum to zero behaves like a dangling
    vertex (its mass spreads uniformly) instead of dividing by zero."""
    from duckpgq_extension_spark.algorithms import pagerank

    edges = spark.createDataFrame(
        [(0, 1, 0.0), (1, 0, 1.0)], "src long, dst long, w double"
    )
    vertices = spark.createDataFrame([(0,), (1,)], "vid long")
    got = {r["vid"]: r["pagerank"]
           for r in pagerank(edges, vertices, tol=0.0, max_iter=8, weight_col="w").collect()}
    assert abs(sum(got.values()) - 1.0) < 1e-9
    assert all(v > 0 for v in got.values())


def test_k_core_peels_tail(spark):
    """A triangle with a pendant chain: the 2-core is exactly the
    triangle — removing the leaf cascades down the chain (the order-free
    fixpoint a single-pass degree filter would miss)."""
    from pyspark.sql import functions as F
    from duckpgq_extension_spark.algorithms import k_core

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4)], "src long, dst long"
    )
    vertices = spark.range(0, 6).select(F.col("id").alias("vid"))  # 5 isolated
    core2 = sorted(r["vid"] for r in k_core(edges, vertices, k=2).collect())
    assert core2 == [0, 1, 2]
    core1 = sorted(r["vid"] for r in k_core(edges, vertices, k=1).collect())
    assert core1 == [0, 1, 2, 3, 4]          # isolated 5 drops at k=1
    assert k_core(edges, vertices, k=3).count() == 0

    import pytest as _pytest
    with _pytest.raises(ValueError):
        k_core(edges, vertices, k=0)


def test_k_core_session_wrapper(pgq):
    """PGQSession.k_core routes through the graph catalog like the other
    whole-graph algorithms.  F1 know graph (undirected view): every
    student has >= 2 distinct neighbors except none — 5-cycle-ish; k=5
    empties it."""
    got = sorted(r[0] for r in pgq.k_core("pg", "Person", "Knows", k=2).collect())
    assert got == [0, 1, 2, 3]  # student 4 has only neighbor 3
    assert pgq.k_core("pg", "Person", "Knows", k=5).count() == 0


def test_ppr_source_validation(spark):
    """Out-of-set sources must not silently zero the ranks: a fully
    disjoint source set raises; a partial one renormalizes over the
    in-set sources (ranks still sum to 1)."""
    from duckpgq_extension_spark.algorithms import pagerank

    edges = spark.createDataFrame([(0, 1), (1, 0)], "src long, dst long")
    vertices = spark.createDataFrame([(0,), (1,)], "vid long")
    outside = spark.createDataFrame([(99,)], "vid long")
    with pytest.raises(ValueError, match="intersects"):
        pagerank(edges, vertices, sources=outside)
    mixed = spark.createDataFrame([(0,), (99,)], "vid long")
    got = pagerank(edges, vertices, tol=0.0, max_iter=8, sources=mixed).collect()
    assert sum(r["pagerank"] for r in got) == pytest.approx(1.0, abs=1e-9)


def test_pagerank_wrapper_weighted_and_personalized(pgq):
    """PGQSession.pagerank routes weight_col through the edge table and
    translates sources from vertex-key space (F1 fixture; createDate as
    a positive weight)."""
    wr = pgq.pagerank("pg", "Person", "Knows", weight_col="createDate")
    assert sum(r["pagerank"] for r in wr.collect()) == pytest.approx(1.0, abs=1e-9)
    uw = {r[0]: r[1] for r in pgq.pagerank("pg", "Person", "Knows").collect()}
    wd = {r[0]: r[1] for r in wr.collect()}
    assert any(abs(uw[k] - wd[k]) > 1e-6 for k in uw)  # weights change ranks

    src = pgq.spark.createDataFrame([(0,)], "id long")
    pr = {r[0]: r[1] for r in
          pgq.pagerank("pg", "Person", "Knows", sources=src, tol=0.0, max_iter=10).collect()}
    assert sum(pr.values()) == pytest.approx(1.0, abs=1e-9)
    # teleporting to 0 concentrates rank on 0's out-neighborhood
    assert pr[4] == min(pr.values())

    from duckpgq_extension_spark.errors import PGQBinderError
    with pytest.raises(PGQBinderError, match="Weight column"):
        pgq.pagerank("pg", "Person", "Knows", weight_col="nope")
    bad = pgq.spark.createDataFrame([(0, 1)], "a long, b long")
    with pytest.raises(PGQBinderError, match="sources"):
        pgq.pagerank("pg", "Person", "Knows", sources=bad)


def test_sampled_neighborhood_layers(spark):
    """Layered fan-out: layer-0 edges originate at seeds only, capped at
    fanouts[0]; layer-1 at NEWLY reached vertices only (visited are not
    re-expanded); draws are deterministic."""
    from pyspark.sql import functions as F
    from duckpgq_extension_spark.algorithms import sampled_neighborhood

    # seed 0 -> hub of 6; every first-layer dst fans out to 10..12
    edges = spark.createDataFrame(
        [(0, d) for d in range(1, 7)]
        + [(d, t) for d in range(1, 7) for t in (10, 11, 12)]
        + [(10, 0)],  # back-edge to a visited vertex still counts as an edge
        "src long, dst long",
    )
    seeds = spark.createDataFrame([(0,)], "vid long")
    got = sampled_neighborhood(edges, seeds, fanouts=[2, 1], salt="t").collect()
    l0 = [r for r in got if r["layer"] == 0]
    l1 = [r for r in got if r["layer"] == 1]
    assert len(l0) == 2 and all(r["src"] == 0 for r in l0)
    reached = {r["dst"] for r in l0}
    assert len(l1) == len(reached) and all(r["src"] in reached for r in l1)

    again = sampled_neighborhood(edges, seeds, fanouts=[2, 1], salt="t").collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, again))

    import pytest as _pytest
    with _pytest.raises(ValueError):
        sampled_neighborhood(edges, seeds, fanouts=[])


def test_weighted_pagerank_rejects_negative_weights(spark):
    from duckpgq_extension_spark.algorithms import pagerank

    edges = spark.createDataFrame(
        [(0, 1, -1.0), (0, 2, 3.0), (1, 0, 1.0)], "src long, dst long, w double"
    )
    vertices = spark.createDataFrame([(0,), (1,), (2,)], "vid long")
    with pytest.raises(ValueError, match="negative"):
        pagerank(edges, vertices, weight_col="w")


# the goldens above again on the DataFrame kernels (their default route
# is the CSR route: every graph here is far below its threshold)
test_pagerank_reference_parity_dataframe_route = on_dataframe_route(
    test_pagerank_reference_parity)
test_wcc_single_component_dataframe_route = on_dataframe_route(test_wcc_single_component)
test_wcc_self_loops_only_dataframe_route = on_dataframe_route(test_wcc_self_loops_only)
test_wcc_isolated_vertex_dataframe_route = on_dataframe_route(test_wcc_isolated_vertex)
test_wcc_long_chain_pointer_jumping_dataframe_route = on_dataframe_route(
    test_wcc_long_chain_pointer_jumping)
test_lcc_goldens_dataframe_route = on_dataframe_route(test_lcc_goldens)
test_lcc_empty_graph_dataframe_route = on_dataframe_route(test_lcc_empty_graph)
test_lcc_star_graph_wedge_bound_dataframe_route = on_dataframe_route(
    test_lcc_star_graph_wedge_bound)
test_personalized_pagerank_numpy_golden_dataframe_route = on_dataframe_route(
    test_personalized_pagerank_numpy_golden)
test_personalized_pagerank_guards_dataframe_route = on_dataframe_route(
    test_personalized_pagerank_guards)
test_ppr_source_validation_dataframe_route = on_dataframe_route(test_ppr_source_validation)
test_weighted_pagerank_numpy_golden_dataframe_route = on_dataframe_route(
    test_weighted_pagerank_numpy_golden)
test_weighted_pagerank_zero_weight_is_dangling_dataframe_route = on_dataframe_route(
    test_weighted_pagerank_zero_weight_is_dangling)
test_weighted_pagerank_rejects_negative_weights_dataframe_route = on_dataframe_route(
    test_weighted_pagerank_rejects_negative_weights)
