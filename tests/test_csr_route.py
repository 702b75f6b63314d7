"""The single-task CSR route of pagerank, WCC, LCC and the path kernels
(operators/paths.routed, operators/csr.py): the same answers as the
DataFrame kernels on seeded random graphs and through GRAPH_TABLE, one
Spark job per warm call, and one DEBUG record per call naming the
route."""

import logging
import random

import pytest

from duckpgq_extension_spark import PGQSession
from duckpgq_extension_spark import algorithms as A
from duckpgq_extension_spark.operators import paths as P
from duckpgq_extension_spark.operators.paths import CSR_MAX_EDGES_CONF

ROUTES = {"csr": str(2**62), "spark": "0"}


def _on_route(spark, route, run):
    spark.conf.set(CSR_MAX_EDGES_CONF, ROUTES[route])
    try:
        return run()
    finally:
        spark.conf.unset(CSR_MAX_EDGES_CONF)


def _random_graph(seed, n=40, m=120):
    """(vertex ids, (src, dst, w) edges) with isolated vertices, self-loops,
    multi-edges, out-of-domain endpoints (ids >= 100), zero weights, NULL
    endpoints and a NULL vertex id."""
    rng = random.Random(seed)
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
    edges += [(v, v) for v in rng.sample(range(n), 4)]
    edges += rng.sample(edges, 10)
    edges += [(rng.randrange(n), 100 + i) for i in range(3)]
    edges += [(100 + i, rng.randrange(n)) for i in range(3)] + [(103, 104)]
    edges += [(rng.randrange(n), None), (None, rng.randrange(n))]
    verts = list(range(n + 5)) + [None]  # n .. n+4 have no edges
    return verts, [(s, d, rng.choice([0.0, 0.5, 1.0, 2.5, 7.0])) for s, d in edges]


def _same_rows(got, want, what):
    assert got.schema == want.schema, what
    assert sorted(map(tuple, got.collect()), key=str) == sorted(
        map(tuple, want.collect()), key=str), what


def _same_ranks(got, want):
    assert got.schema == want.schema
    g, w = ({tuple(r[:-1]): r[-1] for r in df.collect()} for df in (got, want))
    assert g.keys() == w.keys()
    assert max(abs(g[k] - w[k]) for k in w) <= 1e-12


@pytest.mark.parametrize("seed", [1, 2])
def test_routes_agree_on_random_graphs(spark, seed):
    """Pagerank in every mode within 1e-12, WCC and LCC identical, with the
    same schemas (cost: about 40 s per seed, nearly all of it the
    DataFrame route)."""
    verts, el = _random_graph(seed)
    edges = spark.createDataFrame(el, "src long, dst long, w double")
    vertices = spark.createDataFrame([(v,) for v in verts], "vid int")
    sources = spark.createDataFrame([(0,), (3,), (200,)], "vid long")
    calls = {
        "pagerank": lambda: A.pagerank(edges, vertices, tol=1e-4),
        "weighted": lambda: A.pagerank(edges, vertices, tol=0, max_iter=6, weight_col="w"),
        "personalized": lambda: A.pagerank(edges, vertices, tol=0, max_iter=6, sources=sources),
        "phantom": lambda: A.pagerank(edges, vertices, tol=0, max_iter=6, phantom_vertices=2),
        "wcc": lambda: A.weakly_connected_component(edges, vertices),
        "lcc": lambda: A.local_clustering_coefficient(edges, vertices),
    }
    for name, call in calls.items():
        got, want = (_on_route(spark, r, call) for r in ("csr", "spark"))
        if name in ("wcc", "lcc"):
            _same_rows(got, want, name)
        else:
            _same_ranks(got, want)


@pytest.mark.parametrize("seed", [1, 2])
def test_path_routes_agree_on_random_graphs(spark, seed):
    """bfs_distances (all sources, max_hops 0-3; a NULL and a duplicate
    source), bidirectional_length (src == dst, unreachable, duplicate and
    NULL pairs, max_hops) and cheapest_path_distances (max_iters, NULL
    weights) return the same rows and schemas on both routes (cost: about
    35 s per seed, nearly all of it the DataFrame route)."""
    _, el = _random_graph(seed)
    edges = spark.createDataFrame(el, "src long, dst long, weight double")
    nulls = spark.createDataFrame(
        [(s, d, None if i % 7 == 0 else w) for i, (s, d, w) in enumerate(el)],
        "src long, dst long, weight double")
    sources = spark.createDataFrame([(0,), (3,), (None,), (3,), (200,)], "src long")
    pairs = spark.createDataFrame(
        [(0, 5), (0, 0), (3, 104), (None, 3), (0, 5), (7, 12), (100, 1), (45, 46)],
        "src long, dst long")
    calls = {
        **{f"bfs_all_{h}": (lambda h=h: P.bfs_distances(edges, max_hops=h)) for h in range(4)},
        "bfs_sources": lambda: P.bfs_distances(edges, sources),
        "bfs_sources_2": lambda: P.bfs_distances(edges, sources, max_hops=2),
        "bidirectional": lambda: P.bidirectional_length(edges, pairs),
        "bidirectional_2": lambda: P.bidirectional_length(edges, pairs, max_hops=2),
        "cheapest": lambda: P.cheapest_path_distances(edges, sources),
        "cheapest_all_1": lambda: P.cheapest_path_distances(edges, max_iters=1),
        "cheapest_null_weights": lambda: P.cheapest_path_distances(
            nulls, sources, max_iters=4),
    }
    for name, call in calls.items():
        _same_rows(*(_on_route(spark, r, call) for r in ("csr", "spark")), name)


def test_path_routes_agree_through_graph_table(spark, tmp_path, caplog):
    """GRAPH_TABLE ANY SHORTEST with both endpoints pinned
    (bidirectional_length), ANY CHEAPEST ... COST (cheapest_path_distances)
    and ->{1,3} (bfs_distances) answer the same on both routes, and the
    CSR run really took the CSR route (cost: about 40 s)."""
    verts, el = _random_graph(3, n=30, m=80)
    verts = {v for v in verts if v is not None}
    spark.createDataFrame([(v,) for v in verts], "id long").createOrReplaceTempView("csr_pv")
    spark.createDataFrame([(s, d, w) for s, d, w in el if s in verts and d in verts],
                          "s long, d long, w double").createOrReplaceTempView("csr_pe")
    pgq = PGQSession(spark, catalog_path=str(tmp_path / "cat.json"))
    pgq.execute(
        "CREATE PROPERTY GRAPH csr_pg VERTEX TABLES (csr_pv LABEL V) "
        "EDGE TABLES (csr_pe SOURCE KEY (s) REFERENCES csr_pv (id) "
        "DESTINATION KEY (d) REFERENCES csr_pv (id) LABEL E)")
    queries = {
        "bidirectional_length": "SELECT a_id, b_id, plen FROM GRAPH_TABLE(csr_pg MATCH "
        "p = ANY SHORTEST (a:V WHERE a.id = {0})-[e:E]->*(b:V WHERE b.id = {1}) "
        "COLUMNS (a.id AS a_id, b.id AS b_id, path_length(p) AS plen))",
        "cheapest_path_distances": "SELECT b_id, cost FROM GRAPH_TABLE(csr_pg MATCH "
        "p = ANY CHEAPEST (a:V WHERE a.id = {0})-[e:E COST w]->*(b:V) "
        "COLUMNS (b.id AS b_id, path_cost(p) AS cost))",
        "bfs_distances": "SELECT DISTINCT b_id FROM GRAPH_TABLE(csr_pg MATCH "
        "(a:V WHERE a.id = {0})-[e:E]->{{1,3}}(b:V) COLUMNS (b.id AS b_id))",
    }
    for kernel, q in queries.items():
        for a, b in ((0, 7), (3, 3)):
            sql = q.format(a, b)
            caplog.clear()
            with caplog.at_level(logging.DEBUG, logger="duckpgq_extension_spark"):
                got = _on_route(spark, "csr", lambda: sorted(map(tuple, pgq.sql(sql).collect())))
            assert [(r.kernel, r.route) for r in caplog.records
                    if hasattr(r, "route")] == [(kernel, "csr")], sql
            want = _on_route(spark, "spark", lambda: sorted(map(tuple, pgq.sql(sql).collect())))
            assert got == want, sql


@pytest.mark.parametrize("keys", ["string", "composite"])
def test_routes_agree_through_the_api(spark, tmp_path, keys):
    """String and composite vertex keys reach the kernels as xxhash64
    surrogate ids; the table functions answer the same on both routes
    (cost: about 15 s per key kind)."""
    verts, el = _random_graph(7, n=30, m=80)
    el = [(s, d, w) for s, d, w in el if s is not None and d is not None]
    if keys == "string":
        spark.createDataFrame([(f"v{v}",) for v in verts if v is not None],
                              "code string").createOrReplaceTempView("csr_v")
        spark.createDataFrame([(f"v{s}", f"v{d}") for s, d, _ in el],
                              "s string, d string").createOrReplaceTempView("csr_e")
        vkey, src, dst = "code", "s", "d"
    else:
        spark.createDataFrame([(v % 7, f"k{v // 7}") for v in verts if v is not None],
                              "a int, b string").createOrReplaceTempView("csr_v")
        spark.createDataFrame([(s % 7, f"k{s // 7}", d % 7, f"k{d // 7}") for s, d, _ in el],
                              "sa int, sb string, da int, db string").createOrReplaceTempView("csr_e")
        vkey, src, dst = "a, b", "sa, sb", "da, db"
    pgq = PGQSession(spark, catalog_path=str(tmp_path / "cat.json"))
    pgq.execute(
        f"CREATE PROPERTY GRAPH csr_g VERTEX TABLES (csr_v LABEL V) "
        f"EDGE TABLES (csr_e SOURCE KEY ({src}) REFERENCES csr_v ({vkey}) "
        f"DESTINATION KEY ({dst}) REFERENCES csr_v ({vkey}) LABEL E)")
    for fn in (pgq.weakly_connected_component, pgq.local_clustering_coefficient):
        got, want = (_on_route(spark, r, lambda: sorted(
            map(tuple, fn("csr_g", "V", "E").collect()), key=str)) for r in ("csr", "spark"))
        assert got == want, fn.__name__
    _same_ranks(*(_on_route(spark, r, lambda: pgq.pagerank("csr_g", "V", "E", tol=1e-3))
                  for r in ("csr", "spark")))


def test_csr_route_one_job_per_warm_call(spark):
    """With the edge frame cached, a CSR-route call is one Spark job: the
    route decision reads the cached row count (AQE off, since AQE job
    counts vary run to run; cost: about 10 s)."""
    edges = spark.createDataFrame([(i, (i * 7) % 50, i % 3) for i in range(200)],
                                  "src long, dst long, weight long")
    vertices = spark.range(55).toDF("vid")
    sources = spark.range(0, 55, 5).toDF("src")
    pairs = spark.createDataFrame([(0, 49), (3, 3), (7, 60)], "src long, dst long")
    calls = {
        "pagerank": lambda: A.pagerank(edges, vertices),
        "wcc": lambda: A.weakly_connected_component(edges, vertices),
        "lcc": lambda: A.local_clustering_coefficient(edges, vertices),
        "bfs": lambda: P.bfs_distances(edges, sources, max_hops=3),
        "bfs_all": lambda: P.bfs_distances(edges),
        "bidirectional": lambda: P.bidirectional_length(edges, pairs),
        "cheapest": lambda: P.cheapest_path_distances(edges, sources),
    }
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        for name, call in calls.items():
            _on_route(spark, "csr", lambda: call().collect())  # warm
            jobs0 = dag.nextJobId()
            _on_route(spark, "csr", lambda: call().collect())
            assert dag.nextJobId() - jobs0 == 1, name
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)


def test_one_route_record_per_call(spark, caplog):
    """Each call logs one DEBUG record with its route, the reason, the
    edge count the decision read, the threshold and the seconds; a mode
    the CSR route does not implement (non-integral ids, path arrays, a
    row cap, mixed key types) says so (cost: about 15 s)."""
    edges = spark.createDataFrame([(0, 1), (1, 2), (2, 0), (2, 3)], "src long, dst long")
    vertices = spark.range(5).toDF("vid")
    kernels = {
        "pagerank": lambda: A.pagerank(edges, vertices, tol=0, max_iter=2),
        "weakly_connected_component": lambda: A.weakly_connected_component(edges, vertices),
        "local_clustering_coefficient": lambda: A.local_clustering_coefficient(edges, vertices),
        "bfs_distances": lambda: P.bfs_distances(edges, max_hops=2),
        "bidirectional_length": lambda: P.bidirectional_length(
            edges, spark.createDataFrame([(0, 3)], "src long, dst long")),
        "cheapest_path_distances": lambda: P.cheapest_path_distances(
            edges.withColumn("weight", edges.src), max_iters=2),
    }
    for route, reason in (("csr", "threshold"), ("spark", "forced")):
        for kernel, call in kernels.items():
            caplog.clear()
            with caplog.at_level(logging.DEBUG, logger="duckpgq_extension_spark"):
                _on_route(spark, route, call)
            recs = [r for r in caplog.records if hasattr(r, "route")]
            assert len(recs) == 1, (route, kernel)
            rec = recs[0]
            assert (rec.kernel, rec.route, rec.reason) == (kernel, route, reason)
            assert rec.threshold == int(ROUTES[route]) and rec.seconds >= 0
            # the CSR-route call counted the doubled frame of WCC and
            # LCC, or the edge frame the others read (pagerank's
            # persisted frame keeps the count of its build)
            assert rec.n_edges == (8 if kernel in ("weakly_connected_component",
                                                   "local_clustering_coefficient") else 4)
    strs = spark.createDataFrame([("a", "b"), ("b", "c")], "src string, dst string")
    caplog.clear()
    with caplog.at_level(logging.DEBUG, logger="duckpgq_extension_spark"):
        got = _on_route(spark, "csr", lambda: A.weakly_connected_component(
            strs, spark.createDataFrame([("a",), ("c",)], "vid string")))
    assert sorted(map(tuple, got.collect())) == [("a", "a"), ("c", "a")]
    (rec,) = [r for r in caplog.records if hasattr(r, "route")]
    assert (rec.route, rec.reason) == ("spark", "non-integral keys")
    # path modes the CSR kernels do not implement name themselves
    ided = edges.withColumn("edge_id", edges.src)
    int_sources = spark.createDataFrame([(0,)], "src int")
    for call, reason in (
            (lambda: P.bfs_distances(ided, track_paths=True), "track_paths"),
            (lambda: P.bfs_distances(edges, max_rows=100), "max_rows"),
            (lambda: P.bfs_distances(edges, int_sources), "key types differ")):
        caplog.clear()
        with caplog.at_level(logging.DEBUG, logger="duckpgq_extension_spark"):
            _on_route(spark, "csr", call)
        (rec,) = [r for r in caplog.records if hasattr(r, "route")]
        assert (rec.route, rec.reason) == ("spark", reason)
