"""Path-finding golden tests, ported from the reference
test/sql/path_finding/{kleene_star,shortest_path}.test.

Path-content convention: the reference emits DuckDB rowids in
element_id/vertices/edges lists; this engine emits natural vertex keys and
deterministic edge ids instead (documented in SURVEY.md §7 "rowid
semantics").  Tests therefore assert lengths + vertex keys, not edge ids.
"""

import pytest
from pyspark.sql import Row

from duckpgq_extension_spark import PGQSession
from duckpgq_extension_spark.errors import PGQBinderError, PGQConstraintError

from .conftest import on_dataframe_route, rows


@pytest.fixture(scope="session")
def kleene(spark):
    """F2 fixture: 3 nodes, EMPTY edge table (kleene_star.test:6-24)."""
    spark.createDataFrame([Row(id=1), Row(id=2), Row(id=3)], "id int").createOrReplaceTempView(
        "nodes"
    )
    spark.createDataFrame([], "src int, dst int").createOrReplaceTempView("edges")
    s = PGQSession(spark)
    s.execute(
        """CREATE PROPERTY GRAPH testgraph
           VERTEX TABLES ( nodes LABEL N )
           EDGE TABLES ( edges SOURCE KEY (src) REFERENCES nodes (id)
                         DESTINATION KEY (dst) REFERENCES nodes (id) LABEL E )"""
    )
    return s


def test_kleene_star_zero_length_paths(kleene):
    df = kleene.graph_table(
        """testgraph MATCH p = ANY SHORTEST (n1:N)-[e:E]->*(n2:N)
           COLUMNS (n1.id AS a, n2.id AS b, element_id(p) AS eid,
                    edges(p) AS path_edges, path_length(p) AS plen)"""
    )
    got = rows(df)
    # zero-length paths [v] with length 0 (kleene_star.test:26-34)
    assert got == [(1, 1, [1], [], 0), (2, 2, [2], [], 0), (3, 3, [3], [], 0)]


def test_kleene_plus_empty(kleene):
    df = kleene.graph_table(
        """testgraph MATCH p = ANY SHORTEST (n1:N)-[e:E]->+(n2:N)
           COLUMNS (n1.id AS a, path_length(p) AS plen)"""
    )
    assert rows(df) == []


def test_kleene_bounds(kleene):
    for quant, expect_diag in [("{1,3}", 0), ("{0,3}", 3), ("{,3}", 3), ("{,}", 3)]:
        df = kleene.graph_table(
            f"""testgraph MATCH p = ANY SHORTEST (n1:N)-[e:E]->{quant}(n2:N)
               COLUMNS (n1.id AS a, n2.id AS b)"""
        )
        assert len(rows(df)) == expect_diag, quant


def test_lower_greater_than_upper(kleene):
    with pytest.raises(PGQConstraintError):
        kleene.graph_table(
            """testgraph MATCH p = ANY SHORTEST (n1:N)-[e:E]->{3,1}(n2:N)
               COLUMNS (n1.id AS a)"""
        )


def test_bare_path_variable_rejected(pgq):
    with pytest.raises(PGQBinderError):
        pgq.graph_table(
            """pg MATCH p = ANY SHORTEST (a:Person)-[k:knows]->{1,3}(b:Person)
               COLUMNS (p, a.name as name)"""
        )


def test_any_shortest_plain_edge(pgq):
    df = pgq.graph_table(
        """pg MATCH ANY SHORTEST (a:Person)-[s:StudyAt]->(b:School)
           WHERE a.name = 'Daniel'
           COLUMNS (a.name as name, b.name as school)"""
    )
    assert rows(df) == [("Daniel", "VU")]


def test_shortest_quantified_single_source(pgq):
    df = pgq.graph_table(
        """pg MATCH p = ANY SHORTEST (a:Person WHERE a.name = 'Daniel')-[k:knows]->{1,3}(b:Person)
           COLUMNS (a.name as name, b.name as b_name, path_length(p) AS plen)"""
    )
    assert rows(df) == [
        ("Daniel", "Gabor", 1),
        ("Daniel", "Peter", 1),
        ("Daniel", "Tavneet", 1),
    ]


def test_shortest_all_pairs_lengths(pgq):
    """All-pairs {1,3} lengths from shortest_path.test:63-86 (lengths only;
    vertex contents checked via vertices(p))."""
    df = pgq.graph_table(
        """pg MATCH p = ANY SHORTEST (a:Person)-[k:knows]->{1,3}(b:Person)
           COLUMNS (a.name as name, b.name as b_name, path_length(p) AS plen,
                    vertices(p) AS vs)"""
    )
    got = {(r[0], r[1]): (r[2], r[3]) for r in rows(df)}
    expected_len = {
        ("Daniel", "Gabor"): 1,
        ("Daniel", "Peter"): 1,
        ("Daniel", "Tavneet"): 1,
        ("David", "Daniel"): 2,
        ("David", "Gabor"): 3,
        ("David", "Peter"): 1,
        ("David", "Tavneet"): 3,
        ("Gabor", "Daniel"): 2,
        ("Gabor", "Peter"): 1,
        ("Gabor", "Tavneet"): 3,
        ("Peter", "Daniel"): 1,
        ("Peter", "Gabor"): 2,
        ("Peter", "Tavneet"): 2,
        ("Tavneet", "Daniel"): 2,
        ("Tavneet", "Gabor"): 1,
        ("Tavneet", "Peter"): 1,
    }
    assert {k: v[0] for k, v in got.items()} == expected_len
    for (a, b), (plen, vs) in got.items():
        assert len(vs) == plen + 1
    # spot-check a unique path: David -> Peter -> Daniel
    assert got[("David", "Daniel")][1] == [4, 3, 0]


def test_var_length_without_shortest(pgq):
    # plain {1,2} quantifier: pairs whose shortest distance is in [1,2]
    df = pgq.graph_table(
        """pg MATCH (a:Person)-[k:knows]->{1,2}(b:Person)
           WHERE a.name = 'David'
           COLUMNS (a.name AS a_name, b.name AS b_name, k.dist AS dist)"""
    )
    assert rows(df) == [("David", "Daniel", 2), ("David", "Peter", 1)]


@pytest.fixture(scope="session")
def und_pg(spark):
    """Exact undirected_paths.test fixture (9 edges incl. (2,4))."""
    spark.createDataFrame(
        [Row(id=i, name=n) for i, n in enumerate(["Daniel", "Tavneet", "Gabor", "Peter", "David"])],
        "id long, name string",
    ).createOrReplaceTempView("und_student")
    spark.createDataFrame(
        [
            Row(src=s, dst=d, id=i)
            for s, d, i in [
                (0, 1, 10), (0, 2, 11), (0, 3, 12), (3, 0, 13), (1, 2, 14),
                (1, 3, 15), (2, 3, 16), (4, 3, 17), (2, 4, 18),
            ]
        ],
        "src long, dst long, id long",
    ).createOrReplaceTempView("und_know")
    s = PGQSession(spark)
    s.execute(
        """CREATE PROPERTY GRAPH und_pg
           VERTEX TABLES ( und_student LABEL Person )
           EDGE TABLES ( und_know SOURCE KEY (src) REFERENCES und_student (id)
                         DESTINATION KEY (dst) REFERENCES und_student (id) LABEL Knows )"""
    )
    return s


def test_undirected_any_shortest_goldens(und_pg):
    """undirected_paths.test goldens: ANY SHORTEST -[e]- * from one seed."""
    df = und_pg.graph_table(
        """und_pg MATCH o = ANY SHORTEST (a:Person WHERE a.id = 0)-[e:Knows]-*(b:Person)
           COLUMNS (a.id as a_id, b.id as b_id, path_length(o) AS plen)"""
    )
    assert rows(df) == [(0, 0, 0), (0, 1, 1), (0, 2, 1), (0, 3, 1), (0, 4, 2)]
    df4 = und_pg.graph_table(
        """und_pg MATCH o = ANY SHORTEST (a:Person WHERE a.id = 4)-[e:Knows]-*(b:Person)
           COLUMNS (a.id as a_id, b.id as b_id, path_length(o) AS plen)"""
    )
    assert rows(df4) == [(4, 0, 2), (4, 1, 2), (4, 2, 1), (4, 3, 1), (4, 4, 0)]


def test_shortest_from_nonexistent_source(pgq):
    # undirected_paths.test: WHERE a.id = 999 -> empty result
    df = pgq.graph_table(
        """pg MATCH o = ANY SHORTEST (a:Person WHERE a.id = 999)-[e:Knows]-*(b:Person)
           COLUMNS (a.id as a_id, b.id as b_id)"""
    )
    assert rows(df) == []


def test_shortest_left_and_both_rejected(pgq):
    from duckpgq_extension_spark.errors import PGQNotImplementedError

    # undirected_paths.test:52-72 parity: no shortest path over <- or <->
    for arrow in ("<-[e:Knows]-*", "<-[e:Knows]->*"):
        with pytest.raises(PGQNotImplementedError):
            pgq.graph_table(
                f"""pg MATCH o = ANY SHORTEST (a:Person){arrow}(b:Person)
                    COLUMNS (a.id as a_id)"""
            )


def test_undirected_var_length(pgq):
    # undirected 1-hop reach from David: only Peter; 2 hops reaches rest
    df = pgq.graph_table(
        """pg MATCH (a:Person)-[k:knows]-{1,2}(b:Person)
           WHERE a.name = 'David'
           COLUMNS (b.name AS b_name)"""
    )
    assert rows(df) == [("Daniel",), ("Gabor",), ("Peter",), ("Tavneet",)]


def test_temporal_reachability_respects_time(spark):
    """1->2@5, 2->3@3: from 1 the 2->3 edge is in the past on arrival, so
    3 is unreachable; from 2 it is fine.  A later parallel edge 2->3@7
    re-opens the path and the EARLIEST valid arrival wins."""
    from duckpgq_extension_spark.operators.paths import temporal_reachability

    edges = spark.createDataFrame(
        [(1, 2, 5), (2, 3, 3)], "src long, dst long, ts long"
    )
    seeds = spark.createDataFrame([(1,), (2,)], "vid long")
    got = {(r.src, r.dst): r.arrival for r in
           temporal_reachability(edges, seeds).collect()}
    assert got == {(1, 1): 0, (1, 2): 5, (2, 2): 0, (2, 3): 3}
    edges2 = spark.createDataFrame(
        [(1, 2, 5), (2, 3, 3), (2, 3, 7)], "src long, dst long, ts long"
    )
    got2 = {(r.src, r.dst): r.arrival for r in
            temporal_reachability(edges2, seeds).collect()}
    assert got2[(1, 3)] == 7 and got2[(2, 3)] == 3


def test_temporal_reachability_start_ts(spark):
    from duckpgq_extension_spark.operators.paths import temporal_reachability

    edges = spark.createDataFrame([(1, 2, 5)], "src long, dst long, ts long")
    seeds = spark.createDataFrame([(1,)], "vid long")
    got = {(r.src, r.dst): r.arrival for r in
           temporal_reachability(edges, seeds, start_ts=6).collect()}
    assert got == {(1, 1): 6}  # the only edge departs before we start


def test_cheapest_path_tracked_golden(spark):
    """Diamond with equal-cost branches: cost-2 paths [1,2,4] and [1,3,4]
    tie — the lexicographically smaller array wins; the direct w=5 edge
    loses.  Unreachable-from and the zero-cost self row behave like the
    length-only variant."""
    from duckpgq_extension_spark.operators.paths import cheapest_path_distances

    edges = spark.createDataFrame(
        [(1, 2, 1), (2, 4, 1), (1, 3, 1), (3, 4, 1), (1, 4, 5)],
        "src long, dst long, weight long",
    )
    seeds = spark.createDataFrame([(1,)], "src long")
    got = {(r.src, r.dst): (r.cost, r.path) for r in
           cheapest_path_distances(edges, sources=seeds, track_paths=True).collect()}
    assert got[(1, 1)] == (0.0, [1])
    assert got[(1, 4)] == (2.0, [1, 2, 4])
    assert got[(1, 2)] == (1.0, [1, 2]) and got[(1, 3)] == (1.0, [1, 3])
    # tracked costs == length-only costs on a larger pseudo-random graph
    el = [((i * 13 + 3) % 30, (i * 7 + j) % 30, (i + j) % 5 + 1)
          for i in range(40) for j in range(2)]
    el = [(s, d, w) for s, d, w in el if s != d]
    edges2 = spark.createDataFrame(el, "src long, dst long, weight long")
    seeds2 = spark.createDataFrame([(0,), (1,)], "src long")
    plain = {(r.src, r.dst): r.cost for r in
             cheapest_path_distances(edges2, sources=seeds2).collect()}
    tracked = {(r.src, r.dst): (r.cost, r.path) for r in
               cheapest_path_distances(edges2, sources=seeds2, track_paths=True).collect()}
    assert set(plain) == set(tracked)
    wmap = {}
    for s, d, w in el:
        wmap[(s, d)] = min(w, wmap.get((s, d), 99))
    for k, c in plain.items():
        cost, path = tracked[k]
        assert cost == c, k
        # the reported path must exist and sum to the reported cost
        assert path[0] == k[0] and path[-1] == k[1]
        assert sum(wmap[(a, b)] for a, b in zip(path, path[1:])) == cost, k


def test_bfs_max_hops_clamps_exactly(spark):
    """Quantifier upper bounds compile to max_hops, so an off-by-one here
    corrupts `{l,u}` matches: every pair within max_hops keeps its exact
    distance and nothing beyond it appears."""
    from duckpgq_extension_spark.operators.paths import bfs_distances

    # chain + diamond + 2-cycle: exercises deep frontiers, ties, cycles
    el = [(i, i + 1) for i in range(9)] + [(0, 5), (5, 2), (7, 3), (3, 7)]
    edges = spark.createDataFrame(el, "src long, dst long")
    base = {(r.src, r.dst): r.dist for r in bfs_distances(edges).collect()}
    for mh in (1, 2, 3):
        capped = {k: v for k, v in base.items() if v <= mh}
        got = {(r.src, r.dst): r.dist
               for r in bfs_distances(edges, max_hops=mh).collect()}
        assert got == capped, f"max_hops={mh} not exact"


test_bfs_max_hops_clamps_exactly_dataframe_route = on_dataframe_route(
    test_bfs_max_hops_clamps_exactly)


def test_temporal_index_route_exact(spark, tmp_path):
    """The standing-index route prunes each round's adjacency to
    `ts >= min improved arrival`; that bound is exact, so it returns the
    in-memory kernel's (src, dst, arrival) fixpoint, including equal-ts
    chains right at the bound and multi-seed frontiers."""
    from duckpgq_extension_spark.operators.paths import (
        temporal_reachability,
        temporal_reachability_from_index,
        write_temporal_index,
    )

    edges = spark.createDataFrame(
        [(1, 2, 5), (2, 3, 5), (3, 4, 4),   # equal-ts chain + dead drop
         (1, 3, 2), (3, 4, 9), (4, 5, 1),   # shortcut with later fix-up
         (2, 5, 7), (5, 1, 8), (9, 1, 3)],
        "src long, dst long, ts long")
    seeds = spark.createDataFrame([(1,), (9,)], "vid long")
    want = sorted(map(tuple, temporal_reachability(edges, seeds).collect()))
    for n_buckets in (2, 3):
        idx = str(tmp_path / f"tidx{n_buckets}")
        write_temporal_index(edges, idx, ts_col="ts", n_buckets=n_buckets)
        got = sorted(map(tuple, temporal_reachability_from_index(
            spark, idx, seeds).collect()))
        assert got == want, n_buckets


def _round_plans(monkeypatch, run):
    """Executed plans of the fixpoint rounds `run()` materializes (the
    frames carrying the round's Observation)."""
    from duckpgq_extension_spark.operators import paths

    plans = []
    real = paths.materialize

    def record(df):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return real(df)

    monkeypatch.setattr(paths, "materialize", record)
    run()
    return [p for p in plans if "CollectMetrics" in p]


def _operator_names(plan):
    import re

    names = []
    for line in plan.splitlines():
        m = re.match(r"^[\s:+\-|]*(?:\*\(\d+\)\s*)?([A-Za-z]+)", line)
        if m:
            names.append(m.group(1))
    return names


@pytest.mark.usefixtures("dataframe_route")  # pins of the DataFrame kernels
def test_fixpoint_round_plans(spark, tmp_path, monkeypatch):
    """Bellman-Ford and the temporal routes share one union/groupBy-min
    merge: a temporal round has no FullOuter join, and a steady-state
    length-only Bellman-Ford round keeps its shape of one sort-merge join
    (2 Exchanges + 2 Sorts) plus the merge's single Exchange."""
    from duckpgq_extension_spark.operators.paths import (
        cheapest_path_distances,
        temporal_reachability,
        temporal_reachability_from_index,
        write_temporal_index,
    )

    el = [(i, i + 1, (i * 3) % 5 + 1) for i in range(9)] + [
        (0, 5, 2), (5, 2, 1), (7, 3, 4), (3, 7, 1)]
    edges = spark.createDataFrame(el, "src long, dst long, ts long")
    seeds = spark.createDataFrame([(0,), (7,)], "vid long")
    idx = str(tmp_path / "tidx")
    write_temporal_index(edges, idx, ts_col="ts", n_buckets=4)
    for run in (
        lambda: temporal_reachability(edges, seeds).collect(),
        lambda: temporal_reachability_from_index(spark, idx, seeds).collect(),
    ):
        rounds = _round_plans(monkeypatch, run)
        assert len(rounds) >= 2
        for plan in rounds:
            assert "FullOuter" not in plan, plan

    wedges = edges.withColumnRenamed("ts", "weight")
    rounds = _round_plans(monkeypatch, lambda: cheapest_path_distances(
        wedges, sources=seeds.toDF("src")).collect())
    assert len(rounds) >= 3
    names = _operator_names(rounds[1])  # round 1 also plans the seed frame
    assert names.count("Exchange") == 3, rounds[1]
    assert names.count("Sort") == 2, rounds[1]
    assert [n for n in names if n.endswith("Join")] == ["SortMergeJoin"], rounds[1]


def test_temporal_index_roundtrip_and_pruning(spark, tmp_path):
    """r11 (VERDICT r10 item 1): write_temporal_index +
    temporal_reachability_from_index must (a) return exactly what the
    in-memory kernel returns on real data, and (b) turn the per-round
    monotone arrival bound into PartitionFilters on the ts-bucket
    column so bucket directories below the bound are never opened."""
    from pyspark.sql import functions as F

    from duckpgq_extension_spark.operators.paths import (
        _temporal_index_scan,
        temporal_reachability,
        temporal_reachability_from_index,
        write_temporal_index,
    )

    # same edge set as entry_queries.EDGES_SQL + q_temporal_reach, built
    # straight from the raw parquet (c_edges is a setup() temp view)
    ncust = spark.read.parquet("/root/testdata/sf0.001/customer.parquet").count()
    edges = spark.read.parquet("/root/testdata/sf0.001/orders.parquet").select(
        F.col("o_custkey").alias("src"),
        (F.col("o_orderkey") % ncust).alias("dst"),
        (F.col("o_orderkey") % 365).alias("ts"),
    )
    seeds = (
        spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
        .where(F.col("c_custkey") < 5)
        .select(F.col("c_custkey").cast("long"))
    )
    idx = str(tmp_path / "tidx")
    write_temporal_index(edges, idx, ts_col="ts", n_buckets=16)
    got = temporal_reachability_from_index(spark, idx, seeds)
    want = temporal_reachability(edges, seeds)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    # plan pin: a mid-range bound must appear as a PartitionFilter on __tsb
    meta = spark.read.parquet(f"{idx}/meta").first()
    lo, width = int(meta["lo"]), int(meta["width"])
    bound = lo + 5 * width  # bucket index 5 of 16
    scan = _temporal_index_scan(spark, idx, lo, width, bound)
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "__tsb" in plan, plan[:1500]
    # and the pruned scan equals the unpruned scan row-filtered in memory
    full = _temporal_index_scan(spark, idx, lo, width, None)
    assert sorted(map(tuple, scan.collect())) == sorted(
        map(tuple, full.where(F.col("__ts") >= bound).collect())
    )


def test_temporal_index_scan_prunes_files(spark, tmp_path):
    """The bucket predicate must reduce the files actually read (file-level
    pruning, not just a row filter)."""
    from pyspark.sql import functions as F

    from duckpgq_extension_spark.operators.paths import (
        _temporal_index_scan,
        write_temporal_index,
    )

    edges = spark.createDataFrame(
        [(i, i + 1, i % 64) for i in range(4096)], "src long, dst long, ts long"
    )
    idx = str(tmp_path / "tidx2")
    write_temporal_index(edges, idx, ts_col="ts", n_buckets=8)

    pruned = _temporal_index_scan(spark, idx, 0, 8, 32)  # buckets >= 4
    full = _temporal_index_scan(spark, idx, 0, 8, None)

    def n_partitions(df):
        # FileSourceScanExec.selectedPartitions is the post-pruning list of
        # bucket directories the scan will actually open
        leaf = df._jdf.queryExecution().executedPlan().collectLeaves().apply(0)
        # Spark 4: selectedPartitions is a ScanFileListing with the
        # post-pruning partition count
        return leaf.selectedPartitions().partitionCount()

    # bound 32 of ts-range 0..63 over 8 buckets -> buckets 4..7 only
    assert n_partitions(full) == 8
    assert n_partitions(pruned) == 4
    assert pruned.count() == edges.where(F.col("ts") >= 32).count()


def test_standing_index_keyed_on_source_files(spark, tmp_path, monkeypatch):
    """A standing index is keyed on the source files, not the directory
    name: data regenerated under the same basename is served fresh, an
    unchanged tier reuses its index, and no temporary build dir is left
    behind after publishing."""
    import os

    from duckpgq_extension_spark import entry_queries as EQ
    from duckpgq_extension_spark.operators import paths as P

    monkeypatch.setattr(EQ, "STANDING_INDEX_ROOT", str(tmp_path / "idx"))
    sf = tmp_path / "sf_x"
    src = str(sf / "edges.parquet")
    seeds = spark.createDataFrame([(1,)], "vid long")
    builds = []

    def build(path):
        builds.append(path)
        P.write_temporal_index(spark.read.parquet(src), path, n_buckets=2)

    def generate(rows):
        spark.createDataFrame(rows, "src long, dst long, ts long") \
            .coalesce(1).write.mode("overwrite").parquet(src)

    def reach():
        path = EQ.standing_index("temporal", str(sf), build)
        got = P.temporal_reachability_from_index(spark, path, seeds).collect()
        return path, sorted(map(tuple, got))

    generate([(1, 2, 1), (2, 3, 2)])
    p1, r1 = reach()
    assert r1 == [(1, 1, 0), (1, 2, 1), (1, 3, 2)]
    assert reach()[0] == p1 and len(builds) == 1
    generate([(1, 4, 1)])
    p2, r2 = reach()
    assert p2 != p1 and len(builds) == 2
    assert r2 == [(1, 1, 0), (1, 4, 1)]
    assert os.path.basename(p2).startswith("sf_x-")
    assert not [n for n in os.listdir(os.path.dirname(p2)) if ".tmp-" in n]


def _kernel_profile(spark, monkeypatch, run):
    """(materialize calls, Spark jobs, observed rounds) of `run()` from a
    cold adjacency cache.  Observed rounds are run-length encoded
    [(round, repeats)], a round being its Observation prefix, then its
    plan's Exchanges, joins, aggregates and total operators."""
    import itertools
    import re

    from duckpgq_extension_spark.operators import paths

    paths.clear_prep_cache(spark)
    calls = []
    real = paths.materialize

    def count(df):
        calls.append(1)
        return real(df)

    monkeypatch.setattr(paths, "materialize", count)
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    jobs0 = dag.nextJobId()
    plans = _round_plans(monkeypatch, run)
    jobs = dag.nextJobId() - jobs0
    monkeypatch.undo()
    rounds = []
    for plan in plans:
        names = _operator_names(plan)
        rounds.append((
            re.search(r"__pgq_([a-z]+)_\d+", plan).group(1),
            names.count("Exchange"),
            sum(n.endswith("Join") for n in names),
            sum(n.endswith("Aggregate") for n in names),
            len(names),
        ))
    return len(calls), jobs, [(r, len(list(g))) for r, g in itertools.groupby(rounds)]


# Measured on the hand-rolled loops the round drivers replaced: moving a
# kernel onto `paths.fixpoint` or `paths.frontier_loop` must keep its
# rounds, jobs and round plans.  pagerank and k_core count their vertex
# frame in its checkpoint job (the leading "ckpt" round), not in a
# separate count() job.  The SCC backward reach no longer re-materializes
# its members set per level (one job and one materialize less per level).
_KERNEL_PROFILES = {
    "pagerank_tol": (40, 272, [(("ckpt", 0, 0, 2, 6), 1), (("pr", 2, 1, 2, 20), 1),
                               (("pr", 4, 3, 4, 36), 2), (("pr", 5, 3, 4, 38), 36)]),
    "pagerank_fixed": (7, 41, [(("ckpt", 0, 0, 2, 6), 1), (("pr", 2, 1, 2, 20), 1)]),
    "wcc_chain": (26, 28, [(("ckpt", 4, 4, 2, 34), 8), (("wccf", 7, 4, 4, 38), 1),
                           (("wccf", 5, 4, 4, 36), 1), (("wccj", 2, 1, 0, 10), 4)]),
    "k_core": (5, 13, [(("ckpt", 0, 0, 2, 6), 1), (("kcore", 1, 2, 2, 17), 1),
                       (("kcore", 5, 2, 2, 23), 1)]),
    "label_propagation": (7, 38, []),
    "hits_fixed": (5, 46, []),
    "hits_tol": (36, 316, [(("hits", 10, 8, 6, 64), 1), (("hits", 8, 12, 6, 84), 16)]),
    "bellman_ford": (6, 29, [(("fix", 4, 1, 6, 22), 1), (("fix", 3, 1, 2, 19), 4)]),
    # 38 levels: the anti-join's visited union grows one frame per level
    # and is re-materialized after levels 10, 20 and 30
    "bfs_chain": (44, 45, [(("bfs", 2, 2, 2, 16), 1)] + [
        (("bfs", 3, 2, 2, n), 1) for n in [*range(20, 37, 2)]
        + [17, *range(20, 37, 2)] * 2 + [17, *range(20, 35, 2)]]),
    "bfs_track_paths": (7, 8, [(("bfs", 2, 2, 2, 17), 1)] + [
        (("bfs", 3, 2, 2, n), 1) for n in range(21, 28, 2)]),
    "bfs_k2": (10, 11, [(("bfs", 2, 2, 2, 19), 1)] + [
        (("bfs", 3, 2, 2, n), 1) for n in range(23, 36, 2)]),
    "bfs_all_shortest": (7, 8, [(("bfs", 3, 2, 2, 17), 1)] + [
        (("bfs", 4, 2, 2, n), 1) for n in range(21, 28, 2)]),
    "all_paths_acyclic": (8, 9, [(("allpaths", 0, 1, 0, 7), 1), (("allpaths", 1, 1, 0, 8), 5)]),
    "all_paths_trail": (11, 12, [(("allpaths", 0, 1, 0, 7), 1), (("allpaths", 1, 1, 0, 8), 8)]),
    "all_paths_simple": (8, 9, [(("allpaths", 0, 1, 0, 7), 1), (("allpaths", 1, 1, 0, 9), 5)]),
    # seeds, then side levels alternating with meet merges; an exhausted
    # side's empty level is not merged into its visited set
    "bidirectional": (20, 21, [(("ckpt", 1, 0, 2, 6), 1)] + [
        (("bidir", *r), 1) for r in [
            (2, 0, 4, 15), (3, 2, 2, 20), (5, 2, 2, 24), (6, 4, 4, 37),
            (4, 2, 2, 21), (6, 4, 4, 39), (4, 2, 2, 21), (6, 4, 4, 41),
            (4, 2, 2, 21), (6, 4, 4, 43), (9, 10, 10, 76), (4, 2, 2, 26),
            (6, 4, 4, 37), (4, 2, 2, 26), (6, 4, 4, 39), (4, 2, 2, 26),
            (6, 4, 4, 41)]]),
    "shortest_path_counts": (7, 8, [(("pathcounts", 2, 2, 2, 18), 1)] + [
        (("pathcounts", 3, 2, 2, n), 1) for n in range(22, 29, 2)]),
    "betweenness": (12, 16, [(("ckpt", 0, 0, 2, 5), 1), (("betweenness", 1, 2, 2, 13), 1)] + [
        (("betweenness", 3, 2, 2, n), 1) for n in range(20, 27, 2)]),
    # the vertex count, trim, colouring rounds, the backward reach (whose
    # members set is a union of checkpointed levels), then the count of
    # the remaining vertices; both counts ride their checkpoint's job
    "scc": (19, 36, [(("ckpt", 0, 0, 2, 5), 1), (("ckpt", 2, 2, 0, 13), 1),
                     (("ckpt", 0, 2, 0, 10), 1), (("scc", 1, 1, 2, 13), 4)] + [
        (("scc", 3, 3, 2, n), 1) for n in (20, 22, 23, 24, 25)] + [
        (("ckpt", 1, 1, 0, 7), 1)]),
}


@pytest.mark.usefixtures("dataframe_route")  # pins of the DataFrame kernels
def test_fixpoint_kernels_keep_rounds_and_jobs(spark, monkeypatch):
    import functools

    from duckpgq_extension_spark import algorithms as A
    from duckpgq_extension_spark.operators import paths as P
    from duckpgq_extension_spark.operators.paths import cheapest_path_distances

    ring = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 2), (1, 5), (3, 1)]
    edges = spark.createDataFrame(ring, "src long, dst long")
    verts = spark.range(7).toDF("vid")  # 6 is isolated, 5 is dangling
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(38)], "src long, dst long")
    wedges = spark.createDataFrame(
        [(s, d, (s * 3 + d) % 4 + 1) for s, d in ring], "src long, dst long, weight long")
    kernels = {
        "pagerank_tol": lambda: A.pagerank(edges, verts, tol=1e-6),
        "pagerank_fixed": lambda: A.pagerank(edges, verts, tol=0, max_iter=5),
        "k_core": lambda: A.k_core(edges, verts, 2),
        "label_propagation": lambda: A.label_propagation(edges, verts, max_iter=5),
        "hits_fixed": lambda: A.hits(edges, verts, max_iter=5),
        "hits_tol": lambda: A.hits(edges, verts, max_iter=20, tol=1e-3),
        "bellman_ford": lambda: cheapest_path_distances(
            wedges, sources=spark.createDataFrame([(0,), (4,)], "src long")),
    }
    got = {name: _kernel_profile(spark, monkeypatch, lambda: run().collect())
           for name, run in kernels.items()}
    # WCC's job count under AQE varies run to run with stage timing; with
    # AQE off the plan alone fixes it (a chain long enough for the
    # skeleton rounds)
    ided = spark.createDataFrame(
        [(s, d, i) for i, (s, d) in enumerate(ring)], "src long, dst long, edge_id long")
    sources = spark.createDataFrame([(0,), (3,)], "src long")
    pairs = spark.createDataFrame(
        [(0, 4), (4, 5), (1, 1), (5, 0)], "src long, dst long")
    # the frontier kernels (paths.frontier_loop), and WCC: job counts
    # under AQE vary run to run with stage timing; with AQE off the plan
    # alone fixes them (a chain long enough for the skeleton rounds and
    # for the every-10-levels visited re-materialize)
    frontier_kernels = {
        "wcc_chain": lambda: A.weakly_connected_component(
            chain, spark.range(39).toDF("vid")),
        "bfs_chain": lambda: P.bfs_distances(chain),
        "bfs_track_paths": lambda: P.bfs_distances(ided, sources, track_paths=True),
        "bfs_k2": lambda: P.bfs_distances(ided, sources, track_paths=True, k=2),
        "bfs_all_shortest": lambda: P.bfs_distances(
            ided, sources, track_paths=True, all_shortest=True, max_rows=1000),
        **{f"all_paths_{m.lower()}": functools.partial(
            P.bfs_all_paths, ided, sources, mode=m, max_rows=1000)
           for m in ("ACYCLIC", "TRAIL", "SIMPLE")},
        "bidirectional": lambda: P.bidirectional_length(edges, pairs),
        "shortest_path_counts": lambda: A.shortest_path_counts(edges, sources),
        "betweenness": lambda: A.betweenness_centrality(edges, verts),
        "scc": lambda: A.strongly_connected_component(edges, verts),
    }
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        for name, run in frontier_kernels.items():
            got[name] = _kernel_profile(spark, monkeypatch, lambda: run().collect())
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert got == _KERNEL_PROFILES


@pytest.mark.usefixtures("dataframe_route")  # pins of the DataFrame kernels
def test_checkpoint_debug_records(spark, caplog):
    """Each observed checkpoint logs one DEBUG record with its label, wall
    seconds and metrics: pagerank's dangling probe, then one per round."""
    import logging

    from duckpgq_extension_spark import algorithms as A

    edges = spark.createDataFrame([(0, 1), (1, 2), (2, 0), (2, 3)], "src long, dst long")
    with caplog.at_level(logging.DEBUG, logger="duckpgq_extension_spark"):
        A.pagerank(edges, spark.range(4).toDF("vid"), tol=1e-12, max_iter=4)
    recs = [r for r in caplog.records if getattr(r, "label", None) == "pr"]
    assert [sorted(r.metrics) for r in recs] == [["n_dang"]] + [["delta"]] * 4
    assert all(r.seconds >= 0 and r.name == "duckpgq_extension_spark" for r in recs)


@pytest.mark.usefixtures("dataframe_route")  # levels of the DataFrame kernels
def test_frontier_levels_log_kernel_labels(spark, caplog):
    """Each BFS level is one observed checkpoint, logged at DEBUG under
    the kernel's own label with the level's row count; the last record
    is the empty level that stops the loop."""
    import logging

    from duckpgq_extension_spark import algorithms as A
    from duckpgq_extension_spark.operators.paths import bfs_distances

    edges = spark.createDataFrame([(i, i + 1) for i in range(5)], "src long, dst long")
    seeds = spark.createDataFrame([(0,)], "vid long")

    def records(run):
        caplog.clear()
        with caplog.at_level(logging.DEBUG, logger="duckpgq_extension_spark"):
            run()
        return [(r.label, r.metrics["n"]) for r in caplog.records
                if r.getMessage().startswith("checkpoint ")]

    levels = [1, 1, 1, 1, 1, 0]
    assert records(lambda: bfs_distances(edges, seeds).collect()) == [
        ("bfs", n) for n in levels]
    # the seed frame's count, then the forward pass
    assert records(lambda: A.betweenness_centrality(edges, seeds).collect()) == [
        ("ckpt", 1)] + [("betweenness", n) for n in levels]


@pytest.mark.usefixtures("dataframe_route")  # plans of the DataFrame kernel
def test_bidirectional_long_chain_plan_stops_growing(spark, monkeypatch):
    """A point query over a 25-edge chain expands one side 25 levels: the
    length is exact, and the visited set's re-materialize every
    VISITED_EVERY levels keeps the per-level expansion plan from growing
    past its level-10 size."""
    from duckpgq_extension_spark.operators.paths import VISITED_EVERY, bidirectional_length

    chain = spark.createDataFrame([(i, i + 1) for i in range(25)], "src long, dst long")
    pair = spark.createDataFrame([(0, 25)], "src long, dst long")
    got = []
    plans = _round_plans(monkeypatch, lambda: got.extend(
        bidirectional_length(chain, pair).collect()))
    assert [tuple(r) for r in got] == [(0, 25, 25)]
    sizes = [len(_operator_names(p)) for p in plans if "LeftAnti" in p]
    assert len(sizes) == 25
    assert max(sizes[VISITED_EVERY:]) <= max(sizes[:VISITED_EVERY]), sizes
