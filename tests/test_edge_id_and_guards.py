"""Round-2 hardening tests:

- `EDGE ID (col)` DDL extension: designated unique edge-id column flows
  into path output (the Spark analog of the reference's implicit rowid,
  shortest_path.cpp:213-216), with DDL-time validation.
- Deterministic ANY SHORTEST tie-breaking (lexicographically-smallest
  interleaved path; operators/paths.py module notes).
- Non-integral keys route through the xxhash64 surrogate (instead of
  silently returning empty results).
- weakly_connected_component restricted to the caller's vertex domain.
- Microsecond-precision sessionization gaps.
- GRAPH_TABLE SQL scanner skipping double-quoted identifiers and comments.
"""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from duckpgq_extension_spark import PGQSession, algorithms
from duckpgq_extension_spark.errors import PGQBinderError, PGQNotImplementedError
from duckpgq_extension_spark.streaming import events as ev

from .conftest import on_dataframe_route, rows


@pytest.fixture(scope="session")
def eid_pg(spark):
    """Diamond with parallel edges: 0->1 (eids 100, 50), 0->2 (eid 5),
    1->3 (eid 7), 2->3 (eid 6)."""
    spark.createDataFrame(
        [Row(id=i) for i in range(4)], "id long"
    ).createOrReplaceTempView("eid_nodes")
    spark.createDataFrame(
        [
            Row(src=0, dst=1, eid=100),
            Row(src=0, dst=1, eid=50),
            Row(src=0, dst=2, eid=5),
            Row(src=1, dst=3, eid=7),
            Row(src=2, dst=3, eid=6),
        ],
        "src long, dst long, eid long",
    ).createOrReplaceTempView("eid_edges")
    s = PGQSession(spark)
    s.execute(
        """CREATE PROPERTY GRAPH eid_pg
           VERTEX TABLES ( eid_nodes LABEL N )
           EDGE TABLES ( eid_edges SOURCE KEY (src) REFERENCES eid_nodes (id)
                         DESTINATION KEY (dst) REFERENCES eid_nodes (id)
                         EDGE ID (eid) LABEL E )"""
    )
    return s


def test_edge_id_parsed_into_catalog(eid_pg):
    t = eid_pg.graph("eid_pg").edge_tables[0]
    assert t.edge_id_col == "eid"


def test_edge_id_validated(spark):
    s = PGQSession(spark)
    with pytest.raises(PGQBinderError, match="EDGE ID column 'nope'"):
        s.execute(
            """CREATE PROPERTY GRAPH bad_eid
               VERTEX TABLES ( eid_nodes LABEL BN )
               EDGE TABLES ( eid_edges SOURCE KEY (src) REFERENCES eid_nodes (id)
                             DESTINATION KEY (dst) REFERENCES eid_nodes (id)
                             EDGE ID (nope) LABEL BE )"""
        )


def test_designated_edge_ids_in_path_output(eid_pg):
    """Parallel edges 0->1: lex-min path picks the smaller eid (50)."""
    df = eid_pg.graph_table(
        """eid_pg MATCH p = ANY SHORTEST (a:N WHERE a.id = 0)-[e:E]->{1,1}(b:N WHERE b.id = 1)
           COLUMNS (element_id(p) AS pth)"""
    )
    assert rows(df) == [([0, 50, 1],)]


def test_deterministic_tiebreak_two_hop(eid_pg):
    """0->3 has two 2-hop paths: via 1 ([0,50,1,7,3]) and via 2
    ([0,5,2,6,3]); lex-min compares eids first -> via 2 wins."""
    df = eid_pg.graph_table(
        """eid_pg MATCH p = ANY SHORTEST (a:N WHERE a.id = 0)-[e:E]->{1,3}(b:N WHERE b.id = 3)
           COLUMNS (element_id(p) AS pth, vertices(p) AS vs, path_length(p) AS plen)"""
    )
    assert rows(df) == [([0, 5, 2, 6, 3], [0, 2, 3], 2)]


@pytest.fixture(scope="session")
def str_pg(spark):
    spark.createDataFrame(
        [Row(code="a"), Row(code="b")], "code string"
    ).createOrReplaceTempView("str_nodes")
    spark.createDataFrame(
        [Row(s="a", d="b")], "s string, d string"
    ).createOrReplaceTempView("str_edges")
    s = PGQSession(spark)
    s.execute(
        """CREATE PROPERTY GRAPH str_pg
           VERTEX TABLES ( str_nodes LABEL SN )
           EDGE TABLES ( str_edges SOURCE KEY (s) REFERENCES str_nodes (code)
                         DESTINATION KEY (d) REFERENCES str_nodes (code) LABEL SE )"""
    )
    return s


def test_string_keys_fixed_hop_still_works(str_pg):
    df = str_pg.graph_table(
        """str_pg MATCH (a:SN)-[e:SE]->(b:SN) COLUMNS (a.code AS a_c, b.code AS b_c)"""
    )
    assert rows(df) == [("a", "b")]


def test_string_keys_quantified_surrogate(str_pg):
    """Non-integral keys traverse via the collision-checked xxhash64
    surrogate (reference analog: dense renumbering supports arbitrary key
    types at CSR build)."""
    df = str_pg.graph_table(
        """str_pg MATCH (a:SN)-[e:SE]->{1,2}(b:SN)
           COLUMNS (a.code AS a_c, b.code AS b_c)"""
    )
    assert rows(df) == [("a", "b")]
    sp = str_pg.graph_table(
        """str_pg MATCH p = ANY SHORTEST (a:SN)-[e:SE]->*(b:SN)
           COLUMNS (a.code AS a_c, b.code AS b_c, path_length(p) AS plen)"""
    )
    assert ("a", "b", 1) in set(rows(sp))


def test_string_keys_pagerank_surrogate(str_pg):
    got = str_pg.pagerank("str_pg", "SN", "SE").collect()
    assert {r["code"] for r in got} == {"a", "b"}
    assert all(r["pagerank"] > 0 for r in got)


def test_wcc_restricted_to_vertex_domain(spark):
    """ADVICE repro: edges referencing out-of-domain endpoints must not
    leak extra label rows."""
    edges = spark.createDataFrame(
        [Row(src=1, dst=0), Row(src=0, dst=2), Row(src=5, dst=6)],
        "src long, dst long",
    )
    vertices = spark.createDataFrame(
        [Row(vid=v) for v in [1, 2, 5, 6]], "vid long"
    )
    got = rows(algorithms.weakly_connected_component(edges, vertices))
    # 4 rows exactly (no row for vertex 0); 1 and 2 connect through 0 but
    # the representative is the min IN-DOMAIN member (0 is never seeded)
    assert got == [(1, 1), (2, 1), (5, 5), (6, 5)]


test_wcc_restricted_to_vertex_domain_dataframe_route = on_dataframe_route(
    test_wcc_restricted_to_vertex_domain)


def test_sessionize_microsecond_gap(spark):
    """Gap of 3600.4s (> 60 min) must split sessions even though the
    floor-of-seconds difference is exactly 3600."""
    df = spark.createDataFrame(
        [
            Row(user_id=1, ts="2024-01-01 10:00:00.500", value=1.0),
            Row(user_id=1, ts="2024-01-01 11:00:00.900", value=2.0),
        ],
        "user_id long, ts string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    s = ev.sessionize(df, gap_minutes=60)
    assert sorted(r.session_id for r in s.collect()) == [1, 2]
    # and a gap of exactly 3600.0s stays one session (boundary is strict >)
    df2 = spark.createDataFrame(
        [
            Row(user_id=1, ts="2024-01-01 10:00:00.500", value=1.0),
            Row(user_id=1, ts="2024-01-01 11:00:00.500", value=2.0),
        ],
        "user_id long, ts string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    s2 = ev.sessionize(df2, gap_minutes=60)
    assert sorted(r.session_id for r in s2.collect()) == [1, 1]


def test_sql_scanner_skips_comments_and_qidents(pgq):
    df = pgq.sql(
        '''SELECT name FROM GRAPH_TABLE(pg
             MATCH (a:Person) -- weird ) comment with parens (((
             COLUMNS (a.name AS name, a.id AS "odd(col")
           ) WHERE `odd(col` = 0'''
    )
    assert rows(df) == [("Daniel",)]


def test_shortest_topk_walks(eid_pg):
    """Beyond-reference SHORTEST k: the k best walks per (src, dst) by
    (dist, lex path).  Diamond 0->3 has two 2-hop walks; parallel edges
    0->1 give two 1-hop walks."""
    df = eid_pg.graph_table(
        """eid_pg MATCH p = SHORTEST 2 (a:N WHERE a.id = 0)-[e:E]->{1,3}(b:N WHERE b.id = 3)
           COLUMNS (element_id(p) AS pth, path_length(p) AS plen)"""
    )
    assert sorted((tuple(r.pth), r.plen) for r in df.collect()) == [
        ((0, 5, 2, 6, 3), 2),
        ((0, 50, 1, 7, 3), 2),
    ]
    df2 = eid_pg.graph_table(
        """eid_pg MATCH p = SHORTEST 2 (a:N WHERE a.id = 0)-[e:E]->{1,1}(b:N WHERE b.id = 1)
           COLUMNS (element_id(p) AS pth)"""
    )
    assert sorted(tuple(r.pth) for r in df2.collect()) == [(0, 50, 1), (0, 100, 1)]


def test_shortest_topk_more_than_available(eid_pg):
    """k larger than the number of distinct walks returns what exists:
    the DAG has exactly 3 walks 0->3 (via eids 5->6, 50->7, 100->7)."""
    df = eid_pg.graph_table(
        """eid_pg MATCH p = SHORTEST 9 (a:N WHERE a.id = 0)-[e:E]->{1,3}(b:N WHERE b.id = 3)
           COLUMNS (path_length(p) AS plen)"""
    )
    assert df.count() == 3


def test_any_shortest_k_parse_error(eid_pg):
    """Reference parser-error parity (top_k.test:24-31): a count after
    ANY SHORTEST is a syntax error."""
    import pytest as _pytest
    from duckpgq_extension_spark.errors import PGQParseError

    with _pytest.raises(PGQParseError, match="syntax error"):
        eid_pg.graph_table(
            """eid_pg MATCH p = ANY SHORTEST 5 WALK (a:N)-[e:E]->*(b:N)
               COLUMNS (path_length(p) AS plen)"""
        )


@pytest.mark.usefixtures("dataframe_route")  # the CSR route checkpoints no levels
def test_reliable_checkpoint_switch(eid_pg, tmp_path):
    """set_checkpoint_dir flips iterative kernels to reliable .checkpoint()
    (files land under the dir, results unchanged); None flips back."""
    q = """eid_pg MATCH p = ANY SHORTEST (a:N WHERE a.id = 0)-[e:E]->*(b:N)
           COLUMNS (b.id AS b_id, path_length(p) AS plen)"""
    baseline = sorted(rows(eid_pg.graph_table(q)))
    ckdir = str(tmp_path / "ck")
    eid_pg.set_checkpoint_dir(ckdir)
    try:
        assert sorted(rows(eid_pg.graph_table(q))) == baseline
        import os

        found = [f for _, _, fs in os.walk(ckdir) for f in fs]
        assert found, "reliable checkpoint wrote no files"
    finally:
        eid_pg.set_checkpoint_dir(None)
    # back on local checkpoints and still correct
    assert sorted(rows(eid_pg.graph_table(q))) == baseline
