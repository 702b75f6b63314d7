"""Ports of reference SQL tests round 3:

- undirected_edges.test          — undirected `-[k]-` goldens incl. the
  duplicate Daniel-Peter row (both orientations) and edge properties
- create_property_graph_syntax_error.test — bare `CREATE PROPERTY GRAPH x`
  with no table clause is a parse error
- create_pg_multiple_connections.test — a graph created/dropped through one
  connection is immediately visible/gone in other open connections; here
  two PGQSession instances sharing one catalog directory
- copy_to_duckpgq.test           — GRAPH_TABLE embedded in CTAS / INSERT
  INTO / an export sink (reference: COPY TO csv; Spark: DataFrame write)
- duckdb_columns.test            — non-graph SQL passes through the
  preprocessor byte-identical (no interference)
- snb_inheritance.test IS4/IS5/IS7 — short-read queries over the SNB
  message subgraph not already covered by test_snb.py
"""

import os

import pytest
from pyspark.sql import Row

from duckpgq_extension_spark import PGQSession
from duckpgq_extension_spark.errors import PGQBinderError, PGQParseError

from .conftest import rows

SNB = "/root/reference/data/SNB0.003"
requires_snb = pytest.mark.skipif(
    not os.path.isdir(SNB), reason="SNB0.003 reference data absent"
)


@pytest.fixture(scope="module")
def und_pg(spark):
    """Student/know fixture of undirected_edges.test:10-22 (9 edges — one
    more, (4,0), than the basic_match fixture)."""
    spark.createDataFrame(
        [Row(id=i, name=n) for i, n in enumerate(["Daniel", "Tavneet", "Gabor", "Peter", "David"])],
        "id long, name string",
    ).createOrReplaceTempView("und_student")
    spark.createDataFrame(
        [Row(src=s, dst=d, createDate=c) for s, d, c in
         [(0, 1, 10), (0, 2, 11), (0, 3, 12), (3, 0, 13), (1, 2, 14),
          (1, 3, 15), (2, 3, 16), (4, 3, 17), (4, 0, 18)]],
        "src long, dst long, createDate long",
    ).createOrReplaceTempView("und_know")
    s = PGQSession(spark)
    s.execute(
        """CREATE PROPERTY GRAPH und_pg
           VERTEX TABLES ( und_student LABEL Student )
           EDGE TABLES (
               und_know SOURCE KEY ( src ) REFERENCES und_student ( id )
                        DESTINATION KEY ( dst ) REFERENCES und_student ( id )
                        LABEL know
           )"""
    )
    return s


def test_undirected_both_orientations(und_pg):
    """undirected_edges.test:37-51: Daniel has 3 outgoing + 2 incoming
    edges -> 5 rows, Peter twice (via (0,3) and (3,0))."""
    df = und_pg.sql(
        """SELECT person, friend FROM GRAPH_TABLE (und_pg
             MATCH (a:Student)-[k:know]-(b:Student)
             WHERE a.name = 'Daniel'
             COLUMNS (a.name AS person, b.name AS friend)
           ) ORDER BY person, friend"""
    )
    assert rows(df, sort=False) == [
        ("Daniel", "David"),
        ("Daniel", "Gabor"),
        ("Daniel", "Peter"),
        ("Daniel", "Peter"),
        ("Daniel", "Tavneet"),
    ]


def test_undirected_edge_property(und_pg):
    """undirected_edges.test:54-68: edge property follows the orientation
    each row came from."""
    df = und_pg.sql(
        """FROM GRAPH_TABLE (und_pg
             MATCH (a:Student)-[k:know]-(b:Student)
             WHERE a.name = 'Daniel'
             COLUMNS (a.name AS person, b.name AS friend, k.createDate AS date)
           ) ORDER BY person, friend, date"""
    )
    assert rows(df, sort=False) == [
        ("Daniel", "David", 18),
        ("Daniel", "Gabor", 11),
        ("Daniel", "Peter", 12),
        ("Daniel", "Peter", 13),
        ("Daniel", "Tavneet", 10),
    ]


def test_create_pg_without_tables_is_syntax_error(spark):
    """create_property_graph_syntax_error.test: CREATE PROPERTY GRAPH with
    no VERTEX TABLES clause fails to parse."""
    s = PGQSession(spark)
    with pytest.raises(PGQParseError):
        s.execute("CREATE PROPERTY GRAPH snb_no_tables")


def test_multiple_connections_share_catalog(spark, tmp_path):
    """create_pg_multiple_connections.test: CREATE/DROP through one
    connection is immediately visible in other OPEN connections (the
    reference keeps graphs in database-level state; here the shared JSON
    catalog directory re-synced on access)."""
    cat = str(tmp_path / "pgcat")
    spark.createDataFrame(
        [Row(id=i, name=n) for i, n in enumerate(["Daniel", "Tavneet", "Gabor", "Peter"])],
        "id long, name string",
    ).createOrReplaceTempView("mc_student")
    spark.createDataFrame(
        [Row(src=s, dst=d) for s, d in [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3)]],
        "src long, dst long",
    ).createOrReplaceTempView("mc_know")

    con1 = PGQSession(spark, catalog_path=cat)
    con2 = PGQSession(spark, catalog_path=cat)  # open before the CREATE
    con1.execute(
        """CREATE PROPERTY GRAPH pg_mc
           VERTEX TABLES ( mc_student LABEL Student )
           EDGE TABLES (
               mc_know SOURCE KEY ( src ) REFERENCES mc_student ( id )
                       DESTINATION KEY ( dst ) REFERENCES mc_student ( id )
                       LABEL Knows
           )"""
    )
    # visible in the pre-existing con2, a fresh con3, and con1 itself
    q = "SELECT t.* FROM GRAPH_TABLE (pg_mc MATCH (a:Student) COLUMNS (a.id AS id)) t"
    assert con2.sql(q).count() == 4
    con3 = PGQSession(spark, catalog_path=cat)
    assert con3.sql(q).count() == 4
    assert con1.sql(q).count() == 4
    # algorithm table function from the other connection (reference runs lcc)
    assert con2.local_clustering_coefficient("pg_mc", "Student", "Knows").count() == 4

    con1.execute("DROP PROPERTY GRAPH pg_mc")
    for con in (con3, PGQSession(spark, catalog_path=cat), con2):
        with pytest.raises(PGQBinderError, match="does not exist"):
            con.sql(q)

    # recreate: the already-open con2 sees the new definition
    con1.execute(
        """CREATE PROPERTY GRAPH pg_mc
           VERTEX TABLES ( mc_student LABEL Student )
           EDGE TABLES (
               mc_know SOURCE KEY ( src ) REFERENCES mc_student ( id )
                       DESTINATION KEY ( dst ) REFERENCES mc_student ( id )
                       LABEL Knows
           )"""
    )
    assert con2.sql(q).count() == 4
    con1.execute("DROP PROPERTY GRAPH pg_mc")


def test_graph_table_in_ctas_insert_and_export(pgq, spark, tmp_path):
    """copy_to_duckpgq.test: GRAPH_TABLE works as the source of CTAS,
    INSERT INTO, and a file export.  The reference drives COPY TO csv;
    the Spark analog is writing the rewritten query's DataFrame."""
    sel = (
        "SELECT t.* FROM GRAPH_TABLE (pg "
        "MATCH (a:Person) WHERE a.name = 'Daniel' "
        "COLUMNS (a.id AS id, a.name AS name)) t"
    )
    spark.sql("DROP TABLE IF EXISTS copy_result")
    # CTAS through the preprocessor (reference: CREATE TABLE result AS ...)
    pgq.sql(f"CREATE TABLE copy_result AS {sel}")
    assert rows(spark.table("copy_result")) == [(0, "Daniel")]
    # INSERT INTO the same table (reference duplicates the row)
    pgq.sql(f"INSERT INTO copy_result {sel}")
    assert rows(spark.table("copy_result")) == [(0, "Daniel"), (0, "Daniel")]
    spark.sql("DROP TABLE copy_result")
    # export sink (reference: COPY (...) TO '...csv')
    out = str(tmp_path / "is1_csv")
    pgq.sql(sel).write.option("header", False).csv(out)
    back = spark.read.schema("id long, name string").csv(out)
    assert rows(back) == [(0, "Daniel")]


def test_non_graph_sql_passthrough(pgq, spark):
    """duckdb_columns.test analog: statements without GRAPH_TABLE reach
    Spark untouched — catalog introspection and plain SQL keep working
    through the PGQ frontend."""
    assert pgq.sql("SELECT 1 AS one").first()["one"] == 1
    names = [r.viewName for r in pgq.sql("SHOW VIEWS").collect()]
    assert "student" in [n.lower() for n in names]
    cols = pgq.sql("DESCRIBE Student").collect()
    assert {r.col_name for r in cols} >= {"id", "name"}
    # a query whose text merely *mentions* graph_table in a string literal
    assert pgq.sql("SELECT 'graph_table(' AS s").first()["s"] == "graph_table("


# -- snb_inheritance.test IS4/IS5/IS7 --------------------------------------


@pytest.fixture(scope="module")
def snb_msg(spark):
    """SNB graph restricted to the message subgraph of
    snb_inheritance.test:13-33."""
    for view, fn in {
        "Person": "person",
        "Message": "message",
        "Person_knows_person": "person_knows_person",
        "Message_hasAuthor_Person": "message_hasauthor_person",
        "Message_replyOf_Message": "message_replyof_message",
    }.items():
        spark.read.parquet(f"{SNB}/{fn}.parquet").createOrReplaceTempView(view)
    s = PGQSession(spark)
    s.execute(
        """CREATE PROPERTY GRAPH snb_msg
           VERTEX TABLES (
               Person LABEL Person,
               Message LABEL Message
           )
           EDGE TABLES (
               Person_knows_person SOURCE KEY (Person1Id) REFERENCES Person (id)
                                   DESTINATION KEY (Person2Id) REFERENCES Person (id)
                                   LABEL Knows,
               Message_hasAuthor_Person SOURCE KEY (MessageId) REFERENCES Message (id)
                                        DESTINATION KEY (PersonId) REFERENCES Person (id)
                                        LABEL hasAuthor,
               Message_replyOf_Message SOURCE KEY (MessageId) REFERENCES Message (id)
                                       DESTINATION KEY (ParentMessageId) REFERENCES Message (id)
                                       LABEL replyOf
           )"""
    )
    return s


@requires_snb
def test_is4_message_content(snb_msg):
    """snb_inheritance.test IS4: content of one message."""
    df = snb_msg.sql(
        """FROM GRAPH_TABLE (snb_msg
             MATCH (m:message WHERE m.id = 824633720985)
             COLUMNS ( coalesce(imageFile, content, '') AS c, creationDate )
           )"""
    )
    got = df.collect()
    assert len(got) == 1
    assert got[0]["c"] == "photo824633720985.jpg"
    assert str(got[0]["creationDate"]).startswith("2012-01-11 16:17:04")


@requires_snb
def test_is5_message_creator(snb_msg):
    """snb_inheritance.test IS5: creator of one message."""
    df = snb_msg.sql(
        """FROM GRAPH_TABLE (snb_msg
             MATCH (m:message WHERE m.id = 824633720985)-[au:hasAuthor]->(p:person)
             COLUMNS (p.id AS id, p.firstName AS fn, p.lastName AS ln)
           )"""
    )
    assert rows(df) == [(14, "Hossein", "Forouhar")]


@requires_snb
def test_is7_replies_by_known_authors(snb_msg):
    """snb_inheritance.test IS7: replies to a message whose authors know
    the original author — a 4-element chain plus a comma pattern sharing
    both endpoint bindings with an undirected knows edge."""
    df = snb_msg.sql(
        """FROM GRAPH_TABLE (snb_msg
             MATCH (replyAuthor:person)<-[au2:hasAuthor]-(c:message WHERE c.ParentMessageId IS NOT NULL)
                   -[r:replyOf]->(m:message WHERE m.id = 618475290624)
                   -[au:hasAuthor]->(messageAuthor:person),
                   (replyAuthor:person)-[k:knows]-(messageAuthor:person)
             COLUMNS (c.id AS cid, c.content AS content, c.creationDate AS cd,
                      replyAuthor.id AS raid, replyAuthor.firstName AS rafn,
                      replyAuthor.lastName AS raln)
           )"""
    )
    got = sorted([(r.cid, r.content, str(r.cd), r.raid, r.rafn, r.raln) for r in df.collect()])
    assert got == [
        (962072674305, "yes", "2012-07-08 16:48:41.630000", 24189255811081, "Alim", "Guliyev"),
        (962072674306, "thanks", "2012-07-08 13:32:03.239000", 24189255811081, "Alim", "Guliyev"),
    ]


def test_recursive_and_edge_subpaths_rejected():
    """Reference parity (match.cpp:824-826, 847-849): parenthesized
    subpaths in vertex or edge positions are rejected with typed errors."""
    from duckpgq_extension_spark.errors import (
        PGQNotImplementedError as NIE,
        PGQParseError as PE,
    )
    from duckpgq_extension_spark.parser.pgq_parser import parse_graph_table_body

    with pytest.raises(NIE, match="Recursive patterns"):
        parse_graph_table_body(
            "g MATCH ((a:V)-[e:E]->(b:V)){1,3} COLUMNS (a.x AS x)"
        )
    with pytest.raises((NIE, PE)):
        parse_graph_table_body(
            "g MATCH (a:V)(-[e1:E]->-[e2:E]->)(b:V) COLUMNS (a.x AS x)"
        )


def test_altering_backing_table_surfaces_errors(spark):
    """altering_table.test: after the backing table changes shape, queries
    against properties that no longer exist error instead of silently
    returning stale data (the reference's ALTER TABLE RENAME analog is
    replacing the temp view)."""
    spark.createDataFrame(
        [Row(id=i, name=n) for i, n in enumerate(["Daniel", "Tavneet"])],
        "id long, name string",
    ).createOrReplaceTempView("alt_student")
    spark.createDataFrame(
        [Row(src=0, dst=1)], "src long, dst long"
    ).createOrReplaceTempView("alt_know")
    s = PGQSession(spark)
    s.execute(
        """CREATE PROPERTY GRAPH alt_pg
           VERTEX TABLES ( alt_student PROPERTIES ( id, name ) LABEL Person )
           EDGE TABLES (
               alt_know SOURCE KEY ( src ) REFERENCES alt_student ( id )
                        DESTINATION KEY ( dst ) REFERENCES alt_student ( id )
                        LABEL Knows )"""
    )
    ok = s.graph_table(
        "alt_pg MATCH (a:Person)-[k:Knows]->(b:Person) COLUMNS (a.id AS id)"
    )
    assert ok.count() == 1
    # rename id -> jd in the backing view
    spark.createDataFrame(
        [Row(jd=i, name=n) for i, n in enumerate(["Daniel", "Tavneet"])],
        "jd long, name string",
    ).createOrReplaceTempView("alt_student")
    # the renamed column is not a registered property; the key join also
    # no longer analyzes — either way a typed error, never stale output
    with pytest.raises(Exception):
        s.graph_table(
            "alt_pg MATCH (a:Person)-[k:Knows]->(b:Person) COLUMNS (a.jd AS jd)"
        )
    # the registered property no longer exists in the table -> error too
    with pytest.raises(Exception):
        s.graph_table(
            "alt_pg MATCH (a:Person)-[k:Knows]->(b:Person) COLUMNS (a.id AS id)"
        ).collect()


def test_graph_table_in_union_and_join(pgq):
    """Frontend robustness: two GRAPH_TABLEs in one statement via UNION
    ALL, and a GRAPH_TABLE joined against a plain table."""
    df = pgq.sql(
        """SELECT t.* FROM GRAPH_TABLE (pg
             MATCH (a:Person)-[k:Knows]->(b:Person)
             WHERE a.name = 'Daniel'
             COLUMNS (a.name AS person, b.name AS friend)) t
           UNION ALL
           SELECT s.* FROM GRAPH_TABLE (pg
             MATCH (a:Person)-[k:Knows]->(b:Person)
             WHERE a.name = 'Tavneet'
             COLUMNS (a.name AS person, b.name AS friend)) s"""
    )
    got = rows(df)
    assert ("Daniel", "Tavneet") in got and ("Tavneet", "Gabor") in got
    j = pgq.sql(
        """SELECT g.person, g.friend, st.id AS friend_id
           FROM GRAPH_TABLE (pg
             MATCH (a:Person)-[k:Knows]->(b:Person)
             WHERE a.name = 'Daniel'
             COLUMNS (a.name AS person, b.name AS friend)) g
           JOIN Student st ON st.name = g.friend
           ORDER BY friend_id"""
    )
    got = rows(j, sort=False)
    assert got == [("Daniel", "Tavneet", 1), ("Daniel", "Gabor", 2), ("Daniel", "Peter", 3)]


def test_source_destination_not_reserved(spark):
    """source_keyword.test parity: SOURCE/DESTINATION are contextual
    keywords, usable as column and property names end to end."""
    spark.createDataFrame(
        [Row(id=0, source="s0", destination="d0"), Row(id=1, source="s1", destination="d1")],
        "id long, source string, destination string",
    ).createOrReplaceTempView("kw_v")
    spark.createDataFrame(
        [Row(s=0, d=1)], "s long, d long"
    ).createOrReplaceTempView("kw_e")
    sess = PGQSession(spark)
    sess.execute(
        """CREATE PROPERTY GRAPH kw_pg
           VERTEX TABLES ( kw_v PROPERTIES ( id, source, destination ) LABEL V )
           EDGE TABLES ( kw_e SOURCE KEY (s) REFERENCES kw_v (id)
                         DESTINATION KEY (d) REFERENCES kw_v (id) LABEL E )"""
    )
    df = sess.graph_table(
        """kw_pg MATCH (a:V)-[e:E]->(b:V)
           COLUMNS (a.source AS a_src, b.destination AS b_dst)"""
    )
    assert rows(df) == [("s0", "d1")]
