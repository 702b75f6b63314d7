"""LDBC SNB SF0.003 end-to-end queries, ported from the reference
test/sql/snb/snb.test with its golden outputs (FIXTURES.md F6)."""

import datetime as dt
import os

import pytest

SNB = "/root/reference/data/SNB0.003"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SNB), reason="SNB0.003 reference data absent"
)

SNB_TABLES = {
    "Person": "person",
    "Message": "message",
    "Organisation": "organisation",
    "Forum": "forum",
    "Tag": "tag",
    "TagClass": "tagclass",
    "Place": "place",
    "Person_knows_Person": "person_knows_person",
    "Forum_hasMember_Person": "forum_hasmember_person",
    "Forum_hasTag_Tag": "forum_hastag_tag",
    "Person_hasInterest_Tag": "person_hasinterest_tag",
    "person_workAt_Organisation": "person_workat_organisation",
    "Person_likes_Message": "person_likes_message",
    "Message_hasTag_Tag": "message_hastag_tag",
    "Message_hasAuthor_Person": "message_hasauthor_person",
    "Message_replyOf_Message": "message_replyof_message",
}


@pytest.fixture(scope="session")
def snb(spark):
    from duckpgq_extension_spark import PGQSession

    for view, fn in SNB_TABLES.items():
        spark.read.parquet(f"{SNB}/{fn}.parquet").createOrReplaceTempView(view)
    s = PGQSession(spark)
    s.execute(
        """
        CREATE PROPERTY GRAPH snb
        VERTEX TABLES (
            Person LABEL Person,
            Forum LABEL Forum,
            Organisation LABEL Organisation IN typemask(company, university),
            Place LABEL Place,
            Tag LABEL Tag,
            TagClass LABEL TagClass,
            Message LABEL Message
        )
        EDGE TABLES (
            Person_knows_Person SOURCE KEY (Person1Id) REFERENCES Person (id)
                                DESTINATION KEY (Person2Id) REFERENCES Person (id)
                                LABEL Knows,
            Forum_hasMember_Person SOURCE KEY (ForumId) REFERENCES Forum (id)
                                DESTINATION KEY (PersonId) REFERENCES Person (id)
                                LABEL hasMember,
            Forum_hasTag_Tag SOURCE KEY (ForumId) REFERENCES Forum (id)
                                DESTINATION KEY (TagId) REFERENCES Tag (id)
                                LABEL Forum_hasTag,
            Person_hasInterest_Tag SOURCE KEY (PersonId) REFERENCES Person (id)
                                DESTINATION KEY (TagId) REFERENCES Tag (id)
                                LABEL hasInterest,
            person_workAt_Organisation SOURCE KEY (PersonId) REFERENCES Person (id)
                                DESTINATION KEY (OrganisationId) REFERENCES Organisation (id)
                                LABEL workAt_Organisation,
            Person_likes_Message SOURCE KEY (PersonId) REFERENCES Person (id)
                                DESTINATION KEY (id) REFERENCES Message (id)
                                LABEL likes_Message,
            Message_hasTag_Tag SOURCE KEY (id) REFERENCES Message (id)
                                DESTINATION KEY (TagId) REFERENCES Tag (id)
                                LABEL message_hasTag,
            Message_hasAuthor_Person SOURCE KEY (messageId) REFERENCES Message (id)
                                DESTINATION KEY (PersonId) REFERENCES Person (id)
                                LABEL hasAuthor,
            Message_replyOf_Message SOURCE KEY (messageId) REFERENCES Message (id)
                                DESTINATION KEY (ParentMessageId) REFERENCES Message (id)
                                LABEL replyOf
        )
        """
    )
    return s


def test_work_at_university(snb, spark):
    """snb.test:55-76 golden — sublabel `University` via typemask bit 1."""
    df = snb.sql(
        """
        SELECT * FROM GRAPH_TABLE (snb
            MATCH (p:Person)-[w:workAt_Organisation]->(u:University)
            COLUMNS (p.id as p_id, u.id as u_id, u.type as u_type)
        ) tmp ORDER BY p_id, u_id LIMIT 10
        """
    )
    got = [tuple(r) for r in df.collect()]
    assert got == [
        (14, 4593, "University"),
        (16, 5809, "University"),
        (32, 5047, "University"),
        (2199023255557, 1953, "University"),
        (2199023255573, 5263, "University"),
        (2199023255594, 1597, "University"),
        (4398046511139, 4929, "University"),
        (6597069766702, 5038, "University"),
        (8796093022234, 3008, "University"),
        (8796093022244, 3008, "University"),
    ]


def test_ic2_recent_messages_of_friends(snb, spark):
    """snb.test IC2 golden (first rows): undirected knows + reverse hasAuthor."""
    df = snb.sql(
        """
        SELECT * FROM GRAPH_TABLE (snb
            MATCH (a:Person WHERE a.id = 17592186044461)-[k:knows]-(b:Person)<-[au:hasAuthor]-(m:message WHERE m.creationDate < '2010-10-16')
            COLUMNS (a.id AS a_id, a.firstName AS fn, a.lastName AS ln,
                     m.id as messageId, coalesce(m.imageFile, m.content) AS content,
                     m.creationDate AS creationDate)
        ) tmp ORDER BY creationDate DESC, messageId ASC LIMIT 4
        """
    )
    got = [tuple(r) for r in df.collect()]
    assert got == [
        (
            17592186044461, "Ali", "Abouba", 274877907945, "photo274877907945.jpg",
            dt.datetime(2010, 9, 25, 5, 41, 53, 571000),
        ),
        (
            17592186044461, "Ali", "Abouba", 274877907944, "photo274877907944.jpg",
            dt.datetime(2010, 9, 25, 5, 41, 52, 571000),
        ),
        (
            17592186044461, "Ali", "Abouba", 274877907943, "photo274877907943.jpg",
            dt.datetime(2010, 9, 25, 5, 41, 51, 571000),
        ),
        (
            17592186044461, "Ali", "Abouba", 274877907942, "photo274877907942.jpg",
            dt.datetime(2010, 9, 25, 5, 41, 50, 571000),
        ),
    ]


def test_ic13_shortest_path(snb):
    """snb.test IC13 golden: directed ANY SHORTEST between two people."""
    df = snb.graph_table(
        """snb MATCH p = ANY SHORTEST (a:Person WHERE a.id = 17592186044461)-[k:knows]->*(b:Person WHERE b.id = 35184372088856)
           COLUMNS (path_length(p) AS plen, a.id as a_id, b.id as b_id)"""
    )
    got = [tuple(r) for r in df.collect()]
    assert got == [(2, 17592186044461, 35184372088856)]


def test_bi_triangle_no_columns(snb):
    """bi.test:56-60: undirected triangle with inline edge WHERE and no
    COLUMNS clause (defaults to all registered properties)."""
    df = snb.graph_table(
        """snb MATCH (personA:Person)-[kAB:Knows WHERE kAB.creationDate BETWEEN '2012-10-04' AND '2013-01-16']-(personB:Person)-[kBC:Knows WHERE kBC.creationDate BETWEEN '2012-10-04' AND '2013-01-16']-(personC:Person)-[kCA:Knows WHERE kCA.creationDate BETWEEN '2012-10-04' AND '2013-01-16']-(personA:Person)"""
    )
    assert df.count() >= 0  # executes; statement-ok parity


def test_complex_matching_mixed_hops(snb):
    """complex_matching.test golden: fixed hop + {1,3} quantified hop +
    fixed hop concatenate into ONE named path (CheckNamedSubpath +
    CreatePathFindingFunction, match.cpp:497-790), so path_length counts
    all three segments — exact parity with the reference's plen column.
    Path element ids follow the natural-key convention (the reference
    emits rowids), so vertices/element_id are checked structurally."""
    df = snb.graph_table(
        """snb MATCH o = ANY SHORTEST (p4:Person WHERE p4.id = 19791209299968)-[w3:knows]->(p:Person)-[w:knows]->{1,3}(p2:Person)-[w2:knows]->(p3:Person)
           COLUMNS (p3.id AS p3_id, path_length(o) AS plen, vertices(o) AS vs,
                    element_id(o) AS eids, edges(o) AS es,
                    p4.id AS p4_id, p.id AS p_id, p2.id AS p2_id)"""
    )
    rows_ = df.collect()
    got = sorted((r["p3_id"], r["plen"]) for r in rows_)
    expected = sorted(
        [
            (28587302322180, 3), (28587302322196, 3), (28587302322204, 3),
            (28587302322204, 3), (28587302322223, 3), (30786325577731, 3),
            (30786325577740, 3), (32985348833329, 3), (35184372088850, 4),
            (35184372088850, 3), (35184372088856, 3),
        ]
    )
    assert got == expected
    for r in rows_:
        # interleaved [v, e, v, ..., v]; vertices = odd slots, edges = even
        assert len(r["eids"]) == 2 * r["plen"] + 1
        assert r["vs"] == r["eids"][0::2]
        assert r["es"] == r["eids"][1::2]
        # endpoints and the first fixed hop resolve to the bound vertices
        assert r["vs"][0] == 19791209299968
        assert r["vs"][1] == r["p_id"]
        assert r["vs"][-2] == r["p2_id"]
        assert r["vs"][-1] == r["p3_id"]


def test_complex_matching_heterogeneous_tail(snb):
    """complex_matching.test:96-117 golden: quantified Person segment
    followed by a fixed hop into a DIFFERENT vertex table (Tag) inside a
    named path — the fixed tail plain-binds and joins the BFS output."""
    df = snb.graph_table(
        """snb MATCH o = ANY SHORTEST (p:Person)-[w:knows]->{1,3}(p2:Person)-[i:hasInterest]->(t:Tag)
           COLUMNS (p.id AS p_id, p2.id AS p2_id, t.id AS t_id)"""
    )
    got = sorted(tuple(r) for r in df.collect())[:10]
    assert got == [
        (14, 10995116277782, 470), (14, 10995116277782, 588),
        (14, 10995116277782, 598), (14, 10995116277782, 798),
        (14, 10995116277782, 805), (14, 10995116277782, 974),
        (14, 10995116277782, 1031), (14, 10995116277782, 1174),
        (14, 10995116277782, 1183), (14, 10995116277782, 1527),
    ]


def test_arrow_whitespace_variants(snb):
    """parser_arrow_kleene.test: whitespace inside the arrow tokens."""
    for arrow in ["]->*", "]-> *", "]- > *", "] - > *", "] -> *"]:
        df = snb.graph_table(
            f"""snb MATCH ANY SHORTEST (a:Person WHERE a.id = 17592186044461)-[k:knows{arrow}(b:Person WHERE b.id = 35184372088856)
                COLUMNS (a.id AS a_id, b.id AS b_id)"""
        )
        assert df.count() == 1, arrow


def test_is1_person_profile(snb):
    """snb.test IS1 golden — bare property names in COLUMNS."""
    df = snb.graph_table(
        """snb MATCH (a:person WHERE a.id = 17592186044461)
           COLUMNS (firstName, lastName, birthday, locationIP, browserUsed,
                    LocationCityId, gender)"""
    )
    got = [tuple(r) for r in df.collect()]
    assert got == [
        (
            "Ali", "Abouba", dt.date(1987, 5, 29), "41.203.147.168",
            "Internet Explorer", 1264, "male",
        )
    ]


def test_is3_friends(snb, spark):
    """snb.test IS3: friends of a person over undirected knows."""
    df = snb.sql(
        """
        SELECT * FROM GRAPH_TABLE (snb
            MATCH (a:person WHERE a.id = 17592186044461)-[k:knows]-(b:person)
            COLUMNS (b.id AS id, b.firstname AS fn, b.lastname AS ln,
                     CAST(k.creationDate AS STRING) AS creationDate)
        ) tmp ORDER BY creationDate DESC, id ASC
        """
    )
    got = [tuple(r) for r in df.collect()]
    assert len(got) >= 1
    assert got[0][0] == 32 and got[0][1] == "Miguel" and got[0][2] == "Gonzalez"


def test_hetero_var_length_likes(snb, spark):
    """Round 9: Person-likes->Message is a heterogeneous edge table —
    variable-length traversal runs over the table-tagged surrogate union
    domain (compiler._surrogate_parts).  Undirected {1,2} from one
    person: dist 1 lands on Message (filtered out by the Person
    terminal), dist 2 = co-likers.  Expected set derived independently
    with plain Spark SQL on the same views."""
    df = snb.graph_table(
        """snb MATCH (a:Person WHERE a.id = 16)-[l:likes_Message]-{1,2}(b:Person)
           COLUMNS (b.id AS b_id, CAST(l.dist AS BIGINT) AS dist)"""
    )
    got = sorted((r.b_id, r.dist) for r in df.collect())
    exp = sorted(
        (r.b_id, 2)
        for r in spark.sql(
            """SELECT DISTINCT l2.PersonId AS b_id
               FROM Person_likes_Message l1
               JOIN Person_likes_Message l2 ON l2.id = l1.id
               WHERE l1.PersonId = 16 AND l2.PersonId <> 16"""
        ).collect()
    )
    assert len(got) == 44 and got == exp
    # Message terminal: the same traversal's dist-1 frontier
    dm = snb.graph_table(
        """snb MATCH (a:Person WHERE a.id = 16)-[l:likes_Message]-{1,2}(m:Message)
           COLUMNS (m.id AS m_id, CAST(l.dist AS BIGINT) AS dist)"""
    )
    liked = {
        r.id
        for r in spark.sql(
            "SELECT DISTINCT id FROM Person_likes_Message WHERE PersonId = 16"
        ).collect()
    }
    got_m = {(r.m_id, r.dist) for r in dm.collect()}
    assert {m for m, d in got_m if d == 1} == liked
