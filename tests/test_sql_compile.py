"""GRAPH_TABLE compiles to SQL text spliced into one spark.sql statement.

On a small SNB-shaped Person/Knows/Message/hasAuthor graph: each compiled
pattern answers like a hand-written Spark SQL join of the same pattern, an
interactive read costs one spark.sql call and a bounded number of py4j
round trips, no temp view outlives its statement, and the compiled SQL is
logged at DEBUG."""

import logging

import pytest
from pyspark.sql import Row

from duckpgq_extension_spark import PGQSession

from .conftest import rows

N_PERSON = 12
KNOWS = [
    (0, 1), (0, 2), (1, 2), (2, 3), (3, 0), (1, 0), (3, 4), (4, 5), (5, 3),
    (5, 6), (6, 7), (7, 5), (2, 7), (8, 9), (9, 8), (9, 10), (10, 8), (4, 1),
    (6, 2), (11, 0),
]
# person 2 has authored nothing; kind is the Post(1)/Comment(2) mask
MESSAGES = [(100 + i, 10 * i, 1 if i % 3 else 2, [0, 1, 3, 4, 5, 7, 9][i % 7])
            for i in range(24)]


@pytest.fixture(scope="module")
def snb(spark):
    spark.createDataFrame(
        [
            (i, f"p{i}", "female" if i % 2 else "male", "{x}" if i in (0, 5) else f"n{i}")
            for i in range(N_PERSON)
        ],
        "id long, firstName string, gender string, `nick name` string",
    ).createOrReplaceTempView("sc_person")
    spark.createDataFrame(
        [Row(id=1000 + i, src=s, dst=d, creationDate=50 + 7 * i)
         for i, (s, d) in enumerate(KNOWS)],
        "id long, src long, dst long, creationDate long",
    ).createOrReplaceTempView("sc_knows")
    spark.createDataFrame(
        [Row(id=m, creationDate=c, kind=k) for m, c, k, _ in MESSAGES],
        "id long, creationDate long, kind int",
    ).createOrReplaceTempView("sc_message")
    spark.createDataFrame(
        [Row(messageId=m, personId=p) for m, _, _, p in MESSAGES],
        "messageId long, personId long",
    ).createOrReplaceTempView("sc_has_author")
    s = PGQSession(spark)
    s.execute(
        """CREATE PROPERTY GRAPH sc
           VERTEX TABLES (
               sc_person LABEL Person,
               sc_message LABEL Message IN kind (Post, Comment)
           )
           EDGE TABLES (
               sc_knows SOURCE KEY (src) REFERENCES sc_person (id)
                        DESTINATION KEY (dst) REFERENCES sc_person (id)
                        EDGE ID (id) LABEL knows,
               sc_has_author SOURCE KEY (messageId) REFERENCES sc_message (id)
                             DESTINATION KEY (personId) REFERENCES sc_person (id)
                             LABEL hasAuthor
           )"""
    )
    return s


# both orientations of every knows edge, as the undirected pattern sees them
UNDIRECTED = (
    "(SELECT src AS a, dst AS b, creationDate FROM sc_knows "
    "UNION ALL SELECT dst, src, creationDate FROM sc_knows)"
)

# the four pgqbench `interactive` shapes: (PGQ statement, hand-written SQL)
INTERACTIVE = {
    "is3": (
        "SELECT f_id, f_first, since FROM GRAPH_TABLE(sc MATCH "
        "(p:Person WHERE p.id = 0)-[k:knows]-(f:Person) "
        "COLUMNS (f.id AS f_id, f.firstName AS f_first, k.creationDate AS since)) "
        "ORDER BY since DESC, f_id",
        f"SELECT f.id, f.firstName, k.creationDate FROM sc_person p "
        f"JOIN {UNDIRECTED} k ON k.a = p.id JOIN sc_person f ON k.b = f.id "
        f"WHERE p.id = 0 ORDER BY k.creationDate DESC, f.id",
    ),
    "ic2": (
        "SELECT f_id, m_id, m_date FROM GRAPH_TABLE(sc MATCH "
        "(p:Person WHERE p.id = 0)-[k:knows]-(f:Person)"
        "<-[h:hasAuthor]-(m:Message WHERE m.creationDate < 200) "
        "COLUMNS (f.id AS f_id, m.id AS m_id, m.creationDate AS m_date)) "
        "ORDER BY m_date DESC, m_id LIMIT 20",
        f"SELECT f.id, m.id, m.creationDate FROM sc_person p "
        f"JOIN {UNDIRECTED} k ON k.a = p.id JOIN sc_person f ON k.b = f.id "
        f"JOIN sc_has_author h ON h.personId = f.id "
        f"JOIN sc_message m ON h.messageId = m.id "
        f"WHERE p.id = 0 AND m.creationDate < 200 "
        f"ORDER BY m.creationDate DESC, m.id LIMIT 20",
    ),
    "fof_count": (
        "SELECT count(DISTINCT ff_id) AS n FROM GRAPH_TABLE(sc MATCH "
        "(p:Person WHERE p.id = 0)-[k1:knows]-(f:Person)"
        "-[k2:knows]-(ff:Person WHERE ff.gender = 'female') "
        "COLUMNS (ff.id AS ff_id)) WHERE ff_id <> 0",
        f"SELECT count(DISTINCT ff.id) FROM sc_person p "
        f"JOIN {UNDIRECTED} k1 ON k1.a = p.id JOIN sc_person f ON k1.b = f.id "
        f"JOIN {UNDIRECTED} k2 ON k2.a = f.id JOIN sc_person ff ON k2.b = ff.id "
        f"WHERE p.id = 0 AND ff.gender = 'female' AND ff.id <> 0",
    ),
    "triangle_count": (
        "SELECT count(*) AS n FROM GRAPH_TABLE(sc MATCH "
        "(a:Person WHERE a.id = 0)-[k1:knows]-(b:Person)-[k2:knows]-(c:Person)"
        "-[k3:knows]-(a:Person) COLUMNS (b.id AS b_id))",
        f"SELECT count(*) FROM sc_person a "
        f"JOIN {UNDIRECTED} k1 ON k1.a = a.id JOIN sc_person b ON k1.b = b.id "
        f"JOIN {UNDIRECTED} k2 ON k2.a = b.id JOIN sc_person c ON k2.b = c.id "
        f"JOIN {UNDIRECTED} k3 ON k3.a = c.id AND k3.b = a.id WHERE a.id = 0",
    ),
}

OTHER = {
    "reverse_edge": (
        "SELECT * FROM GRAPH_TABLE(sc MATCH (a:Person)<-[k:knows]-(b:Person) "
        "COLUMNS (a.id AS a_id, b.id AS b_id, k.id AS k_id))",
        "SELECT dst, src, id FROM sc_knows",
    ),
    "both_directions": (
        "SELECT * FROM GRAPH_TABLE(sc MATCH (a:Person)<-[k:knows]->(b:Person) "
        "COLUMNS (a.id AS a_id, b.id AS b_id))",
        "SELECT e.src, e.dst FROM sc_knows e "
        "JOIN sc_knows r ON r.src = e.dst AND r.dst = e.src",
    ),
    "sublabel": (
        "SELECT * FROM GRAPH_TABLE(sc MATCH (m:Post)-[h:hasAuthor]->(p:Person) "
        "COLUMNS (m.id AS m_id, p.firstName AS author))",
        "SELECT m.id, p.firstName FROM sc_message m "
        "JOIN sc_has_author h ON h.messageId = m.id "
        "JOIN sc_person p ON h.personId = p.id WHERE (m.kind & 1) = 1",
    ),
    "aggregate_only_columns": (
        "SELECT * FROM GRAPH_TABLE(sc MATCH (a:Person)-[k:knows]->(b:Person "
        "WHERE b.gender = 'male') COLUMNS (count(*) AS n, max(k.creationDate) AS latest))",
        "SELECT count(*), max(k.creationDate) FROM sc_knows k "
        "JOIN sc_person b ON k.dst = b.id WHERE b.gender = 'male'",
    ),
    "quoted_identifier_and_brace_literal": (
        "SELECT p_id, nick, '{x}' AS tag FROM GRAPH_TABLE(sc MATCH "
        "(p:Person WHERE p.\"nick name\" <> '{x}')-[k:knows]->(f:Person) "
        "COLUMNS (p.id AS p_id, f.\"nick name\" AS nick)) WHERE nick = '{x}'",
        "SELECT p.id, f.`nick name`, '{x}' FROM sc_knows k "
        "JOIN sc_person p ON k.src = p.id JOIN sc_person f ON k.dst = f.id "
        "WHERE p.`nick name` <> '{x}' AND f.`nick name` = '{x}'",
    ),
    "aliasless_graph_table": (
        "SELECT unnamed_subquery.p_id FROM GRAPH_TABLE(sc MATCH "
        "(p:Person WHERE p.gender = 'female') COLUMNS (p.id AS p_id))",
        "SELECT id FROM sc_person WHERE gender = 'female'",
    ),
}


@pytest.mark.parametrize("name", sorted(INTERACTIVE) + sorted(OTHER))
def test_compiled_sql_matches_hand_written_join(spark, snb, name):
    pgq_sql, hand_sql = {**INTERACTIVE, **OTHER}[name]
    ordered = "ORDER BY" in pgq_sql
    want = rows(spark.sql(hand_sql), sort=not ordered)
    assert want, "the fixture must give every shape a non-empty answer"
    assert rows(snb.sql(pgq_sql), sort=not ordered) == want


def test_brace_literals_survive_bound_kernel_frames(spark, snb):
    """A quantified edge binds its BFS output as a frame, so the statement
    goes through spark.sql's formatter: braces in user text stay literal."""
    got = snb.sql(
        "SELECT DISTINCT b_id, '{x}' AS tag FROM GRAPH_TABLE(sc MATCH "
        "(a:Person WHERE a.\"nick name\" = '{x}')-[k:knows]->{1,2}(b:Person) "
        "COLUMNS (b.id AS b_id)) WHERE b_id <> -1"
    )
    hop = (
        "SELECT k.dst AS b FROM sc_knows k JOIN sc_person a ON k.src = a.id "
        "WHERE a.`nick name` = '{x}'"
    )
    want = spark.sql(
        f"SELECT DISTINCT b, '{{x}}' FROM ({hop} UNION ALL "
        f"SELECT k2.dst FROM ({hop}) h JOIN sc_knows k2 ON k2.src = h.b)"
    )
    assert rows(got) == rows(want)


def _no_statement_views(spark) -> list[str]:
    return [
        t.name for t in spark.catalog.listTables()
        if t.name.startswith(("__pgq", "_pyspark"))
    ]


def test_no_view_outlives_its_statement(spark, snb):
    df = snb.sql(
        "SELECT g1.p_id, g2.nm, pr.pagerank, '{x}' AS tag FROM GRAPH_TABLE(sc MATCH "
        "(p:Person)-[k:knows]->(f:Person) COLUMNS (p.id AS p_id, f.id AS f_id)) g1 "
        "JOIN GRAPH_TABLE(sc MATCH (p:Person) COLUMNS (p.id AS id, p.firstName AS nm)) g2 "
        "ON g1.f_id = g2.id JOIN pagerank(sc, Person, knows) pr ON pr.id = g1.p_id"
    )
    assert _no_statement_views(spark) == []
    ranks = {r.id: r.pagerank for r in snb.pagerank("sc", "Person", "knows").collect()}
    got = rows(df)
    want = sorted(
        ((s, f"p{d}", ranks[s], "{x}") for s, d in KNOWS),
        key=lambda t: tuple(map(str, t)),
    )
    assert [g[:2] + g[3:] for g in got] == [w[:2] + w[3:] for w in want]
    assert all(g[2] == pytest.approx(w[2]) for g, w in zip(got, want))
    with pytest.raises(Exception):
        snb.sql("SELECT no_such_column FROM pagerank(sc, Person, knows)")
    assert _no_statement_views(spark) == []


class _Counter:
    def __init__(self, fn):
        self.fn, self.calls = fn, 0

    def __call__(self, *args, **kwargs):
        self.calls += 1
        return self.fn(*args, **kwargs)


@pytest.mark.parametrize("name", sorted(INTERACTIVE))
def test_interactive_read_gateway_ceiling(spark, snb, monkeypatch, name):
    """One warm interactive read: one spark.sql call, no temp view, and at
    most 40 py4j round trips while the statement is built."""
    query = INTERACTIVE[name][0]
    snb.sql(query).collect()  # warm: the graph's guards and schemas
    client = spark.sparkContext._gateway._gateway_client
    sends = _Counter(client.send_command)
    sql_calls = _Counter(spark.sql)
    views = _Counter(type(spark.range(1)).createOrReplaceTempView)
    monkeypatch.setattr(client, "send_command", sends)
    monkeypatch.setattr(spark, "sql", sql_calls)
    monkeypatch.setattr(type(spark.range(1)), "createOrReplaceTempView", views)
    snb.sql(query)
    monkeypatch.undo()
    assert sql_calls.calls == 1
    assert views.calls == 0
    assert sends.calls <= 40, f"{sends.calls} py4j calls"


def test_compiled_sql_logged_at_debug(snb, caplog):
    caplog.set_level(logging.DEBUG, logger="duckpgq_extension_spark")
    snb.sql(
        "SELECT * FROM GRAPH_TABLE(sc MATCH (p:Person) COLUMNS (p.id AS a)) x "
        "JOIN GRAPH_TABLE(sc MATCH (m:Message) COLUMNS (m.id AS b)) y ON a = b"
    )
    records = [r for r in caplog.records if r.name == "duckpgq_extension_spark"]
    assert len(records) == 2
    assert all(r.levelno == logging.DEBUG for r in records)
    assert all("sc" in r.getMessage() and "SELECT" in r.getMessage() for r in records)
    assert "`sc_message`" in records[1].getMessage()
