import functools

import pytest
from pyspark.sql import Row

from duckpgq_extension_spark import PGQSession, get_spark
from duckpgq_extension_spark.operators.paths import CSR_MAX_EDGES_CONF


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="duckpgq_spark_tests", cpus=4, shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def pgq(spark):
    """F1 Student/know fixture graph (FIXTURES.md; reference
    test/sql/pattern_matching/basic_match.test:10-35)."""
    spark.createDataFrame(
        [
            Row(id=0, name="Daniel"),
            Row(id=1, name="Tavneet"),
            Row(id=2, name="Gabor"),
            Row(id=3, name="Peter"),
            Row(id=4, name="David"),
        ],
        schema="id long, name string",
    ).createOrReplaceTempView("Student")
    spark.createDataFrame(
        [
            Row(src=0, dst=1, createDate=10),
            Row(src=0, dst=2, createDate=11),
            Row(src=0, dst=3, createDate=12),
            Row(src=3, dst=0, createDate=13),
            Row(src=1, dst=2, createDate=14),
            Row(src=1, dst=3, createDate=15),
            Row(src=2, dst=3, createDate=16),
            Row(src=4, dst=3, createDate=17),
        ],
        schema="src long, dst long, createDate long",
    ).createOrReplaceTempView("know")
    spark.createDataFrame(
        [
            Row(name="VU", Id=0, Kind="University"),
            Row(name="UVA", Id=1, Kind="University"),
        ],
        schema="name string, Id long, Kind string",
    ).createOrReplaceTempView("School")
    spark.createDataFrame(
        [Row(personId=p, schoolId=s) for p, s in [(0, 0), (1, 0), (2, 1), (3, 1), (4, 1)]],
        schema="personId long, schoolId long",
    ).createOrReplaceTempView("StudyAt")

    session = PGQSession(spark)
    session.execute(
        """
        CREATE PROPERTY GRAPH pg
        VERTEX TABLES (
            Student PROPERTIES ( id, name ) LABEL Person,
            School LABEL SCHOOL
        )
        EDGE TABLES (
            know    SOURCE KEY ( src ) REFERENCES Student ( id )
                    DESTINATION KEY ( dst ) REFERENCES Student ( id )
                    LABEL Knows,
            StudyAt SOURCE KEY ( personId ) REFERENCES Student ( id )
                    DESTINATION KEY ( SchoolId ) REFERENCES School ( id )
                    LABEL StudyAt
        )
        """
    )
    return session


def rows(df, *, sort=True):
    out = [tuple(r) for r in df.collect()]
    return sorted(out, key=lambda t: tuple(map(str, t))) if sort else out


@pytest.fixture
def dataframe_route(spark):
    """pagerank, WCC, LCC and the path kernels (bfs_distances,
    bidirectional_length, cheapest_path_distances) on their DataFrame
    kernels: the CSR route's edge threshold set to 0 for the test."""
    spark.conf.set(CSR_MAX_EDGES_CONF, "0")
    yield
    spark.conf.unset(CSR_MAX_EDGES_CONF)


def on_dataframe_route(test):
    """A copy of `test` run under `dataframe_route`.  The test itself runs
    with the default threshold, so its small graphs take the CSR route:
    `test_x_dataframe_route = on_dataframe_route(test_x)` checks the same
    goldens on both routes."""
    @functools.wraps(test)
    def run(*args, **kwargs):
        return test(*args, **kwargs)

    return pytest.mark.usefixtures("dataframe_route")(run)
