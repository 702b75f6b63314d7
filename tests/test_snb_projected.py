"""Port of test/sql/snb/snb_projected.test_slow — the SNB "projected"
property graph: the Place hierarchy with label inheritance
(Place IN Subcategory(Continent, Country, City)) and the IS2 short-read
over Person -[isLocatedIn]-> City.

The reference disables this file as slow and runs it against the SF1
projected database (snb_projected.test_slow:1-30); that data does not
ship, so the port runs the same DDL shape + query shapes against the
bundled SNB0.003 tables, deriving the pieces the projected import
provides pre-baked:
  - the Subcategory discriminator bitmask from place.type
    (Continent=1, Country=2, City=4 — the reference's IN-clause order),
  - the Person_isLocatedIn_City edge from person.LocationCityId
    (snb_projected.test_slow:54-56 declares it as a table).
Expected values come from DuckDB running the equivalent relational SQL
on the same parquet — a cross-engine oracle instead of the SF1 golden
rows the file pins (those are for data we don't have).
"""

import os

import duckdb
import pytest

from duckpgq_extension_spark import PGQSession

from .conftest import rows

SNB = "/root/reference/data/SNB0.003"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SNB), reason="SNB0.003 reference data absent"
)


def _duck(sql: str):
    con = duckdb.connect()
    try:
        for t in ("person", "place"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{SNB}/{t}.parquet'"
            )
        return con.execute(sql).fetchall()
    finally:
        con.close()


@pytest.fixture(scope="module")
def proj(spark):
    spark.read.parquet(f"{SNB}/person.parquet").createOrReplaceTempView(
        "proj_person"
    )
    # Subcategory bitmask in the reference's declared sublabel order
    spark.sql(
        """CREATE OR REPLACE TEMP VIEW proj_place AS
           SELECT id, name, url, PartOfPlaceId,
                  CASE type WHEN 'Continent' THEN 1
                            WHEN 'Country' THEN 2
                            WHEN 'City' THEN 4 END AS subcategory
           FROM parquet.`{snb}/place.parquet`""".format(snb=SNB)
    )
    # projected edge tables (snb_projected.test_slow:54-56, 74-75)
    spark.sql(
        """CREATE OR REPLACE TEMP VIEW proj_located AS
           SELECT id AS PersonId, LocationCityId AS CityId
           FROM proj_person WHERE LocationCityId IS NOT NULL"""
    )
    spark.sql(
        """CREATE OR REPLACE TEMP VIEW proj_partof AS
           SELECT id AS Place1Id, PartOfPlaceId AS Place2Id
           FROM proj_place WHERE PartOfPlaceId IS NOT NULL"""
    )
    s = PGQSession(spark)
    s.execute("DROP PROPERTY GRAPH IF EXISTS snb_projected")
    s.execute(
        """CREATE PROPERTY GRAPH snb_projected
           VERTEX TABLES (
               proj_person LABEL Person,
               proj_place LABEL Place
                   IN subcategory (Continent, Country, City)
           )
           EDGE TABLES (
               proj_located
                   SOURCE KEY (PersonId) REFERENCES proj_person (id)
                   DESTINATION KEY (CityId) REFERENCES proj_place (id)
                   LABEL Person_isLocatedIn,
               proj_partof
                   SOURCE KEY (Place1Id) REFERENCES proj_place (id)
                   DESTINATION KEY (Place2Id) REFERENCES proj_place (id)
                   LABEL isPartOf
           )"""
    )
    yield s
    s.execute("DROP PROPERTY GRAPH IF EXISTS snb_projected")


def test_is2_person_located_in_city(proj):
    """IS2 (snb_projected.test_slow:103-109): the profile + city columns
    for one pinned person; values cross-checked against DuckDB."""
    got = rows(
        proj.graph_table(
            """snb_projected
               MATCH (a:person WHERE a.id = 14)-[i:Person_isLocatedIn]->(c:City)
               COLUMNS (a.firstName AS firstname, a.lastName AS lastname,
                        CAST(a.birthday AS STRING) AS birthday,
                        a.locationIP AS locationip,
                        a.browserUsed AS browserused, c.id AS city_id,
                        a.gender AS gender)"""
        )
    )
    exp = _duck(
        """SELECT firstName, lastName, CAST(birthday AS VARCHAR),
                  locationIP, browserUsed, LocationCityId, gender
           FROM person WHERE id = 14"""
    )
    assert got == [tuple(r) for r in exp]


def test_inherited_label_partitions_place(proj):
    """City/Country/Continent each see only their slice of proj_place;
    the parent label Place sees everything (inheritance bitmask)."""
    by_label = {
        lab: proj.graph_table(
            f"snb_projected MATCH (p:{lab}) COLUMNS (p.id AS pid)"
        ).count()
        for lab in ("Place", "City", "Country", "Continent")
    }
    exp = dict(
        _duck(
            "SELECT type, count(*) FROM place GROUP BY type"
        )
    )
    assert by_label["City"] == exp["City"]
    assert by_label["Country"] == exp["Country"]
    assert by_label["Continent"] == exp["Continent"]
    assert by_label["Place"] == sum(exp.values())


def test_place_hierarchy_two_hop(proj):
    """City -[isPartOf]-> Country -[isPartOf]-> Continent: every city
    resolves to exactly one continent; count matches the DuckDB 2-hop
    join (1343 at SF0.003) — label-filtered multi-hop over inherited
    labels."""
    got = proj.graph_table(
        """snb_projected
           MATCH (c:City)-[p1:isPartOf]->(co:Country)-[p2:isPartOf]->(ct:Continent)
           COLUMNS (c.id AS city_id, ct.name AS continent)"""
    )
    (exp_n,) = _duck(
        """SELECT count(*) FROM place c
           JOIN place co ON c.PartOfPlaceId = co.id
            AND co.type = 'Country' AND c.type = 'City'
           JOIN place ct ON co.PartOfPlaceId = ct.id
            AND ct.type = 'Continent'"""
    )[0]
    assert got.count() == exp_n
    # and a person can reach their continent through the full chain
    one = rows(
        proj.graph_table(
            """snb_projected
               MATCH (a:Person WHERE a.id = 14)-[i:Person_isLocatedIn]->
                     (c:City)-[p1:isPartOf]->(co:Country)
               COLUMNS (co.name AS country)"""
        )
    )
    exp_country = _duck(
        """SELECT co.name FROM person p
           JOIN place c ON p.LocationCityId = c.id
           JOIN place co ON c.PartOfPlaceId = co.id
           WHERE p.id = 14"""
    )
    assert one == [tuple(r) for r in exp_country]
