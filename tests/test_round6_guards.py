"""Round-6 guard rails (ADVICE r5 items, all in catalog.py / paths.py):

- SQL-literal escaping of table/schema names in constraint discovery
  (a quoted identifier containing ' must not break the info-schema query).
- _INFOSCHEMA cache entries are weakref-validated so a recycled id() from
  a garbage-collected session can never serve a stale probe verdict.
- constraint_foreign_keys schema-qualifies cross-schema referenced tables.
"""

from __future__ import annotations

import os

import pytest

from duckpgq_extension_spark import catalog as C
from duckpgq_extension_spark.operators import paths as P


# ------------------------------------------------- SQL literal escaping


def test_sql_str_escapes_single_quotes():
    assert C._sql_str("o'brien") == "o''brien"
    assert C._sql_str("plain") == "plain"
    assert C._sql_str("a''b") == "a''''b"


def test_constraint_discovery_survives_quoted_identifier(spark):
    # Session catalog has no information_schema, so both return [] — the
    # point is that a name containing a single quote must not raise on the
    # way there (the f-string used to produce invalid SQL, swallowed by the
    # bare except and indistinguishable from "no constraints").
    assert C.constraint_primary_key(spark, "`it's`.`o'brien`") == []
    assert C.constraint_foreign_keys(spark, "`it's`.`o'brien`") == []


# ------------------------------------------------- stale-id cache guard


def test_infoschema_cache_revalidates_on_id_reuse(spark):
    """A cache entry whose weakref no longer points at the probing session
    (CPython id() reuse after GC) must be re-probed, not served."""

    class _DeadSession:
        pass

    dead = _DeadSession()
    key = (id(spark), "")
    # Poison the cache: claim information_schema IS available, attributed
    # to a different (collected) session that happens to share the id.
    import weakref

    C._INFOSCHEMA[key] = (weakref.ref(dead), True)
    try:
        # The real session catalog has no information_schema: a stale hit
        # would return True; revalidation must re-probe and say False.
        assert C._infoschema_available(spark, "") is False
        ref, val = C._INFOSCHEMA[key]
        assert ref() is spark and val is False
    finally:
        C._INFOSCHEMA.pop(key, None)


def test_infoschema_cache_hit_for_same_session(spark):
    C._INFOSCHEMA.pop((id(spark), ""), None)
    try:
        first = C._infoschema_available(spark, "")
        # Second call must come from cache (entry unchanged, same verdict).
        assert C._infoschema_available(spark, "") is first
    finally:
        C._INFOSCHEMA.pop((id(spark), ""), None)


# --------------------------------------- session adjacency cache


def test_prep_edges_cache_hits_same_plan(spark):
    from pyspark.sql import functions as F

    P.clear_prep_cache()
    df = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1)], "src long, dst long"
    )
    a = P._prep_edges(df, 4)
    b = P._prep_edges(df, 4)
    assert a is b, "same analyzed plan + partitions must hit the cache"
    # a different partition count is a different entry
    c = P._prep_edges(df, 8)
    assert c is not a
    # a semantically different frame misses
    d = P._prep_edges(df.where(F.col("src") > 1), 4)
    assert d is not a
    # plans that compute the same values under other column names
    # (sameResult ignores names) are different entries
    w = P._prep_edges(df.withColumn("weight", F.col("src")), 4)
    i = P._prep_edges(df.withColumn("edge_id", F.col("src")), 4)
    assert i is not w and i.columns == ["src", "dst", "edge_id"]
    P.clear_prep_cache(spark)
    e = P._prep_edges(df, 4)
    assert e is not a, "clear_prep_cache must drop the entry"


def test_prep_edges_cache_not_stale_across_view_repoint(spark, tmp_path):
    """Re-pointing a temp view at DIFFERENT files must miss the cache —
    the file index lives in the analyzed plan (the round-3 bench bug
    class: silently measuring the previous tier)."""
    p1, p2 = str(tmp_path / "e1"), str(tmp_path / "e2")
    spark.createDataFrame([(1, 2)], "src long, dst long").write.parquet(p1)
    spark.createDataFrame(
        [(1, 2), (2, 3)], "src long, dst long"
    ).write.parquet(p2)
    P.clear_prep_cache()
    spark.read.parquet(p1).createOrReplaceTempView("__adjcache_e")
    out1 = P._prep_edges(spark.table("__adjcache_e"), 4)
    spark.read.parquet(p2).createOrReplaceTempView("__adjcache_e")
    out2 = P._prep_edges(spark.table("__adjcache_e"), 4)
    assert out1.count() == 1 and out2.count() == 2


def test_prep_edges_cache_fifo_cap(spark):
    from pyspark.sql import functions as F

    P.clear_prep_cache()
    df = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    first = P._prep_edges(df, 4)
    for i in range(P._ADJ_CACHE_MAX):
        P._prep_edges(df.where(F.col("src") != F.lit(1000 + i)), 4)
    again = P._prep_edges(df, 4)
    assert again is not first, "FIFO cap must have evicted the oldest"
    assert again.count() == 2, "evicted frames must still be rebuildable"


def test_cache_invalidation_is_public_api(spark, tmp_path):
    """clear_prep_cache is exported at package top level and wrapped as
    PGQSession.clear_adjacency_cache (the delete_csr analog) — users who
    rewrite table files in-session need a supported invalidation path
    (round-6 advice)."""
    import duckpgq_extension_spark as dpq
    from duckpgq_extension_spark.operators import paths as P

    assert dpq.clear_prep_cache is P.clear_prep_cache
    assert "clear_prep_cache" in dpq.__all__

    sess = dpq.PGQSession(spark, catalog_path=str(tmp_path / "cat.json"))
    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    prepped = P._prep_edges(edges, 4)  # populate this session's cache
    assert prepped is P._prep_edges(edges, 4), "expected a cache hit"
    sess.clear_adjacency_cache()
    assert prepped is not P._prep_edges(edges, 4), "method must drop the entry"


def _add_parquet_file(spark, rows, schema, table_dir, stage_dir):
    """Add one parquet file to `table_dir` the way an outside writer does
    (written elsewhere, then moved in), so Spark's recache-on-write for
    the table path never runs."""
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(stage_dir)
    part = next(f for f in os.listdir(stage_dir) if f.endswith(".parquet"))
    os.rename(os.path.join(stage_dir, part), os.path.join(table_dir, "appended.parquet"))


def test_appended_edge_file_reaches_kernels(spark, tmp_path):
    """A parquet file appended to an edge table's directory reaches
    pagerank, WCC and shortest paths after the view is re-read: the cache
    key holds the plan's file listing (the plan alone compares equal by
    the directory's root path), and the stale entry is unpersisted before
    the rebuild (Spark's CacheManager would otherwise serve pagerank's
    rebuilt persist from the old twin)."""
    from duckpgq_extension_spark import PGQSession, algorithms

    knows = str(tmp_path / "knows")
    spark.createDataFrame([(1, 2), (3, 4)], "src long, dst long").write.parquet(knows)
    spark.range(1, 5).createOrReplaceTempView("append_person")
    pgq = PGQSession(spark, catalog_path=str(tmp_path / "cat.json"))
    queries = (
        "SELECT id, pagerank FROM pagerank(append_g, Person, knows)",
        "SELECT id, componentId FROM weakly_connected_component(append_g, Person, knows)",
        "SELECT plen FROM GRAPH_TABLE(append_g MATCH p = ANY SHORTEST "
        "(a:Person WHERE a.id = 1)-[k:knows]->*(b:Person WHERE b.id = 4) "
        "COLUMNS (path_length(p) AS plen))",
    )

    def run():
        spark.read.parquet(knows).createOrReplaceTempView("append_knows")
        pgq.execute(
            "CREATE OR REPLACE PROPERTY GRAPH append_g VERTEX TABLES "
            "(append_person LABEL Person) EDGE TABLES (append_knows "
            "SOURCE KEY (src) REFERENCES append_person (id) "
            "DESTINATION KEY (dst) REFERENCES append_person (id) LABEL knows)"
        )
        return [sorted(map(tuple, pgq.sql(q).collect())) for q in queries]

    _, wcc, plen = run()
    assert wcc == [(1, 1), (2, 1), (3, 3), (4, 3)] and plen == []
    _add_parquet_file(spark, [(2, 3)], "src long, dst long", knows, str(tmp_path / "stage"))
    rank, wcc, plen = run()
    fresh = algorithms.pagerank(
        spark.createDataFrame([(1, 2), (3, 4), (2, 3)], "src long, dst long"),
        spark.range(1, 5),
    ).collect()
    assert [v for v, _ in rank] == [1, 2, 3, 4]
    assert [r for _, r in rank] == pytest.approx(
        [r["pagerank"] for r in sorted(fresh, key=lambda r: r["vid"])], abs=1e-9
    )
    assert wcc == [(1, 1), (2, 1), (3, 1), (4, 1)]
    assert plen == [(3,)]


def test_appended_document_file_gets_signature(spark, tmp_path):
    from duckpgq_extension_spark.operators.dedup import minhash_signatures

    docs = str(tmp_path / "docs")
    spark.createDataFrame([(1, "a b c d")], "id long, text string").write.parquet(docs)

    def ids():
        sig = minhash_signatures(spark.read.parquet(docs), "id", "text", n=2, num_perm=4)
        return sorted(r["id"] for r in sig.collect())

    assert ids() == [1]
    _add_parquet_file(
        spark, [(2, "e f g h")], "id long, text string", docs, str(tmp_path / "stage")
    )
    assert ids() == [1, 2]
