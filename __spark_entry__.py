"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash -> CORRECTNESS_r{N}.json).

Implementations live in duckpgq_extension_spark.entry_queries; see that
module for the derived-graph definition and the oracle-matching rules.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from duckpgq_extension_spark import entry_queries as EQ  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: two-hop friend-of-friend
    pattern through the MATCH compiler (SURVEY §2A's core operator)."""
    return EQ.q_match_2hop(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 (+ §2C
    pipeline additions).  Each callable takes (spark, sf_dir)."""
    return dict(EQ.QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query.  Every queries() key has an
    oracle, because the registry stores each query with its oracle as
    one (query, oracle) row — including ANY-SHORTEST path contents
    (deterministic lex-min tie-break makes them SQL-expressible) and
    the LSH/packing pipelines (recursive CTEs) — so no query falls back
    to the driver's weaker rows-only check."""
    return dict(EQ.ORACLES)
