"""Time every bench query's DuckDB oracle at a given scale (default
sf0.1, 32 threads) — the denominator of PERF.md's Spark-vs-DuckDB table.

Median of ORACLE_REPS runs per query (default 3), each in a fresh
connection so nothing is cached across runs; unlike bench.py there is no
separate cold pass, so the first run counts toward the median.  Slow oracles
(the unrolled iterative CTEs: pagerank at sf0.1 ran 447 s in round 2)
are interrupted at TIMEOUT seconds via con.interrupt() and reported as
">Ns" — the comparison point is then a lower bound on the oracle's cost.

Usage: python tools/oracle_times.py [sf_dir] [query ...]
Emits one JSON line: {"sf_dir": ..., "threads": N, "times": {q: sec|">Ns"}}
"""

from __future__ import annotations

import json
import sys
import threading
import time

import duckdb

from _root import use_checkout  # noqa: E402

use_checkout()

import __spark_entry__ as entry_mod  # noqa: E402
from duckpgq_extension_spark.sources.tables import TABLES  # noqa: E402

import os

THREADS = int(os.environ.get("ORACLE_THREADS", "32"))
TIMEOUT = float(os.environ.get("ORACLE_TIMEOUT", "120"))
REPS = int(os.environ.get("ORACLE_REPS", "3"))


def time_oracle(sql: str, sf_dir: str) -> float | str:
    runs = []
    for _ in range(REPS):
        con = duckdb.connect()
        con.execute(f"SET threads TO {THREADS}")
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
            )
        timer = threading.Timer(TIMEOUT, con.interrupt)
        timer.start()
        t0 = time.perf_counter()
        try:
            con.execute(sql).fetchall()
            runs.append(time.perf_counter() - t0)
        except duckdb.InterruptException:
            timer.cancel()
            con.close()
            return f">{int(TIMEOUT)}s"
        finally:
            timer.cancel()
            con.close()
    return round(sorted(runs)[len(runs) // 2], 3)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    only = set(sys.argv[2:])
    import bench

    oracles = entry_mod.oracle_sql()
    names = [n for n in bench.BENCH_QUERIES if n in oracles]
    if only:
        names = [n for n in names if n in only]
    times: dict[str, float | str] = {}
    for name in names:
        times[name] = time_oracle(oracles[name], sf_dir)
        print(f"# {name}: {times[name]}", file=sys.stderr)
    skipped = [n for n in bench.BENCH_QUERIES if n not in oracles]
    print(
        json.dumps(
            {
                "sf_dir": sf_dir,
                "threads": THREADS,
                "protocol": f"median_of_{REPS}_timeout_{int(TIMEOUT)}s",
                "times": times,
                "no_oracle": skipped,
            }
        )
    )


if __name__ == "__main__":
    main()
