"""One-shot scale-tier sweep: run named driver queries (default: the
bench's SF1_QUERIES) against any tier directory with the same
fresh-session + gc-release protocol bench.py's sf1 section uses.

The source of PERF.md's two-decade scaling table:
  python tools/make_scale_tier.py 100 /root/testdata/sf0.1 data/scale/sf10
  python tools/scale_sweep.py data/scale/sf10 [query ...]
"""

from __future__ import annotations

import gc
import os
import sys
import time

from _root import ROOT, use_checkout

use_checkout()

from duckpgq_extension_spark import get_spark  # noqa: E402
import duckpgq_extension_spark.entry_queries as EQ  # noqa: E402


def main() -> None:
    sf = sys.argv[1] if len(sys.argv) > 1 else os.path.join(ROOT, "data", "scale", "sf1")
    from bench import SF1_QUERIES

    names = sys.argv[2:] or SF1_QUERIES
    spark = get_spark(app_name="scale_sweep")
    EQ.setup(spark, sf, force=True)
    EQ.QUERIES["match_1hop"](spark, sf).count()  # warm untimed
    for name in names:
        fn = EQ.QUERIES[name]
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        t0 = time.perf_counter()
        n = fn(spark, sf).count()
        print(f"{name}: {round(time.perf_counter() - t0, 2)}s ({n} rows)",
              flush=True)


if __name__ == "__main__":
    main()
