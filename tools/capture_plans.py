"""Capture .explain("formatted") output for declared queries into
plans/<tag>/<query>_<suffix>.txt (round-10 deliverable: committed plan
evidence for every optimized query).

Usage: python tools/capture_plans.py <tag> <suffix> [sf_dir] [query ...]
e.g.   python tools/capture_plans.py r10 before /root/testdata/sf0.1 cheapest_path
"""

from __future__ import annotations

import os
import sys

from _root import ROOT, use_checkout

use_checkout()

from duckpgq_extension_spark import entry_queries as EQ  # noqa: E402
from duckpgq_extension_spark.session import get_spark  # noqa: E402


def main():
    tag = sys.argv[1]
    suffix = sys.argv[2]
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"
    names = sys.argv[4:] or list(EQ.QUERIES)
    out_dir = os.path.join(ROOT, "plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name=f"capture_plans_{tag}")
    EQ.setup(spark, sf_dir, force=True)
    for name in names:
        fn = EQ.QUERIES[name]
        try:
            df = fn(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as e:  # noqa: BLE001
            plan = f"ERROR building plan: {e}"
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({len(plan)} chars)")


if __name__ == "__main__":
    main()
