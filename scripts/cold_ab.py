#!/usr/bin/env python
"""Cold-JVM timing of one registry row: one FRESH JVM per invocation,
bench-style timing (noop sink, cache cleared per run, each run in its
own cache scope, cold + min-of-warm).

Why a fresh process per arm: the r14 same-session interleaved A/Bs
picked persists that BOTH of the driver's independent cold runs then
measured as regressions (prefix_jaccard_join +46-54 %) — a warm
session's page cache + populated code cache hides the cost a cold run
pays to materialize a giant cached frame. The driver times cold JVMs,
so adjudication must too (VERDICT r14 #1-3). To compare two versions
of the code, alternate invocations ACROSS checkouts (A B A B ...) so
window drift still cancels.

Usage:
  python scripts/cold_ab.py QUERY [-n RUNS]

Prints ONE JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("query")
    ap.add_argument("-n", "--runs", type=int, default=4)
    args = ap.parse_args()

    from jonesy_spark.caching import cache_scope
    from jonesy_spark.plans import all_queries
    from jonesy_spark.session import get_spark

    spark = get_spark(app_name="cold_ab")
    queries = all_queries()
    spark.read.parquet(f"{SF_DIR}/lineitem.parquet").limit(1).count()

    def run_once() -> float:
        spark.catalog.clearCache()
        with cache_scope():
            t0 = time.time()
            df = queries[args.query](spark, SF_DIR)
            df.write.mode("overwrite").format("noop").save()
            return time.time() - t0

    runs = [run_once() for _ in range(args.runs)]
    print(
        json.dumps(
            {
                "query": args.query,
                "cold": round(runs[0], 3),
                "warm_min": round(min(runs[1:]), 3) if len(runs) > 1 else None,
                "runs": [round(r, 3) for r in runs],
            }
        )
    )


if __name__ == "__main__":
    main()
