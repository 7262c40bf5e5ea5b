#!/usr/bin/env python
"""Interleaved same-session A/B of the verify-stage single-evaluation
guard (``operators.dedup.VERIFY_ONCE`` / ``_eval_once``): times each
pair-verify bench row alternating guard ON vs OFF in ONE Spark session
so machine-window drift cancels. The shared JVM biases the comparison
(JIT and cache state carry over between arms); confirm a decision with
``scripts/cold_ab.py`` (one fresh JVM per arm).

Usage: python scripts/verify_once_probe.py [-n ROUNDS] [name ...]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

DEFAULT_ROWS = [
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "prefix_jaccard_join",
    "incremental_near_dup",
    "embedding_near_dup",
]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("-n", "--rounds", type=int, default=5)
    ap.add_argument("names", nargs="*", default=DEFAULT_ROWS)
    args = ap.parse_args()

    import jonesy_spark.operators.dedup as dd
    from jonesy_spark.operators.dedup import release_caches
    from jonesy_spark.plans import all_queries
    from jonesy_spark.session import get_spark

    spark = get_spark(app_name="verify_once_probe")
    queries = all_queries()
    spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(1).count()

    def run_once(name: str, once: bool) -> float:
        dd.VERIFY_ONCE = once
        spark.catalog.clearCache()
        spark.sparkContext.setJobDescription(
            f"verify_once_probe {name} once={once}"
        )
        t0 = time.time()
        df = queries[name](spark, SF_DIR)
        df.write.mode("overwrite").format("noop").save()
        dt = time.time() - t0
        release_caches(df)
        return dt

    for name in args.names:
        on, off = [], []
        # warm both arms before timing
        run_once(name, True)
        run_once(name, False)
        for _ in range(args.rounds):
            on.append(run_once(name, True))
            off.append(run_once(name, False))
        fmt = lambda xs: (  # noqa: E731
            f"min={min(xs):.2f} med={sorted(xs)[len(xs) // 2]:.2f} "
            f"{[round(x, 2) for x in xs]}"
        )
        print(f"{name}: ONCE(guarded) {fmt(on)}")
        print(f"{name}: PUSHDOWN     {fmt(off)}")


if __name__ == "__main__":
    main()
