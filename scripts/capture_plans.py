#!/usr/bin/env python
"""Capture .explain("formatted") for bench HEADLINE queries into
plans/<round>/<query>_<tag>.txt (tag = before/after), for the
optimization round's plan-diff evidence.

Usage:
    [PLANS_ROUND=r15] python scripts/capture_plans.py before [name ...]
    [PLANS_ROUND=r15] python scripts/capture_plans.py after  [name ...]

With no names, captures every bench HEADLINE row. Plan capture builds
the query (which for a few operators runs real jobs at build time) but
never executes the final frame.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    from bench import HEADLINE
    from jonesy_spark.caching import cache_scope
    from jonesy_spark.plans import all_queries
    from jonesy_spark.session import get_spark

    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    names = sys.argv[2:] or HEADLINE
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        os.environ.get("PLANS_ROUND", "r15"),
    )
    os.makedirs(out_dir, exist_ok=True)

    spark = get_spark(app_name="plan_capture")
    queries = all_queries()
    for name in names:
        spark.catalog.clearCache()
        try:
            with cache_scope():
                df = queries[name](spark, SF_DIR)
                plan = df._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                        "formatted"
                    )
                )
        except Exception as exc:  # capture the failure instead of dying
            plan = f"ERROR building {name}: {exc!r}\n"
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        n_exchange = plan.count("Exchange")
        print(f"{name}: {len(plan)} chars, Exchange x{n_exchange} -> {path}")


if __name__ == "__main__":
    main()
