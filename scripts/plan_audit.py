#!/usr/bin/env python
"""Physical-plan anti-pattern sweep over the ENTIRE query registry.

For every registered query (driver-facing AND registry-only), build its
DataFrame at the given scale factor and grep the formatted physical
plan for the anti-patterns the scale contract forbids:

  * ``CartesianProduct``          — a non-broadcast cross join: O(n*m)
                                    at corpus scale, never acceptable;
  * ``BatchEvalPython``           — row-at-a-time Python UDF in the
                                    plan (the sanctioned Python paths
                                    are Arrow-batched: ArrowEvalPython
                                    / MapInPandas / FlatMapGroupsInPandas);
  * broadcast of an unbounded side — not grep-detectable generically;
    covered by the per-operator plan tests instead.

Also counted per query (informational, not failures):

  * ``Exchange``                  — shuffles: the number to WATCH when
                                    a plan changes across rounds;
  * ``BroadcastNestedLoopJoin``   — accepted ONLY for the deliberate
                                    1-row/bounded-side cross joins
                                    (totals frames, centroid arrays,
                                    model metadata). Since r9 this is
                                    MACHINE-CHECKED, not just listed:
                                    every BNLJ's build side must be
                                    provably bounded — a grouping-free
                                    aggregate (1 row), an explicit
                                    limit, or a driver-materialized
                                    local table, reached through
                                    row-count-preserving unary nodes —
                                    or the audit FAILS (the one gap an
                                    unbounded O(n*m) regression could
                                    previously slip through);
  * ``ArrowEvalPython`` / ``MapInPandas`` — the sanctioned Python
                                    boundary (codec/as-of), listed to
                                    keep its footprint visible.

Exit 1 when any hard anti-pattern appears. Usage:

    python scripts/plan_audit.py [--sf-dir /root/testdata/sf0.001] [name ...]

Note: a few builders run real jobs at build time (connected-components
rounds, incremental-index seeds) — the audit executes them at the tiny
default SF; plan capture itself never executes the returned frame.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import re
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

HARD = ("CartesianProduct", "BatchEvalPython")
WATCH = (
    "Exchange",
    "BroadcastNestedLoopJoin",
    "ArrowEvalPython",
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "SortMergeJoin",
    "BroadcastHashJoin",
)


#: Query names whose BNLJ build side is bounded for reasons the
#: structural rule cannot see — add with a justification comment,
#: never silently.
BNLJ_WHITELIST: set[str] = {
    # pairwise sketch algebra (stats.kmv_overlap_report): the non-equi
    # pair join enumerates G x G group pairs where G is the distinct
    # group count of a <= k-rows-per-group sketch LEDGER —
    # metadata-sized by the ledger's own construction; the bound lives
    # in the ledger contract, not in any plan shape.
    "kmv_overlap_users",
    # the truth-pair self-join is budget-guarded at RUNTIME:
    # dedup.lsh_recall_report counts the sample up front and raises
    # when the implied pair count exceeds max_truth_pairs (the r7 #8
    # guard) — a checked count, not a plan shape.
    "lsh_recall",
}

#: Unary nodes that preserve (or reduce) row count — safe to descend
#: through when proving a build side bounded.
_PASS_THROUGH = (
    "Filter",
    "Project",
    "BroadcastExchange",
    "Exchange",
    "Sort",
    "InputAdapter",
    "ColumnarToRow",
    "AQEShuffleRead",
    "Coalesce",
    "Window",
    "WholeStageCodegen",
    # a reused broadcast of a bounded side is as bounded as the
    # original — _plan_children resolves its child()
    "ReusedExchange",
)
#: Subtree roots that bound their output by construction: an explicit
#: limit, or a table already materialized on the driver.
_BOUNDED_ROOTS = (
    "GlobalLimit",
    "CollectLimit",
    "TakeOrderedAndProject",
    "LocalTableScan",
)
_AGGS = ("HashAggregate", "SortAggregate", "ObjectHashAggregate")


def _plan_children(node):
    name = node.nodeName()
    if name == "AdaptiveSparkPlan":
        return [node.inputPlan()]
    if name.startswith("ReusedExchange"):
        return [node.child()]
    return [node.children().apply(i) for i in range(node.children().size())]


def _is_bounded(node) -> bool:
    """True iff this physical subtree provably produces a bounded
    (metadata-sized) row count: a grouping-free aggregate (exactly one
    row), an explicit limit, or a driver-materialized local table —
    reached only through nodes that never increase row count. A keyed
    aggregate reduces rows but does not bound them; scans, joins,
    Generate/Expand/Union can all be corpus-sized, so they fail."""
    name = node.nodeName()
    if any(name.startswith(a) for a in _AGGS):
        try:
            return node.groupingExpressions().size() == 0
        except Exception:  # noqa: BLE001 — py4j API drift: be strict
            return False
    if any(name.startswith(b) for b in _BOUNDED_ROOTS):
        return True
    if name.startswith("BroadcastNestedLoopJoin"):
        # a cross join of two bounded sides is a bounded product
        # (the nested 1-row x 1-row totals frames)
        kids = _plan_children(node)
        return len(kids) == 2 and all(_is_bounded(k) for k in kids)
    if any(name.startswith(p) for p in _PASS_THROUGH):
        kids = _plan_children(node)
        return len(kids) == 1 and _is_bounded(kids[0])
    return False


def bnlj_violations(df) -> list[str]:
    """Every BroadcastNestedLoopJoin in the plan whose BUILD side is
    not provably bounded (see :func:`_is_bounded`) — each one is a
    potential O(n*m) blow-up at corpus scale and fails the audit."""
    out: list[str] = []

    def walk(n):
        if n.nodeName().startswith("BroadcastNestedLoopJoin"):
            kids = _plan_children(n)
            side = n.buildSide().toString()
            build = kids[1] if side == "BuildRight" else kids[0]
            if not _is_bounded(build):
                out.append(
                    f"BNLJ {side} build rooted at {build.nodeName()} "
                    "is not provably bounded"
                )
        for c in _plan_children(n):
            walk(c)

    walk(df._jdf.queryExecution().executedPlan())
    return out


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def audit(plan: str) -> dict[str, int]:
    # formatted explain prints each node in the tree AND a numbered
    # detail block — count only the numbered detail entries.
    counts: dict[str, int] = {}
    for node in HARD + WATCH:
        counts[node] = len(re.findall(rf"\(\d+\) {node}", plan))
    return counts


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    from jonesy_spark.plans import all_queries
    from jonesy_spark.session import get_spark

    spark = get_spark(app_name="plan_audit", shuffle_partitions=8)
    queries = all_queries()
    names = args.names or sorted(queries)

    failures: list[str] = []
    rows = []
    for name in names:
        try:
            df = queries[name](spark, args.sf_dir)
            counts = audit(plan_of(df))
            unbounded = (
                bnlj_violations(df)
                if counts["BroadcastNestedLoopJoin"]
                and name not in BNLJ_WHITELIST
                else []
            )
        except Exception as exc:  # noqa: BLE001
            failures.append(name)
            print(f"ERR  {name}: {type(exc).__name__}: {exc}")
            continue
        bad = {k: v for k, v in counts.items() if k in HARD and v}
        if bad or unbounded:
            failures.append(name)
        rows.append({"query": name, **counts})
        flags = " ".join(f"{k}={v}" for k, v in counts.items() if v)
        tail = ("  " + "; ".join(unbounded)) if unbounded else ""
        print(f"{'FAIL' if bad or unbounded else 'ok  '} {name}: {flags}{tail}")

    total = {k: sum(r[k] for r in rows) for k in HARD + WATCH}
    print(json.dumps({"queries": len(rows), "totals": total, "failures": failures}))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
