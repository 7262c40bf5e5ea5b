#!/usr/bin/env python
"""Generate QUERIES.md: the navigable catalog of every registry query —
tier (driver / registry-only), oracle status, and the first docstring
sentence. Run after adding queries; commit the output."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from jonesy_spark.plans import (  # noqa: E402
    DRIVER_ROSTER,
    all_oracle_sql,
    all_queries,
)


def first_sentence(doc: str | None) -> str:
    if not doc:
        return ""
    text = " ".join(doc.split())
    for stop in (". ", ".\n"):
        if stop in text:
            return text[: text.index(stop) + 1]
    return text


def main() -> None:
    queries, oracles = all_queries(), all_oracle_sql()
    lines = [
        "# QUERIES — the full registry",
        "",
        "Generated by `scripts/gen_query_catalog.py`; do not edit by hand.",
        "",
        f"{len(queries)} queries; {len(oracles)} with DuckDB oracles; "
        f"{len(DRIVER_ROSTER)} on the "
        "driver surface (50-slot cap). Registry-only rows keep full "
        "pytest differentials and were hash-verified at sf0.01 via "
        "driver_sim (PARITY.md).",
        "",
        "| query | tier | oracle | summary |",
        "|---|---|---|---|",
    ]
    for name in sorted(queries):
        tier = "driver" if name in DRIVER_ROSTER else "registry"
        orc = "DuckDB" if name in oracles else "pytest-pinned"
        lines.append(
            f"| `{name}` | {tier} | {orc} | "
            f"{first_sentence(queries[name].__doc__)} |"
        )
    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "QUERIES.md"), "w") as fh:
        fh.write("\n".join(lines) + "\n")
    print(f"wrote QUERIES.md ({len(queries)} rows)")


if __name__ == "__main__":
    main()
