#!/usr/bin/env python
"""Simulate the driver's verify pass against __spark_entry__.

Drives the real surface: imports __spark_entry__ (the package boundary
the driver consumes), smoke-runs entry() at sf0.001, then runs every
queries() entry at sf0.01 side-by-side with its oracle_sql() in DuckDB
and compares row-count + sorted-column schema + an order-insensitive
value hash — the same contract as CORRECTNESS_r{N}.json.

CANONICALIZATION MIRRORS THE DRIVER (r07 verdict #3): both result sets
go through a pandas frame — Spark via ``toPandas()``, DuckDB via
``.df()`` — then ``sort_values`` over all columns (which CRASHES on
list-valued cells exactly like the driver's canonicalizer did on
``multimodal_real_codec``/``hash_embeddings`` in r07) and a per-cell
render in which pandas dtypes are VISIBLE: an int64 ``99`` and a
float64 ``99.0`` hash differently (the r06/r07 ``token_budget_prune``
HUGEINT→float64 miss). The earlier fetchall()-based sim normalized
both hazards away and was structurally blind to this failure class.

On top of the hash, a HARD DTYPE GATE fails any driver-facing row
whose Spark OR DuckDB pandas frame contains a float column or an
object column holding non-string scalars (lists, Decimals, floats) —
dates/timestamps are allowed (the driver is green on date rows). The
gate turns the whole representation-hazard class into a local error
before submission.

Usage: python scripts/driver_sim.py [--sf-dir /root/testdata/sf0.01] [name ...]
"""

from __future__ import annotations

import argparse
import datetime as _dt
import hashlib
import math
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

#: object-dtype cell types the driver demonstrably handles (green rows
#: carry date/timestamp columns); everything else non-string is a
#: representation hazard.
_SAFE_OBJECT_TYPES = (str, bytes, bool, _dt.date, _dt.datetime)


def dtype_hazards(pdf, engine: str) -> list[str]:
    """Columns whose pandas representation is one engine-quirk away
    from a driver hash-red: floats (NULL-promoted BIGINTs, HUGEINT
    downcasts) and object cells that are not strings/dates (lists
    crash sort_values; Decimals/None-mixed ints render differently
    per engine)."""
    out = []
    for c in pdf.columns:
        dt = pdf[c].dtype
        kind = getattr(dt, "kind", None)
        if kind == "f":
            out.append(f"{engine}.{c}:{dt}")
        elif kind == "O":
            bad = pdf[c].map(
                lambda v: not (
                    v is None
                    or isinstance(v, _SAFE_OBJECT_TYPES)
                    # numpy bool_/integer scalars render like Python's
                    or getattr(getattr(v, "dtype", None), "kind", "")
                    in ("b", "i", "u")
                    or (isinstance(v, float) and math.isnan(v))
                )
            )
            if bad.any():
                sample = pdf[c][bad].iloc[0]
                out.append(f"{engine}.{c}:object({type(sample).__name__})")
    return out


def _render(v) -> str:
    """Driver-style cell render: dtype-visible (int64 99 != float64
    99.0), NULL-stable, ISO dates."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NULL"
        return repr(v)
    if isinstance(v, _dt.datetime):
        if v != v:  # NaT
            return "NULL"
        # a midnight timestamp and a date render identically: duckdb
        # widens DATE to datetime64 while Spark keeps datetime.date
        if (v.hour, v.minute, v.second, v.microsecond) == (0, 0, 0, 0):
            return v.date().isoformat()
        return v.isoformat()
    if isinstance(v, _dt.date):
        return v.isoformat()
    # numpy scalars / pandas NA
    s = str(v)
    return "NULL" if s in ("NaT", "<NA>", "None") else s


def canon_hash(pdf) -> str:
    """The driver's canonicalization: sort columns by name, sort rows
    by all columns (raises TypeError on unhashable cells — a faithful
    reproduction of the driver's r07 array crash), hash the rendered
    cells."""
    cols = sorted(pdf.columns)
    pdf = pdf[cols]
    if len(pdf):
        pdf = pdf.sort_values(by=cols, kind="mergesort").reset_index(
            drop=True
        )
    h = hashlib.md5()
    for row in pdf.itertuples(index=False, name=None):
        h.update("|".join(_render(v) for v in row).encode())
        h.update(b"\n")
    return h.hexdigest()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument(
        "--no-gate",
        action="store_true",
        help="report dtype hazards without failing the row",
    )
    ap.add_argument(
        "--registry",
        action="store_true",
        help="run the FULL registry (rotation pre-verification), not "
        "just the driver-facing roster; oracle-less rows get the "
        "rows-only check",
    )
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    import duckdb

    import __spark_entry__ as entrymod
    from jonesy_spark.caching import cache_scope
    from jonesy_spark.catalog import FIXTURE_TABLES
    from jonesy_spark.session import get_spark

    spark = get_spark(app_name="driver_sim")

    t0 = time.time()
    edf = entrymod.entry(spark)
    erows = edf.collect()
    print(f"entry(): {len(erows)} rows, schema={edf.columns} [{time.time()-t0:.1f}s]")
    assert len(erows) >= 0

    con = duckdb.connect()
    for t in FIXTURE_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{args.sf_dir}/{t}.parquet'")

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    if args.registry:
        from jonesy_spark.plans import all_oracle_sql, all_queries

        queries, oracles = all_queries(), all_oracle_sql()
    if args.names:
        # registry-only queries (driver-excluded) are drivable by name:
        # fall back to the full registry, rows-only when no oracle
        from jonesy_spark.plans import all_oracle_sql, all_queries

        reg, reg_oracles = all_queries(), all_oracle_sql()
        for n in args.names:
            if n not in queries and n in reg:
                queries[n] = reg[n]
                if n in reg_oracles:
                    oracles[n] = reg_oracles[n]
    names = args.names or sorted(queries)
    failures = []
    for name in names:
        t0 = time.time()
        try:
            with cache_scope():
                spdf = queries[name](spark, args.sf_dir).toPandas()
            hazards = dtype_hazards(spdf, "spark")
            shash = canon_hash(spdf)
            if name not in oracles:
                # rows-only rows are never hashed by the driver, so a
                # float column is harmless — report, don't fail
                note = f"  (dtype hazards: {hazards})" if hazards else ""
                print(
                    f"  OK  {name}: rows-only check, "
                    f"{len(spdf)} rows [{time.time()-t0:.1f}s]{note}"
                )
                continue
            dpdf = con.execute(oracles[name]).df()
            hazards += dtype_hazards(dpdf, "duckdb")
            dhash = canon_hash(dpdf)
            cols, dcols = sorted(spdf.columns), sorted(dpdf.columns)
            ok = (
                (len(spdf) == len(dpdf))
                and (cols == dcols)
                and (shash == dhash)
                and (not hazards or args.no_gate)
            )
            status = "OK " if ok else "FAIL"
            print(
                f"  {status} {name}: spark={len(spdf)} oracle={len(dpdf)} "
                f"hash={'match' if shash == dhash else f'{shash[:8]}!={dhash[:8]}'} "
                f"[{time.time()-t0:.1f}s]"
            )
            if not ok:
                failures.append(name)
                if cols != dcols:
                    print(f"       schema: spark={cols} oracle={dcols}")
                if hazards:
                    print(f"       dtype hazards: {hazards}")
        except Exception as exc:  # noqa: BLE001
            failures.append(name)
            print(f"  ERR  {name}: {type(exc).__name__}: {exc}")
    print(f"{len(names) - len(failures)}/{len(names)} queries match")
    if failures:
        print("FAILURES:", failures)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
