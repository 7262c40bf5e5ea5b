#!/usr/bin/env python
"""Isolated A/B of the pair re-attach repartition strategy: the pair
operators insert ``candidates.repartition(CPU_PARTITIONS)`` (keyless
round-robin) between the pair dedup and the verify re-attach joins.
Round-robin pays sortBeforeRepartition (a local sort of every pair row
by all columns — SPARK-23207 determinism); a hash repartition on doc_a
skips the sort and, at scale, shares its exchange with a degraded
sort-merge re-attach on doc_a; "none" keeps the dedup's own
(doc_a, doc_b) hash partitioning.

Times ONLY dedup-output -> repartition -> re-attach -> verify with the
upstream (candidates, token sets) persisted, arms interleaved in one
session. Interleaving in one JVM shares JIT and cache state between the
arms, which biases the comparison; confirm a decision with
``scripts/cold_ab.py`` (one fresh JVM per arm).

Usage: python scripts/reattach_repart_probe.py [-n ROUNDS]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("-n", "--rounds", type=int, default=7)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    import jonesy_spark.operators.dedup as dd
    from jonesy_spark.functions import text as TX
    from jonesy_spark.operators.dedup import CPU_PARTITIONS
    from jonesy_spark.session import get_spark

    spark = get_spark(app_name="reattach_repart_probe")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")

    ex = (
        docs.repartition(CPU_PARTITIONS, F.col("doc_id"))
        .select(
            "doc_id",
            F.explode(F.split(F.lower(F.trim(F.col("text"))), " ")).alias("t"),
        )
        .select("doc_id", dd.element_hash(F.col("t")).alias("h"))
        .distinct()
        .persist()
    )
    ex.count()
    from pyspark.sql import Window as W

    dft = ex.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    wdoc = W.partitionBy("doc_id").orderBy("df", "h")
    pos = (
        ex.join(dft, "h")
        .withColumn("pos", F.row_number().over(wdoc))
        .withColumn("sz", F.count(F.lit(1)).over(W.partitionBy("doc_id")))
    )
    L = F.col("sz") - F.ceil(F.round(F.lit(0.8) * F.col("sz"), 9)) + 1
    pref = pos.filter(F.col("pos") <= L).select("doc_id", "h", "sz")
    a, b = pref.alias("a"), pref.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("a.sz") >= 0.8 * F.col("b.sz"))
            & (F.col("b.sz") >= 0.8 * F.col("a.sz")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .dropDuplicates(["doc_a", "doc_b"])
        .persist()
    )
    print("candidates:", cand.count())
    toksets = ex.groupBy("doc_id").agg(F.collect_set("h").alias("toks")).persist()
    toksets.count()
    ta = toksets.select(F.col("doc_id").alias("doc_a"), F.col("toks").alias("toks_a"))
    tb = toksets.select(F.col("doc_id").alias("doc_b"), F.col("toks").alias("toks_b"))

    def verify(mode: str):
        src = {
            "rr": cand.repartition(CPU_PARTITIONS),
            "hash": cand.repartition(CPU_PARTITIONS, F.col("doc_a")),
            "none": cand,
        }[mode]
        return (
            src.join(ta, "doc_a")
            .join(tb, "doc_b")
            .withColumn(
                "jaccard_micro",
                dd._eval_once(
                    TX.jaccard_micro(F.col("toks_a"), F.col("toks_b"))
                ),
            )
            .filter(F.col("jaccard_micro") >= 800000)
            .select("doc_a", "doc_b", "jaccard_micro")
        )

    def t(mode: str) -> float:
        spark.sparkContext.setJobDescription(f"reattach_repart {mode}")
        t0 = time.time()
        verify(mode).write.mode("overwrite").format("noop").save()
        return time.time() - t0

    modes = ["rr", "hash", "none"]
    for m in modes:
        t(m)  # warm
    res = {m: [] for m in modes}
    for _ in range(args.rounds):
        for m in modes:
            res[m].append(t(m))
    for m in modes:
        xs = res[m]
        print(
            f"{m:5s}: min={min(xs):.2f} med={sorted(xs)[len(xs) // 2]:.2f} "
            f"{[round(x, 2) for x in xs]}"
        )


if __name__ == "__main__":
    main()
