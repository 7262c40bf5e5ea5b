#!/usr/bin/env python
"""Incremental-path decade probe (VERDICT r9 #4): measure that the
persisted-index families' nightly cost is O(new batch), not O(corpus),
at sf1 — the scan-path decade (scale_probe.py) covered full-corpus
rows; this script covers the INDEX rows' actual access pattern.

Two measurements per family (digest, minhash, phash), both on the
synthesized sf1 tier:

* index-size independence — the SAME one-replica batch (replica 9)
  probes a 4-replica index and a 9-replica index. If probe cost is
  O(batch + touched buckets), the two walls are near-equal even
  though the second index holds 2.25x the corpus; an O(index) probe
  would scale with the seed.
* probe vs rebuild — the nightly wall WITH the index (probe replica 9
  against the 9-replica index, including the O(novel) index append
  where the operator performs it) vs the nightly wall WITHOUT it
  (re-running the from-scratch batch dedup over all 10 replicas AND
  rebuilding the index — what a pipeline with no persisted state
  re-does every night). The claim: ratio << 1, and falling with
  corpus/batch size since probe cost tracks the batch.

Replica split rides gen_sf1.py's key shift: replica = doc_id div
STRIDE.

Usage:
    python scripts/gen_sf1.py
    python scripts/incremental_probe.py [--sf-dir /tmp/jonesy_sf1]
        [--work-dir /tmp/jonesy_incr_probe] [digest minhash phash]
"""

from __future__ import annotations

import argparse
import json
import shutil
import sys
import time

sys.path.insert(0, "/root/repo")

STRIDE = 100_000_000  # gen_sf1.py's replica key shift


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/tmp/jonesy_sf1")
    ap.add_argument("--work-dir", default="/tmp/jonesy_incr_probe")
    ap.add_argument(
        "--total-replicas",
        type=int,
        default=10,
        help="replica count of the tier at --sf-dir (gen_sf1 "
        "--replicas); the batch is always the LAST replica, the two "
        "indexes seed half and all-but-one of the rest",
    )
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()
    names = args.names or ["digest", "minhash", "phash"]

    from pyspark.sql import functions as F

    from jonesy_spark.caching import cache_scope, persist
    from jonesy_spark.multimodal import binary_ops as MM
    from jonesy_spark.operators import dedup as DD
    from jonesy_spark.operators import graph as G
    from jonesy_spark.operators import hygiene as H
    from jonesy_spark.session import get_spark

    spark = get_spark(app_name="incremental_probe")
    shutil.rmtree(args.work_dir, ignore_errors=True)

    docs = spark.read.parquet(f"{args.sf_dir}/documents.parquet")
    t = args.total_replicas
    seed4 = docs.filter(F.col("doc_id") < (t // 2) * STRIDE)
    seed9 = docs.filter(F.col("doc_id") < (t - 1) * STRIDE)
    batch = docs.filter(F.col("doc_id") >= (t - 1) * STRIDE)
    print(
        json.dumps(
            {
                "corpus": docs.count(),
                "seed4": seed4.count(),
                "seed9": seed9.count(),
                "batch": batch.count(),
            }
        ),
        flush=True,
    )

    def timed(fn):
        spark.catalog.clearCache()
        with cache_scope():
            t0 = time.time()
            rows = fn()
            return round(time.time() - t0, 2), rows

    out = {}

    def report(family, probe4, probe9, rebuild, extra=None):
        out[family] = {
            "probe_vs_idx4_s": probe4[0],
            "probe_vs_idx9_s": probe9[0],
            "idx_size_sensitivity": round(probe9[0] / max(probe4[0], 1e-9), 2),
            "rebuild_s": rebuild[0],
            "probe_over_rebuild": round(probe9[0] / rebuild[0], 3),
            "probe_rows": probe9[1],
            "rebuild_rows": rebuild[1],
            **(extra or {}),
        }
        print(json.dumps({"family": family, **out[family]}), flush=True)

    if "digest" in names:
        empty = spark.createDataFrame([], "content_hash string")

        def seed_digest(seed_docs, idx):
            H.write_novel_digests(
                H.incremental_dedup(seed_docs, empty)[0],
                idx, mode="overwrite", run_id="seed",
            )

        idx4, idx9 = f"{args.work_dir}/digest4", f"{args.work_dir}/digest9"
        s4 = timed(lambda: seed_digest(seed4, idx4))
        s9 = timed(lambda: seed_digest(seed9, idx9))

        def probe(idx):
            def run():
                # small_batch=True is the operator's designed probe
                # geometry (a batch-sized broadcast semi-join — the
                # index is scanned, never shuffled); the default
                # geometry shuffles the O(index) side every probe,
                # which is the nightly-comparable-batch shape, not the
                # epoch-probe shape this measurement prices
                novel, _ = H.incremental_dedup(
                    batch, H.read_digest_index(spark, idx),
                    small_batch=True,
                )
                novel = persist(novel)
                n = novel.count()
                # the nightly follow-through: O(novel) index append
                H.write_novel_digests(
                    novel, idx, mode="overwrite", run_id="probe"
                )
                return n
            return run

        p4 = timed(probe(idx4))
        p9 = timed(probe(idx9))

        def rebuild():
            # the no-index nightly: re-dedup the full corpus from
            # scratch and rebuild the digest index (persisted before
            # the write+count pair, same as the probe side — neither
            # leg pays a double computation)
            novel, _ = H.incremental_dedup(docs, empty)
            novel = persist(novel)
            n = novel.count()
            H.write_novel_digests(
                novel, f"{args.work_dir}/digest_rebuild",
                mode="overwrite", run_id="rebuild",
            )
            return n

        rb = timed(rebuild)
        report("digest", p4, p9, rb,
               {"seed4_s": s4[0], "seed9_s": s9[0]})

    if "minhash" in names:
        idx4, idx9 = f"{args.work_dir}/mh4", f"{args.work_dir}/mh9"
        seed_ts = {}
        for seed_docs, idx in ((seed4, idx4), (seed9, idx9)):
            seed_ts[idx], _ = timed(lambda: H.write_minhash_index(
                DD.minhash_banded_sigs(seed_docs),
                idx, mode="overwrite", run_id="seed",
            ))

        def probe(idx):
            def run():
                novel, matches = H.incremental_near_dup(
                    batch, spark, idx, run_id="probe", mode="overwrite"
                )
                n = novel.count()
                matches.count()
                return n
            return run

        p4 = timed(probe(idx4))
        p9 = timed(probe(idx9))

        def rebuild():
            # the no-index nightly: full-corpus pair join + component
            # resolution + index rebuild from scratch
            with cache_scope(keep_checkpoints=True):
                pairs = DD.minhash_lsh_pairs(docs)
                survivors = G.resolve_duplicates(docs, pairs, id_col="doc_id")
            H.write_minhash_index(
                DD.minhash_banded_sigs(survivors),
                f"{args.work_dir}/mh_rebuild",
                mode="overwrite", run_id="rebuild",
            )
            return survivors.count()

        rb = timed(rebuild)
        report("minhash", p4, p9, rb,
               {"seed4_s": seed_ts[idx4], "seed9_s": seed_ts[idx9]})

    if "phash" in names:
        idx4, idx9 = f"{args.work_dir}/ph4", f"{args.work_dir}/ph9"
        seed_ts = {}
        for seed_docs, idx in ((seed4, idx4), (seed9, idx9)):
            seed_ts[idx], _ = timed(lambda: MM.write_phash_index(
                MM.perceptual_hashes(
                    MM.attach_ppm_near_dup_payload(seed_docs), fake=False
                ),
                idx, mode="overwrite", run_id="seed",
            ))

        def probe(idx):
            def run():
                ph = persist(MM.perceptual_hashes(
                    MM.attach_ppm_near_dup_payload(batch), fake=False
                ))
                n = MM.probe_phash_index(
                    ph, spark, idx, max_hamming=3, bucket_cap=256
                ).count()
                # nightly follow-through: O(batch) index append
                MM.write_phash_index(ph, idx, mode="overwrite", run_id="probe")
                return n
            return run

        p4 = timed(probe(idx4))
        p9 = timed(probe(idx9))

        def rebuild():
            # the no-index nightly: re-decode + all-pairs banded join
            # over the full corpus, then rebuild the index
            full = persist(MM.perceptual_hashes(
                MM.attach_ppm_near_dup_payload(docs), fake=False
            ))
            pairs = MM.media_near_dup(
                docs, max_hamming=3, fake=False, sketches=full
            )
            n = pairs.count()
            MM.write_phash_index(
                full, f"{args.work_dir}/ph_rebuild",
                mode="overwrite", run_id="rebuild",
            )
            return n

        rb = timed(rebuild)
        report("phash", p4, p9, rb,
               {"seed4_s": seed_ts[idx4], "seed9_s": seed_ts[idx9]})

    print(json.dumps({"sf_dir": args.sf_dir, "families": out}))


if __name__ == "__main__":
    main()
