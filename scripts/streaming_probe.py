#!/usr/bin/env python
"""Streaming decade probe (VERDICT r9 #5): drive the landing-bridge
streams over sf1-sized waves and record per-micro-batch latency plus
state size — the 100 TB story's streaming leg, measured instead of
extrapolated from sf0.01 tests.

Three legs, each fed in WAVES (files land, the stream drains, repeat)
so per-wave latency and cross-wave state growth are both visible:

* kmv — 1M sf1 events in 4 waves through ``run_kmv_stream`` (the
  distinct-users sketch ledger). Recorded per wave: drain wall,
  checkpoint + ledger bytes on disk, and the fold+estimate wall (the
  "answer the dashboard now" cost — must stay flat as epochs accrue).
* warc — all 50k sf1 documents packed into real .warc.gz archives, 3
  waves, through ``run_warc_ingest_stream`` (the crawl front door).
  Recorded: drain wall per wave, checkpoint bytes, cumulative clean
  rows (must equal the corpus at the end).
* stateful — the custom ``applyInPandasWithState`` per-user totals
  over the same 4 event waves, ONE long-lived query across all waves
  (no restart overhead), reading true per-micro-batch durations and
  state-store rows/bytes from the query's progress events. The claim:
  state rows == distinct users seen (key-bounded), NOT event volume.

* backfill (r11, VERDICT r10 #5) — the AvailableNow bounded catch-up
  at sf1 volume: ALL 1M events land at once, ``dir_stream``'s
  ``maxFilesPerTrigger`` forces >= 20 rate-limited epochs, the query
  is KILLED mid-drain once and restarted from the same checkpoint,
  and the ledger fold must equal the single-pass sketch exactly — the
  cron catch-up story (bounded idempotent epochs + crash recovery)
  measured end-to-end instead of pinned on a fixture.

Usage:
    python scripts/gen_sf1.py
    python scripts/streaming_probe.py [--sf-dir /tmp/jonesy_sf1]
        [--work-dir /tmp/jonesy_stream_probe] [kmv warc stateful backfill]
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

EVENT_WAVES = 4
WARC_WAVES = 3
EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def du(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/tmp/jonesy_sf1")
    ap.add_argument("--work-dir", default="/tmp/jonesy_stream_probe")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()
    names = args.names or ["kmv", "warc", "stateful", "backfill"]

    from pyspark.sql import functions as F

    from jonesy_spark.operators import stats as ST
    from jonesy_spark.pipeline import warc as W
    from jonesy_spark.session import get_spark
    from jonesy_spark.streaming import incremental as SI

    spark = get_spark(app_name="streaming_probe")
    shutil.rmtree(args.work_dir, ignore_errors=True)
    os.makedirs(args.work_dir)

    events = spark.read.parquet(f"{args.sf_dir}/events.parquet")
    out = {}

    # stage the event waves once (hash-split so waves interleave keys,
    # like real traffic — not time-ordered chunks)
    waves_root = f"{args.work_dir}/event_waves"
    for w in range(EVENT_WAVES):
        (
            events.filter(F.pmod(F.col("event_id"), F.lit(EVENT_WAVES)) == w)
            .write.mode("overwrite")
            .parquet(f"{waves_root}/wave{w}")
        )

    def land_event_wave(landing: str, w: int) -> None:
        os.makedirs(landing, exist_ok=True)
        for i, f in enumerate(
            sorted(glob.glob(f"{waves_root}/wave{w}/*.parquet"))
        ):
            shutil.copy(f, f"{landing}/w{w}-{i:04d}.parquet")

    if "kmv" in names:
        landing = f"{args.work_dir}/kmv_landing"
        ledger = f"{args.work_dir}/kmv_ledger"
        ckpt = f"{args.work_dir}/kmv_ckpt"
        waves = []
        for w in range(EVENT_WAVES):
            land_event_wave(landing, w)
            rows = SI.dir_stream(spark, landing, EVENTS_SCHEMA).select(
                F.to_date("ts").alias("day"),
                F.col("user_id").cast("string").alias("user"),
            )
            t0 = time.time()
            SI.run_kmv_stream(rows, ledger, ckpt, ["day"], "user")
            drain = round(time.time() - t0, 2)
            t0 = time.time()
            est = ST.kmv_estimate(
                ST.kmv_fold(spark, ledger, ["day"]), ["day"]
            )
            n_days = est.count()
            total_est = est.agg(F.sum("est_distinct")).first()[0]
            fold = round(time.time() - t0, 2)
            waves.append(
                {
                    "wave": w,
                    "drain_s": drain,
                    "fold_s": fold,
                    "days": n_days,
                    "sum_est_distinct": int(total_est),
                    "ledger_bytes": du(ledger),
                    "checkpoint_bytes": du(ckpt),
                }
            )
            print(json.dumps({"leg": "kmv", **waves[-1]}), flush=True)
        exact = events.groupBy(F.to_date("ts").alias("day")).agg(
            F.countDistinct("user_id").alias("d")
        )
        out["kmv"] = {
            "waves": waves,
            "exact_sum_distinct": int(exact.agg(F.sum("d")).first()[0]),
        }

    if "warc" in names:
        landing = f"{args.work_dir}/warc_landing"
        dest = f"{args.work_dir}/warc_dest"
        ckpt = f"{args.work_dir}/warc_ckpt"
        docs = spark.read.parquet(f"{args.sf_dir}/documents.parquet")
        os.makedirs(landing, exist_ok=True)
        waves = []
        for w in range(WARC_WAVES):
            wave_docs = docs.filter(
                F.pmod(F.col("doc_id"), F.lit(WARC_WAVES)) == w
            )
            stage = f"{args.work_dir}/warc_stage{w}"
            W.write_fixture_archives(wave_docs, stage, n_archives=16)
            for f in glob.glob(f"{stage}/*.warc.gz"):
                shutil.move(f, f"{landing}/wave{w}-{os.path.basename(f)}")
            t0 = time.time()
            SI.run_warc_ingest_stream(spark, landing, dest, ckpt)
            drain = round(time.time() - t0, 2)
            clean = spark.read.option("basePath", dest).parquet(
                *glob.glob(f"{dest}/ingest_batch=*")
            )
            waves.append(
                {
                    "wave": w,
                    "drain_s": drain,
                    "clean_rows": clean.count(),
                    "checkpoint_bytes": du(ckpt),
                    "dest_bytes": du(dest),
                }
            )
            print(json.dumps({"leg": "warc", **waves[-1]}), flush=True)
        out["warc"] = {"waves": waves, "corpus_rows": docs.count()}

    if "stateful" in names:
        landing = f"{args.work_dir}/state_landing"
        ckpt = f"{args.work_dir}/state_ckpt"
        os.makedirs(landing, exist_ok=True)
        src = SI.dir_stream(spark, landing, EVENTS_SCHEMA)
        totals = SI.stateful_user_totals(src)
        q = (
            totals.writeStream.outputMode("update")
            .format("noop")
            .option("checkpointLocation", ckpt)
            .start()
        )
        waves = []
        seen_batches = 0
        try:
            for w in range(EVENT_WAVES):
                land_event_wave(landing, w)
                t0 = time.time()
                q.processAllAvailable()
                drain = round(time.time() - t0, 2)
                raw = [
                    p if isinstance(p, dict) else json.loads(p.json)
                    for p in (q.recentProgress or [])
                ]
                progress = [
                    p for p in raw if p.get("numInputRows", 0) > 0
                ][seen_batches:]
                seen_batches += len(progress)
                batch_ms = [p["durationMs"].get("triggerExecution") for p in progress]
                state = (progress[-1].get("stateOperators") or [{}])[-1] if progress else {}
                waves.append(
                    {
                        "wave": w,
                        "drain_s": drain,
                        "micro_batches": len(progress),
                        "batch_ms": batch_ms,
                        "state_rows": state.get("numRowsTotal"),
                        "state_bytes": state.get("memoryUsedBytes"),
                    }
                )
                print(json.dumps({"leg": "stateful", **waves[-1]}), flush=True)
        finally:
            q.stop()
        out["stateful"] = {
            "waves": waves,
            "distinct_users": events.select("user_id").distinct().count(),
        }

    if "backfill" in names:
        from jonesy_spark.operators import stats as ST

        landing = f"{args.work_dir}/backfill_landing"
        ledger = f"{args.work_dir}/backfill_ledger"
        ckpt = f"{args.work_dir}/backfill_ckpt"
        os.makedirs(landing, exist_ok=True)
        # the whole history lands at once — the cron-was-down shape
        for w in range(EVENT_WAVES):
            land_event_wave(landing, w)
        n_files = len(glob.glob(f"{landing}/*.parquet"))
        per_trigger = max(1, n_files // 24)  # force >= 20 epochs

        epoch_log: list[int] = []

        def handle(batch_df, epoch_id: int) -> None:
            ST.write_kmv_index(
                ST.kmv_sketch_batch(batch_df, ["day"], "user"),
                ledger,
                mode="overwrite",
                run_id=f"epoch-{epoch_id}",
            )
            epoch_log.append(int(epoch_id))

        def writer():
            rows = SI.dir_stream(
                spark, landing, EVENTS_SCHEMA,
                max_files_per_trigger=per_trigger,
            ).select(
                F.to_date("ts").alias("day"),
                F.col("user_id").cast("string").alias("user"),
            )
            return (
                rows.writeStream.foreachBatch(handle)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
            )

        def progress_of(q):
            raw = [
                p if isinstance(p, dict) else json.loads(p.json)
                for p in (q.recentProgress or [])
            ]
            return [p for p in raw if p.get("numInputRows", 0) > 0]

        # first drain: KILL mid-backfill after ~8 landed epochs — the
        # cron box dying partway through catch-up
        kill_after = 8
        t0 = time.time()
        q = writer().start()
        while q.isActive and len(epoch_log) < kill_after:
            time.sleep(0.2)
        # the kill must actually interrupt an ACTIVE drain: if the
        # stream self-terminated first (too few files for >= kill_after
        # epochs), the crash-recovery scenario silently degenerates to
        # a clean single pass — fail loudly instead (r11 review).
        interrupted = q.isActive
        q.stop()
        run1 = {
            "wall_s": round(time.time() - t0, 2),
            "epochs": len(progress_of(q)),
            "killed_after_epochs": len(epoch_log),
            "interrupted_while_active": interrupted,
        }
        print(json.dumps({"leg": "backfill", "run1_killed": run1}),
              flush=True)

        # restart from the same checkpoint: AvailableNow resumes,
        # replays the interrupted epoch (overwrite-idempotent ledger
        # transaction), drains the rest, self-terminates
        t0 = time.time()
        q2 = writer().start()
        q2.awaitTermination()
        prog2 = progress_of(q2)
        batch_ms = [p["durationMs"].get("triggerExecution") for p in prog2]
        run2 = {
            "wall_s": round(time.time() - t0, 2),
            "epochs": len(prog2),
            "epoch_ms_min": min(batch_ms) if batch_ms else None,
            "epoch_ms_max": max(batch_ms) if batch_ms else None,
        }
        print(json.dumps({"leg": "backfill", "run2_resume": run2}),
              flush=True)

        # post-crash equality: the folded ledger == the single-pass
        # sketch over the full corpus, row for row (cut-invariance +
        # epoch idempotence THROUGH a mid-drain kill)
        rows_all = events.select(
            F.to_date("ts").alias("day"),
            F.col("user_id").cast("string").alias("user"),
        )
        folded = ST.kmv_estimate(
            ST.kmv_fold(spark, ledger, ["day"]), ["day"]
        )
        single = ST.kmv_estimate(
            ST.kmv_sketch_batch(rows_all, ["day"], "user"), ["day"]
        )
        f_rows = sorted(
            (r["day"].isoformat(), r["est_distinct"])
            for r in folded.collect()
        )
        s_rows = sorted(
            (r["day"].isoformat(), r["est_distinct"])
            for r in single.collect()
        )
        out["backfill"] = {
            "landed_files": n_files,
            "max_files_per_trigger": per_trigger,
            "run1_killed": run1,
            "run2_resume": run2,
            "total_epochs": run1["epochs"] + run2["epochs"],
            "distinct_epoch_ids": len(set(epoch_log)),
            "fold_equals_single_pass": f_rows == s_rows,
            "ledger_bytes": du(ledger),
            "checkpoint_bytes": du(ckpt),
        }
        print(json.dumps({"leg": "backfill", **out["backfill"]}),
              flush=True)
        if not interrupted or run2["epochs"] == 0:
            raise SystemExit(
                "backfill leg did not exercise the crash: "
                f"interrupted={interrupted}, resume_epochs={run2['epochs']} "
                "— raise the landed file count or lower "
                "max_files_per_trigger so the drain outlives the kill"
            )

    print(json.dumps({"sf_dir": args.sf_dir, "legs": out}))


if __name__ == "__main__":
    main()
