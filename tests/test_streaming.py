"""Structured Streaming twins: drive file-source streams to completion
and assert batch parity (the streaming plan must agree with the batch
plan the oracle already verified)."""

from __future__ import annotations

import pytest
from collections import defaultdict

from conftest import SF_DIR
from jonesy_spark.plans import all_queries
from jonesy_spark.streaming.incremental import (
    events_stream,
    latest_state_dedup,
    run_foreach_batch_fanout,
    run_to_memory,
    windowed_counts,
)


def test_windowed_counts_match_batch(spark):
    stream = windowed_counts(events_stream(spark, SF_DIR))
    run_to_memory(stream, "stream_windowed", mode="complete")
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value_micro"])
        for r in spark.sql("SELECT * FROM stream_windowed").collect()
    }
    batch = all_queries()["events_tumbling_window"](spark, SF_DIR)
    want = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value_micro"])
        for r in batch.collect()
    }
    assert got == want


def test_latest_state_dedup_one_per_key(spark):
    stream = latest_state_dedup(events_stream(spark, SF_DIR))
    run_to_memory(stream, "stream_dedup", mode="append")
    rows = spark.sql("SELECT user_id, event_type, count(*) c FROM stream_dedup "
                     "GROUP BY 1,2 HAVING count(*) > 1").collect()
    assert rows == []
    total_keys = spark.sql(
        "SELECT count(DISTINCT (user_id, event_type)) c FROM stream_dedup"
    ).first()["c"]
    assert total_keys == spark.sql("SELECT count(*) c FROM stream_dedup").first()["c"]
    assert total_keys > 0


def test_stream_stream_join_matches_batch(spark):
    """Stream-stream interval join must produce the same pairs as the
    equivalent batch join once both streams drain."""
    from pyspark.sql import functions as F

    from jonesy_spark.catalog import Catalog
    from jonesy_spark.streaming.incremental import purchases_with_recent_clicks

    stream = purchases_with_recent_clicks(events_stream(spark, SF_DIR))
    run_to_memory(stream, "stream_ssj", mode="append")
    got = sorted(
        map(tuple, spark.sql(
            "SELECT purchase_id, user_id, purchase_ts, click_ts FROM stream_ssj"
        ).collect())
    )

    ev = Catalog(spark, SF_DIR).events
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("click_ts")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
    )
    batch = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR")),
    ).select("purchase_id", F.col("p_user").alias("user_id"), "purchase_ts", "click_ts")
    want = sorted(map(tuple, batch.collect()))
    assert got == want
    assert len(got) > 0


def test_stateful_user_totals_matches_batch_agg(spark):
    """applyInPandasWithState running totals must equal the batch
    groupBy totals once the stream drains (custom-state plumbing check)."""
    from pyspark.sql import functions as F

    from jonesy_spark.catalog import Catalog
    from jonesy_spark.streaming.incremental import stateful_user_totals

    stream = stateful_user_totals(events_stream(spark, SF_DIR))
    run_to_memory(stream, "stream_state", mode="update")
    got = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in spark.sql(
            # update mode can emit a key several times; the final emit
            # carries the largest n_events
            """SELECT user_id, n_events, total_value FROM (
                   SELECT *, row_number() OVER (PARTITION BY user_id
                                                ORDER BY n_events DESC) AS rn
                   FROM stream_state
               ) WHERE rn = 1"""
        ).collect()
    }
    batch = (
        Catalog(spark, SF_DIR)
        .events.groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 6).alias("t"),
        )
    )
    want = {r["user_id"]: (r["n"], r["t"]) for r in batch.collect()}
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == want[k][0]
        assert abs(got[k][1] - want[k][1]) < 1e-4


def test_foreach_batch_fanout_collects_batches(spark):
    seen = defaultdict(int)

    def emit(batch_df, epoch_id):
        seen[epoch_id] += batch_df.count()

    run_foreach_batch_fanout(events_stream(spark, SF_DIR), emit)
    assert sum(seen.values()) == 1000  # sf0.001 events row count


def test_file_sink_checkpoint_restart_resume(spark, tmp_path):
    """Durable directory sink: a restarted query with the same
    checkpoint must pick up only NEW landing files — previously
    committed input is never reprocessed (no duplicate event_ids) and
    earlier output survives the restart (exactly-once directory sink)."""
    import glob
    import shutil

    from pyspark.sql import functions as F

    from jonesy_spark.catalog import Catalog
    from jonesy_spark.streaming.incremental import dir_stream, run_file_sink

    ev = Catalog(spark, SF_DIR).events.select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    landing = tmp_path / "landing"
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    landing.mkdir()

    def land(df, name):
        stage = tmp_path / f"stage_{name}"
        df.coalesce(1).write.parquet(str(stage))
        part = glob.glob(f"{stage}/part-*.parquet")[0]
        shutil.move(part, landing / f"{name}.parquet")

    half1 = ev.filter(F.col("event_id") % 2 == 0)
    half2 = ev.filter(F.col("event_id") % 2 == 1)
    land(half1, "a")

    purchases = lambda s: s.filter(F.col("event_type") == "purchase").select(  # noqa: E731
        "event_id", "user_id", "value"
    )
    stream = purchases(dir_stream(spark, str(landing), ev.schema))
    run_file_sink(stream, str(out), str(ckpt))
    n1 = spark.read.parquet(str(out)).count()
    assert n1 == purchases(half1).count() and n1 > 0

    land(half2, "b")
    # brand-new query object, same checkpoint: must resume, not replay
    stream2 = purchases(dir_stream(spark, str(landing), ev.schema))
    run_file_sink(stream2, str(out), str(ckpt))
    back = spark.read.parquet(str(out))
    assert back.count() == purchases(ev).count()
    dupes = back.groupBy("event_id").count().filter("count > 1").count()
    assert dupes == 0


def test_batch_and_streaming_writers_share_one_index(spark, tmp_path):
    """r4 verdict #4: the nightly appender and a streaming epoch writer
    (``pipeline.intake.intake_batch``, which ``run_crawl_intake_stream``
    runs per micro-batch) must be able to target the SAME index root. A
    mixed-writer index must stay readable (uniform partition-dir
    depth), the epoch probe must drop digests the nightly run committed
    (and vice versa), a replayed epoch must not see its own digests,
    and a follow-up nightly run must see the union."""
    from jonesy_spark.operators import hygiene as H

    idx = str(tmp_path / "index")

    # nightly batch append
    nightly = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma")], ["doc_id", "text"]
    )
    novel1, _ = H.incremental_dedup(nightly, H.read_digest_index(spark, idx))
    H.write_novel_digests(novel1, idx, run_id="nightly-t0")

    # a streaming epoch against the SAME root: 'gamma' must be dropped;
    # the replay of the same epoch excludes its own subtree from the
    # probe and overwrites it, so it keeps the same novel set
    epoch = spark.createDataFrame(
        [(10, "gamma"), (11, "delta")], ["doc_id", "text"]
    )
    for _ in range(2):
        seen = H.read_digest_index(spark, idx, exclude_run_id="epoch-0")
        novel, _ = H.incremental_dedup(epoch, seen, small_batch=True)
        assert [r["doc_id"] for r in novel.collect()] == [11]
        H.write_novel_digests(novel, idx, mode="overwrite", run_id="epoch-0")

    # the mixed-writer index reads as one table, duplicate-free
    hashes = [r["content_hash"] for r in H.read_digest_index(spark, idx).collect()]
    assert len(hashes) == 3 and len(set(hashes)) == 3

    # and a second nightly run probes the union of both writers
    nightly2 = spark.createDataFrame(
        [(20, "delta"), (21, "epsilon")], ["doc_id", "text"]
    )
    novel2, _ = H.incremental_dedup(nightly2, H.read_digest_index(spark, idx))
    assert [r["doc_id"] for r in novel2.collect()] == [21]
    H.write_novel_digests(novel2, idx, run_id="nightly-t1")
    assert H.read_digest_index(spark, idx).count() == 4


def test_content_dedup_stream_one_per_digest(spark, tmp_path):
    """Streaming content dedup: exactly one survivor per normalized
    digest within the horizon, digest set identical to the batch
    operator's."""
    import pandas as pd

    from jonesy_spark.streaming.incremental import (
        content_dedup_stream,
        dir_stream,
        run_to_memory,
    )

    land = tmp_path / "land"
    land.mkdir()
    rows = [
        (1, "alpha beta", "2026-01-01 10:00:00"),
        (2, "gamma", "2026-01-01 10:01:00"),
        (3, "Alpha  beta", "2026-01-01 10:02:00"),  # dup of 1 after norm
        (4, "gamma", "2026-01-01 10:03:00"),        # dup of 2
        (5, "delta", "2026-01-01 10:04:00"),
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "ts"])
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    pdf.to_parquet(land / "batch0.parquet", coerce_timestamps="us")

    schema = "doc_id bigint, text string, ts timestamp"
    stream = content_dedup_stream(dir_stream(spark, str(land), schema))
    run_to_memory(stream, "stream_content_dedup", mode="append")
    out = spark.sql("SELECT content_hash, count(*) c FROM stream_content_dedup GROUP BY 1")
    assert out.filter("c > 1").count() == 0
    got_digests = {r["content_hash"] for r in out.collect()}
    assert len(got_digests) == 3  # alpha-beta, gamma, delta

    from jonesy_spark.operators.hygiene import incremental_dedup

    batch_docs = spark.createDataFrame(
        [(i, t) for i, t, _ in rows], ["doc_id", "text"]
    )
    empty = spark.createDataFrame([], "content_hash string")
    _, seen = incremental_dedup(batch_docs, empty)
    assert {r["content_hash"] for r in seen.collect()} == got_digests


def test_incremental_near_dup_stream_two_waves(spark, tmp_path):
    """Streaming bridge to the persisted MinHash index: wave 1 seeds it;
    a restarted query over wave 2 (same checkpoint) must drop the
    cross-wave near-duplicate via the signature probe and append only
    the novel doc's signatures."""
    import pandas as pd

    from jonesy_spark.streaming.incremental import (
        dir_stream,
        run_incremental_near_dup_stream,
    )

    land = tmp_path / "land"
    land.mkdir()
    idx, novel, ckpt = (
        str(tmp_path / "mh_index"),
        str(tmp_path / "novel"),
        str(tmp_path / "ckpt"),
    )
    t_common = "alpha beta gamma delta epsilon zeta eta theta iota kappa"

    def wave(name, rows):
        pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(
            land / f"{name}.parquet"
        )
        run_incremental_near_dup_stream(
            dir_stream(spark, str(land), "doc_id bigint, text string"),
            idx,
            novel,
            ckpt,
        )

    wave("w1", [(1, t_common), (2, t_common), (3, "totally different body")])
    assert sorted(
        r["doc_id"]
        for r in spark.read.parquet(idx).select("doc_id").distinct().collect()
    ) == [1, 3]

    wave("w2", [(10, t_common), (11, "yet another unrelated text")])
    assert sorted(
        r["doc_id"]
        for r in spark.read.parquet(idx).select("doc_id").distinct().collect()
    ) == [1, 3, 11]  # 10 matched history, never indexed
    kept = spark.read.parquet(novel)
    assert sorted(r["doc_id"] for r in kept.collect()) == [1, 3, 11]


def test_session_window_stream_matches_batch(spark):
    """Streaming session_window aggregation must reproduce the batch
    session_window result once the stream drains — same gap, same
    (start, end, count) per user session."""
    from pyspark.sql import functions as F

    from jonesy_spark.catalog import Catalog
    from jonesy_spark.streaming.incremental import session_aggregates

    stream = session_aggregates(events_stream(spark, SF_DIR))
    run_to_memory(stream, "stream_sessions", mode="complete")
    got = {
        (r["user_id"], r["session_start"], r["session_end"]): r["n_events"]
        for r in spark.sql("SELECT * FROM stream_sessions").collect()
    }
    ev = Catalog(spark, SF_DIR).events
    batch = (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )
    want = {
        (r["user_id"], r["session_start"], r["session_end"]): r["n_events"]
        for r in batch.collect()
    }
    assert got == want and got


def test_jsonl_ingest_stream_two_waves(spark, tmp_path):
    """Streaming JSONL ingest: wave 1 lands clean docs; a restarted
    query over wave 2 (same checkpoint) quarantines its corrupt lines
    without reprocessing wave 1, and the clean corpus reads back as an
    ingest_batch-partitioned parquet table."""
    import json

    from jonesy_spark.streaming.incremental import run_jsonl_ingest_stream

    land = tmp_path / "land"
    land.mkdir()
    dest, ckpt = str(tmp_path / "corpus"), str(tmp_path / "ckpt")

    stats_idx = str(tmp_path / "stats")

    def wave(name, lines):
        (land / f"{name}.jsonl").write_text("\n".join(lines) + "\n")
        run_jsonl_ingest_stream(
            spark, str(land), dest, ckpt, stats_index_path=stats_idx
        )

    doc = lambda i, t: json.dumps(
        {"doc_id": i, "text": t, "lang": "en", "source": "s", "n_chars": len(t)}
    )
    wave("w1", [doc(1, "alpha"), doc(2, "beta")])
    wave("w2", [doc(3, "gamma"), "{broken line", '{"text": "no id"}'])

    clean = spark.read.parquet(dest)
    assert sorted(r["doc_id"] for r in clean.collect()) == [1, 2, 3]
    # epoch partition column is present and splits the waves
    assert clean.select("ingest_batch").distinct().count() == 2

    quarantine = spark.read.parquet(f"{dest}/_quarantine")
    reasons = sorted(r["reason"] for r in quarantine.collect())
    assert reasons == ["malformed", "missing_required"]

    # the stats index accumulated one profile batch per epoch and its
    # fold matches the landed clean table exactly
    from pyspark.sql import functions as F

    from jonesy_spark.operators.stats import corpus_stats_report

    stats = corpus_stats_report(spark, stats_idx)
    assert stats.agg(F.sum("n_docs")).first()[0] == 3


def test_warc_ingest_stream_two_waves_with_quarantine(spark, tmp_path):
    """The crawl front door as a stream: archives dropped in two waves
    land as epoch-scoped clean/quarantine subtrees under the same
    documents contract as the batch job; the corrupt archive of wave
    two quarantines without touching wave one's epoch; resuming from
    the same checkpoint never reprocesses wave one."""
    from jonesy_spark.pipeline import warc as W
    from jonesy_spark.streaming.incremental import run_warc_ingest_stream

    src = tmp_path / "landing"
    src.mkdir()
    dest = str(tmp_path / "docs")
    ckpt = str(tmp_path / "ckpt")

    recs1 = [
        ("https://a.example/1", "2024-01-01T00:00:00Z", b"first doc"),
        ("https://a.example/2", "2024-01-01T00:00:01Z", b"second doc"),
    ]
    (src / "wave1.warc.gz").write_bytes(W.encode_warc(recs1, gzip_members=True))
    run_warc_ingest_stream(spark, str(src), dest, ckpt)

    clean1 = spark.read.parquet(dest)
    assert sorted(r["text"] for r in clean1.collect()) == [
        "first doc",
        "second doc",
    ]
    assert set(clean1.select("ingest_batch").distinct().toPandas()["ingest_batch"]) == {
        "epoch-0"
    }

    recs2 = [("https://b.example/3", "2024-01-02T00:00:00Z", b"third doc")]
    (src / "wave2.warc.gz").write_bytes(W.encode_warc(recs2, gzip_members=True))
    (src / "corrupt.warc.gz").write_bytes(b"\x1f\x8b" + b"\x00" * 8)
    run_warc_ingest_stream(spark, str(src), dest, ckpt)

    clean = spark.read.parquet(dest)
    assert sorted(r["text"] for r in clean.collect()) == [
        "first doc",
        "second doc",
        "third doc",
    ]
    # wave two landed in its own epoch; wave one was not reprocessed
    epochs = set(clean.select("ingest_batch").distinct().toPandas()["ingest_batch"])
    assert epochs == {"epoch-0", "epoch-1"}
    quar = spark.read.parquet(f"{dest}/_quarantine").collect()
    assert len(quar) == 1 and quar[0]["reason"] == "archive_parse_error"
    assert quar[0]["archive_id"].endswith("corrupt.warc.gz")
    # contract parity with the batch door: same doc_id for same bytes
    batch_dest = str(tmp_path / "batch_docs")
    W.ingest_warc_corpus(spark, str(src), batch_dest)
    batch_ids = {
        r["doc_id"]
        for r in spark.read.parquet(batch_dest).collect()
    }
    stream_ids = {r["doc_id"] for r in clean.collect()}
    assert stream_ids == batch_ids


def test_kmv_stream_fold_equals_batch(spark, tmp_path):
    """The continuously-maintained COUNT DISTINCT: two streamed waves
    of events land KMV partials that fold to exactly the single-pass
    sketch over their union — the aggregate the rollup stream cannot
    carry, maintained by the same epoch-ledger contract."""
    from pyspark.sql import functions as F

    from jonesy_spark.catalog import Catalog
    from jonesy_spark.operators import stats as ST
    from jonesy_spark.streaming.incremental import run_kmv_stream

    events = Catalog(spark, "/root/testdata/sf0.001").events
    stage = str(tmp_path / "stage")
    idx = str(tmp_path / "kmv")
    ckpt = str(tmp_path / "ckpt")
    keys = ["event_type"]

    half1 = events.filter(F.col("event_id") % 2 == 0)
    half2 = events.filter(F.col("event_id") % 2 == 1)
    half1.write.mode("overwrite").parquet(stage)
    run_kmv_stream(
        spark.readStream.schema(events.schema).parquet(stage),
        idx,
        ckpt,
        keys,
        "user_id",
        k=16,
    )
    half2.write.mode("append").parquet(stage)
    run_kmv_stream(
        spark.readStream.schema(events.schema).parquet(stage),
        idx,
        ckpt,
        keys,
        "user_id",
        k=16,
    )

    got = sorted(map(tuple, ST.kmv_fold(spark, idx, keys, k=16).collect()))
    want = sorted(
        map(
            tuple,
            ST.kmv_sketch_batch(
                events.filter(F.col("user_id").isNotNull()).select(
                    "event_type", "user_id"
                ),
                keys,
                "user_id",
                k=16,
            ).collect(),
        )
    )
    assert got == want


def test_streamed_ledgers_feed_cross_ledger_dashboard(spark, tmp_path):
    """The monitoring dashboard from TWO ledgers over the same two
    waves of events: the hourly rollup ledger lands one batch partial
    per wave, the daily KMV users ledger is maintained by the stream.
    The cross-ledger dashboard join (the sketch_dashboard shape:
    rollup re-folded from hour to day buckets x KMV distinct estimate)
    computed purely from the ledgers equals the same join computed
    directly from the full events table in one batch pass."""
    from pyspark.sql import functions as F

    from jonesy_spark.catalog import Catalog
    from jonesy_spark.operators import stats as ST
    from jonesy_spark.streaming.incremental import run_kmv_stream

    events = Catalog(spark, "/root/testdata/sf0.001").events
    stage = str(tmp_path / "stage")
    r_idx = str(tmp_path / "rollup")
    k_idx, k_ckpt = str(tmp_path / "kmv"), str(tmp_path / "kck")

    es = F.unix_timestamp(F.col("ts").cast("timestamp"))
    day_rows = lambda df: (  # noqa: E731 - local shaping helper
        df.filter(F.col("user_id").isNotNull()).select(
            F.col("event_type").alias("key"),
            (es - F.pmod(es, F.lit(86_400))).alias("bucket_es"),
            "user_id",
        )
    )

    for parity, mode in ((0, "overwrite"), (1, "append")):
        wave = events.filter(F.col("event_id") % 2 == parity)
        wave.write.mode(mode).parquet(stage)
        ST.write_rollup_index(
            ST.rollup_batch(wave), r_idx, mode="overwrite", run_id=f"w{parity}"
        )
        run_kmv_stream(
            day_rows(
                spark.readStream.schema(events.schema).parquet(stage)
            ),
            k_idx,
            k_ckpt,
            key_cols=["key", "bucket_es"],
            value_col="user_id",
        )

    def dashboard(hour_rollup, sketch):
        day = hour_rollup.groupBy(
            "key",
            (
                F.col("bucket_es") - F.pmod(F.col("bucket_es"), F.lit(86_400))
            ).alias("bucket_es"),
        ).agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_value_micro").alias("sum_value_micro"),
        )
        users = ST.kmv_estimate(sketch, ["key", "bucket_es"]).select(
            "key", "bucket_es", "est_distinct"
        )
        return day.join(users, ["key", "bucket_es"])

    streamed = dashboard(
        ST.rollup_report(spark, r_idx),
        ST.kmv_fold(spark, k_idx, ["key", "bucket_es"]),
    )
    direct = dashboard(
        ST.rollup_batch(events),
        ST.kmv_sketch_batch(
            day_rows(events), ["key", "bucket_es"], "user_id"
        ),
    )
    assert sorted(map(tuple, streamed.collect())) == sorted(
        map(tuple, direct.collect())
    )


def test_kmv_stream_rate_limited_backfill_one_epoch_per_file(spark, tmp_path):
    """The bounded-backfill drain: a landing directory holding several
    files drains with ``dir_stream(max_files_per_trigger=1)`` — one
    idempotent ledger epoch PER FILE rather than one history-sized
    batch — the fold equals the single-pass sketch (cut-invariance
    makes the epoch granularity a free choice), and an immediate
    re-run drains nothing new."""
    import glob

    from pyspark.sql import functions as F

    from jonesy_spark.catalog import Catalog
    from jonesy_spark.operators import stats as ST
    from jonesy_spark.streaming.incremental import dir_stream, run_kmv_stream

    events = Catalog(spark, "/root/testdata/sf0.001").events.filter(
        F.col("user_id").isNotNull()
    )
    stage = str(tmp_path / "stage")
    events.repartition(4).write.mode("overwrite").parquet(stage)
    n_files = len(glob.glob(f"{stage}/part-*.parquet"))
    assert n_files == 4

    idx, ckpt = str(tmp_path / "kmv"), str(tmp_path / "ck")
    keys = ["event_type"]

    def drain():
        run_kmv_stream(
            dir_stream(spark, stage, events.schema, max_files_per_trigger=1),
            idx, ckpt, keys, "user_id", k=16,
        )
        return {
            p.split("ingest_batch=")[1].split("/")[0]
            for p in glob.glob(f"{idx}/ingest_batch=*")
        }

    epochs = drain()
    assert len(epochs) == n_files, epochs  # one rate-limited epoch per file

    got = sorted(map(tuple, ST.kmv_fold(spark, idx, keys, k=16).collect()))
    want = sorted(
        map(
            tuple,
            ST.kmv_sketch_batch(
                events.select("event_type", "user_id"), keys, "user_id", k=16
            ).collect(),
        )
    )
    assert got == want

    # caught up: a re-run lands nothing new
    assert drain() == epochs


def test_crawl_intake_stream_composes_and_matches_batch(spark, tmp_path):
    """The composed intake (WARC -> strip_html -> Gopher gate -> digest
    dedup) over two waves: gate rejects land in the report not the
    corpus, a cross-wave content duplicate is dropped by the index
    probe, and the streamed corpus equals the same composition run as
    one batch over all archives."""
    from pyspark.sql import functions as F

    from jonesy_spark.functions import text as TX
    from jonesy_spark.operators import hygiene as H
    from jonesy_spark.pipeline import warc as W
    from jonesy_spark.streaming.incremental import run_crawl_intake_stream

    def html(words: str) -> bytes:
        return f"<html><body><p>{words}</p></body></html>".encode()

    good1 = " ".join(f"alpha{i}" for i in range(58)) + " the of"
    good2 = " ".join(f"beta{i}" for i in range(58)) + " the with"
    symbolic = " ".join(
        ("#tag" if i % 6 == 0 else f"gamma{i}") for i in range(58)
    ) + " the of"

    src = tmp_path / "landing"
    src.mkdir()
    dest = str(tmp_path / "corpus")
    index = str(tmp_path / "digest_index")
    ckpt = str(tmp_path / "ckpt")

    (src / "wave1.warc.gz").write_bytes(
        W.encode_warc(
            [
                ("https://a.example/good1", "2024-01-01T00:00:00Z", html(good1)),
                ("https://a.example/short", "2024-01-01T00:00:01Z", html("too short")),
            ],
            gzip_members=True,
        )
    )
    run_crawl_intake_stream(spark, str(src), dest, index, ckpt)

    (src / "wave2.warc.gz").write_bytes(
        W.encode_warc(
            [
                # byte-identical CONTENT at a new URL: novel doc_id,
                # same digest -> the index probe must drop it
                ("https://b.example/dup-of-good1", "2024-01-02T00:00:00Z", html(good1)),
                ("https://b.example/good2", "2024-01-02T00:00:01Z", html(good2)),
                ("https://b.example/tags", "2024-01-02T00:00:02Z", html(symbolic)),
            ],
            gzip_members=True,
        )
    )
    (src / "corrupt.warc.gz").write_bytes(b"\x1f\x8b" + b"\x00" * 8)
    run_crawl_intake_stream(spark, str(src), dest, index, ckpt)

    corpus = spark.read.parquet(dest)
    assert sorted(r["text"] for r in corpus.collect()) == sorted([good1, good2])
    reports = {
        r["epoch"]: r for r in spark.read.parquet(f"{dest}/_report").collect()
    }
    assert reports[0]["n_extracted"] == 2 and reports[0]["n_kept"] == 1
    assert reports[0]["rej_r_word_count"] == 1 and reports[0]["n_novel"] == 1
    assert reports[0]["n_quarantined"] == 0
    assert reports[1]["n_extracted"] == 3 and reports[1]["n_kept"] == 2
    assert reports[1]["rej_r_symbol_ratio"] == 1 and reports[1]["n_novel"] == 1
    # the corrupt archive is VISIBLE in the epoch's accounting, not
    # just quietly parked in the quarantine subtree
    assert reports[1]["n_quarantined"] == 1
    assert all(
        v is not None for r in reports.values() for v in r.asDict().values()
    )

    # batch parity: one pass over ALL archives through the same
    # operators equals the streamed union (modulo the epoch column)
    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.warc.gz")
        .load(str(src))
        .select(
            F.col("path").alias("archive_id"),
            F.col("content").alias("payload"),
        )
    )
    clean, _ = W.split_warc_records(
        W.warc_records_quarantined(raw), normalize=True
    )
    extracted = clean.select(
        "doc_id", TX.strip_html(F.col("text")).alias("text")
    )
    gated = H.gopher_quality_gate(extracted, passthrough=("text",))
    kept = gated.filter(F.col("keep")).select("doc_id", "text")
    empty_seen = spark.createDataFrame([], "content_hash string")
    batch_novel, _ = H.incremental_dedup(kept, empty_seen)
    assert sorted(r["text"] for r in batch_novel.collect()) == sorted(
        r["text"] for r in corpus.collect()
    )


@pytest.mark.slow
def test_crawl_intake_stream_killed_mid_drain_resumes(spark, tmp_path):
    """Kill-and-resume on the INTAKE stream (VERDICT r11 #1): a
    rate-limited backfill over many archives is stopped while actively
    draining; a restart from the same checkpoint replays the
    interrupted epoch (overwrite-idempotent) and drains the rest. The
    folded accounting report must agree with the landed corpus — no
    document double-ingested, none lost, every report epoch null-free."""
    import glob
    import time

    from pyspark.sql import functions as F

    from jonesy_spark.pipeline import warc as W
    from jonesy_spark.streaming.incremental import run_crawl_intake_stream

    def html(words: str) -> bytes:
        return f"<html><body><p>{words}</p></body></html>".encode()

    src = tmp_path / "landing"
    src.mkdir()
    n_archives = 12
    for a in range(n_archives):
        body = " ".join(f"w{a}x{i}" for i in range(58)) + " the of"
        (src / f"arch{a:02d}.warc.gz").write_bytes(
            W.encode_warc(
                [(f"https://s{a}.example/p", "2024-01-01T00:00:00Z", html(body))],
                gzip_members=True,
            )
        )
    dest = str(tmp_path / "corpus")
    index = str(tmp_path / "digest_index")
    ckpt = str(tmp_path / "ckpt")

    # run 1: one archive per epoch, killed after >= 2 epochs land
    q = run_crawl_intake_stream(
        spark, str(src), dest, index, ckpt,
        max_files_per_trigger=1, blocking=False,
    )
    deadline = time.time() + 120
    while (
        q.isActive
        and len(glob.glob(f"{dest}/_report/ingest_batch=*")) < 2
        and time.time() < deadline
    ):
        time.sleep(0.2)
    q.stop()
    # the kill must interrupt an ACTIVE drain, or the scenario
    # degenerates to a clean run (the streaming_probe rule). isActive
    # cannot witness this — a file-source query stays active after
    # draining all input (ADVICE r12) — but the landed-epoch count at
    # kill time can: fewer batches than archives means epochs were
    # still in flight when stop() hit.
    landed_before = len(glob.glob(f"{dest}/ingest_batch=*"))
    assert landed_before < n_archives, "stream drained everything before the kill"

    # run 2: same checkpoint — replays the in-flight epoch, drains all
    run_crawl_intake_stream(
        spark, str(src), dest, index, ckpt,
        max_files_per_trigger=1, blocking=True,
    )

    corpus = spark.read.parquet(dest)
    assert corpus.count() == n_archives  # every doc exactly once
    assert corpus.select("doc_id").distinct().count() == n_archives
    report = spark.read.parquet(f"{dest}/_report")
    folded = report.agg(
        F.sum("n_extracted").alias("x"),
        F.sum("n_kept").alias("k"),
        F.sum("n_novel").alias("n"),
    ).collect()[0]
    # the fold agrees with the landed corpus: the replayed epoch's
    # report row was overwritten, not double-counted
    assert folded["n"] == n_archives
    assert folded["x"] == folded["k"] == n_archives
    assert all(
        v is not None for r in report.collect() for v in r.asDict().values()
    )
