"""Streaming twins of the reference's incremental-refresh pipeline.

The reference's ``upload_recent_refresh`` is a micro-batch incremental
pipeline in disguise (SURVEY.md §2.10): change-log source
(``CLASS_INSTR_UPDATESV00_VW``), 5-day lookback watermark
(``jonesy/jobs.py:19,40``), change-type filter (``queries.py:146``),
latest-change ordering (``queries.py:148``). Structured Streaming makes
the watermark real state instead of a re-scanned predicate:

  * ``readStream`` over the events source (file source here; Kafka/CDC
    in production — same plan from the first transformation on),
  * ``withWatermark`` bounds state exactly like the 5-day cutoff
    bounded the re-extract window,
  * windowed/`dropDuplicates` state replaces the re-scan+dedup,
  * ``foreachBatch`` reuses the batch multi-target sink for exactly-once
    fan-out (same gzip CSV contract).

Tests drive these with the file source + memory sink via
``processAllAvailable`` — batch parity is asserted against the
equivalent batch queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..caching import cache_scope, persist

#: events.parquet PHYSICAL schema as generated by the nanos-era fixtures
#: (``ts`` as INT64 nanos). NOT the logical post-normalization schema —
#: after :func:`events_stream` / ``Catalog`` normalize, ``ts`` is a
#: session-zone TIMESTAMP. The physical ts type has varied across
#: fixture generations (INT64 TIMESTAMP(NANOS) vs µs TIMESTAMP);
#: :func:`events_stream` probes the footer with a batch read and adapts
#: the declared stream schema + conversion to whichever it finds, so
#: only the NON-ts fields of this constant are load-bearing.
EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def _scoped(handle):
    """Run a ``foreachBatch`` handler in its own cache scope, so what
    the batch's operators persist or checkpoint is released when the
    handler returns. py4j callback threads start with a fresh context:
    without the scope they would register into the process-wide
    root."""

    def run(batch_df, epoch_id: int) -> None:
        with cache_scope():
            handle(batch_df, epoch_id)

    return run


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events fixture (one file = one
    micro-batch in tests; a real deployment points the same code at a
    landing directory or Kafka).

    The file source monitors a *directory*; the fixture is a single
    parquet file, so we stage a symlink dir next to it (read-only
    testdata is never touched).
    """
    import hashlib
    import os
    import tempfile

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    src = os.path.abspath(f"{sf_dir}/events.parquet")
    stage = os.path.join(
        tempfile.gettempdir(),
        f"jonesy_stream_{hashlib.md5(src.encode()).hexdigest()[:12]}",
    )
    os.makedirs(stage, exist_ok=True)
    link = os.path.join(stage, "events.parquet")
    if not os.path.exists(link):
        os.symlink(src, link)
    # The file source needs an explicit schema; probe the footer with a
    # one-file batch read (no data scan) so the declared ts type and the
    # conversion match whichever physical encoding this fixture carries.
    ts_type = spark.read.parquet(src).schema["ts"].dataType
    schema = T.StructType(
        [
            f if f.name != "ts" else T.StructField("ts", ts_type)
            for f in EVENTS_SCHEMA.fields
        ]
    )
    raw = spark.readStream.schema(schema).format("parquet").load(stage)
    if isinstance(ts_type, T.LongType):
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(ts_type, T.TimestampNTZType):
        # NTZ -> TIMESTAMP is exact only when the session zone is the
        # zone the naive values were written in; the engine pins UTC
        # (session.get_spark), so assert rather than assume (ADVICE r4).
        tz = spark.conf.get("spark.sql.session.timeZone")
        assert tz == "UTC", f"NTZ ts cast requires UTC session zone, got {tz}"
        return raw.withColumn("ts", F.col("ts").cast("timestamp"))
    if not isinstance(ts_type, T.TimestampType):
        raise TypeError(
            f"events.ts: expected INT64-nanos, TIMESTAMP, or TIMESTAMP_NTZ, "
            f"got {ts_type.simpleString()}"
        )
    return raw


def windowed_counts(events: DataFrame, watermark: str = "1 day") -> DataFrame:
    """Tumbling 6-hour counts with late-data watermark — streaming twin
    of plans.extension_queries.events_tumbling_window (identical bucket
    semantics; watermark bounds state instead of re-scans)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "6 hours").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            (F.sum(F.col("value").cast("decimal(18,2)")) * 1_000_000)
            .cast("long")
            .alias("total_value_micro"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value_micro",
        )
    )


def latest_state_dedup(events: DataFrame, watermark: str = "1 day") -> DataFrame:
    """Streaming dedup state: first event per (user_id, event_type) per
    watermark horizon — the stateful analogue of the reference's
    re-extract+dedup (SURVEY.md §2.10 mapping: withWatermark +
    dropDuplicates)."""
    return events.withWatermark("ts", watermark).dropDuplicates(
        ["user_id", "event_type"]
    )


def purchases_with_recent_clicks(events: DataFrame) -> DataFrame:
    """Stream-stream inner join with event-time bounds: each purchase
    joined to same-user clicks from the preceding hour.

    Both sides carry watermarks so the join state is bounded: the range
    condition (`click_ts` in [purchase_ts − 1h, purchase_ts]) tells the
    engine exactly when a buffered click can never match again and is
    evicted. This is the streaming analogue of the as-of/interval join
    (SURVEY §2.10); without the time bound the state would grow forever.
    """
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("value").alias("click_value"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    return purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR")),
    ).select("purchase_id", F.col("p_user").alias("user_id"), "purchase_ts", "click_ts")


def stateful_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    a per-user running aggregate (event count + value sum) whose state
    survives across micro-batches.

    This is the §2.10 escape hatch for operators the built-in stateful
    primitives (windows, dropDuplicates, stream joins) can't express —
    arbitrary per-key state with explicit update logic, Arrow-batched.
    State is (count, total); each micro-batch folds its rows in and
    emits the updated running totals for keys it touched.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState

    output_schema = "user_id long, n_events long, total_value double"
    state_schema = "n long, total double"

    def update(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, round(total, 6)))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 6)]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=output_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf="NoTimeout",
    )


def run_to_memory(df: DataFrame, name: str, mode: str = "complete") -> None:
    """Drive a streaming frame to completion into an in-memory table
    (test harness; production uses foreachBatch → write_gzip_csv +
    MultiTargetSink for exactly-once object fan-out)."""
    q = (
        df.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    q.stop()


def dir_stream(
    spark: SparkSession,
    path: str,
    schema,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over a landing directory with a declared
    schema — the generic ingestion edge (new files become micro-batches;
    same shape as a Kafka source from the first transformation on).

    ``max_files_per_trigger`` rate-limits a BACKFILL: pointing a fresh
    checkpoint at a directory holding months of landed files would
    otherwise take the whole history as ONE micro-batch (one giant
    state/ledger transaction, one failure domain). Capped, the drain
    becomes bounded epochs, which a bridge's ``processAllAvailable``
    drains one after another."""
    reader = spark.readStream.schema(schema).format("parquet")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", int(max_files_per_trigger))
    return reader.load(path)


def run_file_sink(
    df: DataFrame, path: str, checkpoint: str, mode: str = "append"
) -> None:
    """Drive a streaming frame into a checkpointed directory sink and
    drain everything currently available.

    The checkpoint carries the source offsets + sink commit log, so a
    restart with the same (path, checkpoint) resumes exactly where the
    previous run stopped: already-committed files are never reprocessed
    and the output directory stays exactly-once. This is the durable
    production shape (the memory sink in run_to_memory is test-only).
    """
    q = (
        df.writeStream.outputMode(mode)
        .format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .start()
    )
    q.processAllAvailable()
    q.stop()


def run_foreach_batch_fanout(
    df: DataFrame, emit
) -> None:
    """foreachBatch sink: each micro-batch is handed to the batch sink
    (gzip CSV + multi-target upload) with its epoch id — the
    exactly-once pattern for object stores."""
    q = df.writeStream.foreachBatch(_scoped(emit)).start()
    q.processAllAvailable()
    q.stop()


def run_jsonl_ingest_stream(
    spark: SparkSession,
    src_path: str,
    dest_path: str,
    checkpoint: str,
    schema=None,
    required: tuple[str, ...] = ("doc_id", "text"),
    stats_index_path: str | None = None,
) -> None:
    """Streaming twin of ``pipeline.ingest.ingest_jsonl_corpus``: a
    landing directory of raw JSONL becomes micro-batches; each batch
    parses under the DECLARED schema (PERMISSIVE), splits into
    (clean, quarantine) via the same ``split_quarantine`` the nightly
    job uses, and writes both sinks as epoch-scoped subtrees.

    Same idempotence contract as the index bridges: foreachBatch is
    at-least-once, so a replayed epoch OVERWRITES its own
    ``ingest_batch=epoch-N`` partition on both sinks — never appends —
    keeping the output exactly-once under crash/replay. The quarantine
    lives under ``_quarantine/`` (underscore-hidden from the clean
    table's parquet reader), so ``dest_path`` read with
    ``ingest_batch`` as a partition column is the continuously-growing
    clean corpus.

    With ``stats_index_path`` set, each epoch also lands its HLL
    profile rows (``operators.stats.profile_batch`` — per-(source,
    lang) docs / tokens / vocab sketch) as a batch of the mergeable
    stats index, under the same overwrite-own-epoch idempotence — so
    corpus-wide monitoring accumulates with ingestion and never
    rescans the corpus.
    """
    from ..pipeline import ingest as I

    if schema is None:
        schema = I.DOCUMENTS_SCHEMA
    raw = (
        spark.readStream.schema(I._read_schema(schema))
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", I.CORRUPT_COL)
        .option("multiLine", "false")
        .json(src_path)
    )

    @_scoped
    def handle(batch_df, epoch_id: int) -> None:
        # persist: the two sinks share one parse of the raw bytes
        batch_df = persist(batch_df)
        clean, quarantine = I.split_quarantine(batch_df, required)
        clean.write.mode("overwrite").parquet(
            f"{dest_path}/ingest_batch=epoch-{epoch_id}"
        )
        quarantine.write.mode("overwrite").parquet(
            f"{dest_path}/_quarantine/ingest_batch=epoch-{epoch_id}"
        )
        if stats_index_path is not None:
            from ..operators import stats as ST

            ST.write_stats_index(
                ST.profile_batch(clean),
                stats_index_path,
                mode="overwrite",
                run_id=f"epoch-{epoch_id}",
            )

    q = (
        raw.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint)
        .start()
    )
    q.processAllAvailable()
    q.stop()


def run_incremental_near_dup_stream(
    docs: DataFrame,
    index_path: str,
    novel_path: str,
    checkpoint: str,
    threshold: float = 0.8,
) -> None:
    """Streaming bridge to the persisted MINHASH index: each micro-batch
    collapses its own near-dup clusters, probes the on-disk signature
    index (re-read per batch, so it sees every committed epoch), writes
    surviving novel documents under ``novel_path``, and lands their
    banded signatures in an ``ingest_batch=epoch-N`` partition of the
    index. Epoch replays OVERWRITE exactly their own subtree on both
    sinks, so at-least-once foreachBatch delivery stays idempotent —
    and the probe EXCLUDES the replaying epoch's own ``ingest_batch``
    subtree (partition filter inside ``incremental_near_dup``), so a
    crash between the index write and the checkpoint commit cannot
    make the replay self-match its own signatures and drop the batch
    (ADVICE r5 #1). The novel-document sink is written BEFORE the
    index (``novel_sink`` hook).
    """
    from ..operators import hygiene as H

    @_scoped
    def handle(batch_df, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        H.incremental_near_dup(
            batch_df,
            spark,
            index_path,
            threshold=threshold,
            run_id=f"epoch-{epoch_id}",
            mode="overwrite",
            novel_sink=lambda novel: novel.write.mode("overwrite").parquet(
                f"{novel_path}/ingest_batch={epoch_id}"
            ),
        )

    q = (
        docs.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint)
        .start()
    )
    q.processAllAvailable()
    q.stop()


def content_dedup_stream(docs: DataFrame, watermark_col: str = "ts", horizon: str = "1 day") -> DataFrame:
    """Streaming content dedup: first document per normalized content
    digest within the watermark horizon — the streaming twin of
    ``operators.hygiene.incremental_dedup`` (there the "state" is the
    persisted seen-digest index; here it is the streaming state store).

    Uses ``dropDuplicatesWithinWatermark`` so state for a digest is
    evicted once the watermark passes it — at corpus-ingest scale the
    state store holds one 16-byte digest per doc *in the horizon*, not
    per doc ever seen (the batch-side index covers history)."""
    from ..operators.hygiene import content_digest

    return (
        docs.withColumn("content_hash", content_digest(F.col("text")))
        .withWatermark(watermark_col, horizon)
        .dropDuplicatesWithinWatermark(["content_hash"])
    )


def session_aggregates(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "1 day"
) -> DataFrame:
    """Streaming session windows: per-user sessions closed after
    ``gap`` of inactivity — the streaming twin of the batch
    ``events_session_native`` query (the SAME ``session_window``
    expression; the state store merges windows as events arrive and the
    watermark closes sessions instead of a batch-wide shuffle doing it
    all at once). Completes the streaming window family next to the
    tumbling counts: session state per (user, open session) is evicted
    once the watermark passes session end + gap.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("session_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "session_value",
        )
    )


def run_warc_ingest_stream(
    spark: SparkSession,
    src_path: str,
    dest_path: str,
    checkpoint: str,
    pattern: str = "*.warc.gz",
    normalize: bool = True,
) -> None:
    """Streaming twin of ``pipeline.warc.ingest_warc_corpus``: a
    landing directory of crawl archives becomes micro-batches of
    whole files (``binaryFile`` streaming source — the archive stays
    the split unit, exactly the batch job's parallelism shape); each
    batch walks its archives through the per-archive-quarantine
    record parser and the SHARED documents-contract projection
    (``warc.split_warc_records`` — the batch and streaming front
    doors cannot drift), landing clean and quarantine as
    epoch-scoped subtrees.

    Same idempotence contract as every bridge here: foreachBatch is
    at-least-once, a replayed epoch OVERWRITES its own
    ``ingest_batch=epoch-N`` partitions, so the output stays
    exactly-once under crash/replay. ``dest_path`` read with
    ``ingest_batch`` as a partition column is the continuously
    growing clean corpus — the 100 TB crawl front door as a stream:
    new archives land, records flow to the same contract the nightly
    job writes, and the downstream index/dedup bridges consume the
    epochs incrementally."""
    from ..pipeline import warc as W

    raw = (
        spark.readStream.format("binaryFile")
        # the binaryFile source's schema is FIXED by the format; the
        # streaming API still demands it spelled out
        .schema(
            "path string, modificationTime timestamp, "
            "length long, content binary"
        )
        .option("pathGlobFilter", pattern)
        .load(src_path)
        .select(
            F.col("path").alias("archive_id"),
            F.col("content").alias("payload"),
        )
    )

    @_scoped
    def handle(batch_df, epoch_id: int) -> None:
        recs = persist(W.warc_records_quarantined(batch_df))
        clean, quarantine = W.split_warc_records(recs, normalize=normalize)
        clean.write.mode("overwrite").parquet(
            f"{dest_path}/ingest_batch=epoch-{epoch_id}"
        )
        quarantine.write.mode("overwrite").parquet(
            f"{dest_path}/_quarantine/ingest_batch=epoch-{epoch_id}"
        )

    q = (
        raw.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint)
        .start()
    )
    q.processAllAvailable()
    q.stop()


def run_kmv_stream(
    rows: DataFrame,
    index_path: str,
    checkpoint: str,
    key_cols: list[str],
    value_col: str,
    k: int = 64,
) -> None:
    """Streaming writer for the KMV distinct-sketch ledger — the
    continuously-maintained COUNT DISTINCT (the aggregate the rollup
    stream cannot carry: per-epoch distinct counts don't add, but
    per-epoch min-k hash sets union exactly). Each micro-batch lands
    its ``stats.kmv_sketch_batch`` partial as an
    ``ingest_batch=epoch-N`` subtree with overwrite idempotence;
    ``stats.kmv_fold`` + ``kmv_estimate`` answer the distinct-count
    question at any moment without re-reading history. Replays
    replacing their own epoch cannot change the fold (min-k union is
    idempotent — duplicate rows are absorbed by the distinct)."""
    from ..operators import stats as ST

    @_scoped
    def handle(batch_df, epoch_id: int) -> None:
        ST.write_kmv_index(
            ST.kmv_sketch_batch(batch_df, key_cols, value_col, k=k),
            index_path,
            mode="overwrite",
            run_id=f"epoch-{epoch_id}",
        )

    q = (
        rows.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint)
        .start()
    )
    q.processAllAvailable()
    q.stop()


def run_crawl_intake_stream(
    spark: SparkSession,
    src_path: str,
    dest_path: str,
    index_path: str,
    checkpoint: str,
    pattern: str = "*.warc.gz",
    max_files_per_trigger: int | None = None,
    blocking: bool = True,
):
    """The FineWeb-shaped crawl intake as ONE stream: WARC archives →
    record parse (+ per-archive quarantine) → HTML-to-text extraction
    (``functions.text.strip_html``) → Gopher document gate
    (``hygiene.gopher_quality_gate``) → historical digest dedup against
    the persisted index → novel clean corpus, with a per-epoch intake
    REPORT. Each micro-batch runs ``pipeline.intake.intake_batch`` —
    literally the SAME function the nightly ``crawl_intake`` job runs,
    so the two front doors cannot drift — with the small-batch dedup
    geometry (batch digests broadcast, index scanned never shuffled).

    Sinks (all epoch-overwrite idempotent, the house at-least-once
    contract — ``intake_batch`` owns the idempotence and the
    own-epoch ``seen`` exclusion): ``dest_path/ingest_batch=epoch-N``
    (novel gated docs, extracted text), ``dest_path/_quarantine/...``
    (mis-framed archives), the digest-index epoch partition, and
    ``dest_path/_report/...`` — one row per epoch with the full
    accounting (quarantined archives, extracted, kept, per-rule
    reject counts, novel out — the observability panel a 100 TB
    intake prints per wave; a corrupt-shard spike shows up as
    ``n_quarantined``, not as a silently small epoch). Report-schema
    contract: the report's columns track ``GATE_RULES`` — when a rule
    is added, epochs written BEFORE the upgrade lack its column, so a
    whole-tree read needs ``mergeSchema=true`` (old epochs surface the
    new column as NULL, meaning "not accounted", not "zero"); the
    per-epoch null-free guarantee holds within every epoch subtree.

    Scale shape: extraction and the gate are map-only expressions over
    the micro-batch; dedup probes the index map-side; the report is
    one tiny aggregate. Per-epoch cost is O(batch) + an index scan.

    ``max_files_per_trigger`` rate-limits a BACKFILL into many
    epochs (a fresh checkpoint over a large landing tree would
    otherwise drain as one giant batch). ``blocking=False`` returns
    the RUNNING query instead of draining it — the kill-and-resume
    hook: the sf1 probe (and the restart test) stops the query
    mid-drain and restarts from the same checkpoint, relying on
    ``intake_batch``'s epoch-overwrite idempotence for the replayed
    epoch.
    """
    from ..pipeline.intake import GATE_RULES, intake_batch

    reader = (
        spark.readStream.format("binaryFile")
        .schema(
            "path string, modificationTime timestamp, "
            "length long, content binary"
        )
        .option("pathGlobFilter", pattern)
    )
    if max_files_per_trigger is not None:
        reader = reader.option(
            "maxFilesPerTrigger", int(max_files_per_trigger)
        )
    raw = reader.load(src_path).select(
        F.col("path").alias("archive_id"),
        F.col("content").alias("payload"),
    )

    report_schema = (
        "epoch long, n_quarantined long, n_extracted long, n_kept long, "
        + ", ".join(f"rej_{r} long" for r in GATE_RULES)
        + ", n_novel long"
    )

    @_scoped
    def handle(batch_df, epoch_id: int) -> None:
        sess = batch_df.sparkSession
        counts = intake_batch(
            sess,
            batch_df,
            docs_root=dest_path,
            quarantine_root=f"{dest_path}/_quarantine",
            index_path=index_path,
            run_id=f"epoch-{epoch_id}",
            small_batch=True,
        )
        sess.createDataFrame(
            [{"epoch": int(epoch_id), **counts}], report_schema
        ).write.mode("overwrite").parquet(
            f"{dest_path}/_report/ingest_batch=epoch-{epoch_id}"
        )

    q = (
        raw.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint)
        .start()
    )
    if not blocking:
        return q
    q.processAllAvailable()
    q.stop()
