"""Job registry + orchestration: the reference's three cron jobs
re-hosted on the fixture tables.

Reference spine (SURVEY.md §3): `cron script → JOB env var → dispatch →
per-term queries → gzip CSV → multi-bucket upload`. Here: `run_job(name)
→ registry fn → DataFrame builders (plans.*) → write_gzip_csv →
MultiTargetSink`. Jobs:

  * ``upload_advisors``   (reference ``jonesy/jobs.py:30-38``):
    term-independent extracts — advisor permissions + latest-per-group
    relationships.
  * ``upload_snapshot``   (``jobs.py:50-63``): full snapshot — basic
    attributes once, then per current term the courses + enrollments
    extracts (dynamic term fan-out D3, ``jobs.py:41-48,55-63``).
  * ``upload_recent_refresh`` (``jobs.py:39-49``): incremental — the
    watermark-filtered updates per term.

The per-term fan-out runs each term's extract as an independent write —
on a cluster these are concurrent jobs (driver threads); the reference
ran them serially on one cursor (``jobs.py:103``).
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass, field
from datetime import date

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..caching import cache_scope
from ..catalog import Catalog
from ..plans import all_queries
from .sinks import MultiTargetSink, daily_prefix, write_gzip_csv


def layered_config(
    shared: dict[str, str] | None = None,
    secret: dict[str, str] | None = None,
    env: dict[str, str] | None = None,
) -> dict[str, str]:
    """Config layering: shared < secret < environment — the reference's
    ``dotenv_values('.env.shared') | dotenv_values('.env.secret') |
    os.environ`` merge (``jonesy.py:7-11``)."""
    merged: dict[str, str] = {}
    for layer in (shared or {}), (secret or {}), (env if env is not None else os.environ):
        merged.update({k: str(v) for k, v in layer.items()})
    return merged


@dataclass
class JobContext:
    spark: SparkSession
    sf_dir: str
    out_root: str
    targets: list[str]
    run_date: date = field(default_factory=date.today)
    written: list[str] = field(default_factory=list)

    @property
    def sink(self) -> MultiTargetSink:
        return MultiTargetSink(self.targets)


def _current_term_ids(ctx: JobContext) -> list[str]:
    """Dynamic fan-out driver (D3): the top-3 'terms' (months) from the
    O3 query — mirrors get_current_term_ids (``jonesy/jobs.py:71-74``)."""
    terms = all_queries()["current_terms_topk"](ctx.spark, ctx.sf_dir)
    return [r["term_month"].strftime("%Y-%m") for r in terms.collect()]


def _emit(ctx: JobContext, df, key: str, order_by=None) -> None:
    path = write_gzip_csv(df, ctx.out_root, key, order_by=order_by)
    ctx.sink.upload(path, f"{daily_prefix(ctx.run_date)}/{key}")
    ctx.written.append(key)


def upload_advisors(ctx: JobContext) -> None:
    """Term-independent advisor extracts (``jonesy/jobs.py:30-38``)."""
    q = all_queries()
    _emit(
        ctx,
        q["basic_attributes"](ctx.spark, ctx.sf_dir),
        "advisors/advisor-note-permissions.csv.gz",
        order_by=[F.col("custkey")],
    )
    _emit(
        ctx,
        q["latest_order_per_customer"](ctx.spark, ctx.sf_dir),
        "advisors/instructor-advisor-map.csv.gz",
    )


def upload_snapshot(ctx: JobContext) -> None:
    """Full snapshot: attributes once + per-term course/enrollment
    extracts (``jonesy/jobs.py:50-63``)."""
    q = all_queries()
    _emit(
        ctx,
        q["basic_attributes"](ctx.spark, ctx.sf_dir),
        "sis-data/basic-attributes.csv.gz",
        order_by=[F.col("custkey")],
    )
    for term in _current_term_ids(ctx):
        cat = Catalog(ctx.spark, ctx.sf_dir)
        enroll = (
            cat.lineitem.join(
                cat.orders, F.col("l_orderkey") == F.col("o_orderkey")
            )
            .filter(F.date_format("o_orderdate", "yyyy-MM") == term)
            .select(
                F.col("l_orderkey").alias("section_id"),
                F.col("o_custkey").alias("ldap_uid"),
                F.col("l_quantity").alias("units_taken"),
                F.col("l_returnflag").alias("enroll_status"),
                F.col("l_shipdate").alias("last_updated"),
            )
            .distinct()
        )
        _emit(
            ctx,
            enroll,
            f"sis-data/enrollments-{term}.csv.gz",
            order_by=[F.col("section_id"), F.col("ldap_uid")],
        )


def upload_recent_refresh(ctx: JobContext) -> None:
    """Incremental refresh: watermark-filtered latest state + recent
    change-log joins (``jonesy/jobs.py:39-49``)."""
    q = all_queries()
    _emit(
        ctx,
        q["watermark_incremental"](ctx.spark, ctx.sf_dir),
        "sis-data/recent-enrollment-updates.csv.gz",
    )
    _emit(
        ctx,
        q["recent_instructor_updates"](ctx.spark, ctx.sf_dir),
        "sis-data/recent-instructor-updates.csv.gz",
        order_by=[F.col("last_updated").desc()],
    )


def _prepare_corpus(ctx: JobContext) -> None:
    from .corpus_job import run_prepare_corpus

    run_prepare_corpus(ctx)


def _ingest_corpus(ctx: JobContext) -> None:
    """Raw-bytes front door as a cron job: JSONL under ``$CORPUS_SRC``
    (config-layered, reference ``jonesy.py:7-11`` pattern) through
    ingest -> pipeline -> stats index into ``{out_root}/corpus_run``.
    With no ``CORPUS_SRC`` configured the job materializes the fixture
    documents as JSONL first — the same e2e path, runnable from cron
    and tests without external inputs.
    """
    from .corpus_job import prepare_corpus_from_jsonl

    src = layered_config().get("CORPUS_SRC")
    if not src:
        src = f"{ctx.out_root}/raw_src"
        (
            Catalog(ctx.spark, ctx.sf_dir)
            .documents.write.mode("overwrite")
            .json(src)
        )
    prepare_corpus_from_jsonl(ctx.spark, src, f"{ctx.out_root}/corpus_run")
    ctx.written.extend(
        ["corpus_run/documents", "corpus_run/corpus/split",
         "corpus_run/corpus/sequences", "corpus_run/_MANIFEST.json"]
    )


def _ingest_warc(ctx: JobContext) -> None:
    """Crawl-archive front door as a cron job (VERDICT r7 #6): WARC
    archives under ``$WARC_SRC`` (config-layered) through the
    per-archive-quarantine walker into the documents parquet contract
    at ``{out_root}/warc_run/documents`` (+ ``_quarantine`` + a
    ``_MANIFEST.json`` reproducibility record with the ingest
    accounting). With no ``WARC_SRC`` configured the job seeds real
    ``.warc.gz`` fixture archives first — the same e2e path, runnable
    from cron and tests without a crawl feed (the ``_ingest_corpus``
    pattern)."""
    from . import warc as W
    from .corpus_job import write_json_manifest

    dest = f"{ctx.out_root}/warc_run"
    src = layered_config().get("WARC_SRC")
    if not src:
        src = f"{dest}/raw_archives"
        W.write_fixture_archives(
            Catalog(ctx.spark, ctx.sf_dir).documents, src
        )
    report = W.ingest_warc_corpus(ctx.spark, src, f"{dest}/documents")
    write_json_manifest(
        ctx.spark,
        f"{dest}/_MANIFEST.json",
        {
            "src": src,
            "ingest": {
                "rows_clean": report.rows_clean,
                "archives_failed": report.archives_failed,
            },
        },
    )
    ctx.written.extend(
        [
            "warc_run/documents",
            "warc_run/documents/_quarantine",
            "warc_run/_MANIFEST.json",
        ]
    )


def _train_tokenizer(ctx: JobContext) -> None:
    """Nightly vocabulary training: learn a tokenizer on the corpus
    and publish it as the next committed version — consumers (the
    shard stream, the corpus pipeline) re-resolve the live version per
    run/batch, so publishing IS the rollout. ``TOKENIZER_FAMILY``
    (layered config) picks the algorithm: ``bpe`` (default; merge
    count via ``TOKENIZER_MERGES``) publishes the (merges, vocab) pair
    under ``{out_root}/tokenizer``; ``unigram`` (SentencePiece-style;
    size via ``TOKENIZER_VOCAB_SIZE``) publishes the piece table under
    ``{out_root}/unigram_tokenizer`` — separate stores because the
    layouts differ and a rollback of one family must not roll back the
    other."""
    from ..operators import tokenize as TOK

    docs = Catalog(ctx.spark, ctx.sf_dir).documents
    cfg = layered_config()
    family = cfg.get("TOKENIZER_FAMILY", "bpe")
    if family == "unigram":
        # the SentencePiece-style alternative: same corpus pass, its
        # own versioned store (piece-table layout != merges+vocab pair)
        vocab_size = int(cfg.get("TOKENIZER_VOCAB_SIZE", "512"))
        pieces = TOK.unigram_train(docs, vocab_size=vocab_size)
        v = TOK.write_unigram_tokenizer(
            pieces, f"{ctx.out_root}/unigram_tokenizer"
        )
        ctx.written.append(f"unigram_tokenizer/version={v}")
        return
    if family != "bpe":
        raise ValueError(
            f"TOKENIZER_FAMILY must be 'bpe' or 'unigram', got {family!r}"
        )
    n_merges = int(cfg.get("TOKENIZER_MERGES", "256"))
    merges = TOK.bpe_train(docs, n_merges=n_merges)
    vocab = TOK.bpe_vocab(docs, merges)
    v = TOK.write_bpe_tokenizer(merges, vocab, f"{ctx.out_root}/tokenizer")
    ctx.written.append(f"tokenizer/version={v}")


def _train_classifier(ctx: JobContext) -> None:
    """Nightly classifier retrain: fit the hashed bag-of-words
    log-odds model on the corpus under a config-layered weak label
    (``CLASSIFIER_LABEL_LANG``, default ``en`` — "looks like the
    reference language" quality gating) and publish it as the next
    committed version under ``{out_root}/quality_model``. Scoring
    consumers (``streaming.run_scored_doc_stream``) re-resolve the
    live version per batch, so publishing IS the rollout — the
    tokenizer-job contract."""
    from ..operators import classify as CL

    docs = Catalog(ctx.spark, ctx.sf_dir).documents
    cfg = layered_config()
    lang = cfg.get("CLASSIFIER_LABEL_LANG", "en")
    n_buckets = int(cfg.get("CLASSIFIER_N_BUCKETS", str(CL.DEFAULT_N_BUCKETS)))
    ngrams = int(cfg.get("CLASSIFIER_NGRAMS", "1"))
    model = CL.train_log_odds(
        docs, F.col("lang") == lang, n_buckets=n_buckets, ngrams=ngrams
    )
    v = CL.write_model(
        model, f"{ctx.out_root}/quality_model", n_buckets=n_buckets, ngrams=ngrams
    )
    ctx.written.append(f"quality_model/version={v}")


def _maintain_indexes(ctx: JobContext) -> None:
    """Nightly index maintenance (VERDICT r6 #7): compact every
    incremental index family's accumulated ``ingest_batch=`` subtrees
    into one (``hygiene.compact_index`` — the small-files pass an
    append-heavy layout needs: a year of 15-minute epochs is millions
    of tiny files whose listing dominates probe planning), then
    compact + vacuum the IVF vector store's assignments and stale
    versions. Runs on the same operational rails as ingest/train — the
    cron wrapper schedules it in the maintenance window, AFTER the
    streaming bridges quiesce (compaction's standing contract: a
    crashed epoch must replay before its rows fold into ``compact-*``,
    or the replay's own-run exclusion no longer reaches them).

    Paths are config-layered so a site maintains exactly the indexes
    its pipelines create: ``MAINTAIN_INDEX_PATHS`` (comma-separated,
    relative to ``out_root``; ``<path>:<partition-col>`` overrides the
    default ``bucket``, and ``<path>:flat`` compacts without hive
    partitioning — the classifier ledger's layout, whose ``bucket`` is
    a DATA column that partitioning would shatter into one-row
    directories) and ``MAINTAIN_IVF_PATH``. Missing paths are
    skipped — maintenance is idempotent and shape-tolerant by design.
    The SUM-folding families (BM25 postings, classifier counts) are
    crash-safe under compaction via the intent-manifest protocol
    (``hygiene.compact_index`` / ``superseded_batches``): their
    readers exclude consumed batches that survive a crash, so the
    default list can include them without double-count risk
    (ADVICE r7).
    """
    from ..operators import hygiene as H
    from ..operators import similarity as SIM

    cfg = layered_config()
    spec = cfg.get(
        "MAINTAIN_INDEX_PATHS",
        "digest_index,minhash_index,search_index/postings,"
        "classifier_counts:flat",
    )
    sc = ctx.spark.sparkContext
    Path = sc._jvm.org.apache.hadoop.fs.Path

    def _batch_names(path: str) -> set[str]:
        p = Path(path)
        fs = p.getFileSystem(sc._jsc.hadoopConfiguration())
        if not fs.exists(p):
            return set()
        return {
            s.getPath().getName().removeprefix("ingest_batch=")
            for s in fs.listStatus(p)
            if s.getPath().getName().startswith("ingest_batch=")
        }

    for entry in [e.strip() for e in spec.split(",") if e.strip()]:
        rel, _, part_col = entry.partition(":")
        path = f"{ctx.out_root}/{rel}"
        before = _batch_names(path)
        try:
            rid = H.compact_index(
                ctx.spark,
                path,
                part_col=None if part_col == "flat" else part_col or "bucket",
            )
        except ValueError:
            continue  # index not created yet at this site — skip
        if rid and rid not in before:
            # only a FRESH consolidated id is a real compaction: a
            # no-op pass returns the pre-existing batch id or '', and
            # a repair pass that merely finishes a prior deletion can
            # shrink the ledger to one pre-existing batch — logging
            # either as a compaction would be a false claim (ADVICE r7)
            ctx.written.append(f"{rel}/ingest_batch={rid}")
    ivf = f"{ctx.out_root}/{cfg.get('MAINTAIN_IVF_PATH', 'ivf_index')}"
    try:
        rid = SIM.compact_ivf_assignments(ctx.spark, ivf)
        ctx.written.append(f"ivf assignments/ingest_batch={rid}")
    except Exception as exc:  # noqa: BLE001 — absent store is fine
        from pyspark.errors import AnalysisException

        if not isinstance(exc, (ValueError, AnalysisException)):
            raise
    for gone in SIM.vacuum_ivf_versions(ctx.spark, ivf):
        ctx.written.append(f"vacuumed {gone}")


def _corpus_card(ctx: JobContext) -> None:
    """Nightly data card: the per-source corpus panel (docs/chars/
    tokens, exact-dup load, mean quality micro, reference-language
    share — the `corpus_card` registry row) emitted through the gzip
    CSV sink and uploaded under the daily prefix — the release
    artifact next to the extract CSVs. Deterministically ordered by
    source (the O4 single-file ordering contract)."""
    card = all_queries()["corpus_card"](ctx.spark, ctx.sf_dir)
    _emit(ctx, card, "corpus_card", order_by=["source"])


def _crawl_intake(ctx: JobContext) -> None:
    """Nightly crawl intake — the batch twin of
    ``streaming.incremental.run_crawl_intake_stream``: both run
    ``pipeline.intake.intake_batch`` (WARC quarantine parse →
    ``strip_html`` extraction → Gopher document gate → digest dedup
    against the persisted index → novel gated documents), so the two
    front doors share the composition itself, not merely the
    operators. Run-date idempotent the same way the stream is
    epoch-idempotent: the run EXCLUDES its own ``ingest_batch``
    partition from the ``seen`` read and overwrites its own subtrees,
    so a same-day rerun converges instead of double-ingesting, while
    the next day's run dedups against everything before it. The full
    intake accounting (quarantined archives, extracted, kept,
    per-rule rejects, novel) lands in the manifest.

    With no ``$WARC_SRC`` configured the job seeds HTML-bodied fixture
    archives (the documents fixture wrapped in minimal markup plus two
    stop words, so the gate's PASS branch carries data — the fixture
    corpus has no natural English stop words and would otherwise gate
    to zero); real deployments point ``WARC_SRC`` at the crawl tree
    and never touch the seed path."""
    from . import warc as W
    from .corpus_job import write_json_manifest
    from .intake import intake_batch

    dest = f"{ctx.out_root}/crawl_intake"
    run_id = f"run-{ctx.run_date.isoformat()}"
    src = layered_config().get("WARC_SRC")
    if not src:
        src = f"{dest}/raw_archives"
        fixture = Catalog(ctx.spark, ctx.sf_dir).documents.select(
            "doc_id",
            F.concat(
                F.lit("<html><body><p>"),
                F.col("text"),
                F.lit(" the of</p></body></html>"),
            ).alias("text"),
        )
        W.write_fixture_archives(fixture, src)
    raw = (
        ctx.spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.warc.gz")
        .load(src)
        .select(
            F.col("path").alias("archive_id"),
            F.col("content").alias("payload"),
        )
    )
    # nightly batches are index-comparable: the default join geometry
    # (index shuffles once) is the right one; the stream twin passes
    # small_batch=True for its 15-minute epochs
    counts = intake_batch(
        ctx.spark,
        raw,
        docs_root=f"{dest}/documents",
        quarantine_root=f"{dest}/_quarantine",
        index_path=f"{dest}/digest_index",
        run_id=run_id,
        small_batch=False,
    )
    write_json_manifest(
        ctx.spark,
        f"{dest}/_MANIFEST.json",
        {"src": src, "run_id": run_id, "intake": counts},
    )
    ctx.written.extend(
        [
            f"crawl_intake/documents/ingest_batch={run_id}",
            f"crawl_intake/_quarantine/ingest_batch={run_id}",
            "crawl_intake/_MANIFEST.json",
        ]
    )


def _crawl_to_corpus(ctx: JobContext) -> None:
    """The composed raw-bytes-to-training-shards job (VERDICT r11 #4):
    crawl archives → intake (parse / extract / gate / digest-dedup,
    ``pipeline.intake.intake_batch`` — the same composition the
    nightly ``crawl_intake`` job and the streaming bridge run) →
    corpus pipeline (gate survivors through dedup / mixture / split /
    pack, :func:`corpus_job.prepare_training_corpus`) — one command
    from WARC bytes to packed training sequences, with per-boundary
    row counts in the manifest. Fixture seeding follows the
    ``crawl_intake`` shape (HTML-bodied archives with stop words so
    the gate's PASS branch carries data) when ``$WARC_SRC`` is
    unset."""
    from .corpus_job import prepare_corpus_from_crawl

    dest = f"{ctx.out_root}/crawl_corpus"
    run_id = f"run-{ctx.run_date.isoformat()}"
    src = layered_config().get("WARC_SRC")
    if not src:
        from . import warc as W

        src = f"{dest}/raw_archives"
        fixture = Catalog(ctx.spark, ctx.sf_dir).documents.select(
            "doc_id",
            F.concat(
                F.lit("<html><body><p>"),
                F.col("text"),
                F.lit(" the of</p></body></html>"),
            ).alias("text"),
        )
        W.write_fixture_archives(fixture, src)
    raw = (
        ctx.spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.warc.gz")
        .load(src)
        .select(
            F.col("path").alias("archive_id"),
            F.col("content").alias("payload"),
        )
    )
    prepare_corpus_from_crawl(ctx.spark, raw, dest, run_id=run_id)
    ctx.written.extend(
        [
            f"crawl_corpus/documents/ingest_batch={run_id}",
            "crawl_corpus/corpus/split",
            "crawl_corpus/corpus/sequences",
            "crawl_corpus/_MANIFEST.json",
        ]
    )


JOBS: dict[str, Callable[[JobContext], None]] = {
    "upload_advisors": upload_advisors,
    "upload_snapshot": upload_snapshot,
    "upload_recent_refresh": upload_recent_refresh,
    "prepare_corpus": _prepare_corpus,
    "ingest_corpus": _ingest_corpus,
    "ingest_warc": _ingest_warc,
    "train_tokenizer": _train_tokenizer,
    "train_classifier": _train_classifier,
    "maintain_indexes": _maintain_indexes,
    "corpus_card": _corpus_card,
    "crawl_intake": _crawl_intake,
    "crawl_to_corpus": _crawl_to_corpus,
}


def run_job(name: str, ctx: JobContext) -> JobContext:
    """Dispatch by job name; unknown names abort — mirrors the JOB env
    var dispatch (``jonesy.py:13-16``, ``jobs.py:28-65``). A job owns
    one cache scope: whatever it persists or checkpoints is released
    when it returns, like the reference job's connections and spill
    files."""
    if name not in JOBS:
        raise SystemExit(f"unknown or missing job {name!r}; known: {sorted(JOBS)}")
    with cache_scope():
        JOBS[name](ctx)
    return ctx
