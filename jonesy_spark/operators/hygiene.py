"""Corpus-hygiene operators: PII redaction, benchmark-contamination
detection, source blocklisting, and incremental dedup against an
existing corpus index.

These are the remaining gates of a training-data pipeline (after
operators.dedup removes copies and operators.corpus shapes the mix):
scrub what must not be learned, drop what must not be crawled, flag
what must not be evaluated on, and skip what a previous run already
ingested.

Scale shape:
  * redaction is chained ``regexp_replace`` — map-only, codegen'd, zero
    shuffle at any corpus size;
  * contamination joins doc n-gram hashes against the benchmark's gram
    set — the benchmark side is small by nature (eval suites, not
    corpora) and broadcasts; the doc side aggregates per doc_id with
    map-side combine, so the shuffle is hit-rows only;
  * blocklist is a broadcast anti-join on the domain key;
  * incremental dedup is an anti-join of 16-byte digests — the index
    side shuffles digests, never text, and at 100 TB lives as a
    bucketed/partitioned table keyed on the digest so repeated nightly
    runs co-locate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..caching import cache_scope, persist
from ..functions import text as TX
from ..functions.scalars import micro_units
from .dedup import CPU_PARTITIONS, element_hash

#: Phone shapes, anchored to telephone-like GROUPING rather than "any
#: long digit run" (which also ate ISBNs, numeric ids, timestamps):
#:   * compact E.164 — the leading '+' disambiguates (+14155550199);
#:   * grouped — optional +CC, then an area part ((415) / 415- / 20 )
#:     and two 3-4-digit groups, '-'/'.'/' ' separated; dates and ISBNs
#:     fail the 3-4-digit-group requirement (08, 13, 16, 3 are too
#:     short; 148410 too long), bare ids have no separators;
#:   * US 7-digit local (555-2671), dash-only — space/dot locals are
#:     too ambiguous against decimal/thousands grouping.
PHONE_PATTERN = (
    r"\+\d{8,15}\b"
    r"|(\+\d{1,3}[-. ])?(\(\d{2,4}\)[-. ]?|\b\d{2,4}[-. ])\d{3,4}[-. ]\d{3,4}\b"
    r"|\b\d{3}-\d{4}\b"
)

#: (kind, pattern, replacement) in application order — longer/more
#: specific first so e.g. the SSN rule fires before the generic phone
#: rule can consume its digits, and IPv4 before phone so dotted quads
#: never reach the dot-separated phone alternative. Patterns are
#: RE2-ish (no lookarounds; \b is fine) so they run identically in
#: Spark and DuckDB's regex engines.
PII_RULES: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", PHONE_PATTERN, "<PHONE>"),
]


def redact_pii(text: Column, kinds: list[str] | None = None) -> Column:
    """Replace PII spans with typed placeholder tokens — chained
    ``regexp_replace`` in :data:`PII_RULES` order (map-only)."""
    out = text
    for kind, pat, repl in PII_RULES:
        if kinds is None or kind in kinds:
            out = F.regexp_replace(out, pat, repl)
    return out


def pii_stats(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document PII match counts per rule plus the redacted text —
    the audit artifact a scrubbing run writes next to its output."""
    cols = [F.col(id_col)]
    cols += [
        F.regexp_count(F.col(text_col), F.lit(pat)).alias(f"n_{kind}")
        for kind, pat, _ in PII_RULES
    ]
    cols.append(redact_pii(F.col(text_col)).alias("redacted_text"))
    return docs.select(*cols)


def contamination(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark-contamination report: for each document, the fraction
    of its character ``n``-grams that appear anywhere in the benchmark
    texts (the standard n-gram-overlap decontamination check; 13-gram
    is the common eval-decontamination window).

    Output: (doc_id, n_grams, n_contaminated, contamination_frac_micro) for
    docs with at least one gram — join back `left` for the rest. The
    benchmark gram set is broadcast (eval suites are MBs, not TBs); doc
    grams explode to 28-bit int hashes so the probe rows stay narrow.
    """
    doc_grams = (
        docs.repartition(CPU_PARTITIONS, id_col)
        .select(
            F.col(id_col),
            F.explode(TX.char_ngrams(F.col(text_col), n)).alias("g"),
        )
        .select(id_col, element_hash(F.col("g")).alias("h"))
    )
    bench_grams = (
        benchmark.select(F.explode(TX.char_ngrams(F.col(text_col), n)).alias("g"))
        .select(element_hash(F.col("g")).alias("h"))
        .distinct()
    )
    hit = F.when(F.col("bh").isNotNull(), 1).otherwise(0)
    return (
        doc_grams.join(
            F.broadcast(bench_grams.select(F.col("h").alias("bh"))),
            F.col("h") == F.col("bh"),
            "left",
        )
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(hit).alias("n_contaminated"),
        )
        .select(
            id_col,
            "n_grams",
            "n_contaminated",
            micro_units(F.col("n_contaminated") / F.col("n_grams")).alias(
                "contamination_frac_micro"
            ),
        )
    )


def ngram_novelty(
    eval_docs: DataFrame,
    train_docs: DataFrame,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document n-gram NOVELTY against a training corpus (the
    RAVEN-style memorization metric, McCoy et al. 2023): for each eval
    document, the fraction of its distinct word ``n``-grams that appear
    NOWHERE in the training documents. The complement of
    :func:`contamination`'s overlap gate — novelty is a per-document
    generation/holdout QUALITY metric, not a drop filter.

    Output: (doc_id, n_grams, n_novel, novelty_micro) for eval docs
    with at least n words. Unlike contamination (benchmark side is
    MB-scale, broadcast), the TRAIN side here is corpus-scale, so the
    membership probe is a shuffled equi-join on the 28-bit gram hash —
    both sides partial-aggregate map-side (array_distinct before the
    explode bounds per-doc fan-out; the train set dedups in partial
    aggregation before the exchange). At 100 TB this is the same plan
    family as exact-substring dedup (Lee et al. 2022): one shuffle of
    narrow (hash) rows, no broadcast, no driver state."""
    eval_grams = (
        eval_docs.repartition(CPU_PARTITIONS, id_col)
        .select(
            F.col(id_col),
            F.explode(TX.word_ngrams(F.col(text_col), n)).alias("g"),
        )
        .select(id_col, element_hash(F.col("g")).alias("h"))
    )
    # spread: the train-side gram explode + per-gram md5 is the heavy
    # map here and the train frame arrives pre-filtered from a scan
    # that may plan 1 split (local fixtures) — adaptive floor, no-op
    # when the scan already has >= cores splits
    from ..catalog import spread

    train_grams = (
        spread(train_docs)
        .select(F.explode(TX.word_ngrams(F.col(text_col), n)).alias("g"))
        .select(element_hash(F.col("g")).alias("th"))
        .distinct()
    )
    novel = F.when(F.col("th").isNull(), 1).otherwise(0)
    return (
        eval_grams.join(train_grams, F.col("h") == F.col("th"), "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(novel).alias("n_novel"),
        )
        .select(
            id_col,
            "n_grams",
            "n_novel",
            micro_units(F.col("n_novel") / F.col("n_grams")).alias("novelty_micro"),
        )
    )


def blocklist_filter(
    docs: DataFrame,
    blocked: DataFrame | list[str],
    key_col: str = "source",
) -> DataFrame:
    """Drop documents whose ``key_col`` (domain/source) is blocklisted —
    broadcast anti-join; blocklists are list-shaped, corpora are not."""
    if isinstance(blocked, list):
        spark = docs.sparkSession
        blocked = spark.createDataFrame([(b,) for b in blocked], f"{key_col} string")
    return docs.join(F.broadcast(blocked.select(key_col)), key_col, "left_anti")


def content_digest(text: Column) -> Column:
    """Normalized content digest shared with operators.dedup.exact_dedup:
    md5 of lowercased, trimmed, whitespace-collapsed text."""
    return F.md5(F.lower(F.trim(F.regexp_replace(text, r"\s+", " "))))


def incremental_dedup(
    new_docs: DataFrame,
    seen: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    small_batch: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Dedup a new batch against the already-ingested corpus: returns
    ``(novel_docs, updated_seen)`` where ``seen`` is a 1-column
    ``content_hash`` index.

    Within-batch copies collapse first (min ``id_col`` survives — a
    deterministic pick, unlike ``dropDuplicates`` whose survivor is
    partition-order-dependent), then the anti-join drops digests the
    corpus already holds. Both shuffles move digests only (32 hex chars
    per row regardless of document size). ``updated_seen`` is a PLAIN
    union — ``novel`` is within-batch unique (row_number = 1) and
    anti-joined against ``seen``, so the sides are provably disjoint
    and a ``distinct()`` would be a semantic no-op that re-shuffles the
    entire historical index every nightly run. The disk follow-through
    is :func:`write_novel_digests` / :func:`read_digest_index`: append
    ONLY the returned novel digests (that invariant is what keeps the
    index duplicate-free, and the write O(novel) instead of O(index)).

    ``small_batch=True`` flips the probe's join geometry for the
    streaming/micro-batch regime: the default anti-join shuffles the
    INDEX side on ``content_hash`` — an O(index) shuffle per run, fine
    for nightly batches comparable to the index, wrong for a 15-minute
    epoch probing a 10 B-digest index. With the flag, the batch's
    digests BROADCAST into a left-semi join against the index (map-side
    — the index is scanned, never shuffled), and the matched set (at
    most batch-sized) broadcasts back into the anti-join. Identical
    output (equivalence-tested); the caller asserts the batch fits the
    broadcast budget, which a micro-batch does by construction.
    """
    from pyspark.sql import Window

    withd = new_docs.withColumn("content_hash", content_digest(F.col(text_col)))
    w = Window.partitionBy("content_hash").orderBy(id_col)
    firsts = (
        withd.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    if small_batch:
        # persist the batch's digest frame: the broadcast build, the
        # anti-join probe side, and the caller's count/write otherwise
        # each RE-RUN the normalize+md5 pipeline over the batch text —
        # measured 3x the batch compute per probe on a 40 MB batch.
        # The batch is micro-batch-sized by this flag's contract, so
        # the cache is small and lives for the caller's cache scope.
        firsts = persist(firsts)
        matched = seen.join(
            F.broadcast(firsts.select("content_hash")), "content_hash", "left_semi"
        )
        novel = firsts.join(F.broadcast(matched), "content_hash", "left_anti")
    else:
        novel = firsts.join(seen, "content_hash", "left_anti")
    updated = seen.union(novel.select("content_hash"))
    return novel, updated


def write_novel_digests(
    novel: DataFrame,
    index_path: str,
    prefix_len: int = 2,
    mode: str = "append",
    run_id: str | None = None,
) -> str:
    """Append ONLY a batch's novel digests to the on-disk corpus index —
    the nightly follow-through of :func:`incremental_dedup`: the write
    is O(novel), never O(index), and the full-index ``updated_seen``
    union never needs to be materialized to disk. Returns the
    ``run_id`` actually used.

    Layout — ONE layout for every writer (r4 verdict #4: the nightly
    and streaming writers previously produced different directory
    depths under the same root, which breaks Spark's partition
    discovery on a corpus that runs both):
    ``{index_path}/ingest_batch=<run_id>/bucket=<prefix>/*.parquet``.
    ``bucket`` is the leading ``prefix_len`` hex chars of the digest
    (256 values at the default); the pre-write ``repartition`` on it
    caps the write at one file per touched bucket per run. ``run_id``
    defaults to a fresh ``nightly-<hex>`` token per call; the streaming
    bridge passes ``epoch-<N>`` with ``mode="overwrite"`` so an epoch
    replay overwrites exactly its own subtree (retry idempotence) —
    the two namespaces can never collide. Writing only anti-joined
    novel digests keeps the index duplicate-free — the invariant
    :func:`incremental_dedup`'s plain union relies on.
    """
    if run_id is None:
        import uuid

        run_id = f"nightly-{uuid.uuid4().hex[:12]}"
    (
        novel.select("content_hash")
        .withColumn("bucket", F.substring("content_hash", 1, prefix_len))
        .repartition("bucket")
        .write.mode(mode)
        .partitionBy("bucket")
        .parquet(f"{index_path}/ingest_batch={run_id}")
    )
    return run_id


def write_minhash_index(
    sigs: DataFrame, index_path: str, mode: str = "append", run_id: str | None = None
) -> str:
    """Append a batch's banded MinHash signatures
    (``dedup.minhash_banded_sigs`` rows) to the on-disk NEAR-DUP index —
    the sketch-level sibling of :func:`write_novel_digests`: nightly
    near-dup against history then costs sketching the NEW batch plus a
    band-key probe, never a recompute over the historical corpus (whose
    text the index never stores — ~(n_hashes+3) longs per doc). Same
    one-layout contract as the digest index:
    ``ingest_batch=<run_id>/bucket=<band prefix>/``; append only the
    docs :func:`incremental_near_dup` reports as novel, so the index
    holds one surviving representative per near-dup cluster.
    """
    if run_id is None:
        import uuid

        run_id = f"nightly-{uuid.uuid4().hex[:12]}"
    (
        sigs.withColumn("bucket", F.substring("band_key", 1, 2))
        .repartition("bucket")
        .write.mode(mode)
        .partitionBy("bucket")
        .parquet(f"{index_path}/ingest_batch={run_id}")
    )
    return run_id


def probe_minhash_index(
    new_sigs: DataFrame,
    spark,
    index_path: str,
    threshold: float = 0.8,
    n_hashes: int = 16,
    bucket_cap: int | None = 256,
    exclude_run_id: str | None = None,
    observation=None,
) -> DataFrame:
    """Near-dup matches of a new batch against the persisted signature
    index: ``(doc_id, index_doc_id, est_jaccard_micro)`` for every new doc
    sharing a band bucket with an indexed doc at estimated Jaccard >=
    ``threshold``. ``exclude_run_id`` prunes one ``ingest_batch=``
    subtree (partition filter) — retrying writers exclude their own
    run_id so a crashed prior attempt's committed signatures can't
    self-match the replay (ADVICE r5 #1).

    The probe is a band-key equi-join — O(new-batch sketches) plus one
    shuffle of the TOUCHED index rows: the index is first semi-joined
    to the batch's distinct (band_id, band_key) set (broadcast — the
    batch side is small by contract), so buckets the batch never probes
    are filtered at the scan and neither the cap window nor the join
    ever shuffles them. Before this (ADVICE r5 #3) the cap window
    row-numbered the ENTIRE persisted index per probe — an O(index)
    shuffle per nightly run that grew with history. Verification uses
    the MinHash component-agreement estimate
    (``dedup.estimated_jaccard``; the index stores signatures, not
    token sets), so the cross-batch gate is the standard
    sketch-precision tradeoff an incremental LSH index makes — raise
    ``n_hashes`` at write time for a tighter band. Degenerate index
    buckets are capped: only ``bucket_cap`` members per (band_id,
    band_key), deterministically the min doc_ids, are probed — members
    of an over-full bucket are near-identical, so any representative
    catches the duplicate; same recall argument as the batch cap. The
    cap window partitions by the same keys the join shuffles on, so
    the capped side's exchange is reused by the join (the r5 LSH
    window-stats pattern). An absent index (first run) yields no
    matches.

    The returned frame carries a ``CollectMetrics`` observation
    (``matches`` / ``matched_new_docs`` / ``probed_buckets``) riding
    whatever action the caller runs — a nightly job alerts from a
    ``QueryExecutionListener`` with zero extra passes (the hot-bucket
    cap pattern, ``dedup.py``). Pass a ``pyspark.sql.Observation`` as
    ``observation`` to read the values in-process; the default is the
    listener-visible name ``probe_minhash_index``.
    """
    from pyspark.sql import Window

    from pyspark.errors import AnalysisException

    from .dedup import _eval_once, _micro_threshold, estimated_jaccard

    def _observed(df: DataFrame, n_buckets: int) -> DataFrame:
        return df.observe(
            observation if observation is not None else "probe_minhash_index",
            F.count(F.lit(1)).alias("matches"),
            # DISTINCT aggregates are disallowed in observed metrics
            F.approx_count_distinct("doc_id").alias("matched_new_docs"),
            F.max(F.lit(n_buckets)).alias("probed_buckets"),
        )

    try:
        idx = spark.read.parquet(index_path)
    except AnalysisException:
        return _observed(
            new_sigs.sparkSession.createDataFrame(
                [], "doc_id long, index_doc_id long, est_jaccard_micro long"
            ),
            0,
        )
    if exclude_run_id is not None:
        idx = idx.filter(F.col("ingest_batch") != exclude_run_id)
    # Persisted: the batch's sketch frame feeds THREE consumers — the
    # touched-bucket collect (an eager action), the touched-key
    # broadcast, and the candidate join — and each otherwise re-runs
    # the batch's explode + MinHash aggregation (r14: the before-plan
    # carried the sketch subtree 3x). O(batch) rows of ~19 longs by the
    # index contract.
    new_sigs = persist(new_sigs)
    # Partition pruning first: the layout derives ``bucket`` from
    # band_key (write_minhash_index: substring(band_key, 1, 2)), so the
    # batch's touched buckets are knowable up front. Collecting them is
    # a tiny driver action (<= 256 two-char prefixes) that turns the
    # index read into a scan of ONLY the touched bucket directories —
    # at corpus scale the probe's I/O is bounded by the batch's bucket
    # fan-out, not the index size.
    buckets = [
        r["b"]
        for r in new_sigs.select(F.substring("band_key", 1, 2).alias("b"))
        .distinct()
        .collect()
    ]
    idx = idx.filter(F.col("bucket").isin(buckets))
    # Row-level: semi-join to the batch's distinct band keys (broadcast
    # — small by the same contract), so untouched buckets inside a
    # scanned directory never reach the cap window or the join shuffle.
    touched = new_sigs.select("band_id", "band_key").distinct()
    idx = idx.join(F.broadcast(touched), ["band_id", "band_key"], "left_semi")
    if bucket_cap is not None:
        w = Window.partitionBy("band_id", "band_key").orderBy("doc_id")
        idx = (
            idx.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= bucket_cap)
            .drop("__rn")
        )
    idx = idx.select(
        F.col("doc_id").alias("index_doc_id"),
        F.col("sz").alias("sz_i"),
        F.col("mh").alias("mh_i"),
        "band_id",
        "band_key",
    )
    cand = (
        new_sigs.join(
            idx,
            ["band_id", "band_key"],
        )
        # threshold-implied size-ratio prune, lossless as in the batch op
        .filter(
            (F.col("sz") >= threshold * F.col("sz_i"))
            & (F.col("sz_i") >= threshold * F.col("sz"))
        )
        .dropDuplicates(["doc_id", "index_doc_id"])
    )
    return _observed(
        cand.withColumn(
            "est_jaccard_micro",
            _eval_once(
                estimated_jaccard(F.col("mh"), F.col("mh_i"), n_hashes)
            ),
        )
        .filter(F.col("est_jaccard_micro") >= _micro_threshold(threshold))
        .select("doc_id", "index_doc_id", "est_jaccard_micro"),
        len(buckets),
    )


def incremental_near_dup(
    new_docs: DataFrame,
    spark,
    index_path: str,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 16,
    n_bands: int = 2,
    run_id: str | None = None,
    mode: str = "append",
    novel_sink=None,
) -> tuple[DataFrame, DataFrame]:
    """Near-dup dedup of a new batch against the already-ingested
    corpus WITHOUT recomputing historical sketches — the near-dup
    sibling of :func:`incremental_dedup`: returns ``(novel_docs,
    matches)`` and appends the novel docs' signatures to the index
    (``mode="overwrite"`` + a deterministic ``run_id`` scope the write
    to one batch subtree for retry-idempotent callers — the streaming
    bridge).

    Replay idempotence (ADVICE r5 #1): when ``run_id`` is given, the
    index probe EXCLUDES that run_id's own ``ingest_batch=`` subtree —
    a crashed prior attempt of the same batch may have committed its
    signatures, and probing them would self-match every survivor at
    est_jaccard 1.0, empty the novel set, and lose the batch from both
    sinks on replay. ``novel_sink`` (a ``novel_df -> None`` callable)
    runs BEFORE the index write so the document sink commits first —
    the same crash-ordering the digest bridge uses: a crash between
    the two writes replays into an identical recompute, never a
    half-indexed batch that poisons its own retry.

    Within-batch duplicates collapse first at CLUSTER level (exact
    verified :func:`~..operators.dedup.minhash_lsh_pairs` + connected
    components, min-id survivor — the same semantics the batch corpus
    job applies); the surviving representatives then probe the
    persisted index, and any with a cross-batch match >= ``threshold``
    are dropped. Only the remaining novel docs' signatures are appended
    (O(novel) write), keeping nightly cost sketch(new) + probe, never
    O(corpus).

    Multi-consumer subtrees (the signature frame feeds the probe, the
    anti-join, and the index append; the match/novel frames feed a
    sink and the return path) are ``persist``-ed, NOT checkpointed —
    lineage survives executor loss at cluster scale (SCALE.md "Cache
    lifecycle"); they live for the caller's cache scope, so run the
    terminal actions on BOTH returned frames inside it.
    """
    from . import dedup as DD
    from . import graph as G

    # the LSH sketch caches are dead once connected components has
    # checkpointed the pair graph
    with cache_scope(keep_checkpoints=True):
        pairs = DD.minhash_lsh_pairs(
            new_docs, text_col=text_col, id_col=id_col,
            n_hashes=n_hashes, n_bands=n_bands, threshold=threshold,
        )
        survivors = G.resolve_duplicates(new_docs, pairs, id_col=id_col)
    # probe + anti-join + index append: one computation
    sigs = persist(DD.minhash_banded_sigs(
        survivors, text_col=text_col, id_col=id_col,
        n_hashes=n_hashes, n_bands=n_bands,
    ))
    matches = persist(probe_minhash_index(
        sigs, spark, index_path, threshold=threshold, n_hashes=n_hashes,
        exclude_run_id=run_id,
    ))
    dup_ids = matches.select(F.col("doc_id").alias(id_col)).distinct()
    novel = survivors.join(dup_ids, id_col, "left_anti").observe(
        "incremental_near_dup_novel", F.count(F.lit(1)).alias("novel_docs")
    )
    novel_sigs = sigs.join(
        dup_ids.select(F.col(id_col).alias("doc_id")), "doc_id", "left_anti"
    )
    if novel_sink is not None:
        novel = persist(novel)
        novel_sink(novel)
    write_minhash_index(novel_sigs, index_path, mode=mode, run_id=run_id)
    return novel, matches


def read_digest_index(
    spark, index_path: str, exclude_run_id: str | None = None
) -> DataFrame:
    """The ``seen`` side for tonight's :func:`incremental_dedup`, read
    back from :func:`write_novel_digests`'s layout (partition discovery
    sees ``ingest_batch``/``bucket`` as columns regardless of which
    writer — nightly or streaming — produced each subtree); an absent
    index (first run) is an empty one.

    ``exclude_run_id`` drops one ``ingest_batch=`` subtree from the
    view — a PARTITION filter, so the excluded subtree's files are
    pruned, not read. Retrying writers (the streaming bridge) pass
    their own run_id: a crashed previous attempt of the SAME batch may
    have committed its digests already, and reading them back would
    make the replay see its own output as "already ingested", emit an
    empty novel set, and overwrite the novel sink with nothing
    (ADVICE r5 #1 — the replay-idempotence hazard)."""
    from pyspark.errors import AnalysisException

    try:
        idx = spark.read.parquet(index_path)
    except AnalysisException:
        return spark.createDataFrame([], "content_hash string")
    if exclude_run_id is not None:
        idx = idx.filter(F.col("ingest_batch") != exclude_run_id)
    return idx.select("content_hash")


def line_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    df_cap: int = 32,
) -> DataFrame:
    """CCNet-style line-level boilerplate removal: drop every line whose
    normalized form (lower+trim digest) appears in more than ``df_cap``
    DISTINCT documents — nav menus, cookie banners, copyright footers —
    and reassemble the surviving lines in original order.

    Output: ``(doc_id, clean_text, n_lines, n_removed)``; a document
    whose every line is boilerplate survives with ``clean_text = ''``
    (the caller's quality gate drops empties — removal here must stay
    reversible for auditing).

    Scale shape: the document-frequency pass shuffles 16-byte line
    digests (distinct per doc first, so a line repeated inside one doc
    counts once); the hot-line table is lines shared by > df_cap
    documents — by construction a tiny fraction of distinct lines — and
    BROADCASTS to the line stream; reassembly is one groupBy over the
    exploded lines (struct sort on position — no window, no global
    sort), the same corpus-width shuffle class as chunking/packing.
    """
    lines = docs.repartition(CPU_PARTITIONS, F.col(id_col)).select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    )
    key = F.md5(F.lower(F.trim(F.col("line"))))
    hot = (
        lines.select(id_col, key.alias("k"))
        .distinct()
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("line_df"))
        .filter(F.col("line_df") > df_cap)
        .select("k")
    )
    kept = lines.withColumn("k", key).join(F.broadcast(hot), "k", "left_anti")
    totals = lines.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_lines"))
    rebuilt = kept.groupBy(id_col).agg(
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    return (
        totals.join(rebuilt, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
            F.col("n_lines").cast("int").alias("n_lines"),
            (F.col("n_lines") - F.coalesce(F.col("n_kept"), F.lit(0)))
            .cast("int")
            .alias("n_removed"),
        )
    )


def near_dup_contamination(
    docs: DataFrame,
    benchmark: DataFrame,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 16,
    n_bands: int = 2,
) -> DataFrame:
    """Sketch-level benchmark decontamination: ``(doc_id, bench_id,
    est_jaccard_micro)`` for every corpus document whose MinHash signature
    matches a benchmark document's at estimated Jaccard >=
    ``threshold`` — the NEAR-dup complement of :func:`contamination`'s
    exact 13-gram gate. Exact n-gram overlap catches verbatim
    inclusion; this catches the reformatted/lightly-paraphrased eval
    copies whose contiguous grams all changed but whose token SET
    mostly survived.

    Scale shape: the corpus side is sketched once (the same
    ``dedup.minhash_banded_sigs`` rows the persisted index stores — a
    pipeline that maintains the index pays nothing new); the benchmark
    side is eval-suite-sized by nature, so its banded signatures
    BROADCAST and the band-key join is map-side at any corpus size.
    The threshold-implied size-ratio prune runs before the signature
    comparison, exactly as in the batch LSH operators.
    """
    from .dedup import (
        _eval_once,
        _micro_threshold,
        estimated_jaccard,
        minhash_banded_sigs,
    )

    doc_sigs = minhash_banded_sigs(
        docs, text_col=text_col, id_col=id_col,
        n_hashes=n_hashes, n_bands=n_bands,
    )
    bench_sigs = minhash_banded_sigs(
        benchmark, text_col=text_col, id_col=id_col,
        n_hashes=n_hashes, n_bands=n_bands,
    ).select(
        F.col("doc_id").alias("bench_id"),
        F.col("sz").alias("sz_b"),
        F.col("mh").alias("mh_b"),
        "band_id",
        "band_key",
    )
    cand = (
        doc_sigs.join(F.broadcast(bench_sigs), ["band_id", "band_key"])
        .filter(
            (F.col("sz") >= threshold * F.col("sz_b"))
            & (F.col("sz_b") >= threshold * F.col("sz"))
        )
        .dropDuplicates(["doc_id", "bench_id"])
    )
    return (
        cand.withColumn(
            "est_jaccard_micro",
            _eval_once(
                estimated_jaccard(F.col("mh"), F.col("mh_b"), n_hashes)
            ),
        )
        .filter(F.col("est_jaccard_micro") >= _micro_threshold(threshold))
        .select("doc_id", "bench_id", "est_jaccard_micro")
    )


def _scan_intents(fs, index_path: str, Path):
    """Yield ``(file_status, intent_dict_or_None)`` for every
    ``_compactions/*.json`` — the ONE intent-scan loop both the
    reader-side exclusion (:func:`superseded_batches`) and the
    writer-side repair pass (:func:`compact_index`) walk, so the
    crash protocol cannot drift between them. A torn/empty record
    (crash during the intent write itself) yields ``None``: by the
    protocol the consolidated write only starts after the intent
    record closes, so a torn intent implies no subtree was written —
    it is vacuum-able noise, never a crash on the read path."""
    import json

    mdir = Path(f"{index_path}/_compactions")
    if not fs.exists(mdir):
        return
    for status in fs.listStatus(mdir):
        if not status.getPath().getName().endswith(".json"):
            continue
        stream = fs.open(status.getPath())
        try:
            raw = bytes(stream.readAllBytes()).decode()
        finally:
            stream.close()
        try:
            intent = json.loads(raw)
        except ValueError:
            intent = None
        yield status, intent


def superseded_batches(spark, index_path: str) -> set[str]:
    """Batch ids a folding reader must exclude to stay exact across a
    compaction crash window — consumed sources of a COMMITTED
    compaction whose deletion has not finished, plus the PARTIAL
    subtree of an uncommitted one.

    Protocol (see :func:`compact_index`): every compaction first
    records its intent — ``_compactions/<run_id>.json`` listing the
    source batches — then writes the consolidated subtree, then
    deletes the sources, then removes the intent record. A crash
    leaves one of four states, all safe: torn intent record (the
    consolidated write never started — nothing to exclude); intent
    with no commit WITNESS (sources all intact, but a PARTIAL subtree
    may already be visible to parquet readers — THIS function
    excludes the subtree itself); intent + committed subtree +
    surviving sources (exclude the survivors so readers don't
    double-count); no intent (deletion finished). The commit witness
    is the ``_SUCCESS`` marker OR any consumed source already gone —
    step (3) only starts after step (2) commits, so a missing source
    proves completion even where success markers are disabled (object
    stores). Anti-join/dedup
    probes never needed this (duplicates are no-ops there); the BM25
    postings and classifier-count ledgers fold by SUM, where either a
    surviving source batch or a half-written consolidated subtree
    silently corrupts tf/df/class counts (ADVICE r7)."""
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    Path = jvm.org.apache.hadoop.fs.Path
    fs = Path(index_path).getFileSystem(hconf)
    out: set[str] = set()
    for _status, intent in _scan_intents(fs, index_path, Path):
        if intent is None:
            continue  # torn record: the subtree write never started
        subtree = Path(f"{index_path}/ingest_batch={intent['run_id']}")
        survivors = [
            b
            for b in intent["consumed"]
            if fs.exists(Path(f"{index_path}/ingest_batch={b}"))
        ]
        committed = fs.exists(Path(f"{subtree}/_SUCCESS")) or len(
            survivors
        ) < len(intent["consumed"])
        # commit witness: the _SUCCESS marker, OR any consumed source
        # already gone — step (3) deletion only starts after step (2)
        # commits, so a missing source proves the subtree is complete
        # even where success markers are disabled/stripped (object
        # stores). Without that proof, intact sources are the truth
        # and a visible subtree is a possibly-partial duplicate.
        if committed:
            out.update(survivors)
        elif fs.exists(subtree):
            out.add(intent["run_id"])
    return out


def read_index_resolved(spark, index_path: str):
    """Read an incremental index with compaction-crash survivors
    excluded: ``spark.read.parquet`` plus a partition-pruned filter
    dropping every batch a committed compaction already consumed
    (:func:`superseded_batches`). The required read path for readers
    that FOLD BY SUM (``search.bm25_probe``,
    ``classify.train_from_counts``); harmless (and cheap — the set is
    empty outside a crash window) for the anti-join probes."""
    df = spark.read.parquet(index_path)
    gone = superseded_batches(spark, index_path)
    if gone:
        df = df.filter(~F.col("ingest_batch").isin(sorted(gone)))
    return df


def compact_index(
    spark,
    index_path: str,
    run_id: str | None = None,
    part_col: str | None = "bucket",
) -> str:
    """Compact an incremental index's accumulated ``ingest_batch=``
    subtrees into ONE — the small-files maintenance a nightly/streaming
    index needs: every epoch adds up to one file per touched bucket, so
    a year of 15-minute epochs is ~9 M tiny files whose listing alone
    dominates probe planning. Works on the digest and minhash signature
    indexes and the search postings (``part_col="bucket"``, the
    default).

    Returns the new consolidated ``run_id``
    (``compact-<n_batches>-<hex>``).

    ``part_col=None`` compacts WITHOUT hive partitioning (one coalesced
    file, matching ``write_classifier_counts``'s own layout): the
    classifier ledger's ``bucket`` is a DATA column with ~n_buckets
    distinct values — partitioning on it would shatter the ledger into
    thousands of one-row directories, the opposite of the small-files
    goal, and retype the column through partition inference (ADVICE
    r7).

    Crash ordering — the three-step intent protocol: (1) record the
    intent (``_compactions/<run_id>.json`` naming the source batches),
    (2) write the consolidated subtree, (3) delete the sources and
    then the intent record. An interruption leaves duplicates, never
    missing rows — and duplicates are safe for EVERY family: the
    digest probe is an anti-join and the minhash probe dedups pairs
    (no exclusion needed), while the SUM-folding readers (BM25
    postings, classifier counts) exclude BOTH hazards via
    :func:`superseded_batches` — a committed intent's surviving
    sources (a crash between (2) and (3) would otherwise double
    tf/df/class counts, ADVICE r7) and an UNCOMMITTED intent's
    partial subtree (part files from a crash inside (2) are visible
    to parquet readers before the job commit). A torn intent record
    (crash inside (1)) parses as stale and is tolerated everywhere. A
    later compaction run first REPAIRS every prior intent before
    reading — finishing step (3) for committed ones, vacuuming the
    partial subtree plus record for uncommitted ones — so the window
    also self-heals. Deletion uses Hadoop's FileSystem API so the
    same code runs on local disk, HDFS, or s3a.

    Operational constraint: QUIESCE streaming writers first. The
    bridges' replay idempotence excludes the replaying epoch's own
    ``ingest_batch=epoch-N`` subtree; if compaction folds a crashed
    epoch's rows into ``compact-*`` before that epoch replays, the
    exclusion no longer reaches them and the replay self-matches —
    exactly the hazard the exclusion exists to prevent. Run compaction
    only with the stream stopped (or past its last checkpoint commit),
    the standard maintenance-window contract for LSM-style compaction.
    """
    import json
    import uuid

    from pyspark.errors import AnalysisException

    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    Path = jvm.org.apache.hadoop.fs.Path

    def _delete(path_str: str) -> None:
        p = Path(path_str)
        p.getFileSystem(hconf).delete(p, True)

    # repair pass: finish (or discard) any prior run's intent BEFORE
    # reading, walking the same _scan_intents the readers use — a
    # committed intent's surviving sources delete now (so this run
    # never re-folds already-consolidated rows); an UNCOMMITTED
    # intent's possibly-partial consolidated subtree is vacuumed along
    # with the record (deleting only the record would bake the partial
    # rows into the next compaction as permanent duplicates); a torn
    # record (no run_id recoverable) implies the subtree write never
    # started, so the record alone is the garbage.
    mdir = Path(f"{index_path}/_compactions")
    fs = mdir.getFileSystem(hconf)
    for status, intent in _scan_intents(fs, index_path, Path):
        if intent is not None:
            survivors = [
                b
                for b in intent["consumed"]
                if fs.exists(Path(f"{index_path}/ingest_batch={b}"))
            ]
            committed = fs.exists(
                Path(f"{index_path}/ingest_batch={intent['run_id']}/_SUCCESS")
            ) or len(survivors) < len(intent["consumed"])
            # same commit witness as superseded_batches: a missing
            # consumed source proves step (2) committed even with
            # success markers disabled — in that state the subtree may
            # be the ONLY copy of the already-deleted sources' rows,
            # so vacuuming it would be data loss, never repair
            if committed:
                for b in survivors:
                    _delete(f"{index_path}/ingest_batch={b}")
            else:
                _delete(f"{index_path}/ingest_batch={intent['run_id']}")
        fs.delete(status.getPath(), False)

    try:
        idx = spark.read.parquet(index_path)
    except AnalysisException:
        raise ValueError(f"no index at {index_path!r} to compact") from None
    batches = [r["ingest_batch"] for r in idx.select("ingest_batch").distinct().collect()]
    if len(batches) <= 1:
        return batches[0] if batches else ""
    run_id = run_id or f"compact-{len(batches)}-{uuid.uuid4().hex[:8]}"

    # (1) intent record: the consumed set, durable before any write
    intent_path = Path(f"{index_path}/_compactions/{run_id}.json")
    stream = fs.create(intent_path, True)
    try:
        stream.write(
            json.dumps(
                {"run_id": run_id, "consumed": sorted(batches)}
            ).encode()
        )
    finally:
        stream.close()

    # (2) consolidated subtree (job commit makes it visible atomically)
    if part_col is None:
        data_cols = [c for c in idx.columns if c != "ingest_batch"]
        writer = idx.select(*data_cols).coalesce(1).write.mode("errorifexists")
    else:
        data_cols = [c for c in idx.columns if c not in ("ingest_batch", part_col)]
        writer = (
            idx.select(*data_cols, part_col)
            .repartition(part_col)
            .write.mode("errorifexists")
            .partitionBy(part_col)
        )
    writer.parquet(f"{index_path}/ingest_batch={run_id}")

    # (3) drop the source subtrees, then retire the intent record
    for b in batches:
        _delete(f"{index_path}/ingest_batch={b}")
    fs.delete(intent_path, False)
    return run_id


def repeated_span_removal(
    docs: DataFrame,
    k: int = 13,
    min_df: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-document repeated-SPAN removal — the span-level exact-
    substring dedup (public method: Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"), re-expressed
    relationally: any ``k``-token span whose normalized gram occurs in
    at least ``min_df`` distinct documents is kept ONLY in the min-id
    document among them and cut from every other occurrence. Doc-level
    dedup misses this entirely (two different pages sharing one lifted
    paragraph); line_dedup misses it when the span crosses line
    structure.

    Output: ``(doc_id, clean_text, n_tokens, n_removed)`` —
    ``clean_text`` is the surviving tokens in original order, single-
    space joined (the operator tokenizes on whitespace, so text is
    whitespace-normalized on the way through, as in the reference
    method which operates on token streams).

    Scale shape, stage by stage: gram keys are 16-byte md5s built
    map-side from an array-slice transform (no token-stream shuffle to
    build grams); the document-frequency pass aggregates per-gram over
    DISTINCT (gram, doc) pairs — keyed shuffles with map-side combine,
    the same class as every sketch pass here. The repeated-gram table
    joins back as an ordinary shuffle join on the gram key (NOT a
    broadcast: at crawl scale the repeated tail is large — boilerplate
    is why this operator exists). Covered positions explode only
    REMOVED spans (k rows each), dedupe by (doc, pos) — overlapping
    spans merge for free in that distinct, no interval arithmetic —
    and anti-join the token stream. Reassembly is the house
    struct-sort groupBy, no window, no global sort.
    """
    if k < 2:
        raise ValueError(f"span length k must be >= 2, got {k}")
    if min_df < 2:
        raise ValueError(f"min_df must be >= 2, got {min_df}")
    base = docs.repartition(CPU_PARTITIONS, F.col(id_col)).select(
        F.col(id_col),
        F.split(F.trim(F.col(text_col)), r"\s+").alias("arr"),
    )
    toks = base.select(
        id_col, F.posexplode(F.col("arr")).alias("pos", "tok")
    ).filter(F.col("tok") != "")
    n = F.size(F.col("arr"))
    # Persisted: grams feeds the document-frequency pass AND the
    # removed-span join — without the persist both re-run the per-
    # position gram md5 transform (the operator's heaviest map) from
    # the scan (r14 plan audit: 16 Exchanges, the gram subtree twice).
    grams = base.select(
        id_col,
        F.posexplode(
            F.when(
                n >= k,
                F.transform(
                    F.sequence(F.lit(0), n - k), lambda i: F.md5(
                        F.lower(F.concat_ws(" ", F.slice(F.col("arr"), i + 1, k)))
                    )
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("start", "g"),
    )
    grams = persist(grams)
    hot = (
        grams.select(id_col, "g")
        .distinct()
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).alias("gram_df"),
            F.min(id_col).alias("keeper_doc"),
        )
        .filter(F.col("gram_df") >= min_df)
        .select("g", "keeper_doc")
    )
    removed_spans = (
        grams.join(hot, "g")
        .filter(F.col(id_col) != F.col("keeper_doc"))
        .select(id_col, "start")
    )
    covered = removed_spans.select(
        id_col,
        F.explode(
            F.sequence(F.col("start"), F.col("start") + F.lit(k - 1))
        ).alias("pos"),
    ).distinct()
    kept = toks.join(covered, [id_col, "pos"], "left_anti")
    # token totals map-side from the array (count of non-empty
    # elements), not a second explode + groupBy over the token stream;
    # the >= 1 filter preserves the old frame's domain exactly (a doc
    # with zero non-empty tokens produced no grouped row)
    totals = base.select(
        id_col,
        F.size(F.filter(F.col("arr"), lambda x: x != "")).alias("n_tokens"),
    ).filter(F.col("n_tokens") >= 1)
    rebuilt = kept.groupBy(id_col).agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    return totals.join(rebuilt, id_col, "left").select(
        id_col,
        F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        F.col("n_tokens").cast("int").alias("n_tokens"),
        (F.col("n_tokens") - F.coalesce(F.col("n_kept"), F.lit(0)))
        .cast("int")
        .alias("n_removed"),
    )


#: Gopher rule-2 stop-word set (Rae et al. 2021, Appendix A1.1): a doc
#: must contain at least two DISTINCT members to pass the stop-word
#: rule. Module-level so the fixture synthesis and the gate share one
#: definition.
GOPHER_STOP_WORDS = ("the", "be", "to", "of", "and", "that", "have", "with")

#: The gate's rule columns, in output order. Lives NEXT TO the gate so
#: an added rule cannot be forgotten by downstream accounting: the
#: intake composition (``pipeline.intake``) enumerates this tuple for
#: its per-rule reject counts, and the gate derives ``keep`` from it.
GOPHER_GATE_RULES = (
    "r_word_count",
    "r_mean_word_len",
    "r_symbol_ratio",
    "r_alpha_ratio",
    "r_stop_words",
    "r_bullet_lines",
    "r_ellipsis_lines",
)


def gopher_quality_gate(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """Gopher's document-level quality rules (public method: Rae et al.
    2021, "Scaling Language Models: ... Gopher", Appendix A1.1 — the
    filter set Dolma / RedPajama-v2 / FineWeb all re-implement): per
    document,

      * word count in ``[min_words, max_words]``;
      * mean word length in [3, 10] characters;
      * symbol-to-word ratio <= 0.1 for EACH of ``#`` and ``...``
        (occurrences counted, not words — ``##`` is two symbols, the
        paper's per-symbol ratio, not a pooled cap);
      * >= 80% of words contain at least one alphabetic character;
      * >= 2 distinct members of :data:`GOPHER_STOP_WORDS` present
        (matched case-insensitively with trailing punctuation stripped,
        so sentence-initial ``The`` and ``of,`` count as the paper's
        word-tokenized check would);
      * <= 90% of lines start with a bullet (``- ``) — the paper
        REMOVES only near-pure bullet lists, it keeps prose that
        merely contains one;
      * <= 30% of lines end with an ellipsis (``...``).

    ``keep`` is the conjunction. Every ratio threshold is evaluated as
    an exact INTEGER comparison (``n_hash * 10 <= n_words``, never a
    float divide), so the verdicts are bit-identical across engines;
    the raw counts ship alongside the booleans so a consumer can re-cut
    at different thresholds without a second scan. ``passthrough``
    names extra input columns (e.g. the text itself, provenance) to
    carry onto the output unchanged, so a pipeline can filter on
    ``keep`` without joining back to the input.

    Scale shape: the entire gate is per-row array expressions — split,
    ``transform``/``filter``/``aggregate`` over the word and line
    arrays, all inside whole-stage codegen. MAP-ONLY: zero exchanges,
    zero joins, zero Python at any corpus size; at 100 TB the cost is
    the scan itself, and the gate composes with c4_line_filter /
    html_extract in the same single pass over a crawl tier.
    """
    text = F.col(text_col)
    lines = F.split(text, "\n")
    words = F.filter(
        F.split(F.translate(text, "\n", " "), " "), lambda w: w != ""
    )
    stop_arr = F.array(*[F.lit(s) for s in GOPHER_STOP_WORDS])
    staged = docs.select(
        F.col(id_col),
        words.alias("__w"),
        lines.alias("__l"),
        # normalized-word twin built ONCE (the stop-word filter below
        # would otherwise re-run lower+regexp over the full word array
        # per stop-word candidate)
        F.transform(
            words,
            lambda w: F.regexp_replace(F.lower(w), r"[.,!?;:'\"]+$", ""),
        ).alias("__wn"),
        *[F.col(p) for p in passthrough],
    )
    n_words = F.size(F.col("__w")).cast("long")
    n_lines = F.size(F.col("__l")).cast("long")
    counted = staged.select(
        id_col,
        *passthrough,
        n_words.alias("n_words"),
        n_lines.alias("n_lines"),
        F.aggregate(
            F.col("__w"),
            F.lit(0).cast("long"),
            lambda a, w: a + F.length(w),
        ).alias("total_word_chars"),
        F.aggregate(
            F.col("__w"),
            F.lit(0).cast("long"),
            lambda a, w: a + F.length(w) - F.length(F.replace(w, F.lit("#"))),
        ).alias("n_hash_symbols"),
        F.aggregate(
            F.col("__w"),
            F.lit(0).cast("long"),
            lambda a, w: a
            + (
                (F.length(w) - F.length(F.replace(w, F.lit("...")))) / 3
            ).cast("long"),
        ).alias("n_ellipsis_symbols"),
        F.size(F.filter(F.col("__w"), lambda w: w.rlike("[a-zA-Z]")))
        .cast("long")
        .alias("n_alpha_words"),
        F.size(
            F.filter(
                stop_arr,
                lambda s: F.array_contains(F.col("__wn"), s),
            )
        )
        .cast("long")
        .alias("n_stop_kinds"),
        F.size(
            F.filter(F.col("__l"), lambda l: F.substring(l, 1, 2) == "- ")
        )
        .cast("long")
        .alias("n_bullet_lines"),
        F.size(
            F.filter(F.col("__l"), lambda l: l.substr(-3, 3) == "...")
        )
        .cast("long")
        .alias("n_ellipsis_lines"),
    )
    c = F.col
    ruled = counted.select(
        id_col,
        *passthrough,
        "n_words",
        "n_lines",
        "total_word_chars",
        "n_hash_symbols",
        "n_ellipsis_symbols",
        "n_alpha_words",
        "n_stop_kinds",
        "n_bullet_lines",
        "n_ellipsis_lines",
        c("n_words").between(min_words, max_words).alias("r_word_count"),
        (
            (c("total_word_chars") >= 3 * c("n_words"))
            & (c("total_word_chars") <= 10 * c("n_words"))
        ).alias("r_mean_word_len"),
        (
            (c("n_hash_symbols") * 10 <= c("n_words"))
            & (c("n_ellipsis_symbols") * 10 <= c("n_words"))
        ).alias("r_symbol_ratio"),
        (c("n_alpha_words") * 5 >= c("n_words") * 4).alias("r_alpha_ratio"),
        (c("n_stop_kinds") >= 2).alias("r_stop_words"),
        (c("n_bullet_lines") * 10 <= c("n_lines") * 9).alias(
            "r_bullet_lines"
        ),
        (c("n_ellipsis_lines") * 10 <= c("n_lines") * 3).alias(
            "r_ellipsis_lines"
        ),
    )
    # keep derives from the rule COLUMNS, not a restated copy of the
    # expressions: a threshold edit cannot drift keep out of agreement
    # with its own rule booleans
    keep = None
    for r in GOPHER_GATE_RULES:
        keep = c(r) if keep is None else keep & c(r)
    return ruled.select("*", keep.alias("keep"))
