"""Mergeable corpus statistics: HLL-sketch profiles that accumulate
per-batch and answer corpus-wide distinct-count questions without ever
rescanning history.

The reference's only statistic is a row count per extract (reference
``jonesy/jobs.py:180-183`` logs ``len(rows)``); a training-data corpus
needs the monitoring tier above that: per-(source, lang) document /
token totals and VOCABULARY size, maintained incrementally as batches
land. Exact distinct-token counting is the one aggregate that cannot
be accumulated with plain sums — two batches' exact distinct counts
don't add. Datasketches HLL sketches (public Spark SQL surface:
``hll_sketch_agg`` / ``hll_union_agg`` / ``hll_sketch_estimate``,
Spark 3.5+) close exactly that gap: a sketch is a few KB per group,
unions are register-wise max (order- and batching-invariant), and the
estimate of a union equals the estimate of the single-pass sketch —
so the nightly cost is O(new batch) and the corpus-wide report is a
fold over group-level sketch rows, never over documents.

Index layout follows the house convention for every persisted
incremental artifact (``hygiene.write_novel_digests``):
``{path}/ingest_batch=<run_id>/*.parquet`` — batch-scoped subtrees,
``overwrite`` of a replayed epoch's own subtree keeps writers
idempotent. Rows here are GROUP-level (a handful per batch), so no
``bucket=`` sublevel is needed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caching import persist
from ..functions.scalars import micro_units

from ..functions import text as TX

#: Default Datasketches log2(K): 4 KiB registers, ~1.6 % relative
#: standard error — vocabulary-sized cardinalities are well inside the
#: sparse-exact regime at test scale and ±2 % at web scale.
DEFAULT_LG_K = 12

GROUP_COLS = ("source", "lang")


def profile_batch(
    docs: DataFrame,
    group_cols: tuple[str, ...] = GROUP_COLS,
    text_col: str = "text",
    lg_k: int = DEFAULT_LG_K,
) -> DataFrame:
    """One batch's per-group profile row: exact additive counters
    (``n_docs``, ``n_tokens``) plus the HLL ``vocab_sketch`` of its
    lowercased whitespace tokens.

    Two keyed aggregations (doc-grain counters, token-grain sketch)
    joined on the group key — both shuffle only group-cardinality rows
    after map-side partial aggregation; the token explode never leaves
    its stage. Output is one row per group: KBs regardless of corpus
    size, which is what makes the persisted index a metadata table.
    """
    gcols = list(group_cols)
    counters = docs.groupBy(*gcols).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(TX.whitespace_token_count(F.col(text_col))).alias("n_tokens"),
    )
    tokens = docs.select(
        *gcols,
        F.explode(F.split(F.trim(F.lower(F.col(text_col))), r"\s+")).alias("tok"),
    ).filter(F.col("tok") != "")
    sketches = tokens.groupBy(*gcols).agg(
        F.hll_sketch_agg("tok", lg_k).alias("vocab_sketch")
    )
    # NULL-SAFE group join: a NULL source/lang is a legal group (the
    # ingest contract only requires doc_id/text), and a null-unsafe
    # equi-join would silently discard its computed sketch.
    cond = None
    for c in gcols:
        eq = counters[c].eqNullSafe(sketches[c])
        cond = eq if cond is None else (cond & eq)
    return counters.join(sketches, cond, "left").select(
        *[counters[c] for c in gcols], "n_docs", "n_tokens", "vocab_sketch"
    )


def merge_profiles(
    profiles: DataFrame, group_cols: tuple[str, ...] = GROUP_COLS
) -> DataFrame:
    """Fold any number of batch profile rows into one row per group:
    counters add, sketches union (register-wise max — exactly the
    single-pass sketch, however the batches were cut)."""
    # allowDifferentLgConfigK: batches landed with different lg_k
    # (parameter drift over an index's lifetime) union by downsizing to
    # the smaller K instead of making the whole accumulated index
    # unreadable at report time.
    return profiles.groupBy(*group_cols).agg(
        F.sum("n_docs").alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.hll_union_agg("vocab_sketch", True).alias("vocab_sketch"),
    )


def profile_report(profiles: DataFrame) -> DataFrame:
    """Readable report: the sketch column becomes ``vocab_est`` (the
    HLL distinct-token estimate, exact in the sparse regime)."""
    return profiles.withColumn(
        "vocab_est", F.hll_sketch_estimate("vocab_sketch")
    ).drop("vocab_sketch")


def write_stats_index(
    profile: DataFrame, index_path: str, mode: str = "append", run_id: str | None = None
) -> str:
    """Land one batch's profile rows under a batch-scoped subtree.
    O(groups) bytes per batch; ``overwrite`` + an epoch run_id gives
    replay idempotence (same contract as the digest/minhash/IVF
    indexes). Returns the run_id used."""
    return _write_ledger(profile, index_path, mode, run_id)


#: Schema of a profile row under the default GROUP_COLS — what an
#: absent index reads as (empty), matching the first-run contract of
#: the other persisted indexes (``hygiene.read_digest_index``).
DEFAULT_PROFILE_SCHEMA = (
    "source string, lang string, n_docs bigint, n_tokens bigint, "
    "vocab_sketch binary"
)


def read_stats_index(
    spark: SparkSession, index_path: str, exclude_run_id: str | None = None
) -> DataFrame:
    """All committed batch profile rows; ``exclude_run_id`` omits one
    batch's own subtree (the replay-safety read, as the index bridges
    do). An ABSENT index reads as an empty frame (default-GROUP_COLS
    schema) — monitoring wired up before the first batch lands reports
    zero groups instead of crashing; custom-group indexes should land
    a batch before their first read."""
    from pyspark.errors import AnalysisException

    try:
        df = spark.read.option("basePath", index_path).parquet(index_path)
    except AnalysisException:
        return spark.createDataFrame([], DEFAULT_PROFILE_SCHEMA)
    if exclude_run_id is not None:
        df = df.filter(F.col("ingest_batch") != exclude_run_id)
    return df.drop("ingest_batch")


def corpus_stats_report(
    spark: SparkSession,
    index_path: str,
    group_cols: tuple[str, ...] = GROUP_COLS,
) -> DataFrame:
    """The corpus-wide report from the persisted index alone: fold the
    group-level rows, estimate the sketches. Cost is O(batches x
    groups) metadata rows — the documents themselves are never read."""
    return profile_report(merge_profiles(read_stats_index(spark, index_path), group_cols))


def stats_drift(
    current: DataFrame,
    baseline: DataFrame,
    group_cols: tuple[str, ...] = GROUP_COLS,
) -> DataFrame:
    """Per-group drift between two :func:`profile_report` frames — the
    alert surface for "the upstream crawl changed shape": token-share
    shifts, vocabulary jumps, domains that appeared or vanished.

    Output per group: both sides' counters, ``tokens_ratio`` /
    ``vocab_ratio`` (current/baseline; null for new/gone groups),
    ``token_share_base`` / ``token_share_cur`` / ``share_delta``, and
    ``status`` in {'both', 'new', 'gone'}. Inputs are group-cardinality
    metadata frames (KBs), so the full-frame windows that compute the
    shares are bounded by the number of domains, never the corpus — a
    nightly drift check reads two index folds and joins a handful of
    rows.
    """
    from pyspark.sql import Window

    gcols = list(group_cols)
    cur = current.select(
        *gcols,
        F.col("n_docs").alias("n_docs_cur"),
        F.col("n_tokens").alias("n_tokens_cur"),
        F.col("vocab_est").alias("vocab_cur"),
    )
    base = baseline.select(
        *gcols,
        F.col("n_docs").alias("n_docs_base"),
        F.col("n_tokens").alias("n_tokens_base"),
        F.col("vocab_est").alias("vocab_base"),
    )
    joined = cur.join(base, gcols, "full_outer")
    whole = Window.partitionBy()
    return joined.select(
        *gcols,
        "n_docs_base",
        "n_docs_cur",
        "n_tokens_base",
        "n_tokens_cur",
        "vocab_base",
        "vocab_cur",
        F.round(F.col("n_tokens_cur") / F.col("n_tokens_base"), 6).alias(
            "tokens_ratio"
        ),
        F.round(F.col("vocab_cur") / F.col("vocab_base"), 6).alias("vocab_ratio"),
        F.round(
            F.coalesce(F.col("n_tokens_base"), F.lit(0))
            / F.sum(F.coalesce(F.col("n_tokens_base"), F.lit(0))).over(whole),
            6,
        ).alias("token_share_base"),
        F.round(
            F.coalesce(F.col("n_tokens_cur"), F.lit(0))
            / F.sum(F.coalesce(F.col("n_tokens_cur"), F.lit(0))).over(whole),
            6,
        ).alias("token_share_cur"),
        F.when(F.col("n_tokens_base").isNull(), "new")
        .when(F.col("n_tokens_cur").isNull(), "gone")
        .otherwise("both")
        .alias("status"),
    ).withColumn(
        "share_delta",
        F.round(F.col("token_share_cur") - F.col("token_share_base"), 6),
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    compare_cols: tuple[str, ...] = ("text",),
) -> DataFrame:
    """Row-level diff between two corpus snapshots:
    ``(id, status, old_digest, new_digest)`` with status in
    ``added | removed | changed | unchanged`` — the reverse-CDC
    operator. The reference pipeline ships FULL nightly snapshots
    (reference ``jonesy/jobs.py:124-131``: every run re-extracts and
    re-uploads the whole table); diffing successive snapshots is how a
    consumer BOOTSTRAPS a change feed from a source with no watermark
    column — the complement of ``cdc_upsert`` (which applies a feed to
    a snapshot, while this derives the feed from two snapshots).

    Comparison is by digest: ``md5`` over the ``compare_cols`` joined
    with a US (0x1f) separator, NULLs mapped to a NUL sentinel so
    ``(NULL, 'a')`` and ``('', 'a')`` differ. Digesting map-side means
    the JOIN carries only (id, 16-byte digest) per side — document
    bytes never shuffle, which is the entire cost story at corpus
    scale: the full-outer join hash-partitions both sides on the id,
    and with snapshots WRITTEN bucketed by the id it is shuffle-free.

    Duplicate ids within a snapshot are a layout defect this operator
    must not silently absorb (a full-outer join would multiply rows):
    callers guarantee uniqueness (the corpus contract); the summary
    wrapper exposes totals so a multiplied diff is visible immediately.
    """
    sep, nul = "\x1f", "\x00"

    def digest(df: DataFrame) -> Column:
        return F.md5(
            F.concat_ws(
                sep,
                *[
                    F.coalesce(F.col(c).cast("string"), F.lit(nul))
                    for c in compare_cols
                ],
            )
        )

    o = old.select(F.col(id_col), digest(old).alias("old_digest"))
    n = new.select(F.col(id_col), digest(new).alias("new_digest"))
    return o.join(n, id_col, "full_outer").select(
        id_col,
        F.when(F.col("old_digest").isNull(), "added")
        .when(F.col("new_digest").isNull(), "removed")
        .when(F.col("old_digest") != F.col("new_digest"), "changed")
        .otherwise("unchanged")
        .alias("status"),
        "old_digest",
        "new_digest",
    )


def snapshot_diff_summary(diff: DataFrame) -> DataFrame:
    """One row per status with counts and share of the union — the
    nightly monitoring view over :func:`snapshot_diff` (a sudden spike
    in ``changed`` or ``removed`` is the classic upstream-regression
    alarm). One keyed aggregation + a broadcast 1-row total."""
    counts = diff.groupBy("status").agg(F.count(F.lit(1)).alias("n"))
    total = counts.agg(F.sum("n").alias("t"))
    return counts.crossJoin(F.broadcast(total)).select(
        "status", "n", micro_units(F.col("n") / F.col("t")).alias("share_micro")
    )


def psi_report(
    base: DataFrame,
    cur: DataFrame,
    score: Column,
    n_bins: int = 10,
    eps: float = 1e-6,
    micro: bool = False,
) -> DataFrame:
    """Population Stability Index between two corpus generations over a
    bounded [0, 1) score (quality composite, lang-confidence, OOV rate
    …): per-bin ``(bin, share_base, share_cur, psi_term)`` with the
    summed ``psi`` repeated on every row (the frame is ``n_bins`` rows
    — metadata-sized — so the window total costs nothing). The classic
    monitoring decision values: psi < 0.1 stable, 0.1-0.25 drifting,
    > 0.25 shifted (public credit-scoring literature).

    Complements :func:`stats_drift` (which tracks per-GROUP volume and
    vocabulary): PSI sees DISTRIBUTIONAL movement inside a group that
    totals never show — a quality collapse at constant document count.

    Engine-portable by construction: fixed-width bins via
    ``least(floor(score * n), n-1)`` (no width_bucket dialect
    differences). With ``micro=True`` (fixed-point micro-unit scores)
    the bin is computed in genuinely integer arithmetic on longs:
    ``(p - p % 1e6) / 1e6`` with ``p = score * n_bins`` — the
    numerator is an exact multiple of 1e6 below 2^53, so the one
    double division is IEEE-exact, never within an ulp of a boundary
    (ADVICE r7: the previous ``(score * n_bins) / 1e6`` was plain
    double division whose safety rested on an argument, not on the
    arithmetic). Empty bins
    floored at ``eps`` (the standard PSI
    regularization — and it keeps ``ln`` finite), each log term rounded
    to 9 digits before the 6-digit shares/psi rounding so libm 1-ulp
    drift can never reach the comparison digits (the doc_logprob
    precedent). Scale: one map-side bin + one ``n_bins``-ary
    aggregation per side, then an ``n_bins``-row join — the documents
    are read once each and nothing corpus-sized shuffles.
    """

    if micro:
        prod = score.cast("long") * F.lit(n_bins).cast("long")
        # floor division on longs: subtract the remainder, then one
        # exact double division (numerator a multiple of 1e6, < 2^53)
        raw_bin = (prod - prod % F.lit(1_000_000)) / F.lit(1_000_000)
    else:
        raw_bin = F.floor(score * n_bins)

    def binned(df: DataFrame, name: str) -> DataFrame:
        return (
            df.select(
                F.least(
                    raw_bin.cast("int"), F.lit(n_bins - 1)
                ).alias("bin")
            )
            .groupBy("bin")
            .agg(F.count(F.lit(1)).alias(name))
        )

    b = binned(base, "n_base")
    c = binned(cur, "n_cur")
    spark = base.sparkSession
    bins = spark.range(n_bins).select(F.col("id").cast("int").alias("bin"))
    j = (
        bins.join(b, "bin", "left")
        .join(c, "bin", "left")
        .select(
            "bin",
            F.coalesce("n_base", F.lit(0)).alias("n_base"),
            F.coalesce("n_cur", F.lit(0)).alias("n_cur"),
        )
    )
    tot = j.agg(
        F.sum("n_base").alias("tb"), F.sum("n_cur").alias("tc")
    )
    j = j.crossJoin(F.broadcast(tot))
    share_b = F.greatest(F.col("n_base") / F.col("tb"), F.lit(eps))
    share_c = F.greatest(F.col("n_cur") / F.col("tc"), F.lit(eps))
    term = F.round(
        (share_c - share_b) * F.round(F.log(share_c / share_b), 9), 9
    )
    from pyspark.sql import Window

    out = j.select(
        "bin",
        micro_units(share_b).alias("share_base_micro"),
        micro_units(share_c).alias("share_cur_micro"),
        micro_units(term).alias("psi_term_micro"),
        micro_units(
            F.sum(term).over(Window.partitionBy(F.lit(1)))
        ).alias("psi_micro"),
    )
    return out


def key_skew_report(
    df: DataFrame,
    key_col: str,
    top_n: int = 10,
) -> DataFrame:
    """Heavy-hitter diagnosis for a join/aggregation key: the top
    ``top_n`` keys by row count with their share of all rows and their
    ratio to the MEDIAN per-key count — the measurement that decides
    whether a key needs salting (``joins.salted_join``) or AQE skew
    handling before a shuffle lands on it. A ratio in the thousands on
    a key carrying percent-level share is exactly the profile that
    turns a 1000-executor shuffle into one straggler task.

    Output: ``(key, n_rows, share_micro, ratio_to_median_micro)`` —
    ``top_n`` rows,
    descending count, key-string tiebreak (deterministic, oracle-able).

    Scale shape: one keyed count aggregation (map-side combine; the
    shuffle carries key-cardinality rows, not data rows), a 1-row
    totals/median aggregate broadcast back, and a partial top-N via
    ``orderBy + limit`` — no global sort, nothing driver-sized beyond
    the report itself.
    """
    counts = df.groupBy(F.col(key_col).cast("string").alias("key")).agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    stats = counts.agg(
        F.sum("n_rows").alias("total"),
        F.median("n_rows").alias("med"),
    )
    return (
        counts.crossJoin(F.broadcast(stats))
        .select(
            "key",
            "n_rows",
            micro_units(F.col("n_rows") / F.col("total")).alias(
                "share_micro"
            ),
            micro_units(F.col("n_rows") / F.col("med")).alias(
                "ratio_to_median_micro"
            ),
        )
        .orderBy(F.col("n_rows").desc(), "key")
        .limit(top_n)
    )


def index_overlap_report(
    spark: SparkSession,
    index_path_a: str,
    index_path_b: str,
    lg_k: int = DEFAULT_LG_K,
) -> DataFrame:
    """Cross-corpus overlap estimate between two persisted digest
    indexes (``hygiene.write_novel_digests`` layouts) — the governance
    question "how much of corpus B is already in corpus A" answered
    WITHOUT joining the two digest sets: per-index HLL sketches over
    ``content_hash``, union-merged, then inclusion-exclusion::

        |A ∩ B| ≈ est(A) + est(B) - est(A ∪ B)
        jaccard ≈ |A ∩ B| / est(A ∪ B)

    One row out: ``(est_a, est_b, est_union, est_intersection,
    est_jaccard, containment_b_in_a)`` (floors at 0 — inclusion-
    exclusion can go slightly negative at the sketch's error bound
    when the true overlap is ~zero).

    Scale shape: each index contributes ONE aggregation producing a
    KB-sized sketch; the merge is register-wise max over two rows.
    At 10 B digests a side this is two scans and no shuffle wider
    than a sketch — the exact-join alternative (anti/semi join on
    32-char digests) shuffles both indexes and is only worth it when
    the DECISION needs exact counts, not a ratio. Error is the HLL
    bound (~1.6% rsd at the default lg_k) on each term, so treat
    single-digit-percent jaccard differences as noise.
    """
    from .hygiene import read_digest_index

    a = read_digest_index(spark, index_path_a).agg(
        F.hll_sketch_agg("content_hash", lg_k).alias("s")
    )
    bframe = read_digest_index(spark, index_path_b).agg(
        F.hll_sketch_agg("content_hash", lg_k).alias("s")
    )
    both = a.unionByName(bframe)
    merged = both.agg(F.hll_union_agg("s", True).alias("u"))
    ests = (
        a.select(F.hll_sketch_estimate("s").alias("est_a"))
        .crossJoin(bframe.select(F.hll_sketch_estimate("s").alias("est_b")))
        .crossJoin(merged.select(F.hll_sketch_estimate("u").alias("est_union")))
    )
    inter = F.greatest(
        F.lit(0.0), F.col("est_a") + F.col("est_b") - F.col("est_union")
    )
    return ests.select(
        "est_a",
        "est_b",
        "est_union",
        F.round(inter, 1).alias("est_intersection"),
        F.round(inter / F.col("est_union"), 6).alias("est_jaccard"),
        F.round(
            F.when(F.col("est_b") > 0, inter / F.col("est_b")).otherwise(
                F.lit(0.0)
            ),
            6,
        ).alias("containment_b_in_a"),
    )


def _write_ledger(
    partials: DataFrame, index_path: str, mode: str, run_id: str | None
) -> str:
    """The ONE ledger writer every metadata-sized partial family
    shares: coalesce to a single file (the partials are group-level by
    construction) and land under ``ingest_batch=<run_id>`` — overwrite
    of a replayed epoch's own subtree keeps writers idempotent."""
    if run_id is None:
        import uuid

        run_id = f"nightly-{uuid.uuid4().hex[:12]}"
    partials.coalesce(1).write.mode(mode).parquet(
        f"{index_path}/ingest_batch={run_id}"
    )
    return run_id


def _read_ledger(spark, index_path: str, noun: str, writer: str):
    """Resolved read of a partial ledger, raising the house absent-
    probe error (naming the writer to call first) instead of a raw
    AnalysisException."""
    from pyspark.errors import AnalysisException

    from .hygiene import read_index_resolved

    try:
        return read_index_resolved(spark, index_path)
    except AnalysisException:
        raise ValueError(
            f"no {noun} ledger at {index_path!r}; land one with "
            f"{writer} before folding"
        ) from None


def rollup_batch(
    events: DataFrame,
    bucket_seconds: int = 3600,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """One batch's time-bucket rollup PARTIALS — the hypertable
    continuous-aggregate shape, built mergeable: ``(key, bucket_es,
    n_events, sum_value_micro, min_value_micro, max_value_micro)``
    where the value is fixed-point micro-units PER ROW before
    aggregation, so count/sum/min/max are all EXACTLY associative —
    partials from any batch split fold to bit-identical totals (the
    classifier-counts property, applied to time series). Output
    cardinality is |keys| x |buckets| — metadata-sized; one keyed
    aggregation with map-side combine is the only exchange.

    The bucket function (floor to ``bucket_seconds``, pmod-based so
    pre-epoch timestamps floor instead of rounding toward zero) is
    PART OF THE LEDGER CONTRACT: partials bucketed under a different
    rule do not merge with these — changing it means rebuilding any
    ledger that holds affected rows, the same immutability rule as
    the IVF centroids and PQ codebooks."""
    es = F.unix_timestamp(F.col(ts_col).cast("timestamp"))
    # pmod, not %: Spark's % takes the dividend's sign, so a pre-epoch
    # timestamp (es < 0) would round TOWARD zero and merge into the
    # wrong (next-higher) bucket; pmod floors for all signs
    bucket = (es - F.pmod(es, F.lit(int(bucket_seconds)))).alias("bucket_es")
    v = micro_units(F.col(value_col))
    return (
        events.select(F.col(key_col).alias("key"), bucket, v.alias("vm"))
        .groupBy("key", "bucket_es")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("vm").alias("sum_value_micro"),
            F.min("vm").alias("min_value_micro"),
            F.max("vm").alias("max_value_micro"),
        )
    )


def write_rollup_index(
    partials: DataFrame,
    index_path: str,
    mode: str = "append",
    run_id: str | None = None,
) -> str:
    """Land one batch's rollup partials under the
    ``ingest_batch=<run_id>`` ledger — the SEVENTH incremental-index
    family member: the events table is read once per batch, forever;
    every later windowed question folds the metadata-sized ledger
    instead (``rollup_report``). Partials are coalesced to one file
    (metadata-sized by construction); compaction uses the flat path
    (``compact_index(part_col=None)``) and reads resolve through
    ``read_index_resolved`` because the fold SUMS — a compaction-crash
    survivor batch would double counts (the BM25/classifier/PQ hazard
    class)."""
    return _write_ledger(partials, index_path, mode, run_id)


def rollup_report(spark, index_path: str) -> DataFrame:
    """Fold the rollup ledger into current totals — EXACTLY the
    single-pass :func:`rollup_batch` over the union of every ingested
    batch (integer partials: sum-of-sums, min-of-mins, max-of-maxes
    are associative with zero drift). Raises on an absent ledger, the
    house probe rule."""
    raw = _read_ledger(spark, index_path, "rollup", "write_rollup_index")
    return (
        raw.groupBy("key", "bucket_es")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_value_micro").alias("sum_value_micro"),
            F.min("min_value_micro").alias("min_value_micro"),
            F.max("max_value_micro").alias("max_value_micro"),
        )
    )


# --------------------------------------------------------------------
# KMV distinct-count sketch — the ORACLE-ABLE twin of the HLL profile
# tier, and the EIGHTH incremental-index family member. COUNT DISTINCT
# is the one aggregate the rollup ledger cannot fold (two batches'
# exact distinct counts don't add); the HLL tier answers it but its
# register state is library-internal, so no SQL oracle can reproduce
# it bit-for-bit. KMV (Bar-Yossef 2002, "Counting distinct elements in
# a data stream") is the deterministic alternative: keep the k
# SMALLEST distinct hash values per group. min-k sets union exactly
# (the k smallest hashes of a union are each within the k smallest of
# their own batch — pigeonhole), so partials from ANY batch cut fold
# to the bit-identical single-pass sketch, and the whole chain —
# hash, rank, estimator — is plain integer SQL both engines run.
# --------------------------------------------------------------------

KMV_DEFAULT_K = 64

#: 48-bit hash space: 12 md5 hex chars parse identically in Spark
#: (``conv(.., 16, 10)``) and DuckDB (``('0x' || substr(..))::BIGINT``),
#: stay positive in a BIGINT, and keep (k-1)*2^48 well under 2^63 so
#: the estimator is EXACT integer division on longs in both engines.
KMV_HASH_HEX = 12
KMV_SPACE = 1 << (4 * KMV_HASH_HEX)


def kmv_hash(col: Column) -> Column:
    """48-bit value hash from the leading 12 md5 hex chars — the house
    cross-engine idiom (``dedup.token_hash``), widened to 48 bits so
    birthday collisions stay negligible at corpus cardinalities."""
    return F.conv(
        F.substring(F.md5(col.cast("string")), 1, KMV_HASH_HEX), 16, 10
    ).cast("long")


def _min_k(
    hashes: DataFrame,
    key_cols: list[str],
    k: int,
    n_salts: int,
    tiebreak_cols: tuple[str, ...] = (),
) -> DataFrame:
    """k smallest DISTINCT rows per key group by ``h`` (then
    ``tiebreak_cols`` — needed when carried columns can repeat an
    ``h``; pure-hash sketches have distinct ``h`` by construction).
    Two-level rank: per-(group, h % n_salts) min-k first, then min-k
    of the survivors — equal to the single-window result by
    pigeonhole, but a hot group's distinct hashes rank n_salts-ways in
    parallel instead of through one task (the salting rule for skewed
    keys), and the final window ranks at most n_salts*k rows per
    group."""
    from pyspark.sql.window import Window

    if k < 1 or n_salts < 1:
        raise ValueError(f"min-k needs k >= 1 and n_salts >= 1, got {k=} {n_salts=}")

    order = ["h", *tiebreak_cols]
    distinct = hashes.distinct()
    w1 = Window.partitionBy(
        *key_cols, (F.col("h") % F.lit(int(n_salts)))
    ).orderBy(*order)
    pre = (
        distinct.withColumn("rk", F.row_number().over(w1))
        .filter(F.col("rk") <= k)
        .drop("rk")
    )
    w2 = Window.partitionBy(*key_cols).orderBy(*order)
    return (
        pre.withColumn("rk", F.row_number().over(w2))
        .filter(F.col("rk") <= k)
        .drop("rk")
    )


def kmv_sketch_batch(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    k: int = KMV_DEFAULT_K,
    n_salts: int = 32,
) -> DataFrame:
    """One batch's KMV sketch partial: per key group, the ``k``
    smallest distinct 48-bit hashes of non-NULL ``value_col``, as
    scalar rows ``(*key_cols, h)`` — at most k longs per group,
    metadata-sized, and trivially drivable (no array columns, the
    driver-canon rule). The distinct on (keys, h) is the only
    corpus-wide exchange; ranking then works on the deduplicated
    residue. NULL values are excluded, matching SQL
    ``count(DISTINCT ..)``."""
    hashes = (
        df.filter(F.col(value_col).isNotNull())
        .select(*key_cols, kmv_hash(F.col(value_col)).alias("h"))
    )
    return _min_k(hashes, key_cols, k, n_salts)


def write_kmv_index(
    partials: DataFrame,
    index_path: str,
    mode: str = "append",
    run_id: str | None = None,
) -> str:
    """Land one batch's KMV partials under the ``ingest_batch=<run>``
    ledger — family member #8 (digest, minhash, IVF, classifier
    counts, PQ, phash, rollup, KMV). Rows are (keys, h) longs, ≤ k per
    group — coalesced to one file. Compaction uses the flat path
    (``compact_index(part_col=None)``); the fold is a distinct-union
    min-k, so — uniquely in the family — duplicate rows from a
    compaction crash are SAFE (distinct absorbs them), but reads still
    resolve through ``read_index_resolved`` for uniformity."""
    return _write_ledger(partials, index_path, mode, run_id)


def kmv_fold(
    spark: SparkSession,
    index_path: str,
    key_cols: list[str],
    k: int = KMV_DEFAULT_K,
    n_salts: int = 32,
) -> DataFrame:
    """Fold the KMV ledger to the current sketch — bit-identical to
    :func:`kmv_sketch_batch` over the union of every ingested batch
    (min-k of a union of per-batch min-k sets IS the union's min-k).
    Raises on an absent ledger, the house probe rule."""
    raw = _read_ledger(spark, index_path, "KMV", "write_kmv_index")
    return _min_k(raw.select(*key_cols, "h"), key_cols, k, n_salts)


def kmv_estimate(
    sketch: DataFrame, key_cols: list[str], k: int = KMV_DEFAULT_K
) -> DataFrame:
    """Distinct-count estimates from a sketch: per group,
    ``n_kept`` (< k means the group is in the EXACT regime — the
    sketch holds every distinct hash) and the Bar-Yossef estimator
    ``(k-1) * 2^48 div kth_hash`` otherwise, as exact integer
    division on longs (both engines agree bit-for-bit; with k ≥ 2
    distinct non-negative hashes the kth is ≥ 1, so the division is
    total). Relative error is ~1/sqrt(k-2) — k=64 gives ~13 %.

    CONTRACT: ``k`` must equal the k the sketch was BUILT with — a
    larger k here reads a saturated group (n_kept == built-k) as the
    exact regime and undercounts silently; a smaller one applies the
    estimator to a group the sketch actually holds exhaustively. The
    ledger carries no k column by design (rows are pure (keys, h));
    callers own the pairing, as they own the hash width."""
    if k < 2:
        raise ValueError(
            f"kmv_estimate needs k >= 2 (the Bar-Yossef estimator divides "
            f"by the kth hash, which k=1 lets be 0), got {k=}"
        )
    agg = sketch.groupBy(*key_cols).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.max("h").alias("kth_hash"),
    )
    numer = (k - 1) * KMV_SPACE
    return agg.withColumn(
        "est_distinct",
        F.when(F.col("n_kept") < k, F.col("n_kept")).otherwise(
            F.expr(f"CAST({numer} DIV kth_hash AS BIGINT)")
        ),
    )


def bottomk_sample_batch(
    df: DataFrame,
    key_cols: list[str],
    id_col: str,
    value_col: str,
    k: int = 256,
    n_salts: int = 32,
) -> DataFrame:
    """One batch's deterministic uniform row sample per group — the
    VALUE-CARRYING variant of the KMV partial, and the mergeable
    answer to quantile questions: the k rows whose ID hashes are
    smallest, as ``(*key_cols, h, v)`` where ``v`` is the value in
    integer micro-units. Hashing the ID (not the value) makes the
    draw uniform over ROWS whatever the value distribution; min-k by
    (h, v) is a total order, so partials from any batch cut fold to
    the bit-identical union sample (the KMV pigeonhole argument), and
    replays are absorbed by the distinct. Groups under k rows are
    sampled EXHAUSTIVELY — their quantiles come out exact."""
    rows = (
        df.filter(F.col(id_col).isNotNull() & F.col(value_col).isNotNull())
        .select(
            *key_cols,
            kmv_hash(F.col(id_col)).alias("h"),
            micro_units(F.col(value_col)).alias("v"),
        )
    )
    return _min_k(rows, key_cols, k, n_salts, tiebreak_cols=("v",))


def sample_fold(
    spark: SparkSession,
    index_path: str,
    key_cols: list[str],
    k: int = 256,
    n_salts: int = 32,
) -> DataFrame:
    """Fold a bottom-k sample ledger (written with
    :func:`write_kmv_index` — same writer, rows just carry ``v``) to
    the current union sample, bit-identical to
    :func:`bottomk_sample_batch` over the union of every batch."""
    raw = _read_ledger(spark, index_path, "sample", "write_kmv_index")
    return _min_k(
        raw.select(*key_cols, "h", "v"), key_cols, k, n_salts,
        tiebreak_cols=("v",),
    )


def sample_quantiles(
    sample: DataFrame,
    key_cols: list[str],
    q_pcts: tuple[int, ...] = (25, 50, 75, 90, 99),
) -> DataFrame:
    """Nearest-rank quantiles of a bottom-k sample, per group and
    requested integer percentile: rank the sample by (v, h) — a total
    order, so the pick is deterministic — and take the value at rank
    ``ceil(q * n / 100)`` computed as ``(q*n + 99) div 100``, all
    integer arithmetic both engines reproduce exactly. For a group
    sampled exhaustively (n_sample = group size) this IS the exact
    nearest-rank quantile; otherwise it converges at the usual
    O(1/sqrt(k)) rank error. The q table is a broadcast-by-
    construction literal explode; the rank window is the only
    exchange over the (metadata-sized) sample. Percentiles must be
    integers in [1, 100] — rank 0 would silently emit nothing, so it
    is a loud config error instead."""
    from pyspark.sql.window import Window

    bad = [q for q in q_pcts if q != int(q) or not (1 <= q <= 100)]
    if bad or not q_pcts:
        raise ValueError(
            f"q_pcts must be non-empty integers in [1, 100], got {q_pcts!r}"
        )

    w = Window.partitionBy(*key_cols).orderBy("v", "h")
    wn = Window.partitionBy(*key_cols)
    ranked = (
        sample.withColumn("rk", F.row_number().over(w))
        .withColumn("n_sample", F.count(F.lit(1)).over(wn))
    )
    qs = F.explode(
        F.array(*[F.lit(int(q)).cast("long") for q in q_pcts])
    ).alias("q_pct")
    return (
        ranked.select(*key_cols, "rk", "n_sample", "v", qs)
        .filter(F.col("rk") == F.expr("(q_pct * n_sample + 99) DIV 100"))
        .select(
            *key_cols,
            "q_pct",
            "n_sample",
            F.col("v").alias("q_value_micro"),
        )
    )


# --------------------------------------------------------------------
# KLL-family quantile sketch (VERDICT r13 #5) — the RANK-ERROR-BOUNDED
# member of the sketch tier. The bottom-k sample above answers
# nearest-rank quantiles exactly in the exhaustive regime, but its
# state grows with k for a target error (uniform sampling needs
# O(1/eps^2) rows) and its tail merges lossily. This is the mergeable
# compactor design of that family — Munro-Paterson 1980 / MRL (Manku-
# Rajagopalan-Lindsay 1998) / KLL (Karnin-Lang-Liberty 2016), all
# public methods — with ONE deliberate deviation: KLL's random parity
# coin is replaced by deterministic evenly-spaced selection, because
# the ledger contract here is cross-engine bit-determinism (the same
# reason the CMS rows use md5-derived hashes instead of a library's
# internal family). That trades KLL's randomized O((1/eps)
# sqrt(log 1/delta)) space for the deterministic MRL-style bound and
# makes every step — batch decimation, weighted fold recompaction,
# cumulative-weight rank queries — exact integer SQL both engines
# reproduce bit-for-bit:
#   * batch partial: per group, sort the n micro-values, keep every
#     step-th (step = ceil(n/k)) with weight step (last kept row takes
#     the remainder so weights sum to EXACTLY n). Rank error <= step-1
#     < n/k.
#   * fold: union partial rows (v, w), cumulative-weight sweep, keep
#     each row whose weight interval crosses a multiple of
#     s = ceil(W/k) plus the max row; re-derive weights as
#     cw - lag(cw) so they still sum to exactly W. Adds <= s rank
#     error per fold; <= k+1 rows survive.
#   * query: value of the first row whose inclusive cumulative weight
#     reaches t = ceil(q*W/100) — integer arithmetic end to end.
# Total deterministic rank error for B batches folded once:
# sum_b(n_b/k) + W/k + B + 1 <= 2n/k + B + 1. k=128 keeps every group
# within ~2.5 % rank error at any corpus size, in <= k+1 rows of two
# longs — metadata-sized, exactly weight-conserving, and safely
# re-foldable (each extra fold adds one more W/k + 1 term).
# --------------------------------------------------------------------

KLL_DEFAULT_K = 128


def kll_sketch_batch(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    k: int = KLL_DEFAULT_K,
) -> DataFrame:
    """One batch's quantile-sketch partial: per key group, the
    evenly-spaced decimation of the sorted micro-values —
    ``(*key_cols, v, w)`` with at most ``k`` rows per group whose
    weights sum to exactly the group size. Groups of <= k rows are
    kept EXHAUSTIVELY (step 1, all weights 1) — their quantiles come
    out exact. The sort window is the only exchange, and it runs on
    (keys, v) scalar rows — at 100 TB the partial per group is k
    longs whatever the corpus size."""
    from pyspark.sql import Window

    if k < 1:
        raise ValueError(f"kll_sketch_batch needs k >= 1, got {k=}")
    rows = df.filter(F.col(value_col).isNotNull()).select(
        *key_cols, micro_units(F.col(value_col)).alias("v")
    )
    w_ord = Window.partitionBy(*key_cols).orderBy("v")
    wn = Window.partitionBy(*key_cols)
    ranked = rows.withColumn("rk", F.row_number().over(w_ord)).withColumn(
        "n", F.count(F.lit(1)).over(wn)
    )
    stepped = ranked.withColumn("step", F.expr(f"(n + {k - 1}) DIV {k}"))
    return (
        stepped.filter((F.col("rk") - 1) % F.col("step") == 0)
        .select(
            *key_cols,
            "v",
            F.least(F.col("step"), F.col("n") - (F.col("rk") - 1))
            .cast("long")
            .alias("w"),
        )
    )


def write_kll_index(
    partials: DataFrame,
    index_path: str,
    mode: str = "append",
    run_id: str | None = None,
) -> str:
    """Land one batch's KLL partials under the ``ingest_batch=<run>``
    ledger — family member #10. Rows are (keys, v, w) longs, <= k per
    group. Duplicate rows from a compaction crash are NOT safe here
    (weights sum, the rollup/CMS hazard), so reads resolve through
    ``read_index_resolved`` and replays overwrite their own epoch."""
    return _write_ledger(partials, index_path, mode, run_id)


def kll_fold(
    spark: SparkSession,
    index_path: str,
    key_cols: list[str],
    k: int = KLL_DEFAULT_K,
) -> DataFrame:
    """Fold the KLL ledger to one compact sketch per group: the
    weighted union of every batch's partials, recompacted by the
    cumulative-weight sweep to <= k+1 rows whose re-derived weights
    sum to EXACTLY the total ingested count (the sweep keeps each row
    crossing a multiple of s = ceil(W/k), plus the max row; new
    weight = cw - previous kept cw). Deterministic: the (v, w)-sorted
    cumulative-weight sequence is a function of the row multiset, so
    any batch cut folds to the same sketch bound. Raises on an absent
    ledger, the house probe rule."""
    raw = _read_ledger(spark, index_path, "KLL", "write_kll_index")
    return _kll_compact(raw.select(*key_cols, "v", "w"), key_cols, k)


def _kll_compact(
    rows: DataFrame, key_cols: list[str], k: int
) -> DataFrame:
    from pyspark.sql import Window

    if k < 1:
        raise ValueError(f"KLL compaction needs k >= 1, got {k=}")
    w_ord = Window.partitionBy(*key_cols).orderBy("v", "w")
    wn = Window.partitionBy(*key_cols)
    swept = (
        rows.withColumn("rk", F.row_number().over(w_ord))
        .withColumn(
            "cw",
            F.sum("w").over(
                w_ord.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .withColumn("n_rows", F.count(F.lit(1)).over(wn))
        .withColumn("tw", F.sum("w").over(wn))
    )
    kept = swept.withColumn(
        "s", F.expr(f"(tw + {k - 1}) DIV {k}")
    ).filter(
        (F.col("rk") == F.col("n_rows"))
        | (F.expr("cw DIV s") > F.expr("(cw - w) DIV s"))
    )
    w_kept = Window.partitionBy(*key_cols).orderBy("cw")
    return kept.select(
        *key_cols,
        "v",
        (
            F.col("cw") - F.coalesce(F.lag("cw").over(w_kept), F.lit(0))
        ).alias("w"),
    )


def kll_quantiles(
    sketch: DataFrame,
    key_cols: list[str],
    q_pcts: tuple[int, ...] = (25, 50, 75, 90, 99),
) -> DataFrame:
    """Rank queries over a KLL sketch, per group and requested integer
    percentile: the value of the first (v, w)-ordered sketch row whose
    inclusive cumulative weight reaches ``ceil(q * W / 100)`` —
    ``(keys, q_pct, n_weight, q_value_micro)``, all exact integer
    arithmetic. ``n_weight`` is the exact ingested row count (weights
    conserve through decimation and folds). Same [1, 100] percentile
    contract as :func:`sample_quantiles`."""
    from pyspark.sql import Window

    bad = [q for q in q_pcts if q != int(q) or not (1 <= q <= 100)]
    if bad or not q_pcts:
        raise ValueError(
            f"q_pcts must be non-empty integers in [1, 100], got {q_pcts!r}"
        )
    w_ord = Window.partitionBy(*key_cols).orderBy("v", "w")
    wn = Window.partitionBy(*key_cols)
    swept = sketch.withColumn(
        "cw",
        F.sum("w").over(w_ord.rowsBetween(Window.unboundedPreceding, 0)),
    ).withColumn("n_weight", F.sum("w").over(wn))
    qs = F.explode(
        F.array(*[F.lit(int(q)).cast("long") for q in q_pcts])
    ).alias("q_pct")
    return (
        swept.select(*key_cols, "v", "w", "cw", "n_weight", qs)
        .withColumn("t", F.expr("(q_pct * n_weight + 99) DIV 100"))
        .filter((F.col("cw") >= F.col("t")) & (F.col("cw") - F.col("w") < F.col("t")))
        .select(
            *key_cols,
            "q_pct",
            "n_weight",
            F.col("v").alias("q_value_micro"),
        )
    )


# --------------------------------------------------------------------
# Count-min sketch — the FREQUENCY member of the sketch tier
# (Cormode-Muthukrishnan 2005, public method). The rollup ledger
# answers per-KEY totals only for keys you group by; at 100 TB the
# interesting frequency questions are over cardinalities too large to
# materialize (every user, every URL, every token). A CMS is d x w
# integer counters: point estimates are upper bounds with error
# <= corpus_size * e/w at confidence 1 - (1/e)^d, the partials FOLD BY
# SUM (exactly mergeable, the classifier-counts property), and with
# md5-derived row hashes the whole sketch is deterministic integer SQL
# both engines reproduce bit-for-bit — unlike library CMS
# implementations whose hash families are internal.
# --------------------------------------------------------------------

CMS_DEFAULT_D = 4
CMS_DEFAULT_W = 1024


def cms_hash(col: Column, row: int, w: int) -> Column:
    """Row-``row`` counter column for a value: 48 bits of
    md5(row || ':' || value) reduced mod w — the salt makes the d
    rows pairwise-independent in the CMS sense, and the md5 hex
    parses identically in DuckDB."""
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"{row}:"), col.cast("string"))),
            1,
            KMV_HASH_HEX,
        ),
        16,
        10,
    ).cast("long")
    return F.pmod(h, F.lit(int(w)))


def cms_sketch_batch(
    df: DataFrame,
    value_col: str,
    d: int = CMS_DEFAULT_D,
    w: int = CMS_DEFAULT_W,
) -> DataFrame:
    """One batch's count-min partial: ``(r, c, cnt)`` — for each
    non-NULL value occurrence, one increment per row r at column
    ``cms_hash(value, r, w)``. At most d*w rows per batch whatever
    the corpus (metadata-sized); the explode multiplies rows d ways
    BEFORE the keyed aggregation's map-side combine collapses them.
    Partials from any batch cut fold by SUM to the bit-identical
    single-pass sketch (counter addition is associative)."""
    vals = df.filter(F.col(value_col).isNotNull()).select(
        F.col(value_col).alias("_v")
    )
    rows = vals.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).cast("long").alias("r"),
                        cms_hash(F.col("_v"), r, w).alias("c"),
                    )
                    for r in range(d)
                ]
            )
        ).alias("rc")
    )
    return (
        rows.select("rc.r", "rc.c")
        .groupBy("r", "c")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_fold(spark: SparkSession, index_path: str) -> DataFrame:
    """Fold a CMS ledger (written with :func:`write_kmv_index` — the
    shared ledger writer) into the current sketch: SUM per counter,
    EXACTLY the single-pass sketch over the union. The fold SUMS, so
    reads resolve through ``read_index_resolved`` (the BM25/classifier
    crash-window hazard class) and compaction uses the flat path."""
    raw = _read_ledger(spark, index_path, "CMS", "write_kmv_index")
    return raw.groupBy("r", "c").agg(F.sum("cnt").alias("cnt"))


def cms_point_estimates(
    sketch: DataFrame,
    queries: DataFrame,
    value_col: str,
    d: int = CMS_DEFAULT_D,
    w: int = CMS_DEFAULT_W,
) -> DataFrame:
    """Frequency upper bounds for the queried values: each value reads
    its d counters (broadcast of the explode side rides the join) and
    takes the MIN — never below the true count, above it only through
    collisions (+<= N*e/w with prob 1-(1/e)^d per query). Values
    absent from every batch still return their collision floor — CMS
    semantics, documented here rather than special-cased. Output:
    ``(value, est_count)``, integers."""
    q = queries.select(F.col(value_col).cast("string").alias("value")).distinct()
    qrc = q.select(
        "value",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).cast("long").alias("r"),
                        cms_hash(F.col("value"), r, w).alias("c"),
                    )
                    for r in range(d)
                ]
            )
        ).alias("rc"),
    ).select("value", "rc.r", "rc.c")
    joined = qrc.join(sketch, ["r", "c"], "left").select(
        "value", F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt")
    )
    return joined.groupBy("value").agg(F.min("cnt").alias("est_count"))


# --------------------------------------------------------------------
# Misra-Gries heavy hitters — the TOP-KEYS member of the sketch tier
# (Misra-Gries 1982; merge rule and error bound from Agarwal 2012,
# "Mergeable summaries"). The CMS answers "how often is THIS value";
# MG answers "WHICH values are frequent" in k rows per batch — the
# ledger stores k counters instead of |keys|, and summaries merge
# with the additive guarantee true - N/(k+1) <= est <= true
# preserved across ANY merge tree. Every step (count, two-level
# rank, offset subtraction) is deterministic integer SQL.
# --------------------------------------------------------------------

MG_DEFAULT_K = 64


def _top_counts(counts: DataFrame, k: int, n_salts: int) -> DataFrame:
    """Top-``k`` rows of a ``(value, cnt)`` frame by (cnt DESC, value
    ASC) — the deterministic tiebreak both engines reproduce. Same
    two-level salted rank as the KMV min-k (salt on the value hash):
    a batch with billions of distinct keys ranks n_salts-ways in
    parallel, and the final window sees at most n_salts*k rows."""
    from pyspark.sql.window import Window

    if k < 1 or n_salts < 1:
        raise ValueError(f"top-k needs k >= 1 and n_salts >= 1, got {k=} {n_salts=}")
    salt = F.pmod(kmv_hash(F.col("value")), F.lit(int(n_salts)))
    w1 = Window.partitionBy(salt).orderBy(F.col("cnt").desc(), "value")
    pre = (
        counts.withColumn("rk", F.row_number().over(w1))
        .filter(F.col("rk") <= k)
        .drop("rk")
    )
    w2 = Window.orderBy(F.col("cnt").desc(), "value")
    return (
        pre.withColumn("rk", F.row_number().over(w2))
        .filter(F.col("rk") <= k)
        .drop("rk")
    )


def _mg_truncate(counts: DataFrame, k: int, n_salts: int) -> DataFrame:
    """The MG truncation: keep the top k counters minus the (k+1)-th
    largest count (0 when there are <= k keys — the exact regime),
    dropping rows the subtraction zeroes out. Applying this to exact
    batch counts yields the batch summary; applying it to summed
    summaries IS the Agarwal-2012 merge."""
    top = _top_counts(counts, k + 1, n_salts)
    # the offset is the (k+1)-th largest count: with k+1 rows ranked,
    # that is exactly min(cnt) over the top set; <= k rows means no
    # (k+1)-th exists and the summary is exact (offset 0)
    offset = F.broadcast(
        top.groupBy()
        .agg(F.count(F.lit(1)).alias("n"), F.min("cnt").alias("m"))
        .select(
            F.when(F.col("n") > k, F.col("m"))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("_off")
        )
    )
    # at most k rows survive by construction: with k+1 rows ranked the
    # offset zeroes the (k+1)-th (and every row tied with it); with
    # <= k rows the offset is 0 — no extra sort-limit needed
    return (
        top.crossJoin(offset)
        .select("value", (F.col("cnt") - F.col("_off")).alias("est"))
        .filter(F.col("est") > 0)
    )


def mg_summary_batch(
    df: DataFrame,
    value_col: str,
    k: int = MG_DEFAULT_K,
    n_salts: int = 32,
) -> DataFrame:
    """One batch's Misra-Gries summary: ``(value, est)`` — at most k
    rows with true_count - N_batch/(k+1) <= est <= true_count. One
    keyed count (the only corpus-wide exchange) then the salted
    two-level rank over the count table; with <= k distinct values
    the summary is the exact count table (offset 0)."""
    counts = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(F.col(value_col).cast("string").alias("value"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return _mg_truncate(counts, k, n_salts)


def mg_fold(
    spark: SparkSession,
    index_path: str,
    k: int = MG_DEFAULT_K,
    n_salts: int = 32,
) -> DataFrame:
    """Merge a ledger of MG summaries (written with
    :func:`write_kmv_index`): sum per value, then the same truncation
    — the Agarwal-2012 merge, which preserves the additive guarantee
    est <= true <= est + N_total/(k+1) across ANY merge tree. Unlike
    the KMV/CMS folds this is NOT bit-equal to the single-pass
    summary (MG output depends on the cut — the documented contract);
    the guarantee is what merges exactly."""
    raw = _read_ledger(spark, index_path, "MG", "write_kmv_index")
    summed = raw.groupBy("value").agg(F.sum("est").alias("cnt"))
    return _mg_truncate(summed, k, n_salts)


def kmv_overlap_report(
    sketches: DataFrame, k: int = KMV_DEFAULT_K
) -> DataFrame:
    """Pairwise distinct-set overlap between every two groups,
    computed from their KMV sketches ALONE (Beyer 2007's coincidence
    method) — the sketch-algebra payoff: corpus-slice overlap
    questions (shared users, shared vocabulary, contamination between
    sources) answered from the metadata-sized ledger with no rescan.

    For each unordered pair (a, b): the union's min-k is the k
    smallest distinct hashes of both sides' sketch rows, and for any
    hash in that set, membership in EITHER side's stored sketch is
    EXACT (h <= kth(union) <= kth(side), so a side's sketch cannot
    have evicted it — the coincidence trick). ``n_common`` of the
    union's kept hashes in both sides estimates the intersection as
    ``est_union * n_common div k``; in the exact regime
    (n_kept < k) the union sketch holds every distinct hash and the
    output IS exact. Input is G groups x <= k rows; every frame here
    is metadata-sized, so plain per-pair windows suffice."""
    from pyspark.sql.window import Window

    if k < 2:
        raise ValueError(
            f"kmv_overlap_report needs k >= 2 (the union estimator divides "
            f"by the kth hash, which k=1 lets be 0), got {k=}"
        )

    # Persisted EAGERLY: the sketch frame feeds four subtrees (both
    # sides of the key self-join and both union branches) — without the
    # persist each re-runs the upstream sketch build (r14 plan audit: 54
    # Exchanges in kmv_overlap_users' plan). A LAZY persist never
    # populates in time for same-job reuse and measured as pure
    # overhead (r14 interleaved A/B at sf0.1: lazy med 1.86 s vs
    # no-persist 1.65 s vs eager 1.10 s ≈ no-persist 1.08 s); the
    # eager count costs one extra tiny job (<= G x k rows by the KMV
    # contract) and at corpus scale replaces four upstream scans with
    # one.
    sketches = persist(sketches)
    sketches.count()
    keys = sketches.select("key").distinct()
    pairs = (
        keys.withColumnRenamed("key", "a")
        .join(keys.withColumnRenamed("key", "b"))
        .filter(F.col("a") < F.col("b"))
    )
    m = sketches.select("key", "h")
    ua = pairs.join(m.withColumnRenamed("key", "a"), "a").select(
        "a", "b", "h", F.lit(True).alias("ia"), F.lit(False).alias("ib")
    )
    ub = pairs.join(m.withColumnRenamed("key", "b"), "b").select(
        "a", "b", "h", F.lit(False).alias("ia"), F.lit(True).alias("ib")
    )
    per = (
        ua.unionByName(ub)
        .groupBy("a", "b", "h")
        .agg(F.max("ia").alias("in_a"), F.max("ib").alias("in_b"))
    )
    w = Window.partitionBy("a", "b").orderBy("h")
    kept = per.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= k
    )
    agg = kept.groupBy("a", "b").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.max("h").alias("kth_hash"),
        F.sum(
            (F.col("in_a") & F.col("in_b")).cast("long")
        ).alias("n_common"),
    )
    numer = (k - 1) * KMV_SPACE
    est_union = F.when(F.col("n_kept") < k, F.col("n_kept")).otherwise(
        F.expr(f"CAST({numer} DIV kth_hash AS BIGINT)")
    )
    return agg.withColumn("est_union", est_union).withColumn(
        "est_intersection",
        F.when(F.col("n_kept") < k, F.col("n_common")).otherwise(
            F.expr("CAST(est_union * n_common DIV " + str(k) + " AS BIGINT)")
        ),
    )


# --------------------------------------------------------------------
# Bloom-filter ledger — the MEMBERSHIP member of the sketch tier
# (Bloom 1970). The digest index answers membership EXACTLY at
# O(corpus) ledger size; a Bloom filter answers "definitely new vs
# probably seen" in a FIXED m bits — the pre-filter that lets a
# 100 TB ingest skip the expensive exact anti-join for the
# overwhelmingly-new majority. Set bits are rows (bit), so the fold
# is a distinct union (the OR monoid — exactly mergeable, replay- and
# duplicate-absorbing like KMV), and with the cms_hash construction
# every bit position is integer SQL both engines reproduce.
# --------------------------------------------------------------------

BLOOM_DEFAULT_M = 8192
BLOOM_DEFAULT_D = 4


def bloom_batch(
    df: DataFrame,
    value_col: str,
    d: int = BLOOM_DEFAULT_D,
    m: int = BLOOM_DEFAULT_M,
) -> DataFrame:
    """One batch's set bits: ``(bit)`` rows — the d md5-salted
    positions (``cms_hash``, the shared construction) of every
    non-NULL value, distinct. At most m rows per batch however large
    the input; one distinct is the only exchange."""
    vals = df.filter(F.col(value_col).isNotNull()).select(
        F.col(value_col).cast("string").alias("_v")
    )
    return (
        vals.select(
            F.explode(
                F.array(*[cms_hash(F.col("_v"), r, m) for r in range(d)])
            ).alias("bit")
        )
        .distinct()
    )


def bloom_fold(spark: SparkSession, index_path: str) -> DataFrame:
    """Fold a Bloom ledger (written with :func:`write_kmv_index`) to
    the current filter — distinct union of set bits, bit-identical to
    the single-pass filter over every batch (the OR monoid), with
    duplicate ledger rows absorbed (compaction crashes harmless, as
    for KMV)."""
    raw = _read_ledger(spark, index_path, "bloom", "write_kmv_index")
    return raw.select("bit").distinct()


def bloom_probe(
    sketch: DataFrame,
    queries: DataFrame,
    value_col: str,
    d: int = BLOOM_DEFAULT_D,
    m: int = BLOOM_DEFAULT_M,
) -> DataFrame:
    """Membership verdicts: ``(value, maybe_present)`` — true iff ALL
    d of the value's bits are set. False negatives are impossible
    (every inserted value's bits are set by construction); false
    positives occur at the standard (1 - e^{-dn/m})^d rate and are
    DETERMINISTIC here (both engines compute identical bits, so the
    same values collide). The sketch side broadcasts (<= m rows);
    the probe is per-query-row work with one keyed aggregation."""
    q = queries.filter(F.col(value_col).isNotNull()).select(
        F.col(value_col).cast("string").alias("value")
    ).distinct()
    qbits = q.select(
        "value",
        F.explode(
            F.array(*[cms_hash(F.col("value"), r, m) for r in range(d)])
        ).alias("bit"),
    )
    hits = qbits.join(F.broadcast(sketch), "bit", "left_semi")
    n_set = hits.groupBy("value").agg(F.count(F.lit(1)).alias("n"))
    return q.join(n_set, "value", "left").select(
        "value",
        (F.coalesce(F.col("n"), F.lit(0)) == d).alias("maybe_present"),
    )


# --------------------------------------------------------------------
# Incremental corpus card — the data-card panel answered from LEDGERS
# instead of a corpus rescan: exact sum partials per (source, lang)
# on the shared ingest_batch= rails (counts/chars/tokens/quality-sums
# fold associatively with zero drift, the rollup property), and the
# per-source distinct-content column from a KMV sketch of the
# dedup-normalized digests (exact below k, ~1/sqrt(k-2) above — the
# honest 100 TB answer: exact sums + sketched distincts, everything
# metadata-sized). The scan-based twin is the `corpus_card` registry
# row; the fixture test pins ledger == scan exactly (fixture sources
# sit in the KMV exact regime).
# --------------------------------------------------------------------


def doc_quality_micro(text: Column) -> Column:
    """The standard document-quality composite in integer micro-units —
    the same expression the `quality_filter` / `corpus_card` oracles
    pin (length saturation x stopword-ratio complement), factored here
    so the incremental card cannot drift from the scan-based one."""
    from ..functions.scalars import micro_units
    from ..functions.text import occurrences, whitespace_token_count

    n_tokens = whitespace_token_count(text)
    c_stop = occurrences(F.lower(text), "the")
    return micro_units(
        F.least(F.lit(1.0), n_tokens / 100.0)
        * (1.0 - F.least(F.lit(1.0), c_stop / n_tokens))
    )


def doc_stats_batch(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """One batch's corpus-card partials: per (source, lang) —
    ``(source, lang, n_docs, n_chars, n_ws_tokens, q_sum_micro,
    n_en_docs)``, every column an exact integer SUM so partials from
    any batch cut fold bit-identically (the rollup mergeability
    argument). One keyed aggregation with map-side combine; group
    count is (sources x langs)-sized — metadata."""
    from ..functions.text import whitespace_token_count

    t = F.col(text_col)
    return (
        docs.select(
            "source",
            "lang",
            F.length(t).cast("long").alias("n_chars"),
            whitespace_token_count(t).cast("long").alias("n_tokens"),
            doc_quality_micro(t).alias("q_micro"),
            (F.col("lang") == "en").cast("long").alias("is_en"),
        )
        .groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("n_chars"),
            F.sum("n_tokens").alias("n_ws_tokens"),
            F.sum("q_micro").alias("q_sum_micro"),
            F.sum("is_en").alias("n_en_docs"),
        )
    )


def write_doc_stats_index(
    partials: DataFrame,
    index_path: str,
    mode: str = "append",
    run_id: str | None = None,
) -> str:
    """Land one batch's card partials under the shared
    ``ingest_batch=<run>`` rails (family member #9). SUM-folding
    reader — crash-surviving duplicate batches are excluded via the
    resolved-read protocol like every SUM family member."""
    return _write_ledger(partials, index_path, mode, run_id)


def doc_stats_fold(spark: SparkSession, index_path: str) -> DataFrame:
    """Fold the card ledger to current per-(source, lang) totals —
    exactly :func:`doc_stats_batch` over the union of every ingested
    batch. Raises on an absent ledger, the house probe rule."""
    raw = _read_ledger(spark, index_path, "doc-stats", "write_doc_stats_index")
    return raw.groupBy("source", "lang").agg(
        F.sum("n_docs").alias("n_docs"),
        F.sum("n_chars").alias("n_chars"),
        F.sum("n_ws_tokens").alias("n_ws_tokens"),
        F.sum("q_sum_micro").alias("q_sum_micro"),
        F.sum("n_en_docs").alias("n_en_docs"),
    )


def corpus_card_report(
    spark: SparkSession,
    stats_index_path: str,
    kmv_index_path: str,
    k: int = KMV_DEFAULT_K,
) -> DataFrame:
    """The nightly data card WITHOUT a corpus rescan: per source, the
    exact volume/quality columns folded from the doc-stats ledger
    joined with the estimated distinct-content count from a KMV
    ledger of dedup-normalized digests (build its batches with
    ``kmv_sketch_batch(docs.select('source',
    hygiene.content_digest(text)), ['source'], ...)``). Output matches
    the scan-based `corpus_card` row column-for-column, with
    ``n_exact_dup_docs`` carrying the sketch estimate — EXACT whenever
    a source holds fewer than k distinct documents, ~13 % banded at
    k=64 beyond (use a larger k at ingest time for tighter cards)."""
    per_lang = doc_stats_fold(spark, stats_index_path)
    per_source = per_lang.groupBy("source").agg(
        F.sum("n_docs").alias("n_docs"),
        F.sum("n_chars").alias("n_chars"),
        F.sum("n_ws_tokens").alias("n_ws_tokens"),
        F.sum("q_sum_micro").alias("__qsum"),
        F.sum("n_en_docs").alias("n_en_docs"),
    )
    sketch = kmv_fold(spark, kmv_index_path, ["source"], k=k)
    est = kmv_estimate(sketch, ["source"], k=k).select(
        "source", F.col("est_distinct").alias("__est_distinct")
    )
    # the two ledgers are written by separate calls with no shared
    # transaction, so a source present in only one is a REAL ingest
    # gap — and this card is exactly the inventory artifact that must
    # surface it: fail loudly instead of inner-joining it away
    asym = (
        per_source.select("source")
        .join(est.select("source"), "source", "full_outer")
        .join(per_source.select("source", F.lit(1).alias("__s")), "source", "left")
        .join(est.select("source", F.lit(1).alias("__k")), "source", "left")
        .filter(F.col("__s").isNull() | F.col("__k").isNull())
        .select("source", F.col("__s").isNotNull().alias("in_stats"))
        .collect()  # bounded: source-cardinality metadata
    )
    if asym:
        missing = {
            r["source"]: "kmv" if r["in_stats"] else "doc-stats"
            for r in asym
        }
        raise ValueError(
            "corpus_card_report: sources present in only one ledger "
            f"(source -> missing ledger): {missing} — land both the "
            "doc-stats and the digest-KMV batch for every ingest run"
        )
    return (
        per_source.join(est, "source")
        .withColumn(
            "n_exact_dup_docs",
            F.greatest(
                F.col("n_docs") - F.col("__est_distinct"), F.lit(0)
            ).cast("long"),
        )
        .withColumn(
            "mean_quality_micro",
            F.expr("CAST(__qsum DIV n_docs AS BIGINT)"),
        )
        .select(
            "source",
            "n_docs",
            "n_chars",
            "n_ws_tokens",
            "n_exact_dup_docs",
            "mean_quality_micro",
            "n_en_docs",
        )
    )
