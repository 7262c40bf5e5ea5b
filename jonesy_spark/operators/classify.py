"""Supervised linear text classification over hashed bag-of-words —
the trainable quality/label gate of a training-data pipeline.

The heuristic tiers already in the engine (``corpus.quality_
percentile_filter``'s composite score, ``corpus.unigram_logprob`` /
``bigram_logprob``'s LM perplexity proxies) rank documents without any
labels. Production corpus pipelines add one more tier above them: a
cheap LINEAR classifier trained on weak labels (public method:
the fastText-style hashed bag-of-words classifier used for both
language ID and "looks like reference text" quality gating in the
CCNet / GPT-3 data-curation literature). This module re-expresses
that train+apply loop relationally so both halves run as ordinary
DataFrame plans:

* **Features**: lowercased whitespace tokens hashed into a FIXED
  number of buckets (the hashing trick). The hash is the house
  ``dedup.element_hash`` (leading 7 hex digits of md5), so every
  bucket id — and therefore the whole trained model — is exactly
  reproducible in the DuckDB oracle.
* **Model**: multinomial naive Bayes in log space, which IS a linear
  model over the hashed counts: per-bucket weight = smoothed
  log-likelihood ratio, plus a document-prior bias. Training is two
  keyed aggregations; no gradient loop, no driver-side state.
* **Scoring**: tf-aggregate per (doc, bucket), broadcast-join the
  bounded weight table, sum. ``score > 0`` is the posterior decision
  boundary.

Scale shape (the reason this is safe at 100 TB):
  * the token explode never leaves its stage — both train counts and
    scoring tf aggregate under keyed shuffles with map-side combine;
  * the model is AT MOST ``n_buckets`` rows by construction (the
    hashing trick's whole point: unbounded vocabulary, bounded
    parameters), so it always broadcasts — MBs at the 2^15 default;
  * scoring shuffles (doc_id, bucket, tf) triples — ~20-byte rows,
    never text;
  * no collect anywhere: totals ride 1-row broadcast cross-joins
    (the ``unigram_logprob`` pattern).

Float discipline follows the house 9-then-6 rule: per-bucket weights
round to 9 digits at train time, final scores to 6 — libm's 1-ulp
``ln`` differences between engines can never reach the compared
digits.

Reference anchor: the reference engine has no ML tier at all (its
whole surface is the extract queries, ``jonesy/queries.py``); this
module is part of the beyond-reference LLM-pipeline capability set the
build contract asks for.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..caching import persist
from ..functions.scalars import micro_units

from .dedup import CPU_PARTITIONS, element_hash

#: Default feature-space size. 32k buckets keeps the model ~1 MB
#: (bucket int + double) — broadcastable on any executor — while
#: keeping the hashing trick's collision rate negligible for the
#: word-unigram vocabularies quality/language gating needs.
DEFAULT_N_BUCKETS = 1 << 15

#: Sentinel bucket ids for the two model metadata rows, stored inline
#: so one bounded (bucket, weight) frame IS the whole model — storable
#: with the same parquet round-trip as every other artifact here.
#: Real buckets are pmod(...) >= 0, so negatives can never collide.
BIAS_BUCKET = -1
UNSEEN_BUCKET = -2


def token_buckets(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = DEFAULT_N_BUCKETS,
    ngrams: int = 1,
) -> DataFrame:
    """Hashed-feature term frequencies: one ``(id, bucket, tf)`` row
    per document x occupied bucket. The explode is map-side; the tf
    aggregation is the only shuffle and carries ~20-byte rows.

    ``ngrams=2`` adds word-BIGRAM features next to the unigrams (the
    fastText trick: order-sensitive evidence — "new york" and "york
    new" share every unigram but no bigram — at the cost of ~2x the
    feature stream). Bigrams join their words with ``\\x01`` before
    hashing so they can never collide with a literal unigram string.
    All features share one bucket space — the hashing trick absorbs
    the vocabulary growth at the same ``n_buckets``.
    """
    if ngrams not in (1, 2):
        raise ValueError(f"ngrams must be 1 or 2, got {ngrams}")
    base = docs.repartition(CPU_PARTITIONS, F.col(id_col)).select(
        F.col(id_col),
        F.filter(
            F.split(F.lower(F.trim(F.col(text_col))), r"\s+"),
            lambda x: x != "",
        ).alias("arr"),
    )
    feats = F.col("arr")
    if ngrams == 2:
        n = F.size("arr")
        bi = F.when(
            n >= 2,
            F.transform(
                F.sequence(F.lit(1), n - 1),
                lambda i: F.concat(
                    F.element_at("arr", i), F.lit("\x01"), F.element_at("arr", i + 1)
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))
        feats = F.concat(F.col("arr"), bi)
    toks = base.select(id_col, F.explode(feats).alias("t"))
    return (
        toks.select(
            id_col, F.pmod(element_hash(F.col("t")), F.lit(n_buckets)).alias("bucket")
        )
        .groupBy(id_col, "bucket")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def train_log_odds(
    docs: DataFrame,
    label: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = DEFAULT_N_BUCKETS,
    alpha: float = 1.0,
    ngrams: int = 1,
    tf: DataFrame | None = None,
) -> DataFrame:
    """Train the linear model: returns one bounded ``(bucket, weight)``
    frame (<= ``n_buckets`` + 2 rows) holding the per-bucket smoothed
    log-likelihood-ratio weights plus two sentinel rows —
    :data:`BIAS_BUCKET` (the document-prior bias ``ln(n_pos/n_neg)``)
    and :data:`UNSEEN_BUCKET` (the weight of a bucket with zero
    training occurrences, which scoring applies to features first seen
    in a NEW batch).

    ``label`` is any boolean Column over ``docs``'s columns (the weak
    label: a language tag, a domain allowlist hit, a heuristic-score
    threshold). Multinomial NB with add-``alpha`` smoothing::

        w_b  = ln((pos_b + a) / (pos_tot + a*B))
             - ln((neg_b + a) / (neg_tot + a*B))
        bias = ln(n_pos_docs / n_neg_docs)

    Both classes must be non-empty — a one-class "training set" has no
    decision boundary and raises (at action time, via a raise_error
    guard folded into the bias expression — no eager validation scan)
    rather than returning an all-bias model that silently labels
    everything positive.

    Two keyed aggregations (per-bucket class counts, per-class doc
    counts); the 1-row totals frame broadcasts into the weight
    expression — nothing is collected.

    ``tf`` optionally passes a PREPARED :func:`token_buckets` frame
    over ``docs`` (same ``n_buckets``/``ngrams``) so a train+score
    pipeline computes the corpus token explode + tf aggregation ONCE
    (r15; the excess_loss_select shared-stream pattern) — the r14
    plan ran it once per pass.
    """
    labeled = docs.withColumn("__pos", label.cast("int"))
    if tf is None:
        tf = token_buckets(
            labeled, text_col=text_col, id_col=id_col,
            n_buckets=n_buckets, ngrams=ngrams,
        )
    # Persisted: per_bucket feeds the weight projection AND (twice, via
    # the broadcast totals) the unseen/normalizer rows — without the
    # persist each consumer re-runs the token explode + tf aggregation
    # + label join from the corpus scan (r14 plan audit:
    # quality_classifier's plan carried 86 Exchanges, mostly this
    # subtree repeated). Bounded to <= n_buckets rows by construction.
    per_bucket = persist(
        tf.join(labeled.select(id_col, "__pos"), id_col)
        .groupBy("bucket")
        .agg(
            F.sum(F.col("tf") * F.col("__pos")).alias("pos_c"),
            F.sum(F.col("tf") * (1 - F.col("__pos"))).alias("neg_c"),
        )
    )
    doc_counts = labeled.agg(
        F.sum("__pos").alias("n_pos"),
        F.sum(1 - F.col("__pos")).alias("n_neg"),
    )
    totals = per_bucket.agg(
        F.sum("pos_c").alias("pos_tot"), F.sum("neg_c").alias("neg_tot")
    )
    aB = alpha * n_buckets
    w = F.round(
        F.log((F.col("pos_c") + alpha) / (F.col("pos_tot") + aB))
        - F.log((F.col("neg_c") + alpha) / (F.col("neg_tot") + aB)),
        9,
    )
    weights = per_bucket.crossJoin(F.broadcast(totals)).select(
        F.col("bucket").cast("long").alias("bucket"), w.alias("weight")
    )
    unseen = totals.select(
        F.lit(UNSEEN_BUCKET).cast("long").alias("bucket"),
        F.round(
            F.log(F.lit(alpha) / (F.col("pos_tot") + aB))
            - F.log(F.lit(alpha) / (F.col("neg_tot") + aB)),
            9,
        ).alias("weight"),
    )
    # both-classes-non-empty validation rides the bias expression
    # itself (raise_error at action time) instead of an eager head()
    # that re-scanned the corpus before training scanned it again
    # (ADVICE r6): zero extra jobs, same contract.
    np, nn = F.coalesce(F.col("n_pos"), F.lit(0)), F.coalesce(
        F.col("n_neg"), F.lit(0)
    )
    bias = doc_counts.select(
        F.lit(BIAS_BUCKET).cast("long").alias("bucket"),
        F.when(
            (np > 0) & (nn > 0),
            F.round(F.log(np / nn), 9),
        )
        .otherwise(
            F.raise_error(
                F.format_string(
                    "train_log_odds needs both classes non-empty; got "
                    "%d positive / %d negative documents",
                    np,
                    nn,
                )
            )
        )
        .alias("weight"),
    )
    return weights.unionByName(bias).unionByName(unseen)


def eval_report(scored: DataFrame, labels: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """One-row quality report of a scored frame against reference
    labels: confusion counts plus precision / recall / F1 / accuracy
    (fixed-point micro-unit ratios; all-zero denominators report 0,
    not NULL, so alert thresholds compare cleanly). ``labels`` carries
    ``(id, label)`` with a boolean/int ``label``; the nightly retrain
    job evaluates on a held-out slice before publishing, and a drop
    vs the previous version is the don't-publish alarm.

    One doc-keyed join + one global aggregation — the output is a
    single metadata row at any corpus size."""
    j = scored.select(id_col, F.col("pred").cast("int").alias("p")).join(
        labels.select(id_col, F.col("label").cast("int").alias("y")), id_col
    )
    agg = j.agg(
        F.sum(F.col("p") * F.col("y")).alias("tp"),
        F.sum(F.col("p") * (1 - F.col("y"))).alias("fp"),
        F.sum((1 - F.col("p")) * F.col("y")).alias("fn"),
        F.sum((1 - F.col("p")) * (1 - F.col("y"))).alias("tn"),
    )
    tp, fp, fn, tn = F.col("tp"), F.col("fp"), F.col("fn"), F.col("tn")
    safe = lambda num, den: micro_units(  # noqa: E731
        F.when(den > 0, num / den).otherwise(F.lit(0.0))
    )
    prec = F.when(tp + fp > 0, tp / (tp + fp)).otherwise(F.lit(0.0))
    rec = F.when(tp + fn > 0, tp / (tp + fn)).otherwise(F.lit(0.0))
    return agg.select(
        tp.cast("long").alias("tp"),
        fp.cast("long").alias("fp"),
        fn.cast("long").alias("fn"),
        tn.cast("long").alias("tn"),
        safe(tp, tp + fp).alias("precision_micro"),
        safe(tp, tp + fn).alias("recall_micro"),
        micro_units(
            F.when(prec + rec > 0, 2 * prec * rec / (prec + rec)).otherwise(
                F.lit(0.0)
            )
        ).alias("f1_micro"),
        safe(tp + tn, tp + fp + fn + tn).alias("accuracy_micro"),
    )


def scored_stream_report(scores: DataFrame) -> DataFrame:
    """Nightly monitoring over a scored-document table (the
    ``run_scored_doc_stream`` output): per (model_version,
    ingest_batch) doc counts, positive rate, and mean score — one
    keyed aggregation over per-row columns, no re-scoring (the
    ``tokenize.oov_report`` pattern). A pred-rate STEP at a version
    bump is the expected signature of a retrain taking over; a drift
    WITHIN a version is the upstream-corpus-changed alarm (compare
    with ``stats.stats_drift``'s volume view)."""
    keys = [c for c in ("model_version", "ingest_batch") if c in scores.columns]
    return (
        scores.groupBy(*keys)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            micro_units(F.avg(F.col("pred").cast("int"))).alias(
                "pred_rate_micro"
            ),
            F.round(F.avg("score_micro")).cast("long").alias(
                "mean_score_micro"
            ),
        )
        .orderBy(*keys)
    )


def write_model(
    model: DataFrame,
    path: str,
    n_buckets: int = DEFAULT_N_BUCKETS,
    ngrams: int = 1,
) -> int:
    """Publish a trained model as the next committed version
    (``store.publish_version`` contract: fully durable, then one
    atomic ``_COMMITTED`` create; retraining publishes N+1, never
    mutates N). The feature-space size is stored WITH the weights —
    a model scored under a different ``n_buckets`` than it was
    trained with is silently wrong (every hashed id moves), so the
    pair freezes together and :func:`read_model` hands both back.
    The table is bounded (<= n_buckets + 2 rows), so the single-file
    layout is driver-sized by construction."""
    from .store import publish_version

    return publish_version(
        model.withColumn("n_buckets", F.lit(n_buckets).cast("int")).withColumn(
            "ngrams", F.lit(ngrams).cast("int")
        ),
        path,
    )


def read_model(spark, path: str) -> tuple[DataFrame, int, int, int] | None:
    """The live ``(model, n_buckets, ngrams, version)`` tuple, or None
    when nothing is committed. The version number should ride scored
    output as lineage — scores are only comparable within one model
    version (the tokenizer-shard contract). Feature-space parameters
    (bucket count AND n-gram order) freeze with the weights: scoring
    under different ones is silently wrong. Stores written before the
    ``ngrams`` column existed read back as ngrams=1 (their behavior)."""
    from .store import read_live

    got = read_live(spark, path)
    if got is None:
        return None
    (stored,), n = got
    meta_cols = [c for c in ("n_buckets", "ngrams") if c in stored.columns]
    first = stored.select(*meta_cols).head() if meta_cols else None
    n_buckets = (
        int(first["n_buckets"])
        if first is not None and "n_buckets" in meta_cols
        else DEFAULT_N_BUCKETS
    )
    ngrams = (
        int(first["ngrams"])
        if first is not None and "ngrams" in meta_cols
        else 1
    )
    return stored.drop(*meta_cols), n_buckets, ngrams, n


def score_log_odds(
    docs: DataFrame,
    model: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = DEFAULT_N_BUCKETS,
    ngrams: int = 1,
    tf: DataFrame | None = None,
) -> DataFrame:
    """Apply a :func:`train_log_odds` model: ``(id, n_tokens, score,
    pred)`` for EVERY input document — ``score = bias + sum(tf * w)``
    (unseen buckets take the model's :data:`UNSEEN_BUCKET` weight),
    ``pred = score > 0``. A zero-token document scores exactly the
    bias (the prior), which is the correct posterior with no evidence.

    ``n_buckets`` must match training — the bucket space IS the
    feature space. The model broadcasts by construction; scoring adds
    one tf shuffle on (id, bucket) beyond the map-side explode.
    ``tf`` optionally passes a prepared :func:`token_buckets` frame
    over ``docs`` (see :func:`train_log_odds`).
    """
    if tf is None:
        tf = token_buckets(
            docs, text_col=text_col, id_col=id_col,
            n_buckets=n_buckets, ngrams=ngrams,
        )
    sentinels = model.filter(F.col("bucket") < 0)
    weights = model.filter(F.col("bucket") >= 0)
    meta = sentinels.groupBy().pivot("bucket", [BIAS_BUCKET, UNSEEN_BUCKET]).sum(
        "weight"
    ).select(
        F.col(str(BIAS_BUCKET)).alias("__bias"),
        F.col(str(UNSEEN_BUCKET)).alias("__unseen"),
    )
    # DECIMAL accumulation (the house exact-numerics rule): the model
    # weights are on an exact 1e-9 grid (round(., 9) at train time),
    # so summing them as decimals makes the per-doc score EXACT and
    # independent of partition/accumulation order. A plain double sum
    # drifts ~1e-12 — enough to flip the 6th rounded digit when a
    # score lands near a rounding boundary, which at corpus scale is a
    # per-run coin flip (observed at sf0.1: one run matched the
    # oracle, the next did not). Widths are chosen so the product
    # precision stays WELL under Spark's 38-digit cap: |weight| < 100
    # fits DECIMAL(12,9) and tf fits DECIMAL(9,0) — a long*decimal(28,9)
    # product would exceed 38 and trip Spark's silent precision-loss
    # scale reduction, which DuckDB does not mirror.
    dec = lambda c: c.cast("decimal(12,9)")  # noqa: E731
    scored = (
        tf.join(F.broadcast(weights), "bucket", "left")
        .crossJoin(F.broadcast(meta))
        .groupBy(id_col)
        .agg(
            F.sum("tf").cast("int").alias("n_tokens"),
            (
                F.round(
                    dec(F.first("__bias"))
                    + F.sum(
                        F.col("tf").cast("decimal(9,0)")
                        * dec(F.coalesce(F.col("weight"), F.col("__unseen")))
                    ),
                    6,
                )
                * 1_000_000
            )
            .cast("long")
            .alias("score_micro"),
        )
    )
    empty_micro = (F.round(F.col("__bias").cast("decimal(12,9)"), 6) * 1_000_000).cast(
        "long"
    )
    return (
        docs.select(id_col)
        .join(scored, id_col, "left")
        .crossJoin(F.broadcast(meta))
        .select(
            id_col,
            F.coalesce(F.col("n_tokens"), F.lit(0)).alias("n_tokens"),
            F.coalesce(F.col("score_micro"), empty_micro).alias("score_micro"),
            (F.coalesce(F.col("score_micro"), empty_micro) > 0).alias("pred"),
        )
    )


def write_classifier_counts(
    docs: DataFrame,
    label: Column,
    path: str,
    mode: str = "overwrite",
    run_id: str | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = DEFAULT_N_BUCKETS,
    ngrams: int = 1,
) -> str:
    """Land one batch's SUFFICIENT STATISTICS for the classifier — the
    per-bucket class counts plus the per-class document counts — under
    an ``ingest_batch=<run_id>`` subtree (the stats-ledger layout).
    Naive Bayes is count-based, so these partials are exactly
    mergeable: :func:`train_from_counts` folds any number of batches
    into THE SAME model a monolithic :func:`train_log_odds` over the
    union would produce (integer counts — no float drift in the fold),
    making the nightly retrain O(new batch) instead of O(corpus).
    Feature-space parameters ride every row; the fold REFUSES to mix
    batches written under different (n_buckets, ngrams). Default mode
    is ``overwrite`` — scoped to this run's ``ingest_batch=<run_id>``
    subtree, so a retried writer replaces its own partial epoch rather
    than appending duplicate count rows under the same run_id
    (ADVICE r6; the streaming wrapper already passed overwrite).
    Returns the run_id used."""
    if run_id is None:
        import uuid

        run_id = f"nightly-{uuid.uuid4().hex[:12]}"
    labeled = docs.withColumn("__pos", label.cast("int"))
    tf = token_buckets(
        labeled, text_col=text_col, id_col=id_col,
        n_buckets=n_buckets, ngrams=ngrams,
    )
    per_bucket = (
        tf.join(labeled.select(id_col, "__pos"), id_col)
        .groupBy("bucket")
        .agg(
            F.sum(F.col("tf") * F.col("__pos")).alias("pos_c"),
            F.sum(F.col("tf") * (1 - F.col("__pos"))).alias("neg_c"),
        )
    )
    # doc counts ride as a sentinel row (bucket = BIAS_BUCKET): one
    # frame, one layout, same trick as the model's metadata rows
    doc_counts = labeled.agg(
        F.lit(BIAS_BUCKET).cast("long").alias("bucket"),
        F.sum("__pos").alias("pos_c"),
        F.sum(1 - F.col("__pos")).alias("neg_c"),
    )
    out = (
        per_bucket.select(F.col("bucket").cast("long"), "pos_c", "neg_c")
        .unionByName(doc_counts)
        .withColumn("n_buckets", F.lit(n_buckets).cast("int"))
        .withColumn("ngrams", F.lit(ngrams).cast("int"))
    )
    out.coalesce(1).write.mode(mode).parquet(f"{path}/ingest_batch={run_id}")
    return run_id


def train_from_counts(
    spark, path: str, alpha: float = 1.0, exclude_run_id: str | None = None
) -> tuple[DataFrame, int, int]:
    """Fold the persisted count ledger into a model — EXACTLY the
    :func:`train_log_odds` model over every ingested document (integer
    partials sum losslessly; the weight math then runs once over the
    folded counts). Returns ``(model, n_buckets, ngrams)`` ready for
    :func:`write_model` / :func:`score_log_odds`. ``exclude_run_id``
    prunes a replaying writer's own subtree (the house rule). Raises
    on an absent ledger or on mixed feature-space parameters — a fold
    across different bucket spaces would be silently meaningless."""
    from pyspark.errors import AnalysisException

    from .hygiene import read_index_resolved

    try:
        # resolved read: the fold SUMS integer partials, so a batch a
        # committed compaction already consumed must be excluded or
        # every count it holds doubles (hygiene.superseded_batches)
        raw = read_index_resolved(spark, path)
    except AnalysisException:
        raise ValueError(
            f"no classifier count ledger at {path!r}; land one with "
            "write_classifier_counts before folding"
        ) from None
    if exclude_run_id is not None:
        raw = raw.filter(F.col("ingest_batch") != exclude_run_id)
    params = raw.select("n_buckets", "ngrams").distinct().collect()
    if not params:
        raise ValueError(
            f"count ledger at {path!r} is empty after exclusions; "
            "nothing to fold"
        )
    if len(params) != 1:
        raise ValueError(
            "count ledger mixes feature-space parameters "
            f"{sorted((p['n_buckets'], p['ngrams']) for p in params)}; "
            "re-index before folding"
        )
    n_buckets, ngrams = int(params[0]["n_buckets"]), int(params[0]["ngrams"])
    folded = raw.groupBy("bucket").agg(
        F.sum("pos_c").alias("pos_c"), F.sum("neg_c").alias("neg_c")
    )
    dc = folded.filter(F.col("bucket") == BIAS_BUCKET).head()
    if dc is None or not dc["pos_c"] or not dc["neg_c"]:
        raise ValueError(
            "count ledger needs both classes non-empty; got "
            f"{dc['pos_c'] if dc else 0} positive / "
            f"{dc['neg_c'] if dc else 0} documents"
        )
    per_bucket = folded.filter(F.col("bucket") >= 0)
    totals = per_bucket.agg(
        F.sum("pos_c").alias("pos_tot"), F.sum("neg_c").alias("neg_tot")
    )
    aB = alpha * n_buckets
    w = F.round(
        F.log((F.col("pos_c") + alpha) / (F.col("pos_tot") + aB))
        - F.log((F.col("neg_c") + alpha) / (F.col("neg_tot") + aB)),
        9,
    )
    weights = per_bucket.crossJoin(F.broadcast(totals)).select(
        "bucket", w.alias("weight")
    )
    unseen = totals.select(
        F.lit(UNSEEN_BUCKET).cast("long").alias("bucket"),
        F.round(
            F.log(F.lit(alpha) / (F.col("pos_tot") + aB))
            - F.log(F.lit(alpha) / (F.col("neg_tot") + aB)),
            9,
        ).alias("weight"),
    )
    bias = spark.createDataFrame(
        [(BIAS_BUCKET,)], "bucket long"
    ).select(
        "bucket",
        F.round(
            F.log(F.lit(float(dc["pos_c"])) / F.lit(float(dc["neg_c"]))), 9
        ).alias("weight"),
    )
    model = weights.unionByName(bias).unionByName(unseen)
    return model, n_buckets, ngrams
