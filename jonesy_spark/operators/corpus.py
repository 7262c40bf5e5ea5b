"""Training-corpus preparation operators: repetition filtering, domain
mixture sampling, sequence packing, and deterministic training order.

These are the pipeline steps BETWEEN dedup (operators.dedup) and the
tokenizer: decide what survives (repetition/quality gates, mixture
rates), then shape what survives into training input (packed sequences,
shuffled shards). Everything is deterministic — md5-derived randomness,
no rand()/Date.now — so reruns, retries, and the DuckDB differential
tests reproduce byte-identical decisions.

Scale notes (the design constraints at 100 TB):
  * repetition stats explode n-grams but aggregate under doc_id keys —
    two keyed shuffles whose width is the corpus token stream, the same
    shape (and cost class) as the MinHash sketch stage;
  * mixture sampling is map-only: the rate table broadcasts and the
    Bernoulli draw is a pure expression of (salt, doc_id);
  * sequence packing never sorts globally — docs shard by hash first
    (ONE keyed shuffle), then each shard packs independently under a
    shard-local window. A global-order window would be an
    Exchange SinglePartition: one task packs the planet. Shards pack
    to the same fill ratio in expectation, which is what training
    throughput cares about;
  * train_order is repartitionByRange on an md5 sort key: the range
    exchange samples key quantiles, so output files are balanced even
    though the key is synthetic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..caching import persist
from ..functions import text as TX
from ..functions.scalars import micro_units
from .dedup import CPU_PARTITIONS, _micro_threshold, element_hash


def _hash_unit(salt: str, key: Column) -> Column:
    """Deterministic U[0,1) draw: 28-bit md5 prefix of salt|key scaled
    to [0,1). Same expression is reproducible in DuckDB, so sampling
    decisions are oracle-checkable."""
    return element_hash(F.concat(F.lit(salt), F.lit("|"), key.cast("string"))) / F.lit(
        float(1 << 28)
    )


def repetition_stats(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 2
) -> DataFrame:
    """Gopher-style repetition diagnostics per document.

    Returns (id, n_tokens, dup_token_frac_micro, top_ngram_frac_micro,
    max_ngram_count) — fractions in fixed-point micro-units:
      * ``dup_token_frac_micro``  — 1 - distinct/total tokens (word-level
        repetitiveness);
      * ``top_ngram_frac_micro``  — occurrences of the most frequent word
        n-gram over total n-grams (boilerplate/loop detector; the
        Gopher rule drops docs above ~0.2 for 2-grams).

    Relational shape: explode n-grams once, count per (doc, gram), then
    max per doc — keyed aggregations with map-side partial combine, no
    higher-order map accumulators (interpreted, 5-10x slower) and no
    per-doc Python.
    """
    toks = TX.token_list(F.lower(F.col(text_col)))
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    base = docs.repartition(CPU_PARTITIONS, id_col).select(
        F.col(id_col),
        F.size(toks).alias("n_tokens"),
        micro_units(
            (F.size(toks) - F.size(F.array_distinct(toks)))
            / F.greatest(F.size(toks), F.lit(1))
        ).alias("dup_token_frac_micro"),
        grams.alias("grams"),
    )
    # explode_outer + null-count-as-zero: docs too short to have any
    # n-gram keep a stats row (top_ngram_frac 0) instead of vanishing.
    per_gram = (
        base.select(
            id_col,
            "n_tokens",
            "dup_token_frac_micro",
            F.explode_outer("grams").alias("g"),
        )
        .groupBy(id_col, "n_tokens", "dup_token_frac_micro", "g")
        .agg(F.count(F.col("g")).alias("c"))
    )
    return (
        per_gram.groupBy(id_col, "n_tokens", "dup_token_frac_micro")
        .agg(
            F.max("c").alias("max_ngram_count"),
            F.sum("c").alias("total_ngrams"),
        )
        .select(
            id_col,
            "n_tokens",
            "dup_token_frac_micro",
            micro_units(
                F.col("max_ngram_count")
                / F.greatest(F.col("total_ngrams"), F.lit(1))
            ).alias("top_ngram_frac_micro"),
            F.col("max_ngram_count"),
        )
    )


def repetition_filter(
    docs: DataFrame,
    max_dup_token_frac: float = 0.6,
    max_top_ngram_frac: float = 0.2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Documents surviving the repetition gates, with the failing rule
    names for the dropped ones available via an anti-join on the stats
    (callers wanting drop reasons join ``repetition_stats`` directly)."""
    stats = repetition_stats(docs, text_col=text_col, id_col=id_col)
    keep = stats.filter(
        (F.col("dup_token_frac_micro") <= _micro_threshold(max_dup_token_frac))
        & (F.col("top_ngram_frac_micro") <= _micro_threshold(max_top_ngram_frac))
    ).select(id_col)
    return docs.join(keep, id_col, "left_semi")


def quality_percentile_filter(
    docs: DataFrame,
    quality: Column,
    keep_frac: float = 0.5,
    by: str = "source",
    id_col: str = "doc_id",
    exact: bool = True,
    accuracy: int = 10_000,
) -> DataFrame:
    """Keep the best ``keep_frac`` of documents PER ``by`` group ranked
    by ``quality`` — the per-domain quality gate of a pretraining
    pipeline (a global cut would let one high-scoring domain crowd out
    every other; the per-domain percentile keeps the mixture).

    ``exact=True`` (default): exact ``percent_rank`` window — one keyed
    shuffle on the group, and the ``id_col`` tiebreak makes the cut
    deterministic under rerun and retry; oracle-checkable, which is why
    it is the default.

    ``exact=False``: the 100 TB path for skewed domain sizes. The
    window form sorts each domain inside one task — a single crawl
    domain holding 10% of the corpus becomes one straggler sorting
    10 TB. Instead, aggregate a per-group ``percentile_approx``
    threshold (partial aggregation, no per-group sort — the t-digest
    sketch merges map-side) and broadcast it back (domains are
    list-shaped); the filter is then map-only. The cut lands within
    sketch precision (``accuracy``; error ~1/accuracy of rank) of the
    exact one, and ties AT the threshold are kept (inclusive >=), so
    the kept fraction can exceed ``keep_frac`` by the tied mass.
    """
    if exact:
        w = Window.partitionBy(by).orderBy(quality.desc(), F.col(id_col))
        return (
            docs.withColumn("__pr", F.percent_rank().over(w))
            .filter(F.col("__pr") <= keep_frac)
            .drop("__pr")
        )
    thr = docs.groupBy(by).agg(
        F.percentile_approx(quality, 1.0 - keep_frac, accuracy).alias("__thr")
    )
    return (
        docs.join(F.broadcast(thr), by)
        .filter(quality >= F.col("__thr"))
        .drop("__thr")
    )


def mixture_sample(
    docs: DataFrame,
    rates: dict[str, float],
    default_rate: float = 0.0,
    salt: str = "mix-v1",
    group_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic per-domain Bernoulli sampling — the mixture-weights
    step of a training-data pipeline (e.g. upweight curated sources,
    downsample crawl).

    The rate table broadcasts (domains are few); the keep decision is a
    pure function of (salt, doc_id), so resampling with a new salt is a
    fresh independent draw while reruns of the same salt are exact.
    """
    spark = docs.sparkSession
    if not rates:  # VALUES with zero rows is invalid SQL
        return docs.filter(
            _hash_unit(salt, F.col(id_col)) < F.lit(float(default_rate))
        )
    # VALUES → LocalRelation: the literal rate rows live JVM-side (no
    # Python-RDD scan in the plan, no per-session py4j warm-up cost).
    values = ", ".join(
        "('{}', CAST({} AS DOUBLE))".format(k.replace("'", "''"), float(v))
        for k, v in sorted(rates.items())
    )
    rate_df = spark.sql(
        f"SELECT * FROM (VALUES {values}) AS t({group_col}, rate)"
    )
    return (
        docs.join(F.broadcast(rate_df), group_col, "left")
        .withColumn("rate", F.coalesce(F.col("rate"), F.lit(float(default_rate))))
        .filter(_hash_unit(salt, F.col(id_col)) < F.col("rate"))
        .drop("rate")
    )


def mixture_rates_from_targets(
    docs: DataFrame,
    targets: dict[str, float],
    group_col: str = "source",
    text_col: str = "text",
) -> dict[str, float]:
    """Derive per-domain sampling rates from target TOKEN budgets:
    rate = target_tokens / available_tokens per domain (uncapped — a
    target above availability yields a rate > 1, which
    :func:`mixture_upsample` realizes as repeated epochs).

    One aggregation keyed on the domain; only the per-domain totals (a
    handful of rows — domains are list-shaped) reach the driver, same
    budget as the reference's term fan-out."""
    totals = {
        r[group_col]: r["tok"]
        for r in docs.groupBy(group_col)
        .agg(F.sum(TX.whitespace_token_count(F.col(text_col))).alias("tok"))
        .collect()
    }
    return {
        g: float(t) / float(totals[g]) for g, t in sorted(targets.items()) if g in totals
    }


def temperature_rates(
    totals: dict[str, float],
    tau: float = 0.7,
    token_budget: float | None = None,
) -> dict[str, float]:
    """Temperature-scaled mixture rates: the standard multilingual /
    multi-domain rebalancing rule — sampling share ``p_g ∝ f_g^tau``
    where ``f_g`` is the domain's fraction of corpus tokens. ``tau=1``
    keeps natural proportions, ``tau=0`` equalizes domains, values
    between damp the head and boost the tail (0.7 is the classic
    multilingual-pretraining setting).

    Input is the per-domain token totals (list-shaped — the same
    bounded driver-side dict :func:`mixture_rates_from_targets`
    collects); output is per-domain epoch rates for
    :func:`mixture_upsample`: ``rate_g = p_g * budget / total_g``.
    ``token_budget`` defaults to the corpus total (pure reweighting);
    tail domains then get rates > 1 (upsampled epochs) and head
    domains < 1, with the expected token SUM preserved at the budget.
    Pure driver math over a handful of floats — no jobs run here.

    Degenerate domains are EXCLUDED, not crashed on: a zero-token
    domain (all-empty docs) and the NULL-keyed domain (docs with no
    source — the ingest contract only requires doc_id/text) get no
    rate, so :func:`mixture_upsample`'s inner join drops their docs —
    the same fate a rate of 0 would give them. An all-degenerate
    totals dict returns {}.
    """
    if tau < 0:
        raise ValueError(f"tau must be >= 0, got {tau}")
    live = {g: float(t) for g, t in totals.items() if g is not None and t > 0}
    if not live:
        return {}
    grand = float(sum(live.values()))
    budget = grand if token_budget is None else float(token_budget)
    shares = {g: (t / grand) ** tau for g, t in live.items()}
    z = sum(shares.values())
    return {g: (shares[g] / z) * budget / live[g] for g in sorted(live)}


def domain_token_totals(
    docs: DataFrame, group_col: str = "source", text_col: str = "text"
) -> dict[str, float]:
    """The per-domain token totals dict (one keyed aggregation; only
    the list-shaped totals reach the driver)."""
    return {
        r[group_col]: float(r["tok"])
        for r in docs.groupBy(group_col)
        .agg(F.sum(TX.whitespace_token_count(F.col(text_col))).alias("tok"))
        .collect()
    }


def temperature_mix(
    docs: DataFrame,
    tau: float = 0.7,
    token_budget: float | None = None,
    salt: str = "temp-v1",
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Compose :func:`domain_token_totals` -> :func:`temperature_rates`
    -> :func:`mixture_upsample`: the one-call temperature-rebalanced
    training mix (rows carry ``copy_nbr`` for upsampled domains)."""
    rates = temperature_rates(
        domain_token_totals(docs, group_col, text_col), tau, token_budget
    )
    return mixture_upsample(docs, rates, salt=salt, group_col=group_col)


def mixture_upsample(
    docs: DataFrame,
    rates: dict[str, float],
    salt: str = "mix-v1",
    group_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Mixture with upsampling: rate 2.3 emits every doc twice plus a
    30% deterministic chance of a third copy — how training mixes
    realize per-domain epoch counts. Output adds ``copy_nbr``
    (0-indexed) so downstream shuffling/packing treats copies as
    distinct rows.

    Same md5 draw as :func:`mixture_sample` (rate <= 1 degenerates to
    exactly its behavior, plus the copy_nbr=0 column); the explode is
    map-side — no shuffle, no rand()."""
    spark = docs.sparkSession
    if not rates:
        return docs.filter(F.lit(False)).withColumn("copy_nbr", F.lit(0))
    values = ", ".join(
        "('{}', CAST({} AS DOUBLE))".format(k.replace("'", "''"), float(v))
        for k, v in sorted(rates.items())
    )
    rate_df = spark.sql(f"SELECT * FROM (VALUES {values}) AS t({group_col}, rate)")
    whole = F.floor(F.col("rate")).cast("int")
    extra = (
        _hash_unit(salt, F.col(id_col)) < (F.col("rate") - F.floor(F.col("rate")))
    ).cast("int")
    return (
        docs.join(F.broadcast(rate_df), group_col)
        .withColumn("__n", whole + extra)
        .filter(F.col("__n") > 0)
        .withColumn("copy_nbr", F.explode(F.sequence(F.lit(0), F.col("__n") - 1)))
        .drop("rate", "__n")
    )


def pack_sequences(
    docs: DataFrame,
    budget_tokens: int = 512,
    n_shards: int = 64,
    salt: str = "pack-v1",
    text_col: str = "text",
    id_col: str = "doc_id",
    n_tokens_col: str | None = None,
) -> DataFrame:
    """Contiguous-fill sequence packing: assign each document to a fixed
    token-budget training sequence, without a global sort.

    Docs shard by hash (ONE keyed shuffle), each shard orders its docs
    by a deterministic md5 key and fills sequences by cumulative token
    count: a doc starts in the sequence its running offset falls in,
    overflow spills into the next (standard contiguous packing — the
    tokenizer splits at the boundary downstream). Per-doc output:
    (doc_id, shard, seq_nbr, seq_id, n_tokens, start_offset).

    ``budget_tokens`` is the model context length; ``n_shards`` bounds
    window state per task — at 100 TB raise shards, never the window.

    ``n_tokens_col`` switches the fill metric from the whitespace
    proxy over ``text_col`` to a precomputed count column — the REAL
    tokens path: pack ``bpe_encode_ids`` output on
    ``size(token_ids)`` and the offsets are exact token positions,
    which is what ``assemble_id_sequences`` requires.
    """
    key = F.md5(F.concat(F.lit(salt), F.lit("|"), F.col(id_col).cast("string")))
    toks = (
        F.greatest(F.col(n_tokens_col), F.lit(1))
        if n_tokens_col is not None
        else F.greatest(TX.whitespace_token_count(F.col(text_col)), F.lit(1))
    )
    base = docs.select(
        F.col(id_col),
        key.alias("pack_key"),
        (element_hash(key) % n_shards).alias("shard"),
        toks.alias("n_tokens"),
    )
    w = Window.partitionBy("shard").orderBy("pack_key")
    cum = F.sum("n_tokens").over(w)
    return base.select(
        id_col,
        "shard",
        "n_tokens",
        (cum - F.col("n_tokens")).alias("start_offset"),
        F.floor((cum - F.col("n_tokens")) / budget_tokens).alias("seq_nbr"),
    ).withColumn(
        "seq_id", F.concat_ws("-", F.col("shard"), F.col("seq_nbr"))
    )


def sequence_fill_stats(packed: DataFrame, budget_tokens: int = 512) -> DataFrame:
    """Fill-ratio roll-up of :func:`pack_sequences` output — the packing
    efficiency a training job actually observes (aggregated per shard so
    the report stays small)."""
    per_seq = packed.groupBy("shard", "seq_nbr").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_tokens").alias("seq_tokens")
    )
    return (
        per_seq.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_seqs"),
            F.round(F.avg("n_docs"), 6).alias("avg_docs_per_seq"),
            F.round(
                F.avg(F.least(F.col("seq_tokens"), F.lit(budget_tokens)))
                / budget_tokens,
                6,
            ).alias("avg_fill_ratio"),
        )
        .orderBy("shard")
    )


def assemble_sequences(
    docs: DataFrame,
    packed: DataFrame,
    sep: str = "<|doc|>",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Materialize packed training sequences: join documents onto
    :func:`pack_sequences` output and concatenate each sequence's texts
    in offset order with a separator token.

    One keyed join on doc_id + one aggregation keyed on (shard,
    seq_nbr) — texts shuffle once, grouped under the same sharding the
    packer created. Ordering inside the aggregate uses sort_array over
    (start_offset, text) structs, so assembly is deterministic without a
    window.
    """
    joined = packed.join(docs.select(id_col, text_col), id_col)
    return (
        joined.groupBy("shard", "seq_nbr")
        .agg(
            F.first("seq_id").alias("seq_id"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("seq_tokens"),
            F.concat_ws(
                sep,
                F.transform(
                    F.sort_array(
                        F.collect_list(
                            F.struct(F.col("start_offset"), F.col(text_col).alias("t"))
                        )
                    ),
                    lambda s: s["t"],
                ),
            ).alias("seq_text"),
        )
        .drop("shard", "seq_nbr")
    )


def train_order(
    docs: DataFrame,
    salt: str = "shuffle-v1",
    n_files: int = 64,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic global shuffle for training order: every doc gets
    an md5 sort key, rows range-partition on it (quantile-sampled, so
    files balance), and sort within partitions.

    The result streams to ``n_files`` output files in a stable
    pseudo-random order: epoch N+1 is a different salt, a rerun of
    epoch N is byte-identical. No ``rand()`` — retried tasks must not
    reshuffle their partition."""
    key = F.md5(F.concat(F.lit(salt), F.lit("|"), F.col(id_col).cast("string")))
    return (
        docs.withColumn("shuffle_key", key)
        .repartitionByRange(n_files, "shuffle_key")
        .sortWithinPartitions("shuffle_key")
    )


def unigram_logprob(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    vocab_size: int = 50_000,
    alpha: float = 0.5,
    stream: DataFrame | None = None,
    tf: DataFrame | None = None,
) -> DataFrame:
    """Per-document mean unigram log-probability under the corpus's OWN
    unigram distribution — the classic cheap perplexity proxy for
    quality gating (a doc of rare/garbled tokens scores far below the
    corpus mode; natural prose scores near it).

    Model: the top-``vocab_size`` tokens by corpus frequency (ties
    broken by token string, so the vocabulary is deterministic) with
    add-``alpha`` smoothing; everything outside the vocabulary shares
    one OOV floor probability::

        p(t) = (count(t) + alpha) / (N + alpha * (V + 1))   t in vocab
        p(OOV) = alpha           / (N + alpha * (V + 1))

    Output: ``(doc_id, n_tokens, oov_frac_micro, avg_logprob_micro)``
    in fixed-point micro-units (per-token logs rounded to 9 first so
    libm's 1-ulp ``ln`` differences between engines can never reach the
    comparison digits).

    Scale shape: two passes over the token stream (corpus counts, then
    per-doc scoring), both aggregating under keyed shuffles with
    map-side combine. The vocabulary is top-V via ``orderBy + limit``
    (partial per-partition top-V, never a global sort of the vocab) and
    joins the token stream as a BROADCAST — ``vocab_size`` bounds it to
    MBs however large the corpus, which is the whole point of the OOV
    floor: unbounded tails stay out of the join. The 1-row totals frame
    cross-joins (broadcast) rather than collecting.

    ``stream`` / ``tf`` (r14, guide §1.2 shared subtrees): a caller
    composing this with :func:`bigram_logprob` over the SAME corpus
    (:func:`excess_loss_select`) passes the one prepared token stream
    — ``(id_col, pos, raw)``, the posexplode of the identical
    lower/trim/split — and the one ``(raw, c)`` term-frequency table,
    so the corpus is exploded and counted once instead of once per
    scorer. Values are identical by construction (same expressions,
    order-insensitive aggregates).
    """
    if stream is not None:
        toks = stream.select(F.col(id_col), F.col("raw").alias("t"))
    else:
        toks = docs.repartition(CPU_PARTITIONS, F.col(id_col)).select(
            F.col(id_col),
            F.explode(
                F.split(F.lower(F.trim(F.col(text_col))), " ")
            ).alias("t"),
        )
    # Persisted: tf feeds BOTH the top-V cut and the totals aggregate —
    # without the persist each broadcast re-runs the full token explode
    # + groupBy (r14 plan audit: the corpus scan appeared 3x per
    # scorer). The frame is the distinct-token table (vocab-scale, far
    # smaller than the stream; MEMORY_AND_DISK spills if a pathological
    # corpus inflates it).
    if tf is None:
        tf = persist(toks.groupBy("t").agg(F.count(F.lit(1)).alias("c")))
    else:
        tf = tf.withColumnsRenamed({"raw": "t"})
    vocab = tf.orderBy(F.col("c").desc(), F.col("t")).limit(vocab_size)
    # v_actual = |vocab| = min(|tf|, vocab_size) — computed IN the same
    # 1-row aggregate instead of re-evaluating the top-V subtree for a
    # count (one fewer pass; value identical by construction).
    totals = tf.agg(
        F.sum("c").alias("n_total"),
        F.least(
            F.count(F.lit(1)), F.lit(vocab_size).cast("long")
        ).alias("v_actual"),
    )
    denom = F.col("n_total") + alpha * (F.col("v_actual") + 1)
    scored = (
        toks.join(F.broadcast(vocab), "t", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            id_col,
            F.when(F.col("c").isNull(), 1).otherwise(0).alias("is_oov"),
            F.round(
                F.log((F.coalesce(F.col("c"), F.lit(0)) + alpha) / denom), 9
            ).alias("lp"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("int").alias("n_tokens"),
        micro_units(F.sum("is_oov") / F.count(F.lit(1))).alias(
            "oov_frac_micro"
        ),
        micro_units(F.sum("lp") / F.count(F.lit(1))).alias(
            "avg_logprob_micro"
        ),
    )


def cluster_keyed_split(
    docs: DataFrame,
    clusters: DataFrame,
    id_col: str = "doc_id",
    salt: str = "split-v1",
    train_frac: float = 0.75,
    val_frac: float = 0.125,
) -> DataFrame:
    """Leakage-safe train/val/test split: the split decision hashes the
    near-dup CLUSTER id, not the document id, so transitively-linked
    near-copies can never straddle a split boundary (the doc-keyed
    split's silent eval-set leak — a near-copy of a training document
    landing in val/test). Documents in no cluster are their own
    singleton cluster.

    ``clusters`` is ``(doc_id, cluster_id)`` — e.g.
    ``graph.connected_components`` output over any pair operator, or an
    exact-digest grouping. The join is digest-width; the draw is the
    same md5 ``_hash_unit`` expression every sampling operator here
    uses, so the split is deterministic across runs, engines, and
    cluster sizes.
    """
    labeled = docs.select(id_col).join(
        clusters.select(
            F.col(id_col), F.col("cluster_id").cast("long").alias("cluster_id")
        ),
        id_col,
        "left",
    )
    u = _hash_unit(salt, F.coalesce(F.col("cluster_id"), F.col(id_col)))
    return labeled.select(
        id_col,
        F.coalesce(F.col("cluster_id"), F.col(id_col)).alias("cluster_id"),
        F.when(u < train_frac, "train")
        .when(u < train_frac + val_frac, "val")
        .otherwise("test")
        .alias("split"),
    )


def quota_sample(
    docs: DataFrame,
    quotas: dict[str, int],
    by: str = "source",
    id_col: str = "doc_id",
    salt: str = "quota-v1",
    default_quota: int | None = None,
) -> DataFrame:
    """Exact per-stratum quotas: the ``quotas[stratum]`` documents with
    the smallest md5 draw win — a deterministic reservoir. Where
    :func:`mixture_sample` hits a RATE in expectation (right for
    training mixes), eval-set construction wants exactly N per source;
    hashing makes the choice rerun-stable and engine-reproducible, and
    growing a quota later only ADDS documents (the first N of a larger
    N' — the draws don't move), so refreshed eval sets stay supersets.

    Strata absent from ``quotas`` fall back to ``default_quota``
    (None = keep the stratum whole). One rank window per stratum
    (partitionBy ``by``) — no global sort; the quota table broadcasts.
    """
    from pyspark.sql import Window

    spark = docs.sparkSession
    qdf = spark.createDataFrame(
        [(k, int(v)) for k, v in quotas.items()], f"{by} string, __quota int"
    )
    w = Window.partitionBy(by).orderBy(
        _hash_unit(salt, F.col(id_col)), F.col(id_col)
    )
    ranked = (
        docs.join(F.broadcast(qdf), by, "left")
        .withColumn("__rk", F.row_number().over(w))
    )
    if default_quota is not None:
        ranked = ranked.withColumn(
            "__quota", F.coalesce(F.col("__quota"), F.lit(int(default_quota)))
        )
    return ranked.filter(
        F.col("__quota").isNull() | (F.col("__rk") <= F.col("__quota"))
    ).drop("__quota", "__rk")


def token_budget_prune(
    docs: DataFrame,
    budget_tokens: int,
    quality: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_ranges: int = 64,
) -> DataFrame:
    """Greedy global prefix under a corpus-wide token budget: rank every
    document by (``quality`` desc, ``id_col``) and keep the maximal
    prefix whose running token total fits ``budget_tokens`` — the
    "best N tokens" corpus cut (distinct from
    :func:`quality_percentile_filter`, which keeps a FRACTION per
    domain, and from the mixture budget, which reweights in
    expectation; this one is an exact hard cap). Output:
    ``(id, quality, n_tokens, cum_tokens)``.

    Scale shape — the naive form is a global ordered cumulative window,
    i.e. ONE task sorting the corpus. This is the two-pass
    range-partition form (the terasort pattern): ``repartitionByRange``
    on the sort key gives a total order ACROSS partitions, pass 1
    aggregates one token-sum row per partition (``n_ranges`` rows to
    the driver — a bounded action, like the centroid and per-term
    collects), the driver turns them into exclusive prefix offsets,
    and pass 2 adds a WITHIN-partition cumulative window to the
    (broadcast) offset and filters. Each task sorts only its range;
    no stage ever sees the global order. Plan note (measured via
    ``explain``): the pid-keyed window re-shuffles the scored rows
    once — but those rows are the NARROW projection (id, quality,
    n_tokens, pid — ~40 bytes), never the documents, so the extra
    exchange is doc-count-sized, not corpus-sized; a
    ``mapInPandas``-based partition-local cumsum would avoid it at
    the cost of an Arrow round-trip of the same rows and the loss of
    whole-stage codegen — the wrong trade while the rows are this
    narrow. The cut is exact and partitioning-invariant: the
    (quality, id) key is total, so the greedy prefix does not depend
    on where the range bounds landed.
    The ranged frame is persisted so both passes read ONE
    materialization of the sampling-based exchange.

    ``quality`` must be rounded/deterministic on both engines when
    oracle-compared (the ``quality_filter`` precedent).
    """
    toks = F.greatest(TX.whitespace_token_count(F.col(text_col)), F.lit(1))
    scored = docs.select(
        F.col(id_col), quality.alias("quality"), toks.alias("n_tokens")
    )
    ranged = persist(
        scored.repartitionByRange(
            n_ranges, F.col("quality").desc(), F.col(id_col)
        ).withColumn("__pid", F.spark_partition_id())
    )
    sums = {
        r["__pid"]: r["s"]
        for r in ranged.groupBy("__pid").agg(F.sum("n_tokens").alias("s")).collect()
    }
    offsets, running = [], 0
    for pid in sorted(sums):
        offsets.append((pid, running))
        running += sums[pid]
    spark = docs.sparkSession
    off = spark.createDataFrame(
        offsets or [(0, 0)], "__pid int, __offset long"
    )
    w = (
        Window.partitionBy("__pid")
        .orderBy(F.col("quality").desc(), F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        ranged.join(F.broadcast(off), "__pid")
        .withColumn(
            "cum_tokens", F.sum("n_tokens").over(w) + F.col("__offset")
        )
        .filter(F.col("cum_tokens") <= budget_tokens)
        .select(id_col, "quality", "n_tokens", "cum_tokens")
    )


def assemble_id_sequences(
    tokenized: DataFrame,
    packed: DataFrame,
    budget_tokens: int = 512,
    id_col: str = "doc_id",
    ids_col: str = "token_ids",
) -> DataFrame:
    """Materialize fixed-length TRAINING SEQUENCES of token ids from
    packed, tokenized documents — the step the packing docstring
    defers with "the tokenizer splits at the boundary downstream":
    here IS downstream. Output one row per sequence:
    ``(shard, seq_nbr, seq_id, token_ids, n_tokens)`` where every
    sequence holds exactly ``budget_tokens`` ids except the last of
    each shard (the remainder), documents are laid out in pack order,
    and a document overflowing a boundary CONTINUES in the next
    sequence — ``concat(sequences) == concat(docs in pack order)``
    per shard, exactly (tested).

    REQUIRES ``packed`` built with ``pack_sequences(...,
    n_tokens_col=...)`` over the SAME id counts (`size(token_ids)`) —
    offsets from the whitespace proxy would desynchronize the
    boundary math; the operator asserts nothing silently and the
    conservation test is the guard.

    Scale shape: this is the one deliberately token-grain op in the
    corpus pipeline — the explode IS the output materialization (every
    training token appears in exactly one output row), so its shuffle
    is the write itself, not overhead: token rows carry
    (shard, position, id) — 20 bytes — keyed by (shard, seq_nbr), with
    each group bounded by ``budget_tokens``. ``array_sort`` over
    collect_list keeps groups independent (no giant per-shard window);
    position arithmetic is exact because pack offsets are exclusive
    prefix sums of the same counts.
    """
    j = packed.select(id_col, "shard", "start_offset").join(
        tokenized.select(id_col, ids_col), id_col
    )
    toks = j.select(
        "shard",
        F.posexplode(ids_col).alias("pos_in_doc", "tid"),
        (F.col("start_offset") + F.col("pos_in_doc")).alias("position"),
    ).select(
        "shard",
        "position",
        "tid",
        F.floor(F.col("position") / budget_tokens).alias("seq_nbr"),
    )
    return (
        toks.groupBy("shard", "seq_nbr")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("position", "tid"))
                ),
                lambda s: s["tid"],
            ).alias("token_ids")
        )
        .select(
            "shard",
            "seq_nbr",
            F.concat_ws("-", F.col("shard"), F.col("seq_nbr")).alias("seq_id"),
            "token_ids",
            F.size("token_ids").alias("n_tokens"),
        )
    )


def bigram_logprob(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    vocab_size: int = 10_000,
    bigram_size: int = 100_000,
    alpha: float = 0.5,
    stream: DataFrame | None = None,
    tf: DataFrame | None = None,
) -> DataFrame:
    """Per-document mean CONDITIONAL log-probability under the corpus's
    own bigram model — the perplexity-proxy upgrade over
    :func:`unigram_logprob`: word salad with plausible unigrams
    ("the of and is the") scores high under a unigram model but
    collapses under p(t|prev); natural prose does the opposite.

    Model (OOV-collapsed add-alpha): tokens outside the top-
    ``vocab_size`` unigrams collapse to one ``<oov>`` symbol BEFORE
    counting, so the vocabulary is exactly the v1 observed collapsed
    symbols (<= vocab_size + 1) and no backoff case analysis exists —
    add-alpha over v1 symbols normalizes exactly::

        p(t1)      = (c1(t1) + alpha)      / (N + alpha * v1)
        p(t|prev)  = (c2(prev, t) + alpha) / (c1(prev) + alpha * v1)

    Bigrams outside the top-``bigram_size`` count as unseen (numerator
    ``alpha``) — the standard bounded-table approximation, chosen so
    BOTH model tables broadcast: the collapsed unigram table is <= V+1
    rows by construction, the bigram table is capped (count desc, pair
    tiebreak — deterministic cut). Output per doc: ``(doc_id,
    n_tokens, unseen_bigram_frac_micro, avg_logprob_micro)`` with the unigram
    rounding discipline (per-token logs to 9 digits, ratios to 6).

    Scale shape: one posexplode pass; the ``lag`` window partitions by
    doc_id — the SAME key the stream was repartitioned on, so Catalyst
    reuses the exchange and the window sort is the only per-doc cost;
    counting is two keyed aggregations with map-side combine; scoring
    joins the stream against two BROADCAST tables and aggregates back
    under the original doc_id partitioning. A literal ``<oov>`` token
    in the corpus would alias with the collapse symbol (documented
    tradeoff; pick a rarer sentinel if the corpus contains it).
    """
    from pyspark.sql import Window as W

    # ``stream`` / ``tf`` (r14, guide §1.2): optional caller-prepared
    # token stream and term-frequency table — see
    # :func:`unigram_logprob`'s parameter note; values identical by
    # construction.
    if stream is None:
        stream = docs.repartition(CPU_PARTITIONS, F.col(id_col)).select(
            F.col(id_col),
            F.posexplode(
                F.split(F.lower(F.trim(F.col(text_col))), " ")
            ).alias("pos", "raw"),
        )
    if tf is None:
        tf = stream.groupBy("raw").agg(F.count(F.lit(1)).alias("c"))
    vocab = (
        tf.orderBy(F.col("c").desc(), "raw")
        .limit(vocab_size)
        .select("raw", F.lit(1).alias("__in_vocab"))
    )
    collapsed = stream.join(F.broadcast(vocab), "raw", "left").select(
        id_col,
        "pos",
        F.when(F.col("__in_vocab").isNull(), F.lit("<oov>"))
        .otherwise(F.col("raw"))
        .alias("t"),
    )
    # Persisted: the lagged stream feeds THREE consumers (c1, c2, the
    # scoring pass) and each broadcast model table otherwise re-runs
    # the explode + vocab join + lag window from the source scan (r14
    # plan audit: the corpus scan appeared ~7x in excess_loss_select's
    # plan). c1 additionally feeds totals/cprev/the per-token join, so
    # it persists too (<= vocab_size + 1 rows).
    paired = persist(collapsed.withColumn(
        "prev", F.lag("t").over(W.partitionBy(id_col).orderBy("pos"))
    ))
    # same rows as grouping `collapsed` — the lag adds a column, not
    # rows — but reads the persisted frame instead of a fresh subtree
    c1 = persist(paired.groupBy("t").agg(F.count(F.lit(1)).alias("c1")))
    totals = c1.agg(
        F.sum("c1").alias("n_total"), F.count(F.lit(1)).alias("v1")
    )
    c2 = (
        paired.filter(F.col("prev").isNotNull())
        .groupBy("prev", "t")
        .agg(F.count(F.lit(1)).alias("c2"))
        .orderBy(F.col("c2").desc(), "prev", "t")
        .limit(bigram_size)
    )
    cprev = c1.select(F.col("t").alias("prev"), F.col("c1").alias("c_prev"))
    denom_u = F.col("n_total") + alpha * F.col("v1")
    denom_b = F.col("c_prev") + alpha * F.col("v1")
    scored = (
        paired.join(F.broadcast(c2), ["prev", "t"], "left")
        .join(F.broadcast(cprev), "prev", "left")
        .join(F.broadcast(c1), "t", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            id_col,
            F.when(
                F.col("prev").isNotNull() & F.col("c2").isNull(), 1
            ).otherwise(0).alias("unseen"),
            F.round(
                F.when(
                    F.col("prev").isNull(),
                    F.log((F.col("c1") + alpha) / denom_u),
                ).otherwise(
                    F.log(
                        (F.coalesce(F.col("c2"), F.lit(0)) + alpha) / denom_b
                    )
                ),
                9,
            ).alias("lp"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("int").alias("n_tokens"),
        micro_units(F.sum("unseen") / F.count(F.lit(1))).alias(
            "unseen_bigram_frac_micro"
        ),
        micro_units(F.sum("lp") / F.count(F.lit(1))).alias(
            "avg_logprob_micro"
        ),
    )


def perplexity_buckets(
    docs: DataFrame,
    lang_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
    vocab_size: int = 50_000,
    alpha: float = 0.5,
) -> DataFrame:
    """CCNet-style head/middle/tail corpus partitioning (public method:
    Wenzek et al. 2020, "CCNet: Extracting High Quality Monolingual
    Datasets from Web Crawl Data"): score every document with the
    :func:`unigram_logprob` perplexity proxy, then split each language
    into score TERCILES — ``head`` (most fluent third), ``middle``,
    ``tail`` — the partition CCNet publishes per language so downstream
    consumers pick their quality/recall point by choosing buckets.

    Threshold semantics (exact, engine-portable): per language, order
    the fixed-point micro scores ascending; ``t1`` is the score at
    cumulative rank ``ceil(n/3)`` and ``t2`` at ``ceil(2n/3)``; a doc
    is ``tail`` if ``score <= t1``, ``middle`` if ``score <= t2``,
    else ``head``. Boundary TIES share a bucket (the threshold is a
    score, not a per-doc rank), so the split is a pure function of the
    score — reshuffling input order cannot move a document.

    Output: one row per ``(lang, bucket)`` — ``n_docs``,
    ``total_tokens``, ``sum_logprob_micro`` (exact integer sum of the
    per-doc micro scores; divide by ``n_docs`` off-line for the bucket
    mean — summing integers keeps the hash exact), ``min_score_micro``
    / ``max_score_micro`` (the realized bucket edges).

    Scale shape: the scoring pass is :func:`unigram_logprob` (two keyed
    token-stream aggregations, broadcast vocabulary). Everything after
    operates on a per-``(lang, score)`` HISTOGRAM — docs collapse to
    one row per distinct micro score before any window runs, so the
    per-language cumulative sum orders histogram rows, never documents
    (micro fixed-point bounds the distinct-score domain; boilerplate
    corpora collapse hardest). The threshold frame is rows = languages
    × buckets — broadcast back over the histogram. At crawl scale
    CCNet itself fits thresholds on a SAMPLE and ships them as
    constants; this exact-tercile form is the auditable variant, and
    swapping the histogram pass for a sampled quantile keeps every
    downstream line unchanged.
    """
    from pyspark.sql import Window

    uni = unigram_logprob(
        docs,
        text_col=text_col,
        id_col=id_col,
        vocab_size=vocab_size,
        alpha=alpha,
    )
    scored = uni.join(
        docs.select(F.col(id_col), F.col(lang_col).alias("lang")), id_col
    )
    hist = scored.groupBy("lang", "avg_logprob_micro").agg(
        F.count(F.lit(1)).alias("nd"),
        F.sum("n_tokens").alias("tk"),
    )
    w_cum = (
        Window.partitionBy("lang")
        .orderBy("avg_logprob_micro")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("lang").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = hist.select(
        "lang",
        "avg_logprob_micro",
        "nd",
        "tk",
        F.sum("nd").over(w_cum).alias("cum"),
        F.sum("nd").over(w_all).alias("n"),
    )
    # The tercile thresholds are WINDOW aggregates over the same
    # per-lang partitioning the cumulative sum already established —
    # not a groupBy + broadcast-join back (the r13 shape), which made
    # `cum` a two-consumer subtree and re-ran the whole scoring pass a
    # second time (r14 plan audit: 58 Exchanges -> one linear chain).
    # Same min-over-qualifying-rows semantics, so buckets are
    # bit-identical.
    bucketed = cum.select(
        "lang",
        "nd",
        "tk",
        "avg_logprob_micro",
        F.min(
            F.when(
                F.col("cum") >= F.expr("(n + 2) DIV 3"),
                F.col("avg_logprob_micro"),
            )
        ).over(w_all).alias("t1"),
        F.min(
            F.when(
                F.col("cum") >= F.expr("(2 * n + 2) DIV 3"),
                F.col("avg_logprob_micro"),
            )
        ).over(w_all).alias("t2"),
    ).select(
        "lang",
        F.when(F.col("avg_logprob_micro") <= F.col("t1"), "tail")
        .when(F.col("avg_logprob_micro") <= F.col("t2"), "middle")
        .otherwise("head")
        .alias("bucket"),
        "nd",
        "tk",
        "avg_logprob_micro",
    )
    return bucketed.groupBy("lang", "bucket").agg(
        F.sum("nd").cast("int").alias("n_docs"),
        F.sum("tk").cast("bigint").alias("total_tokens"),
        F.sum(F.col("avg_logprob_micro") * F.col("nd"))
        .cast("bigint")
        .alias("sum_logprob_micro"),
        F.min("avg_logprob_micro").alias("min_score_micro"),
        F.max("avg_logprob_micro").alias("max_score_micro"),
    )


def dsir_weights(
    raw: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 1 << 15,
    alpha: float = 1.0,
) -> DataFrame:
    """Hashed n-gram importance weights for data selection (public
    method: DSIR — Xie et al. 2023, "Data Selection for Language
    Models via Importance Resampling"): per raw document the log
    importance ratio of a TARGET distribution (the data you want more
    of — curated reference text) over the RAW distribution it is
    drawn from, estimated over hashed bag-of-words features::

        log w(x) = sum_b tf_b(x) * (log p_target(b) - log p_raw(b))

    with add-``alpha`` smoothing on both class-conditional bucket
    distributions. The math is :func:`~.classify.train_log_odds`'s
    class-conditional core with (target, raw) as the two classes and
    no document prior — reusing the same hashed feature space
    (``classify.token_buckets``), so the two tiers share bucket ids
    and the same oracle-reproducibility story.

    Output: ``(id, n_tokens, log_weight_micro)`` for every raw document
    (zero-token docs carry log_weight 0 — no evidence, unit ratio).

    Scale shape: identical to classifier training — two bounded
    per-bucket count aggregations (<= ``n_buckets`` rows each, full
    outer joined: a bucket seen only in target still reweights raw
    docs... which cannot contain it; a bucket seen only in raw gets
    the smoothed target floor), a broadcast weight join, one tf
    shuffle. The target corpus is typically MBs of curated text —
    but nothing here requires it to fit anywhere special.
    """
    from .classify import token_buckets

    # Cache choice (re-adjudicated r15 under cold-JVM timing, VERDICT
    # r14 #9): tf_r feeds the raw-side bucket counts AND the scoring
    # join; counts feeds the weight projection AND the broadcast
    # totals — without the persists each consumer re-ran the token
    # explode + hash aggregation from its corpus scan (r14 plan audit:
    # 26 Exchanges in dsir_select's plan). tf_r is (doc, bucket, tf)
    # rows; counts is <= n_buckets rows. OPTIMIZATION_r15.md has the
    # A/B that kept both persists.
    tf_r = persist(token_buckets(
        raw, text_col=text_col, id_col=id_col, n_buckets=n_buckets
    ))
    tf_t = token_buckets(target, text_col=text_col, id_col=id_col, n_buckets=n_buckets)
    ct = tf_t.groupBy("bucket").agg(F.sum("tf").alias("ct"))
    cr = tf_r.groupBy("bucket").agg(F.sum("tf").alias("cr"))
    counts = persist(ct.join(cr, "bucket", "full_outer").select(
        "bucket",
        F.coalesce(F.col("ct"), F.lit(0)).alias("ct"),
        F.coalesce(F.col("cr"), F.lit(0)).alias("cr"),
    ))
    totals = counts.agg(F.sum("ct").alias("tot_t"), F.sum("cr").alias("tot_r"))
    aB = alpha * n_buckets
    w = F.round(
        F.log((F.col("ct") + alpha) / (F.col("tot_t") + aB))
        - F.log((F.col("cr") + alpha) / (F.col("tot_r") + aB)),
        9,
    )
    weights = counts.crossJoin(F.broadcast(totals)).select(
        "bucket", w.alias("weight")
    )
    # DECIMAL accumulation over the 1e-9-grid weights: exact,
    # order-independent per-doc sums (see classify.score_log_odds —
    # a double sum flips 6th-digit roundings run-to-run at scale;
    # widths keep the product under Spark's 38-digit cap so its
    # precision-loss scale reduction never fires).
    scored = (
        tf_r.join(F.broadcast(weights), "bucket")
        .groupBy(id_col)
        .agg(
            F.sum("tf").cast("int").alias("n_tokens"),
            (
                F.round(
                    F.sum(
                        F.col("tf").cast("decimal(9,0)")
                        * F.col("weight").cast("decimal(12,9)")
                    ),
                    6,
                )
                * 1_000_000
            )
            .cast("long")
            .alias("log_weight_micro"),
        )
    )
    return (
        raw.select(id_col)
        .join(scored, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_tokens"), F.lit(0)).alias("n_tokens"),
            F.coalesce(F.col("log_weight_micro"), F.lit(0).cast("long")).alias(
                "log_weight_micro"
            ),
        )
    )


def dsir_select(
    raw: DataFrame,
    target: DataFrame,
    k: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 1 << 15,
    alpha: float = 1.0,
    salt: str = "dsir",
) -> DataFrame:
    """Importance-RESAMPLE ``k`` raw documents toward the target
    distribution: Gumbel-top-k over :func:`dsir_weights` — adding
    standard Gumbel noise to each log weight and taking the k largest
    keys draws a sample WITHOUT replacement with probability
    proportional to the importance weights (the Gumbel-max trick,
    public result), which is exactly DSIR's resampling step. The
    noise is the house deterministic md5 draw (``g = -ln(-ln(u))``,
    ``u`` from salt|doc_id), so the selection is rerun-stable,
    resample-able by salt, and oracle-reproducible.

    Output: the selected ``(id, n_tokens, log_weight_micro, sample_key_micro)``
    rows. Top-k is ``orderBy + limit`` — per-partition partial top-k,
    never a global sort; ties (impossible up to md5 collisions) break
    on ``id_col``.
    """
    weighted = dsir_weights(
        raw, target, text_col=text_col, id_col=id_col,
        n_buckets=n_buckets, alpha=alpha,
    )
    u = _hash_unit(salt, F.col(id_col))
    # u in [0, 1): guard the u == 0 endpoint (ln(0)) by the half-step
    # below the smallest representable draw — deterministic, oracle-safe.
    safe_u = F.greatest(u, F.lit(0.5 / float(1 << 28)))
    # integer Gumbel key: both terms are one-step micro roundings, so
    # the subtraction — and therefore the top-k cut — is exact integer
    # arithmetic on both engines.
    key = F.col("log_weight_micro") - micro_units(F.log(-F.log(safe_u)))
    return (
        weighted.withColumn("sample_key_micro", key)
        .orderBy(F.col("sample_key_micro").desc(), F.col(id_col))
        .limit(k)
    )


def diversity_sample(
    docs: DataFrame,
    per_bucket_n: int,
    dim: int = 16,
    bucket_dims: int = 6,
    salt: str = "div-v1",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Diversity-BALANCED sampling: draw up to ``per_bucket_n``
    documents from EACH semantic sign-bucket instead of sampling the
    corpus proportionally — the cluster-balanced selection the
    data-mixing literature uses to keep rare content families
    represented (proportional sampling hands the whole budget to the
    dominant crawl genres; balanced-per-cluster selection caps them).
    Buckets are the DETERMINISTIC sign-LSH cells over the hashed
    embeddings (``vectors.sign_bucket`` of :func:`~.similarity.
    hash_embed` components — no trained centroids, so the draw is
    exactly reproducible in the oracle), and the within-bucket pick is
    the house md5 U[0,1) draw with doc-id tiebreak — rerun-stable,
    resample-able by salt.

    Output: ``(id, div_bucket, draw_micro)`` for the selected docs (join
    back left-semi for the full rows). Only docs with at least one
    token participate (``hash_embed``'s domain); run the sampler
    after the pipeline's empty-doc gates, where zero-token docs are
    already out of the population.

    Scale shape: the embedding is the only corpus-width work; the
    bucket key is a map-side expression over it; the per-bucket rank
    window partitions on 2^``bucket_dims`` cells. Skew note: semantic
    mass is NOT uniform over sign cells — a dominant genre can fill
    one cell; that is the point (it gets capped at ``per_bucket_n``),
    but the window over that hot cell is the operator's cost ceiling —
    raise ``bucket_dims`` to split cells rather than lowering the cap.
    """
    from pyspark.sql import Window

    from ..functions import vectors as VX
    from .similarity import hash_embed

    if per_bucket_n < 1:
        raise ValueError(f"per_bucket_n must be >= 1, got {per_bucket_n}")
    emb = hash_embed(
        docs, dim=dim, text_col=text_col, id_col=id_col, keep_raw=True
    )
    # bucket on the PRE-normalization integer sums (ADVICE r6): a tiny
    # negative component of a huge doc normalizes and rounds to -0.0,
    # which the >= 0 sign test reads as positive — the raw integer sign
    # has no such boundary and matches the oracle for all doc sizes.
    keyed = emb.select(
        id_col,
        VX.sign_bucket(F.col("raw_components"), bucket_dims).alias(
            "div_bucket"
        ),
        micro_units(_hash_unit(salt, F.col(id_col))).alias("draw_micro"),
    )
    w = Window.partitionBy("div_bucket").orderBy("draw_micro", id_col)
    return (
        keyed.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= per_bucket_n)
        .drop("__rn")
    )


def excess_loss_select(
    docs: DataFrame,
    k: int = 200,
    vocab_size: int = 50_000,
    bigram_size: int = 500_000,
    alpha: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Learnability-ordered data selection (the public RHO-loss idea,
    Mindermann et al. 2022, in its cheap-proxy form): score each
    document by its EXCESS log-likelihood under the conditional
    (bigram) model over the context-free (unigram) baseline —
    documents whose tokens are predictable only WITH context are
    structured prose worth training on; docs the unigram model already
    explains (repetitive/boilerplate) and docs neither model explains
    (garbled) both score low. Keep the top ``k``.

    score_micro = bigram avg_logprob_micro - unigram avg_logprob_micro
    — an INTEGER difference of the two scorers' fixed-point outputs,
    so cross-engine equality is inherited from theirs; the cut is
    total-ordered (score desc, doc_id).

    Scale shape: both constituent scorers are broadcast-table passes
    over the token stream (:func:`unigram_logprob` /
    :func:`bigram_logprob` document the V / bigram-table bounds); the
    composition adds one doc-keyed equi-join and an orderBy+limit
    top-k (partial per-partition top-k, never a global sort).

    The two scorers share ONE prepared token stream and ONE
    term-frequency table (r14, guide §1.2): both tokenize with the
    identical lower/trim/split expression and count the identical
    multiset, so the corpus is exploded once and counted once instead
    of once per scorer — values unchanged by construction
    (order-insensitive aggregates over the same rows). Both frames
    persist eagerly here (a lazy persist never populates in time for
    same-job reuse — the r14 interleaved A/B finding)."""
    stream = persist(
        docs.repartition(CPU_PARTITIONS, F.col(id_col)).select(
            F.col(id_col),
            F.posexplode(
                F.split(F.lower(F.trim(F.col(text_col))), " ")
            ).alias("pos", "raw"),
        )
    )
    tf = persist(stream.groupBy("raw").agg(F.count(F.lit(1)).alias("c")))
    tf.count()  # one job populates both caches (tf scans stream)
    uni = unigram_logprob(
        docs, text_col=text_col, id_col=id_col,
        vocab_size=vocab_size, alpha=alpha, stream=stream, tf=tf,
    ).select(
        F.col(id_col),
        "n_tokens",
        F.col("avg_logprob_micro").alias("unigram_lp_micro"),
    )
    bi = bigram_logprob(
        docs, text_col=text_col, id_col=id_col,
        vocab_size=vocab_size, bigram_size=bigram_size, alpha=alpha,
        stream=stream, tf=tf,
    ).select(
        F.col(id_col),
        F.col("avg_logprob_micro").alias("bigram_lp_micro"),
    )
    return (
        uni.join(bi, id_col)
        .withColumn(
            "excess_micro",
            (F.col("bigram_lp_micro") - F.col("unigram_lp_micro")).cast("long"),
        )
        .orderBy(F.col("excess_micro").desc(), F.col(id_col))
        .limit(k)
    )
