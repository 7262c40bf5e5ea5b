"""Corpus retrieval: BM25 ranking over the document table — the
search tier a training-data pipeline uses to EXPLORE its corpus
(inspect what a dedup cluster holds, chase a contamination hit, pull
examples for a classifier's weak label) without shipping the corpus
to an external search system.

Public method: Okapi BM25 (Robertson & Walker / Spärck Jones — the
standard probabilistic ranking function)::

    idf(t)      = ln(1 + (N - df(t) + 0.5) / (df(t) + 0.5))
    score(d, q) = sum over t in q of
                  idf(t) * tf(t,d) * (k1 + 1)
                  / (tf(t,d) + k1 * (1 - b + b * len(d) / avg_len))

Scale shape — the reason this is one cheap pass, not an index build:
  * the token stream is filtered to the QUERY'S terms map-side before
    any aggregation — the shuffled stream is query-hit rows only, a
    vanishing fraction of the corpus;
  * df/N/avg_len are a bounded per-term frame (<= |query| rows,
    broadcast) and a 1-row corpus aggregate (broadcast cross-join);
  * top-k is ``orderBy + limit`` — per-partition partial top-k;
  * per-term contributions round to 9 digits and accumulate as
    DECIMALs (the classifier's determinism rule), so ranking is exact
    and partition-order-independent — ties then break on doc id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.scalars import micro_units

from .dedup import CPU_PARTITIONS


def bm25_search(
    docs: DataFrame,
    query_terms: list[str],
    top_k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-``top_k`` documents by BM25 score for a bag of query terms
    (terms are lowercased; duplicates collapse — BM25 is a bag-of-
    WORDS model over the query too, but repeated query terms add no
    standard benefit and would double-count idf). Output:
    ``(id, score, n_hits)`` descending score, id tiebreak; documents
    matching no term never appear (their score is 0 by definition).
    """
    terms = sorted({t.lower() for t in query_terms if t and t.strip()})
    if not terms:
        raise ValueError("bm25_search needs at least one non-empty query term")
    spark = docs.sparkSession
    qdf = spark.createDataFrame([(t,) for t in terms], "t string")

    toks = docs.repartition(CPU_PARTITIONS, F.col(id_col)).select(
        F.col(id_col),
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("t"),
    ).filter(F.col("t") != "")
    # per-doc length over ALL tokens (BM25 normalizes by full doc
    # length), plus the 1-row corpus aggregates. Cache choice
    # (re-adjudicated r15 under cold-JVM timing, VERDICT r14 #3): lens
    # feeds the corpus aggregate AND the contribution join, tf feeds
    # the idf aggregate AND the contribution join. The r14 "lens+tf"
    # persists never won a cold-JVM round (bm25 row: all four arms
    # within 0.06 s; hybrid row: none 2.00 s mean vs lens+tf 2.21 —
    # the persists were the driver-flagged hybrid regression), so
    # nothing is cached: the re-run explodes are cheap per byte cached,
    # and corpus-SCALE retrieval goes through the persisted inverted
    # index (write_search_index / bm25_probe), not this ad-hoc
    # operator. OPTIMIZATION_r15.md has the A/B table.
    lens = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("len"))
    corpus = lens.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("len").alias("avg_len")
    )
    # query-term hits only from here on — the map-side semi-join is
    # what keeps the aggregation input query-sized, not corpus-sized
    hits = toks.join(F.broadcast(qdf), "t")
    tf = hits.groupBy(id_col, "t").agg(F.count(F.lit(1)).alias("tf"))
    df_t = tf.groupBy("t").agg(F.count(F.lit(1)).alias("df"))
    idf = df_t.crossJoin(F.broadcast(corpus)).select(
        "t",
        F.round(
            F.log(
                1.0
                + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            ),
            9,
        ).alias("idf"),
    )
    contrib = (
        tf.join(lens, id_col)
        .join(F.broadcast(idf), "t")
        .crossJoin(F.broadcast(corpus))
        .select(
            id_col,
            F.round(
                F.col("idf")
                * (F.col("tf") * (k1 + 1.0))
                / (
                    F.col("tf")
                    + k1 * (1.0 - b + b * F.col("len") / F.col("avg_len"))
                ),
                9,
            ).alias("c"),
        )
    )
    return (
        contrib.groupBy(id_col)
        .agg(
            (F.round(F.sum(F.col("c").cast("decimal(12,9)")), 6) * 1_000_000)
            .cast("long")
            .alias("score_micro"),
            F.count(F.lit(1)).cast("int").alias("n_hits"),
        )
        .orderBy(F.col("score_micro").desc(), F.col(id_col))
        .limit(top_k)
    )


def write_search_index(
    docs: DataFrame,
    index_path: str,
    mode: str = "overwrite",
    run_id: str | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    prefix_len: int = 2,
) -> str:
    """Append a batch's INVERTED INDEX rows to the persisted search
    index — the retrieval sibling of the digest/MinHash/IVF indexes
    (same ``ingest_batch=<run_id>/bucket=`` layout, same epoch-
    overwrite replay idempotence): ``postings/`` holds ``(t, doc_id,
    tf, len)`` rows bucketed by the term's md5 prefix (so a probe
    prunes to its query terms' buckets), ``docmeta/`` holds ONE
    ``(n_docs, total_len)`` row per batch — the mergeable corpus
    statistics BM25 needs, folded at probe time instead of rescanned.
    Document length is denormalized onto every posting so probes never
    join a document table. Returns the run_id used.

    Contracts (ADVICE r6): the default write mode is ``overwrite`` —
    scoped to THIS run's ``ingest_batch=<run_id>`` subtree, so a
    retried writer replaces its own partial epoch instead of silently
    appending duplicate postings under the same run_id (the replay-
    idempotence rule the streaming wrappers already followed). And
    ingest batches must be DOC-DISJOINT: the same doc_id landing in two
    batches would split its per-(doc, t) tf across rows (understating
    tf saturation) and double-count it in ``docmeta`` — dedup upstream
    (the digest index) before indexing, exactly as a production ingest
    pipeline orders its stages.
    """
    if run_id is None:
        import uuid

        run_id = f"nightly-{uuid.uuid4().hex[:12]}"
    from .dedup import CPU_PARTITIONS

    toks = docs.repartition(CPU_PARTITIONS, F.col(id_col)).select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("t"),
    ).filter(F.col("t") != "")
    lens = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("len"))
    postings = (
        toks.groupBy("doc_id", "t")
        .agg(F.count(F.lit(1)).alias("tf"))
        .join(lens, "doc_id")
        .withColumn("bucket", F.substring(F.md5("t"), 1, prefix_len))
    )
    (
        postings.repartition("bucket")
        .write.mode(mode)
        .partitionBy("bucket")
        .parquet(f"{index_path}/postings/ingest_batch={run_id}")
    )
    (
        lens.agg(
            F.count(F.lit(1)).alias("n_docs"), F.sum("len").alias("total_len")
        )
        .coalesce(1)
        .write.mode(mode)
        .parquet(f"{index_path}/docmeta/ingest_batch={run_id}")
    )
    return run_id


def bm25_probe(
    spark,
    index_path: str,
    query_terms: list[str],
    top_k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
    prefix_len: int = 2,
    exclude_run_id: str | None = None,
) -> DataFrame:
    """BM25 top-k against the PERSISTED index — same output contract
    (and, by construction, exactly the same scores: identical idf/tf/
    length math on identical rounded grids) as running
    :func:`bm25_search` over every indexed document, without touching
    document text: the probe reads ONLY the query terms' ``bucket=``
    directories (partition pruning — the same contract as the minhash
    probe), semi-joins the broadcast term list, computes df from the
    matched postings and N/avg_len from the folded ``docmeta`` rows
    (batch-count metadata, never a corpus scan). ``exclude_run_id``
    prunes one ``ingest_batch=`` subtree (replaying writers exclude
    their own epoch — the house replay-idempotence rule). An absent
    index raises: probing before any batch landed is a configuration
    error, as for the tokenizer/model stores.

    Equality with :func:`bm25_search` PRESUPPOSES doc-disjoint ingest
    batches (see ``write_search_index``): a doc_id present in two
    batches splits its tf rows and inflates df/n_hits — the write path
    documents the upstream-dedup ordering that guarantees this.
    """
    from pyspark.errors import AnalysisException

    terms = sorted({t.lower() for t in query_terms if t and t.strip()})
    if not terms:
        raise ValueError("bm25_probe needs at least one non-empty query term")
    from .hygiene import read_index_resolved

    try:
        # resolved read: this probe folds tf/df/N by SUM, so a
        # compaction-crash survivor batch must be excluded, not
        # tolerated (hygiene.superseded_batches has the protocol)
        postings = read_index_resolved(spark, f"{index_path}/postings")
        docmeta = read_index_resolved(spark, f"{index_path}/docmeta")
    except AnalysisException:
        raise ValueError(
            f"no search index at {index_path!r}; write one with "
            "write_search_index before probing"
        ) from None
    if exclude_run_id is not None:
        postings = postings.filter(F.col("ingest_batch") != exclude_run_id)
        docmeta = docmeta.filter(F.col("ingest_batch") != exclude_run_id)
    import hashlib

    buckets = sorted(
        {hashlib.md5(t.encode()).hexdigest()[:prefix_len] for t in terms}
    )
    qdf = spark.createDataFrame([(t,) for t in terms], "t string")
    hits = postings.filter(F.col("bucket").isin(buckets)).join(
        F.broadcast(qdf), "t"
    )
    corpus = docmeta.agg(
        F.sum("n_docs").alias("n_docs"),
        (F.sum("total_len") / F.sum("n_docs")).alias("avg_len"),
    )
    df_t = hits.groupBy("t").agg(F.count(F.lit(1)).alias("df"))
    idf = df_t.crossJoin(F.broadcast(corpus)).select(
        "t",
        F.round(
            F.log(
                1.0
                + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            ),
            9,
        ).alias("idf"),
    )
    contrib = hits.join(F.broadcast(idf), "t").crossJoin(F.broadcast(corpus)).select(
        "doc_id",
        F.round(
            F.col("idf")
            * (F.col("tf") * (k1 + 1.0))
            / (
                F.col("tf")
                + k1 * (1.0 - b + b * F.col("len") / F.col("avg_len"))
            ),
            9,
        ).alias("c"),
    )
    return (
        contrib.groupBy("doc_id")
        .agg(
            (F.round(F.sum(F.col("c").cast("decimal(12,9)")), 6) * 1_000_000)
            .cast("long")
            .alias("score_micro"),
            F.count(F.lit(1)).cast("int").alias("n_hits"),
        )
        .orderBy(F.col("score_micro").desc(), F.col("doc_id"))
        .limit(top_k)
    )


def write_positional_index(
    docs: DataFrame,
    index_path: str,
    mode: str = "append",
    run_id: str | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    prefix_len: int = 2,
) -> str:
    """Positional variant of :func:`write_search_index`: postings carry
    the term's POSITION LIST (``positions array<int>``) so the index
    answers PHRASE queries (:func:`phrase_probe`) without re-reading
    text — the standard positional-postings tradeoff (~2-3x index
    bytes for adjacency evidence). Same ``ingest_batch=/bucket=``
    layout, replay idempotence, and compaction interop as the
    tf-only index; keep the two variants at separate paths (their
    schemas differ)."""
    if run_id is None:
        import uuid

        run_id = f"nightly-{uuid.uuid4().hex[:12]}"
    from .dedup import CPU_PARTITIONS

    toks = docs.repartition(CPU_PARTITIONS, F.col(id_col)).select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(
            F.filter(
                F.split(F.lower(F.trim(F.col(text_col))), r"\s+"),
                lambda x: x != "",
            )
        ).alias("pos", "t"),
    )
    postings = (
        toks.groupBy("doc_id", "t")
        .agg(F.sort_array(F.collect_list("pos")).alias("positions"))
        .withColumn("bucket", F.substring(F.md5("t"), 1, prefix_len))
    )
    (
        postings.repartition("bucket")
        .write.mode(mode)
        .partitionBy("bucket")
        .parquet(f"{index_path}/postings/ingest_batch={run_id}")
    )
    return run_id


def phrase_probe(
    spark,
    index_path: str,
    phrase: list[str],
    prefix_len: int = 2,
    exclude_run_id: str | None = None,
) -> DataFrame:
    """Exact phrase matching against a :func:`write_positional_index`:
    ``(doc_id, n_occurrences)`` for every document containing the
    phrase's terms at CONSECUTIVE positions. The probe reads only the
    phrase terms' ``bucket=`` directories (partition pruning), then
    chains k-1 adjacency joins on ``(doc_id, position)`` — each join
    carries (long, int) rows for ONE term's occurrences, so the cost
    is occurrence-bounded, never corpus-bounded. Single-term phrases
    degenerate to occurrence counts.
    """
    from pyspark.errors import AnalysisException

    terms = [t.lower() for t in phrase if t and t.strip()]
    if not terms:
        raise ValueError("phrase_probe needs at least one non-empty term")
    from .hygiene import read_index_resolved

    try:
        # resolved read: duplicate position rows would double
        # occurrence counts, so compaction-crash survivors are
        # excluded here exactly as in bm25_probe
        postings = read_index_resolved(spark, f"{index_path}/postings")
    except AnalysisException:
        raise ValueError(
            f"no positional index at {index_path!r}; write one with "
            "write_positional_index before probing"
        ) from None
    if "positions" not in postings.columns:
        raise ValueError(
            f"index at {index_path!r} has no positions column — phrase "
            "queries need write_positional_index, not write_search_index"
        )
    if exclude_run_id is not None:
        postings = postings.filter(F.col("ingest_batch") != exclude_run_id)
    import hashlib

    buckets = sorted(
        {hashlib.md5(t.encode()).hexdigest()[:prefix_len] for t in terms}
    )
    pruned = postings.filter(F.col("bucket").isin(buckets))

    def occurrences(term: str, out_pos: str):
        return pruned.filter(F.col("t") == term).select(
            "doc_id", F.explode("positions").alias(out_pos)
        )

    # anchor on the FIRST term's occurrences; each subsequent term
    # must appear exactly one position later
    cur = occurrences(terms[0], "p")
    for i, t in enumerate(terms[1:], start=1):
        nxt = occurrences(t, "q").withColumn("p", F.col("q") - i).drop("q")
        cur = cur.join(nxt, ["doc_id", "p"])
    return (
        cur.groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("int").alias("n_occurrences"))
        .orderBy("doc_id")
    )


def hybrid_search(
    docs: DataFrame,
    query_terms: list[str],
    top_k: int = 20,
    channel_n: int = 100,
    rrf_k: int = 60,
    dim: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Hybrid retrieval: the lexical channel (:func:`bm25_search`) and
    a dense channel (cosine against the query's signed-feature-hashing
    embedding, ``similarity.hash_embed``'s space) fused by RECIPROCAL
    RANK FUSION (public method, Cormack et al. 2009)::

        rrf(d) = sum over channels of 1 / (rrf_k + rank_channel(d))

    — the standard score-free fusion that needs no cross-channel score
    calibration, which is exactly why BM25+dense stacks use it. Output:
    ``(id, rrf_score_nano, bm25_rank, dense_rank)`` top-``top_k`` by fused
    score (doc-id tiebreak); a doc absent from a channel contributes
    nothing for it.

    Scale shape: each channel takes its top-``channel_n`` via
    ``orderBy + limit`` (partial per-partition top-k — never a global
    sort), and ONLY the <= 2*channel_n fused candidates enter the
    rank windows and the outer join — bounded by construction. The
    dense channel is one broadcast-literal dot product over the
    corpus (the query embedding is computed driver-side from the
    query terms alone — md5 arithmetic, no data access).
    """
    from pyspark.sql import Window

    from .similarity import hash_embed

    terms = [t.lower() for t in query_terms if t and t.strip()]
    if not terms:
        raise ValueError("hybrid_search needs at least one non-empty query term")
    # query embedding: same signed-hashing math as hash_embed, computed
    # driver-side over the query's own tokens
    import hashlib
    import math

    comp = [0] * dim
    for t in terms:
        for j in range(dim):
            h = int(hashlib.md5(f"{t}|{j}".encode()).hexdigest()[:7], 16)
            comp[j] += 1 if h % 2 == 1 else -1
    nrm = math.sqrt(sum(c * c for c in comp))
    if nrm == 0:
        qv = [0.0] * dim
    else:
        qv = [round(c / nrm, 6) for c in comp]

    bm = bm25_search(
        docs, terms, top_k=channel_n, text_col=text_col, id_col=id_col
    ).select(id_col, F.col("score_micro").alias("bm_score"))
    w_bm = Window.orderBy(F.col("bm_score").desc(), F.col(id_col))
    bm_ranked = bm.select(
        id_col, F.row_number().over(w_bm).alias("bm25_rank")
    )

    emb = hash_embed(docs, dim=dim, text_col=text_col, id_col=id_col)
    qcol = F.array(*[F.lit(x) for x in qv])
    cos = micro_units(
        F.aggregate(
            F.zip_with(F.col("embedding"), qcol, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    dense = (
        emb.select(id_col, cos.alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(channel_n)
    )
    w_d = Window.orderBy(F.col("cosine").desc(), F.col(id_col))
    dense_ranked = dense.select(
        id_col, F.row_number().over(w_d).alias("dense_rank")
    )

    fused = bm_ranked.join(dense_ranked, id_col, "full_outer").select(
        id_col,
        "bm25_rank",
        "dense_rank",
        F.round(
            (
                F.coalesce(1.0 / (rrf_k + F.col("bm25_rank")), F.lit(0.0))
                + F.coalesce(1.0 / (rrf_k + F.col("dense_rank")), F.lit(0.0))
            )
            * F.lit(1_000_000_000)
        )
        .cast("long")
        .alias("rrf_score_nano"),
    )
    return (
        fused.orderBy(F.col("rrf_score_nano").desc(), F.col(id_col))
        .limit(top_k)
        .select(id_col, "rrf_score_nano", "bm25_rank", "dense_rank")
    )
