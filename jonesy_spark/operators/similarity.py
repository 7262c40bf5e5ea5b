"""Similarity search over embedding columns (``array<float>``).

Two tiers, per SURVEY.md §7 Phase 5:
  * brute-force cosine top-k — exact baseline; the query side is tiny
    and broadcast, so the corpus is scanned once, map-only, then a
    rank-within-query window picks k. Linear in corpus size; this IS
    the right plan up to ~10^7×10^2 pairs.
  * sign-bucketed (IVF/LSH-style) top-k — the scale path: both sides
    bucket on deterministic coordinate signs, equi-join on the bucket
    key, search within buckets. Recall < 1.0 by construction;
    multi-probe (flipping low-confidence bits) raises it without
    changing the plan shape.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..caching import persist
from ..functions import vectors as VX
from ..functions.scalars import micro_units
from .dedup import CPU_PARTITIONS, _eval_once, _micro_threshold


def _prepared(emb: DataFrame) -> DataFrame:
    # Explicit repartition to dedup.CPU_PARTITIONS (2 x the core
    # budget): embedding folds are CPU-heavy but byte-light, so AQE's
    # size-based coalescing would serialize them otherwise. Not more:
    # every Sort-based task downstream (pq_encode's SortAggregate, the
    # re-rank's WindowGroupLimit) takes one 64 MB memory page whatever
    # its row count, so execution memory grows with the partition
    # count, not the data (64 partitions: 4.2 GB for 2,000 vectors).
    v = VX.as_double(F.col("embedding"))
    return emb.repartition(CPU_PARTITIONS).select(
        F.col("vec_id"), v.alias("v"), VX.norm(v).alias("nrm"), F.col("label")
    )


def cosine_topk(
    emb: DataFrame,
    query_ids: list[int] | None = None,
    k: int = 10,
    n_queries: int = 10,
) -> DataFrame:
    """Exact brute-force cosine top-k for each query vector.

    Queries (vec_id < n_queries by default) are broadcast; ranking uses
    the rounded cosine with vec_id tiebreak so top-k is total-ordered
    and deterministic across engines.
    """
    e = _prepared(emb)
    # the limit after each filter is a semantic no-op (vec_id is
    # unique, so the filter already yields at most that many rows) but
    # plants the structural boundedness proof the plan audit's BNLJ
    # rule checks — the broadcast side is bounded BY THE PLAN, not by
    # a data property a regression could silently change
    if query_ids is not None:
        q = e.filter(F.col("vec_id").isin(query_ids)).limit(len(query_ids))
    else:
        # the lower bound makes the no-op PROVABLE: without it, any
        # negative vec_ids would let more than n_queries rows through
        # the filter and the unordered limit would drop query rows
        # nondeterministically
        q = e.filter(
            (F.col("vec_id") >= 0) & (F.col("vec_id") < n_queries)
        ).limit(n_queries)
    q = q.select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), F.col("nrm").alias("qn")
    )
    scored = (
        e.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .withColumn(
            "cosine_micro",
            micro_units(
                VX.dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nrm"))
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_micro").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine_micro", "rank")
    )


def bucketed_topk(
    emb: DataFrame,
    k: int = 5,
    n_queries: int = 10,
    n_bucket_dims: int = 6,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's sign
    bucket (2^n_bucket_dims IVF-style cells), then exact rank within.

    The bucket equi-join replaces the broadcast cross product — at
    100 TB this is the difference between scanning the corpus per query
    and a hash join keyed on 2^k cells.
    """
    e = _prepared(emb).withColumn("bucket", VX.sign_bucket(F.col("v"), n_bucket_dims))
    q = (
        e.filter(F.col("vec_id") < n_queries)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.col("nrm").alias("qn"),
            F.col("bucket").alias("qbucket"),
        )
    )
    scored = (
        e.join(
            F.broadcast(q),
            (F.col("bucket") == F.col("qbucket"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .withColumn(
            "cosine_micro",
            micro_units(
                VX.dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nrm"))
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_micro").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine_micro", "rank")
    )


def ivf_assignments(
    e: DataFrame,
    n_centroids: int = 16,
    probes: int = 3,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF cell assignments: (vec_id, cid) rows mapping each vector to
    its ``probes`` nearest centroid directions.

    Centroid source: by default the first ``n_centroids`` vec_ids —
    seedless and reproducible in the DuckDB oracle; pass ``centroids``
    (``(cid, cv, cnrm)`` rows, e.g. from :func:`kmeans_centroids`) to
    plug trained cells into the same plan shape.

    Fully map-side: centroids collapse to ONE array row (collect_list
    agg), broadcast-cross-joined, and each vector ranks the K cells
    inside a sorted-array expression — no window, no shuffle. At scale
    K grows ~sqrt(n) and the broadcast stays MB-sized.
    """
    cent_rows = (
        centroids
        if centroids is not None
        else e.filter(F.col("vec_id") < n_centroids).select(
            F.col("vec_id").alias("cid"),
            F.col("v").alias("cv"),
            F.col("nrm").alias("cnrm"),
        )
    )
    cents = cent_rows.select(
        F.struct(F.col("cid"), F.col("cv"), F.col("cnrm")).alias("c")
    ).agg(F.sort_array(F.collect_list("c")).alias("cents"))
    # struct(-cos, cid) sorted ascending == cosine desc with cid
    # tiebreak; rounding first makes the order engine-portable.
    scored = F.transform(
        F.col("cents"),
        lambda c: F.struct(
            (
                -micro_units(
                    VX.dot(F.col("v"), c["cv"]) / (F.col("nrm") * c["cnrm"])
                )
            ).alias("ncos"),
            c["cid"].alias("cid"),
        ),
    )
    return (
        e.crossJoin(F.broadcast(cents))
        .select(
            "vec_id",
            F.explode(F.slice(F.array_sort(scored), 1, probes)).alias("s"),
        )
        .select("vec_id", F.col("s.cid").alias("cid"))
    )


def adaptive_centroids(n: int) -> int:
    """Centroid count for an n-vector corpus: sqrt(n) rounded UP to a
    power of two (2^(floor(log2(n)/2)+1)), floored at 16.

    K ~ sqrt(n) keeps expected candidate volume ~ probes^2 * n^1.5 / 2
    (cells hold ~probes*n/K vectors each) instead of n^2/K under any
    fixed K — this is the knob that makes the IVF block survive a 100x
    corpus. Must stay a pure function of count(n) so the DuckDB oracle
    reproduces it exactly."""
    import math

    return max(16, 2 ** (int(math.floor(math.log2(n) / 2)) + 1))


def kmeans_centroids(
    emb: DataFrame,
    k: int,
    seed: int = 13,
    max_iter: int = 8,
) -> DataFrame:
    """Trained IVF centroid table ``(cid, cv, cnrm)`` via MLlib KMeans
    over the embedding column — the production-quality cell source for
    :func:`ivf_assignments` (tighter cells than the seedless first-K
    default => better recall at the same probe count; NOT cross-engine
    deterministic, so it stays out of the oracle-checked surface).

    Training is Spark-distributed (k-means||); only the K centers — a
    K x dim float table — come to the driver, then ship back through
    Arrow (MB-sized at any corpus scale, same budget as the broadcast)."""
    import pandas as pd
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    data = emb.select(
        array_to_vector(VX.as_double(F.col("embedding"))).alias("features")
    )
    model = KMeans(k=k, seed=seed, maxIter=max_iter).fit(data)
    spark = emb.sparkSession
    rows = [
        (i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
    ]
    cents = spark.createDataFrame(
        pd.DataFrame(rows, columns=["cid", "cv"]), "cid bigint, cv array<double>"
    )
    return cents.select("cid", "cv", VX.norm(F.col("cv")).alias("cnrm"))


def embedding_near_dup(
    emb: DataFrame,
    threshold: float = 0.3,
    n_centroids: int | None = None,
    probes: int = 4,
    centroids: DataFrame | None = None,
    n_docs: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, blocked by deterministic
    IVF cells with multi-probe.

    Candidates are pairs sharing >= 1 of their ``probes`` nearest
    centroid cells — an equi-join on cid whose cell count grows with the
    corpus (K ~ sqrt(n) via :func:`adaptive_centroids` when
    ``n_centroids`` is None), replacing the former fixed-cardinality
    `label` block (measured on the sf0.01 fixture: label blocking found
    11% of true >= 0.3 pairs even in the near-isotropic worst case, and
    recall rises toward 1 in the high-cosine regime real near-dups live
    in). Verification re-attaches vectors via keyed joins (no forced
    broadcast) and checks the exact rounded cosine.

    ``n_docs`` lets a pipeline that already knows the corpus size (its
    catalog stats, a prior stage's count) skip the one extra Spark job
    the K ~ sqrt(n) default otherwise runs; it is only consulted when
    neither ``centroids`` nor ``n_centroids`` pins K explicitly.
    """
    # Cache choice, re-adjudicated r15 under the driver's cold-JVM
    # methodology (VERDICT r14 #2): the r14 "e+assign" default also
    # persisted the prepared vector frame — a corpus-wide double-array
    # frame, exactly the memory-heavy / compute-light shape the
    # quantized-store A/B rejected (the repeated subtree is a scan +
    # cast + norm, cheap per byte cached), and the row regressed in
    # both driver windows. Only the assignments are cached now;
    # OPTIMIZATION_r15.md has the cold-JVM A/B numbers.
    e = _prepared(emb)
    if centroids is None and n_centroids is None:
        n_centroids = adaptive_centroids(
            n_docs if n_docs is not None else emb.count()
        )
    # The assignment subtree (K x n centroid scoring + top-probe
    # selection) feeds both self-join sides; persist it so it runs once
    # (measured 5.7 -> 3.9 s at sf0.1, same-session min-of-3). Rows are
    # (vec_id, cid) x probes — narrow at any corpus size.
    assign = persist(
        ivf_assignments(e, n_centroids or 0, probes, centroids=centroids)
    )
    a, b = assign.alias("a"), assign.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.cid") == F.col("b.cid"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
        )
        .dropDuplicates(["vec_a", "vec_b"])
    )
    va = e.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("va"), F.col("nrm").alias("na"))
    vb = e.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb"))
    return (
        candidates.join(va, "vec_a")
        .join(vb, "vec_b")
        .select(
            "vec_a",
            "vec_b",
            _eval_once(
                micro_units(
                    VX.dot(F.col("va"), F.col("vb"))
                    / (F.col("na") * F.col("nb"))
                )
            ).alias("cosine_micro"),
        )
        .filter(F.col("cosine_micro") >= _micro_threshold(threshold))
    )


def semantic_dedup(
    emb: DataFrame,
    threshold: float = 0.3,
    n_bucket_dims: int = 6,
) -> DataFrame:
    """SemDeDup-style semantic pruning (Abbas et al. 2023, arXiv
    2303.09540): partition the embedding space into cells, and within
    each cell prune every vector that has a semantic duplicate with a
    smaller id — one row per vector, ``(vec_id, cell, is_pruned,
    pruned_by)`` with ``pruned_by = -1`` for survivors (the min
    matching id otherwise, so the decision is a deterministic pure
    function of the corpus).

    The paper clusters with k-means and prunes within-cluster pairs
    above a cosine threshold; here the cells are the deterministic
    sign buckets (:func:`functions.vectors.sign_bucket`) so the DuckDB
    oracle reproduces the frame bit-for-bit — the k-means-cell variant
    at scale is the IVF machinery next door (``ivf_assignments`` with
    trained centroids, pytest-pinned because centroid training is
    iterative). Scale shape: a cell-blocked self-join
    (equi-join on the cell key, never all-pairs — same plan family as
    ``bucketed_topk``) followed by a min-aggregate and a left join
    back to the corpus; raise ``n_bucket_dims`` with the corpus so
    per-cell populations stay bounded (2^d cells).
    """
    e = persist(
        _prepared(emb).withColumn("cell", VX.sign_bucket(F.col("v"), n_bucket_dims))
    )
    a = e.select("vec_id", "cell", F.col("v").alias("va"), F.col("nrm").alias("na"))
    b = e.select(
        F.col("vec_id").alias("vec_b"),
        F.col("cell").alias("cell_b"),
        F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    hits = (
        a.join(
            b,
            (F.col("cell") == F.col("cell_b"))
            & (F.col("vec_b") < F.col("vec_id")),
        )
        .select(
            "vec_id",
            "vec_b",
            micro_units(
                VX.dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
            ).alias("cosine_micro"),
        )
        .filter(F.col("cosine_micro") >= _micro_threshold(threshold))
        .groupBy("vec_id")
        .agg(F.min("vec_b").alias("hit_by"))
    )
    return (
        e.select("vec_id", "cell")
        .join(hits, "vec_id", "left")
        .select(
            "vec_id",
            "cell",
            F.col("hit_by").isNotNull().alias("is_pruned"),
            F.coalesce(F.col("hit_by"), F.lit(-1))
            .cast("long")
            .alias("pruned_by"),
        )
    )


def quantize_embeddings(emb: DataFrame) -> DataFrame:
    """The int8 storage tier of the vector store: ``(vec_id, qv
    struct<q: array<tinyint>, scale: float>, label)`` — 4x smaller than
    float32 on disk and in shuffle. Candidate generation reads ONLY
    this; exact verification joins the float originals back for the
    survivors (``quantized_topk``), so quantization error can demote a
    borderline candidate but never distort a reported score."""
    return emb.select(
        "vec_id",
        VX.quantize_int8(F.col("embedding")).alias("qv"),
        "label",
    )


def quantized_topk(
    emb: DataFrame,
    k: int = 10,
    n_queries: int = 10,
    overfetch: int = 3,
    rerank: bool = True,
    store: DataFrame | None = None,
) -> DataFrame:
    """Brute-force top-k whose SCAN side is the int8 store: score the
    dequantized vectors, keep ``overfetch * k`` candidates per query,
    then (by default) re-rank exactly on the float originals — the
    standard quantized-ANN shape: cheap wide scan, exact narrow tail.

    At 100 TB the scan is the cost; reading tinyint arrays quarters
    the bytes moved while the exact re-rank touches only
    ``n_queries * overfetch * k`` rows. Output schema matches
    :func:`cosine_topk` so :func:`ann_recall` compares them directly.

    ``store`` is the persisted-store path (VERDICT r13 #6): pass a
    precomputed ``(vec_id, qv struct<q, scale>)`` frame to skip live
    quantization — the production shape (quantize at ingest, scan the
    store), and what lets the fixture-frozen driver row remove the
    round(x/scale) half-integer boundary from the cross-engine
    surface.
    """
    if store is None:
        store = quantize_embeddings(emb)
    # CPU_PARTITIONS, not a literal: the dot-product scan is the
    # CPU-dense stage this floor exists for (r14 — scale-parameterized
    # with the rest of the forced-parallelism sites)
    store = store.repartition(CPU_PARTITIONS)
    dq = VX.dequantize_int8(F.col("qv"))
    e = store.select("vec_id", dq.alias("v")).withColumn("nrm", VX.norm(F.col("v")))
    # limit = structural boundedness proof for the plan audit's BNLJ
    # rule; the >= 0 bound makes the no-op provable for any unique
    # vec_ids, not just non-negative ones (see cosine_topk)
    q = e.filter(
        (F.col("vec_id") >= 0) & (F.col("vec_id") < n_queries)
    ).limit(n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv_vec"),
        F.col("nrm").alias("qn"),
    )
    scored = e.join(F.broadcast(q), F.col("vec_id") != F.col("query_id")).withColumn(
        "cosine_micro",
        micro_units(
            VX.dot(F.col("qv_vec"), F.col("v")) / (F.col("qn") * F.col("nrm"))
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_micro").desc(), F.col("vec_id")
    )
    cand = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= (overfetch * k if rerank else k))
        .select("query_id", "vec_id", "cosine_micro", "rank")
    )
    if not rerank:
        return cand
    # exact tail: float originals for candidates only. The candidate
    # set (n_queries * overfetch * k rows) broadcasts against the
    # corpus-sized float table, so the re-rank is a map-side semi-scan,
    # never a corpus shuffle.
    fl = emb.select("vec_id", VX.as_double(F.col("embedding")).alias("fv"))
    fl = fl.withColumn("fn", VX.norm(F.col("fv")))
    qf = fl.withColumnsRenamed({"vec_id": "query_id", "fv": "qfv", "fn": "qfn"})
    exact = (
        fl.join(F.broadcast(cand.select("query_id", "vec_id")), "vec_id")
        .join(F.broadcast(qf.filter(F.col("query_id") < n_queries)), "query_id")
        .withColumn(
            "cosine_micro",
            micro_units(
                VX.dot(F.col("qfv"), F.col("fv")) / (F.col("qfn") * F.col("fn"))
            ),
        )
    )
    return (
        exact.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine_micro", "rank")
    )


def pq_codebooks(
    emb: DataFrame,
    m: int = 8,
    k: int = 16,
    seed: int = 13,
    max_iter: int = 8,
    n_train: int = 4096,
    prepared: DataFrame | None = None,
) -> DataFrame:
    """Product-quantization codebooks (Jégou et al. 2011, public
    method — the IVF-PQ half every billion-scale vector store runs):
    the UNIT-normalized embedding splits into ``m`` contiguous
    subspaces and each trains its own ``k``-center Lloyd k-means ON A
    DETERMINISTIC SAMPLE — the faiss convention: codebook QUALITY is
    bounded by the sample's coverage of the distribution, not its
    size, so training collects at most ``n_train`` vectors (md5-order
    draw; 4096 x dim doubles = single-digit MB at any corpus scale —
    the same bounded-driver budget as the BPE pages and IVF
    centroids) and iterates in numpy on the driver. An MLlib fit per
    subspace would schedule ``m`` distributed iterative jobs whose
    fixed overhead dwarfs the math at ANY scale — measured 8x the
    whole query's cost at sf0.1.

    Returns ``(sub, code, sv array<double>)`` — ``m * k`` rows, a
    codebook that broadcasts anywhere. Seeded and deterministic GIVEN
    the engine (numpy argmin tie-break), but not a cross-engine
    contract — PQ stays on the pytest-pinned surface with
    :func:`quantized_topk`, never the oracle-checked one."""
    import numpy as np
    import pandas as pd

    # `prepared` lets pq_topk share ONE persisted _prepared frame
    # across codebook training, encoding, the query side and the
    # re-rank (r14: each used to re-run the scan + as_double + norm)
    unit = (prepared if prepared is not None else _prepared(emb)).select(
        "vec_id",
        F.transform(F.col("v"), lambda x: x / F.col("nrm")).alias("u"),
    )
    # deterministic md5-order sample, bounded collect (<= n_train rows)
    sample = (
        unit.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(n_train)
        .collect()
    )
    if not sample:
        raise ValueError(
            "pq_codebooks needs a non-empty embeddings frame to train on"
        )
    X = np.array([r["u"] for r in sample], dtype=np.float64)
    dim = X.shape[1]
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    d = dim // m
    if len(X) < k:
        raise ValueError(
            f"pq_codebooks needs >= k={k} training vectors, got {len(X)}"
        )
    rows = []
    for j in range(m):
        Xj = np.ascontiguousarray(X[:, j * d : (j + 1) * d])
        rng = np.random.RandomState(
            (seed + j * 1_000_003) % (2**31 - 1)
        )
        # k-means++ init, then Lloyd; empty clusters reseed to the
        # farthest point so every code word stays live
        centers = Xj[rng.choice(len(Xj), 1)]
        for _ in range(k - 1):
            d2 = ((Xj[:, None, :] - centers[None, :, :]) ** 2).sum(-1).min(1)
            p = d2 / d2.sum() if d2.sum() > 0 else None
            centers = np.vstack([centers, Xj[rng.choice(len(Xj), p=p)]])
        for _ in range(max_iter):
            d2 = ((Xj[:, None, :] - centers[None, :, :]) ** 2).sum(-1)
            assign = d2.argmin(1)
            for c in range(k):
                members = Xj[assign == c]
                if len(members):
                    centers[c] = members.mean(0)
                else:
                    centers[c] = Xj[d2.min(1).argmax()]
        rows.extend(
            (j, c, [float(x) for x in centers[c]]) for c in range(k)
        )
    # through Arrow, not a Python list: every action over the codebook
    # (pq_encode's max(sub), the broadcasts) pays for the list form — a
    # warm max(sub) took 0.44-0.64 s from a list, 0.17-0.26 s from
    # pandas (4 cores)
    return emb.sparkSession.createDataFrame(
        pd.DataFrame(rows, columns=["sub", "code", "sv"]),
        "sub int, code int, sv array<double>",
    )


def _pq_m(codebooks: DataFrame) -> int:
    """Subspace count from a codebook frame, raising the house
    ValueError on an empty one — max('sub') is NULL there, and
    ``None + 1`` would surface as the opaque NoneType TypeError the
    empty-frame guards exist to prevent."""
    top = codebooks.select(F.max("sub")).first()[0]
    if top is None:
        raise ValueError(
            "empty PQ codebooks frame — train one with pq_codebooks "
            "(or read a store that has landed its codebook) first"
        )
    return top + 1


def _subvectors(u: str, m: int, out: str) -> Column:
    """Explode a unit vector column into its ``m`` contiguous
    subvectors ``struct(sub, <out>)``. The subvector length is read off
    each row (``size(u) / m``), so no driver probe of the dimension is
    needed."""
    d = (F.size(u) / m).cast("int")
    return F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(j).cast("int").alias("sub"),
                    F.slice(F.col(u), d * j + 1, d).alias(out),
                )
                for j in range(m)
            ]
        )
    )


def _sq_dist(a: str, b: str) -> Column:
    """Squared L2 distance between two equal-length array columns."""
    return F.aggregate(
        F.zip_with(F.col(a), F.col(b), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, y: acc + y,
    )


def _pq_codes(prep: DataFrame, codebooks: DataFrame, m: int) -> DataFrame:
    """:func:`pq_encode`'s plan over a :func:`_prepared` frame and a
    known subspace count — the form :func:`pq_topk` calls, so an
    encode inside a top-k pass probes nothing on the driver."""
    unit = prep.select(
        "vec_id",
        "label",
        F.transform(F.col("v"), lambda x: x / F.col("nrm")).alias("u"),
    )
    subs = unit.select("vec_id", "label", _subvectors("u", m, "x").alias("s")).select(
        "vec_id", "label", "s.sub", "s.x"
    )
    best = (
        subs.join(F.broadcast(codebooks), "sub")
        .select(
            "vec_id",
            "label",
            "sub",
            F.struct(_sq_dist("x", "sv").alias("d"), F.col("code")).alias("dc"),
        )
        .groupBy("vec_id", "label", "sub")
        .agg(F.min("dc").getField("code").alias("code"))
    )
    return best.groupBy("vec_id", "label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("sub", "code"))),
            lambda s: s.getField("code"),
        ).alias("codes")
    )


def pq_encode(
    emb: DataFrame,
    codebooks: DataFrame,
    prepared: DataFrame | None = None,
) -> DataFrame:
    """Encode unit-normalized embeddings under a PQ codebook:
    ``(vec_id, codes array<int>, label)`` with ``codes[j]`` the
    nearest subspace-``j`` centroid — ``m`` small ints instead of
    ``dim`` floats, the 32x-smaller scan side of :func:`pq_topk`.
    An empty ``emb`` encodes to an empty frame.

    Plan shape: the codebook broadcasts; each vector explodes to its
    ``m`` subvectors map-side, the ``k`` candidate distances fold in
    the join projection, and the per-(vec, sub) argmin plus the
    codes-array assembly are two keyed aggregations with map-side
    combine (ties break to the lowest code, deterministically). No
    corpus-wide anything but the one vec_id-keyed agg. The one driver
    probe is the codebook's subspace count."""
    m = _pq_m(codebooks)
    return _pq_codes(
        prepared if prepared is not None else _prepared(emb), codebooks, m
    )


def pq_topk(
    emb: DataFrame,
    k: int = 10,
    n_queries: int = 10,
    overfetch: int = 4,
    m: int = 8,
    n_codes: int = 16,
    rerank: bool = True,
    codebooks: DataFrame | None = None,
    codes: DataFrame | None = None,
    n_cells: int | None = None,
    probes: int = 3,
    adc_micro_rank: bool = False,
) -> DataFrame:
    """Product-quantized top-k by asymmetric distance (ADC), the
    billion-scale ANN recipe: queries stay float, the corpus is
    scanned as ``m``-byte PQ codes, and each query's ``m x k``
    distance lookup table turns scoring into table-lookup sums —
    then the standard exact float re-rank on the overfetched tail.

    On unit vectors ``||q - x||^2 = 2 - 2 cos(q, x)``, so ranking by
    ADC distance ascending approximates cosine descending; the
    re-rank (same candidate-bounded broadcast tail as
    :func:`quantized_topk`) makes every REPORTED score exact. Output
    schema matches :func:`cosine_topk` so :func:`ann_recall` compares
    all three tiers directly.

    ``n_cells`` switches on the FULL IVFPQ composition: database
    vectors land in one IVF cell each (:func:`ivf_assignments`,
    ``probes=1``), queries probe their ``probes`` nearest cells, and
    ADC scores ONLY code words inside probed cells — candidate volume
    drops from n to ~``probes * n / n_cells`` per query, which is
    what makes a billion-vector scan a thousand-vector one. With
    ``probes >= n_cells`` every cell is probed and the output equals
    the unrestricted scan exactly (pytest pins this).

    Scale shape: the scan side reads ``m`` ints per vector (32x
    fewer bytes than float32 at dim 64); the LUT is
    ``n_queries * m * k`` rows — broadcast; scoring explodes codes
    map-side and folds per (query, vec) with map-side combine; the
    only corpus-wide exchange is that keyed agg (plus, under
    ``n_cells``, one vec_id-co-keyed join tagging each code row with
    its cell — the query-cell mask is a broadcast); the re-rank
    touches ``n_queries * overfetch * k`` rows. Pass precomputed
    ``codebooks``/``codes`` (the frozen-fixture path of the
    ``ann_pq_rerank`` row) to skip training and encoding; an empty ``emb`` then yields an empty
    result.

    Driver probes: on the training path none beyond the codebook
    sample (``m`` is the argument, the subvector length is read per
    row); with ``codebooks`` passed, one ``max(sub)`` for ``m``."""
    # ONE persisted _prepared frame shared by codebook training, the
    # encode pass, the query side, the IVF branch and the float
    # re-rank (r14: five separate _prepared subtrees each re-ran the
    # scan + as_double + norm; the codebook sample's bounded collect
    # is the eager job that populates the cache for every later
    # consumer). r15: the
    # embedding_near_dup re-adjudication dropped the SAME vector-frame
    # shape there, so this persist was cold-JVM A/B'd too ("prep" vs
    # "none") — here it SURVIVED: five consumers and the mid-build
    # collect make the cache pay (OPTIMIZATION_r15.md has the table).
    prep = persist(_prepared(emb))
    if codebooks is None:
        codebooks = pq_codebooks(emb, m=m, k=n_codes, prepared=prep)
    else:
        m = _pq_m(codebooks)
    if codes is None:
        codes = _pq_codes(prep, codebooks, m)

    unit = prep.select(
        "vec_id", F.transform(F.col("v"), lambda x: x / F.col("nrm")).alias("u")
    )
    q = unit.filter(F.col("vec_id") < n_queries)
    qsubs = q.select(
        F.col("vec_id").alias("query_id"), _subvectors("u", m, "qx").alias("s")
    ).select("query_id", "s.sub", "s.qx")
    lut = qsubs.join(F.broadcast(codebooks), "sub").select(
        "query_id", "sub", "code", _sq_dist("qx", "sv").alias("d2")
    )
    exploded = codes.select(
        "vec_id", F.posexplode("codes").alias("sub", "code")
    ).withColumn("sub", F.col("sub").cast("int"))
    if n_cells is not None:
        e = prep
        db_cells = ivf_assignments(e, n_centroids=n_cells, probes=1)
        q_cells = ivf_assignments(
            e.filter(F.col("vec_id") < n_queries),
            n_centroids=n_cells,
            probes=probes,
            centroids=e.filter(F.col("vec_id") < n_cells).select(
                F.col("vec_id").alias("cid"),
                F.col("v").alias("cv"),
                F.col("nrm").alias("cnrm"),
            ),
        ).withColumnsRenamed({"vec_id": "query_id"})
        # tag each code row with its one cell (vec_id-co-keyed join),
        # then keep only rows inside a probed cell of each query
        exploded = exploded.join(db_cells, "vec_id")
        adc = (
            exploded.join(F.broadcast(lut), ["sub", "code"])
            .join(F.broadcast(q_cells), ["query_id", "cid"])
            .filter(F.col("vec_id") != F.col("query_id"))
            .groupBy("query_id", "vec_id")
            .agg(F.sum("d2").alias("adc_d2"))
        )
    else:
        adc = (
            exploded.join(F.broadcast(lut), ["sub", "code"])
            .filter(F.col("vec_id") != F.col("query_id"))
            .groupBy("query_id", "vec_id")
            .agg(F.sum("d2").alias("adc_d2"))
        )
    # adc_micro_rank (VERDICT r13 #6): candidate selection by the
    # MICRO-ROUNDED distance with vec_id tiebreak instead of the raw
    # double — the sum of m lookup doubles folds in nondeterministic
    # order (map-side combine), so a raw-double orderBy could flip
    # near-tied candidates run-to-run and engine-to-engine; rounding
    # first makes the overfetch boundary a total order both engines
    # agree on (the fixture-pinned driver row asserts no adc sum sits
    # near a half-micro boundary, so the rounding itself can't flip).
    adc_rank_col = (
        micro_units(F.col("adc_d2")) if adc_micro_rank else F.col("adc_d2")
    )
    w_adc = Window.partitionBy("query_id").orderBy(
        adc_rank_col.asc(), F.col("vec_id")
    )
    cand = (
        adc.withColumn("rank", F.row_number().over(w_adc))
        .filter(F.col("rank") <= (overfetch * k if rerank else k))
        .select("query_id", "vec_id")
    )
    if not rerank:
        # approximate scores straight from ADC (unit vectors):
        # cos = 1 - d2/2
        return (
            adc.join(F.broadcast(cand), ["query_id", "vec_id"])
            .select(
                "query_id",
                "vec_id",
                micro_units(1 - F.col("adc_d2") / 2).alias("cosine_micro"),
            )
            .withColumn(
                "rank",
                F.row_number().over(
                    Window.partitionBy("query_id").orderBy(
                        F.col("cosine_micro").desc(), F.col("vec_id")
                    )
                ),
            )
        )
    # the float re-rank side reads the SAME persisted frame (fv == v,
    # fn == nrm by construction — as_double then norm)
    fl = prep.select(
        "vec_id", F.col("v").alias("fv"), F.col("nrm").alias("fn")
    )
    qf = fl.withColumnsRenamed({"vec_id": "query_id", "fv": "qfv", "fn": "qfn"})
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_micro").desc(), F.col("vec_id")
    )
    return (
        fl.join(F.broadcast(cand), "vec_id")
        .join(F.broadcast(qf.filter(F.col("query_id") < n_queries)), "query_id")
        .withColumn(
            "cosine_micro",
            micro_units(
                VX.dot(F.col("qfv"), F.col("fv")) / (F.col("qfn") * F.col("fn"))
            ),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine_micro", "rank")
    )


def ann_recall(
    exact: DataFrame,
    approx: DataFrame,
    query_col: str = "query_id",
    id_col: str = "vec_id",
) -> DataFrame:
    """Per-query recall of an approximate top-k against the exact one —
    the tuning loop for every ANN knob here (bucket dims, IVF
    ``n_probe``, quantization overfetch): run both at a sampled set of
    queries, read the recall, adjust. ``(query_id, n_exact, n_hit,
    recall)``; both inputs are top-k-sized, so every join is
    broadcast-scale metadata work regardless of corpus size."""
    e = exact.select(query_col, id_col)
    hits = e.join(
        approx.select(query_col, id_col), [query_col, id_col], "left_semi"
    )
    denom = e.groupBy(query_col).agg(F.count(F.lit(1)).alias("n_exact"))
    num = hits.groupBy(query_col).agg(F.count(F.lit(1)).alias("n_hit"))
    return (
        denom.join(num, query_col, "left")
        .fillna(0, subset=["n_hit"])
        .select(
            query_col,
            "n_exact",
            "n_hit",
            micro_units(F.col("n_hit") / F.col("n_exact")).alias("recall_micro"),
        )
    )


def embedding_health(emb: DataFrame) -> DataFrame:
    """One-row health report of a vector store — the pre-flight check
    before indexing or training consumes it: row/distinct-id counts
    (duplicate ids silently corrupt index appends), dimension
    consistency (a mixed-dim batch breaks every dot product), null and
    zero-vector counts (zero vectors make cosine undefined), and norm
    quantiles (collapsed or exploding norms are the classic sign of a
    broken embedding export).

    Single aggregation pass; ``approx_percentile`` keeps the quantiles
    one-pass and executor-bounded at any scale (an exact percentile
    would sort the corpus for a monitoring number).
    """
    v = VX.as_double(F.col("embedding"))
    nrm = VX.norm(v)
    return emb.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("vec_id").alias("n_distinct_ids"),
        F.countDistinct(F.size(v)).alias("n_dims_seen"),
        F.min(F.size(v)).alias("dim_min"),
        F.max(F.size(v)).alias("dim_max"),
        F.count(F.when(F.col("embedding").isNull(), 1)).alias("n_null_vecs"),
        F.count(F.when(nrm == 0.0, 1)).alias("n_zero_vecs"),
        micro_units(F.min(nrm)).alias("norm_min_micro"),
        micro_units(F.percentile_approx(nrm, 0.5)).alias("norm_p50_micro"),
        micro_units(F.max(nrm)).alias("norm_max_micro"),
    )


def hash_embed(
    docs: DataFrame,
    dim: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_raw: bool = False,
) -> DataFrame:
    """Model-free document embeddings via SIGNED FEATURE HASHING
    (public method: Weinberger et al. 2009, "Feature Hashing for
    Large Scale Multitask Learning" — the hashing-trick projection
    whose inner products approximate bag-of-words inner products):
    component ``j`` is ``sum over tokens t of tf(t) * s(t, j)`` with
    ``s in {-1, +1}`` drawn from the house md5 hash of ``t|j``, then
    L2-normalized. Near-duplicate texts map to near-identical unit
    vectors, so the output plugs straight into ``embedding_near_dup``
    — completing the documents -> vectors -> semantic
    dedup chain without an external model (swap in a real encoder by
    replacing THIS stage only; every downstream operator reads the
    same ``(id, embedding)`` shape).

    Output: ``(id, embedding array<double>)`` for documents with at
    least one token; components rounded to 6 digits
    (plus ``raw_components array<bigint>`` when ``keep_raw``). Pre-normalization
    components are INTEGER sums of signed tf (exact at any partition
    order), so the only float steps are one sqrt and one division per
    component — engine-deterministic, oracle-reproducible.

    Scale shape: the token stream aggregates tf per (doc, token) once,
    explodes by ``dim`` (x``dim`` row inflation of the DISTINCT-token
    stream, not the corpus), and aggregates per (doc, component) with
    map-side combine; assembly is the house struct-sort groupBy. Keep
    ``dim`` small (16-64): this is a sketch, not a semantic space.
    """
    from .dedup import element_hash

    if dim < 2:
        raise ValueError(f"dim must be >= 2, got {dim}")
    toks = docs.repartition(CPU_PARTITIONS, F.col(id_col)).select(
        F.col(id_col),
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("t"),
    ).filter(F.col("t") != "")
    tf = toks.groupBy(id_col, "t").agg(F.count(F.lit(1)).alias("tf"))
    comp = (
        tf.select(
            id_col,
            "tf",
            F.explode(F.sequence(F.lit(0), F.lit(dim - 1))).alias("j"),
            F.col("t"),
        )
        .select(
            id_col,
            "j",
            (
                F.col("tf")
                * (
                    F.pmod(
                        element_hash(F.concat(F.col("t"), F.lit("|"), F.col("j"))),
                        F.lit(2),
                    )
                    * 2
                    - 1
                )
            ).alias("c"),
        )
        .groupBy(id_col, "j")
        .agg(F.sum("c").alias("c"))
    )
    vec = comp.groupBy(id_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("j", "c"))), lambda s: s["c"]
        ).alias("raw"),
        F.sqrt(F.sum(F.col("c") * F.col("c"))).alias("norm"),
    )
    cols = [
        F.col(id_col),
        F.when(
            F.col("norm") > 0,
            F.transform(F.col("raw"), lambda x: F.round(x / F.col("norm"), 6)),
        )
        .otherwise(F.transform(F.col("raw"), lambda x: x * F.lit(0.0)))
        .alias("embedding"),
    ]
    if keep_raw:
        # exact integer pre-normalization sums: sign decisions taken on
        # these can never hit the -0.0-rounds-to-nonnegative trap the
        # normalized components have (ADVICE r6), and they match the
        # oracle's raw-sum bucketing bit for bit.
        cols.append(F.col("raw").alias("raw_components"))
    return vec.select(*cols)


def margin_bitext_pairs(
    emb: DataFrame,
    k_neighborhood: int = 4,
    margin_floor_micro: int = 1_000_000,
    n_bucket_dims: int | None = 6,
) -> DataFrame:
    """Margin-based parallel-pair mining (the public ratio-margin
    criterion of Artetxe & Schwenk 2019, the method behind the large
    public bitext corpora): embeddings split into two sides by label
    parity (the fixture's stand-in for two languages), every cross
    pair scored

        margin(x, y) = cos(x, y) / ((avg_k(x->Y) + avg_k(y->X)) / 2)

    where avg_k is the mean cosine of the vector's k nearest
    cross-side neighbors — the normalization that suppresses hubness
    (a vector globally similar to everything scores no pair highly).
    A pair is emitted iff it is MUTUAL best-by-margin (forward and
    backward argmax agree) and its margin clears ``margin_floor_micro``
    (1.0 = above the neighborhood average).

    Determinism discipline: cosines land in micro-units first; the
    margin is derived from those integers (scaled by 2e6 over the two
    k-sums, one round) so both engines rank identical BIGINTs; all
    ties break on vec_id.

    Scale shape: candidate generation is a sign-bucket EQUI-JOIN by
    default (``n_bucket_dims`` cells, the :func:`bucketed_topk`
    pattern) — margins, neighborhoods, and the mutual-argmax are all
    computed within the candidate set, exactly how production mining
    runs over ANN neighborhoods rather than the n x m cross product.
    ONE scored frame feeds the neighborhood sums and both argmax
    windows (keyed shuffles, no driver state). ``n_bucket_dims=None``
    opts into the exact cross-product tier (tests/small fixtures
    only: its BroadcastNestedLoopJoin is not boundable, which is why
    the registered row runs bucketed — the plan audit enforces that).
    """
    e = _prepared(emb)
    if n_bucket_dims is not None:
        e = e.withColumn("bucket", VX.sign_bucket(F.col("v"), n_bucket_dims))
    x = e.filter(F.col("label") % 2 == 0).select(
        F.col("vec_id").alias("src_id"),
        F.col("v").alias("xv"),
        F.col("nrm").alias("xn"),
        *([F.col("bucket")] if n_bucket_dims is not None else []),
    )
    y = e.filter(F.col("label") % 2 == 1).select(
        F.col("vec_id").alias("tgt_id"),
        F.col("v").alias("yv"),
        F.col("nrm").alias("yn"),
        *([F.col("bucket")] if n_bucket_dims is not None else []),
    )
    joined = x.join(y, "bucket") if n_bucket_dims is not None else x.crossJoin(y)
    scored = joined.select(
        "src_id",
        "tgt_id",
        micro_units(
            VX.dot(F.col("xv"), F.col("yv")) / (F.col("xn") * F.col("yn"))
        ).alias("cosine_micro"),
    )
    wx = Window.partitionBy("src_id").orderBy(
        F.col("cosine_micro").desc(), F.col("tgt_id")
    )
    wy = Window.partitionBy("tgt_id").orderBy(
        F.col("cosine_micro").desc(), F.col("src_id")
    )
    ranked = scored.select(
        "*",
        F.row_number().over(wx).alias("rx"),
        F.row_number().over(wy).alias("ry"),
    )
    # Neighborhood k-sums as WINDOW aggregates over the same src/tgt
    # partitionings the rank windows already established — not a
    # groupBy + join back, which made `ranked` a three-consumer
    # subtree and re-ran the cross-bucket cosine scoring (and both
    # rank windows) once per consumer (r14 plan audit: 30 Exchanges ->
    # one linear chain). Identical values: the sum over rows with
    # rank <= k within a partition is the same number the filtered
    # groupBy computed, attached to every row of the partition as the
    # inner join did (every id has a rank-1 row, so no rows vanish).
    wxa = Window.partitionBy("src_id")
    wya = Window.partitionBy("tgt_id")
    m = ranked.select(
        "*",
        F.sum(
            F.when(F.col("rx") <= k_neighborhood, F.col("cosine_micro"))
        ).over(wxa).alias("ksum_x"),
        F.sum(
            F.when(F.col("ry") <= k_neighborhood, F.col("cosine_micro"))
        ).over(wya).alias("ksum_y"),
    ).withColumn(
        "margin_micro",
        F.round(
            F.col("cosine_micro")
            * (2_000_000.0 * k_neighborhood)
            / (F.col("ksum_x") + F.col("ksum_y"))
        ).cast("long"),
    )
    wmx = Window.partitionBy("src_id").orderBy(
        F.col("margin_micro").desc(), F.col("tgt_id")
    )
    wmy = Window.partitionBy("tgt_id").orderBy(
        F.col("margin_micro").desc(), F.col("src_id")
    )
    return (
        m.select(
            "src_id",
            "tgt_id",
            "cosine_micro",
            "margin_micro",
            F.row_number().over(wmx).alias("fb"),
            F.row_number().over(wmy).alias("bb"),
        )
        .filter(
            (F.col("fb") == 1)
            & (F.col("bb") == 1)
            & (F.col("margin_micro") >= margin_floor_micro)
        )
        .select("src_id", "tgt_id", "cosine_micro", "margin_micro")
    )
