"""Distributed connected components over candidate-pair graphs — the
clustering pass that turns near-duplicate PAIRS (operators.dedup,
operators.similarity) into duplicate CLUSTERS, so a corpus keeps exactly
one survivor per group of transitively-linked copies.

Reference scope: the reference engine has no graph operator — this
belongs to the beyond-the-reference LLM-pipeline surface (SURVEY.md §2's
training-data extension), where pair emission without cluster resolution
would leave the dedup job half-finished: A~B and B~C must collapse to
ONE kept document even when A~C was never emitted by the LSH bands.

Algorithm: alternating large-star / small-star (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC 2014 — public
literature), the shuffle-native formulation:

  * large-star: every node links its LARGER neighbors to the minimum of
    its neighborhood (incl. itself);
  * small-star: every node links itself and its smaller neighbors to
    its minimum SMALLER neighbor.

Each phase is one keyed aggregation plus one keyed join — no driver
adjacency, no per-row Python — and the pair converges in O(log^2 n)
rounds on ANY graph shape (adversarial million-hop chains included),
unlike naive min-label flooding whose round count is the graph DIAMETER.
Edges are always two longs: the shuffle width is 16 bytes/row however
wide the documents were.

Scale notes (100 TB):
  * per-round state is the edge list itself; ``localCheckpoint`` after
    every round truncates the lineage so round k's plan does not replay
    rounds 1..k-1 (and materializes the round, keeping each shuffle
    bounded);
  * convergence detection is an exact star-forest shape test — one
    narrow aggregate per round over the checkpointed edges, never a
    collect, and it fires the round the forest appears (no
    confirmation round);
  * hot hubs (a node in millions of pairs) are exactly the groupBy keys
    AQE skew-split handles; the star transforms strictly shrink edge
    count toward n-1.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from ..caching import checkpoint, release


def _canonical(edges: DataFrame) -> DataFrame:
    """Self-loop-free distinct edges oriented (u > v)."""
    return (
        edges.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """Link every node's larger neighbors to min(neighborhood + self).
    Output stays (u > v)-oriented because the min is <= u < neighbor.

    The per-node neighborhood minimum is a WINDOW aggregate over the
    undirected edge list — one keyed shuffle — instead of the r13
    groupBy + join-back, which shuffled the same rows twice and made
    the star a two-consumer subtree that each round had to
    localCheckpoint before :func:`_small_star` could consume it (r14).
    A hub's window partition is linear in its degree, exactly the rows
    the old join co-located on the same key anyway."""
    from pyspark.sql import Window

    und = edges.union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mn = F.min("v").over(Window.partitionBy("u"))
    return (
        und.select("u", "v", mn.alias("mn"))
        .filter(F.col("v") > F.col("u"))
        .select(
            F.col("v").alias("u"),
            F.least(F.col("u"), F.col("mn")).alias("v"),
        )
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Link each node and its smaller neighbors to its minimum smaller
    neighbor. Expects and preserves the (u > v) orientation.

    Window-min + a 2-way explode emits each edge's neighbor link
    (v -> m_u) AND its node's self link (u -> m_u) in ONE pass over
    ONE evaluation of the input — the r13 groupBy/join/union shape
    consumed the input from two subtrees. Self links arrive once per
    incident edge instead of once per node; the canonical distinct
    (already present) collapses them, so the output SET is unchanged."""
    from pyspark.sql import Window

    m = F.min("v").over(Window.partitionBy("u"))
    linked = edges.select("u", "v", m.alias("m")).select(
        F.explode(
            F.array(
                F.struct(F.col("v").alias("a"), F.col("m").alias("b")),
                F.struct(F.col("u").alias("a"), F.col("m").alias("b")),
            )
        ).alias("l")
    )
    return _canonical(
        linked.select(F.col("l.a").alias("u"), F.col("l.b").alias("v"))
    )


def _is_star_forest(edges: DataFrame) -> bool:
    """Exact test for the algorithm's fixpoint shape: a (u > v)-oriented
    edge set is a min-centered star forest iff no child ``u`` appears
    twice and no node is both a child and a center. (Each child then has
    exactly one parent, parents are never children, so every component
    is one star whose center — the ``v`` side, smaller by orientation —
    is its minimum.)

    One narrow aggregation over the ALREADY-CHECKPOINTED edges (two
    longs/row, read from block storage) ending in ``isEmpty`` — ~15% of
    a star round's cost. Weaker in-round signals are NOT sound
    fixpoint tests, which is why r4 burned a full confirmatory round
    instead: small-star is the identity on any parent-pointer chain,
    and large-star on any two-center "co-star", neither of which is a
    forest."""
    roles = edges.select(
        F.col("u").alias("node"), F.lit(1).alias("c"), F.lit(0).alias("p")
    ).union(
        edges.select(F.col("v").alias("node"), F.lit(0).alias("c"), F.lit(1).alias("p"))
    )
    bad = (
        roles.groupBy("node")
        .agg(F.sum("c").alias("c"), F.sum("p").alias("p"))
        .filter((F.col("c") > 1) | ((F.col("c") > 0) & (F.col("p") > 0)))
    )
    return bad.isEmpty()


def _run_star_rounds(edges: DataFrame, max_rounds: int) -> tuple[DataFrame, int]:
    """Alternate large-star/small-star until the edge set is a min-star
    forest; returns ``(forest_edges, rounds_run)``.

    Convergence is detected by :func:`_is_star_forest` on each round's
    output — an exact structural test, so the loop stops the moment the
    forest exists instead of burning one full confirmatory round to see
    that nothing changed (the r4 consecutive-signature scheme). It also
    exits in ZERO rounds when the input is already a star forest — the
    common case for pair lists coming from collapsed hot buckets, which
    are emitted rep→member, i.e. already star-shaped."""
    edges = checkpoint(edges)
    if _is_star_forest(edges):
        return edges, 0
    for rounds in range(1, max_rounds + 1):
        # One checkpoint per round: with the window-min formulation
        # (r14) each star is a single-consumer chain — the r13 shape
        # needed a second localCheckpoint between the stars because
        # large-star's output fed two subtrees (its min table and the
        # join probe). Half the driver-sync barriers per round. The
        # superseded round is dead once the new one exists.
        prev, edges = edges, checkpoint(_small_star(_large_star(edges)))
        release(prev)
        if _is_star_forest(edges):
            return edges, rounds
    raise RuntimeError(
        f"connected_components did not converge in {max_rounds} rounds"
    )


def connected_components(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_rounds: int = 16,
) -> DataFrame:
    """``(node, component)`` for every node appearing in ``pairs``, with
    ``component`` = the minimum node id of its connected component (the
    same deterministic min-id representative the dedup operators and
    their hot-bucket cap use).

    One large-star + small-star round per loop iteration; stops as soon
    as a round's output passes the exact star-forest test (see
    :func:`_run_star_rounds` / :func:`_is_star_forest` — at that point
    the edge list IS child -> component min). ``max_rounds`` = 16
    covers graphs far beyond 2^16 nodes of pathology (convergence is
    O(log^2 n) rounds); hitting it raises rather than returning
    half-merged clusters.
    """
    edges = _canonical(
        pairs.select(
            F.col(src).cast("long").alias("u"),
            F.col(dst).cast("long").alias("v"),
        )
    )
    edges, _ = _run_star_rounds(edges, max_rounds)
    roots = edges.select(F.col("v").alias("node")).distinct().select(
        "node", F.col("node").alias("component")
    )
    children = edges.select(
        F.col("u").alias("node"), F.col("v").alias("component")
    )
    return children.union(roots).distinct()


def resolve_duplicates(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "doc_a",
    dst: str = "doc_b",
) -> DataFrame:
    """The corpus after cluster-level dedup: every document that is a
    non-representative member of some near-dup component is dropped;
    component representatives and documents in no pair survive. A
    digest-width anti-join — the docs side never reshuffles."""
    losers = (
        connected_components(pairs, src=src, dst=dst)
        .filter(F.col("node") != F.col("component"))
        .select(F.col("node").alias(id_col))
    )
    return docs.join(losers, id_col, "left_anti")


def survivor_assignments(
    docs: DataFrame,
    pairs: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
    src: str = "doc_a",
    dst: str = "doc_b",
) -> DataFrame:
    """Quality-aware cluster survivor selection: ``(doc_id, cluster_id,
    survivor_id)`` for EVERY document — near-dup clusters keep their
    best-``score_col`` member (min id on ties), documents in no pair
    are their own singleton survivor.

    :func:`resolve_duplicates`'s min-id survivor is the right default
    for idempotent dedup, but a training pipeline usually wants to keep
    the best COPY, not the first one: the cleanest OCR of a duplicated
    page, the longest of three truncated mirrors. ``docs`` must carry a
    deterministic (pre-rounded) numeric ``score_col`` — ranking on an
    unrounded float would make the survivor engine-dependent.

    Shape: components over 16-byte edges, one digest-width left join to
    label docs, then ``first_value`` over a (cluster, score desc, id)
    window — the window's shuffle is the only pass over the full doc
    list, and it moves (id, cluster, score) triples, never text.
    """
    from pyspark.sql import Window

    comps = connected_components(pairs, src=src, dst=dst)
    labeled = docs.select(F.col(id_col), F.col(score_col)).join(
        comps.select(F.col("node").alias(id_col), "component"), id_col, "left"
    )
    labeled = labeled.withColumn(
        "cluster_id", F.coalesce(F.col("component"), F.col(id_col))
    ).drop("component")
    w = (
        Window.partitionBy("cluster_id")
        .orderBy(F.col(score_col).desc(), F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return labeled.select(
        id_col,
        "cluster_id",
        F.first(F.col(id_col)).over(w).alias("survivor_id"),
        F.col(score_col),
    )


def _observed_checkpoint(
    frame: DataFrame, keep: tuple[str, ...], *metrics: Column
) -> tuple[DataFrame, dict]:
    """Checkpoint ``frame``'s ``keep`` columns and return the
    ``metrics`` (aggregates over ``frame``) that the checkpoint's own
    eager job observed, so reading them costs no job."""
    obs = Observation()
    out = checkpoint(frame.observe(obs, *metrics).select(*keep))
    return out, obs.get


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    max_iter: int = 20,
    tol: float = 1e-6,
    src_col: str = "src",
    dst_col: str = "dst",
    assume_distinct: bool = False,
) -> DataFrame:
    """PageRank over a directed edge table — the link-based authority
    score of the public algorithm (Page et al. 1999), the standard
    crawl-scale quality prior over a domain/URL link graph (curated
    pages are linked-to; spam farms are not).

    Power iteration, re-expressed relationally::

        r'(v) = (1 - d)/N + d * (sum over in-edges (u, v) of r(u)/deg(u)
                                 + dangling_mass / N)

    with dangling (out-degree-zero) node mass redistributed uniformly —
    the standard correction that keeps ``sum(rank) == 1`` each
    iteration (asserted by the tests, not just claimed). Iteration
    stops at L1 delta < ``tol`` or ``max_iter``, whichever first; the
    delta is never negative, so ``tol <= 0`` pins EXACTLY ``max_iter``
    iterations (the fixed-iteration mode the SQL-unrollable oracle
    rows need) through the same loop.
    Output: ``(node, rank, out_degree)`` for every node appearing on
    either edge side — ranks rounded to 9 digits, ``out_degree`` the
    distinct-edge out-degree (0 for sinks).

    Scale shape, per iteration: the edge list joined to the rank
    vector on src, aggregated on dst, and joined back onto the rank
    vector — keyed shuffles over (long, double) rows. The rank vector
    carries each node's out-degree, and each generation is
    ``localCheckpoint``-ed (iterative lineage MUST be cut or the plan
    doubles every round). The checkpoint's own job observes
    (``pyspark.sql.Observation``) the generation's dangling mass —
    the next round's literal — and its L1 delta: one driver sync per
    round, no extra job. Degenerate inputs (no edges) raise rather
    than dividing by a zero node count.

    ``assume_distinct=True`` reads ``edges`` as-is every round.
    CONTRACT: the caller guarantees the edge list is deduplicated and
    checkpointed — raw multi-edges under this flag silently weight
    parallel edges and the ranks stop summing to 1; when in doubt
    leave it False, which checkpoints one distinct copy. Setup
    checkpoints are released before return, and each superseded rank
    generation as soon as the next exists (``caching.release``, at the
    RDD level). The returned frame hangs off the final rank
    checkpoint alone, which the caller's cache scope releases, so
    repeated calls in one session (``scripts/graph_probe.py`` makes
    three per tier) cannot accumulate blocks (pinned by a
    getRDDStorageInfo test).
    """
    if not 0.0 < damping < 1.0:
        raise ValueError(f"damping must be in (0, 1), got {damping}")
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    setup = []
    if not assume_distinct:
        e = checkpoint(e.distinct())
        setup.append(e)
    degree = e.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("out_degree")
    )
    nodes, seen = _observed_checkpoint(
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .join(degree, "node", "left")
        .select("node", F.coalesce("out_degree", F.lit(0)).alias("out_degree")),
        ("node", "out_degree"),
        F.count(F.lit(1)).alias("n"),
    )
    setup.append(nodes)
    n = seen["n"]
    if n == 0:
        raise ValueError("pagerank needs a non-empty edge table")

    # every rank generation (node, rank, out_degree, __old) is
    # checkpointed without __old, observing its dangling mass and its
    # L1 distance from __old
    cols = ("node", "rank", "out_degree")
    observed = (
        F.coalesce(
            F.sum(F.when(F.col("out_degree") == 0, F.col("rank"))), F.lit(0.0)
        ).alias("dm"),
        F.sum(F.abs(F.col("rank") - F.col("__old"))).alias("d"),
    )
    r0 = F.lit(1.0 / n)
    ranks, seen = _observed_checkpoint(
        nodes.select("node", r0.alias("rank"), "out_degree", r0.alias("__old")),
        cols,
        *observed,
    )
    base = (1.0 - damping) / n
    for _ in range(max_iter):
        contrib = (
            e.join(
                ranks.select(F.col("node").alias("src"), "rank", "out_degree"),
                "src",
            )
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.col("rank") / F.col("out_degree")).alias("inflow"))
        )
        new_ranks, seen = _observed_checkpoint(
            ranks.join(contrib, "node", "left").select(
                "node",
                (
                    F.lit(base)
                    + damping
                    * (
                        F.coalesce(F.col("inflow"), F.lit(0.0))
                        + F.lit(seen["dm"]) / F.lit(float(n))
                    )
                ).alias("rank"),
                "out_degree",
                F.col("rank").alias("__old"),
            ),
            cols,
            *observed,
        )
        release(ranks)
        ranks = new_ranks
        if seen["d"] < tol:
            break
    for frame in setup:
        release(frame)
    return ranks.select("node", F.round("rank", 9).alias("rank"), "out_degree")
