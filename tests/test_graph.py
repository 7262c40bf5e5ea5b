"""Connected-components operator tests: differential against a Python
union-find oracle (exact graph semantics, no Spark), adversarial chain
shapes, and the cluster-level dedup resolution built on top."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from conftest import SF_DIR
from jonesy_spark.catalog import Catalog
from jonesy_spark.operators import graph as G


def _union_find(edges):
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # component id = min member, matching the operator's contract
    comp: dict[int, int] = {}
    for n in parent:
        root = find(n)
        comp[n] = min(comp.get(root, root), n)
    return {n: comp[find(n)] for n in parent}


def _spark_components(spark, edges):
    pairs = spark.createDataFrame(
        [(a, b) for a, b in edges], "doc_a long, doc_b long"
    )
    return {
        r["node"]: r["component"]
        for r in G.connected_components(pairs).collect()
    }


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 40), st.integers(0, 40)),
        min_size=1,
        max_size=60,
    )
)
@settings(max_examples=12, deadline=None)
@pytest.mark.slow
def test_components_match_union_find(spark, edges):
    want = _union_find([(a, b) for a, b in edges if a != b])
    if not want:  # all self-loops: operator drops them, no nodes remain
        assert _spark_components(spark, edges) == {}
        return
    assert _spark_components(spark, edges) == want


def test_components_adversarial_chain(spark):
    """A single 300-hop path: naive min-flooding needs 300 rounds; the
    star rounds must converge inside the operator's max_rounds=16 and
    still label every node with the chain head."""
    got = _spark_components(spark, [(i, i + 1) for i in range(300)])
    assert got == {i: 0 for i in range(301)}


def test_star_rounds_stop_without_confirmation_round(spark):
    """The exact star-forest test must end the loop the round the
    forest appears: an already-star-shaped input (what collapsed hot
    buckets emit) costs ZERO rounds, and the 300-hop chain converges in
    at most the O(log^2 n) bound WITHOUT a trailing no-op round (the r4
    consecutive-signature scheme burned one by construction)."""
    from pyspark.sql import functions as F

    star = spark.createDataFrame(
        [(i, 0) for i in range(1, 6)] + [(j, 10) for j in (11, 12)],
        "u long, v long",
    )
    forest, rounds = G._run_star_rounds(star, max_rounds=16)
    assert rounds == 0
    assert sorted(map(tuple, forest.collect())) == sorted(
        [(i, 0) for i in range(1, 6)] + [(11, 10), (12, 10)]
    )

    chain = spark.createDataFrame(
        [(i + 1, i) for i in range(300)], "u long, v long"
    )
    _, chain_rounds = G._run_star_rounds(chain, max_rounds=16)
    # Must be the round the forest APPEARS (9 on this shape, confirmed
    # by pure-Python simulation), not the r4 detect-at-k+1 behavior
    # (10). Pinned so a detection regression that re-adds the
    # confirmation round fails loudly.
    assert chain_rounds == 9, chain_rounds

    # the detector itself: chains and co-stars are NOT forests
    assert not G._is_star_forest(
        spark.createDataFrame([(2, 0), (3, 1), (4, 2)], "u long, v long")
    )
    assert not G._is_star_forest(
        spark.createDataFrame([(5, 1), (5, 2)], "u long, v long")
    )
    assert G._is_star_forest(
        spark.createDataFrame([], "u long, v long").select(
            F.col("u"), F.col("v")
        )
    )


def test_components_merge_two_cliques_via_bridge(spark):
    """Transitivity across blocks the LSH bands never co-bucketed: two
    cliques + one bridge edge must collapse into one component."""
    c1 = [(a, b) for a in range(5) for b in range(a + 1, 5)]
    c2 = [(a, b) for a in range(10, 15) for b in range(a + 1, 15)]
    got = _spark_components(spark, c1 + c2 + [(4, 10)])
    assert set(got.values()) == {0}


def test_resolve_duplicates_keeps_reps_and_isolated(spark):
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(8)], ["doc_id", "text"]
    )
    pairs = spark.createDataFrame(
        [(1, 3), (3, 5), (2, 6)], "doc_a long, doc_b long"
    )
    kept = sorted(
        r["doc_id"] for r in G.resolve_duplicates(docs, pairs).collect()
    )
    # clusters {1,3,5} -> keep 1; {2,6} -> keep 2; 0,4,7 untouched
    assert kept == [0, 1, 2, 4, 7]


def test_components_compose_with_embedding_pairs(spark):
    """Semantic dedup path: the same CC operator closes the
    embedding-cosine pair graph (src/dst columns differ from the text
    dedup default)."""
    from jonesy_spark.operators import similarity as SIM

    emb = Catalog(spark, SF_DIR).embeddings
    pairs = SIM.embedding_near_dup(emb, threshold=0.3)
    comp = {
        r["node"]: r["component"]
        for r in G.connected_components(
            pairs, src="vec_a", dst="vec_b"
        ).collect()
    }
    for r in pairs.select("vec_a", "vec_b").collect():
        assert comp[r["vec_a"]] == comp[r["vec_b"]]


def test_components_on_real_lsh_pairs(spark):
    """End-to-end over the fixture corpus: every minhash pair must land
    inside one component (both endpoints same label) and component ids
    are member minima."""
    from jonesy_spark.operators import dedup as DD

    docs = Catalog(spark, SF_DIR).documents
    pairs = DD.minhash_lsh_pairs(docs, n_hashes=16, n_bands=2, threshold=0.8)
    comp = {
        r["node"]: r["component"]
        for r in G.connected_components(pairs).collect()
    }
    edge_rows = pairs.select("doc_a", "doc_b").collect()
    assert edge_rows
    for r in edge_rows:
        assert comp[r["doc_a"]] == comp[r["doc_b"]]
    by_comp: dict[int, list[int]] = {}
    for n, c in comp.items():
        by_comp.setdefault(c, []).append(n)
    for c, members in by_comp.items():
        assert c == min(members)


def test_survivor_assignments_quality_and_ties(spark):
    """Survivor = max score per component, min id on ties; singletons
    survive themselves; transitive A~B~C closes into one survivor."""
    docs = spark.createDataFrame(
        [(1, 0.5), (2, 0.9), (3, 0.9), (4, 0.1), (9, 0.7)],
        ["doc_id", "score"],
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], ["doc_a", "doc_b"]
    )  # one chain component {1,2,3,4}; 9 is a singleton
    out = {
        r["doc_id"]: (r["cluster_id"], r["survivor_id"])
        for r in G.survivor_assignments(docs, pairs, "score").collect()
    }
    assert out == {
        1: (1, 2),  # 2 and 3 tie at 0.9 -> min id 2 survives
        2: (1, 2),
        3: (1, 2),
        4: (1, 2),
        9: (9, 9),
    }


def _np_pagerank(edges, damping=0.85, max_iter=50, tol=1e-9):
    """Independent dense power-iteration reference (numpy)."""
    import numpy as np

    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    out = {}
    for u, _ in edges:
        out[u] = out.get(u, 0) + 0  # presence
    deg = {}
    for u, v in set(edges):
        deg[u] = deg.get(u, 0) + 1
    r = np.full(n, 1.0 / n)
    for _ in range(max_iter):
        new = np.full(n, (1 - damping) / n)
        dangling = sum(r[idx[x]] for x in nodes if x not in deg)
        new += damping * dangling / n
        for u, v in set(edges):
            new[idx[v]] += damping * r[idx[u]] / deg[u]
        if np.abs(new - r).sum() < tol:
            r = new
            break
        r = new
    return {nodes[i]: r[i] for i in range(n)}


def _out_degree(edges):
    """Distinct-edge out-degree of every node, 0 for sinks."""
    deg = {x: 0 for e in edges for x in e}
    for u, _ in set(edges):
        deg[u] += 1
    return deg


@pytest.mark.slow
def test_pagerank_matches_dense_reference(spark):
    """Spark PageRank vs an independent numpy power iteration on a
    graph with a hub, a chain, and a dangling sink."""
    edges = [(1, 2), (1, 3), (2, 3), (3, 4), (4, 1), (5, 3)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    rows = G.pagerank(df, max_iter=60, tol=1e-12).collect()
    got = {r["node"]: r["rank"] for r in rows}
    want = _np_pagerank(edges, max_iter=60, tol=1e-12)
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-6, (k, got[k], want[k])
    assert {r["node"]: r["out_degree"] for r in rows} == _out_degree(edges)
    # mass conservation: the dangling correction keeps a distribution
    assert abs(sum(got.values()) - 1.0) < 1e-6


def test_pagerank_uniform_on_cycle(spark):
    df = spark.createDataFrame([(1, 2), (2, 3), (3, 1)], ["src", "dst"])
    got = [r["rank"] for r in G.pagerank(df).collect()]
    assert all(abs(x - 1 / 3) < 1e-6 for x in got)


def test_pagerank_validates_inputs(spark):
    import pytest as _pytest

    df = spark.createDataFrame([(1, 2)], ["src", "dst"])
    with _pytest.raises(ValueError, match="damping"):
        G.pagerank(df, damping=1.5)
    empty = spark.createDataFrame([], "src long, dst long")
    with _pytest.raises(ValueError, match="non-empty"):
        G.pagerank(empty)


from hypothesis import HealthCheck
from hypothesis import settings as hsettings


@given(
    edges=st.lists(
        st.tuples(st.integers(1, 5), st.integers(1, 5)),
        min_size=1,
        max_size=12,
    )
)
@hsettings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@pytest.mark.slow
def test_pagerank_matches_numpy_on_random_graphs(spark, edges):
    """Relational PageRank == dense numpy power iteration on arbitrary
    small digraphs (self-loops, dangling sinks, duplicates included)."""
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {
        r["node"]: r["rank"]
        for r in G.pagerank(df, max_iter=60, tol=1e-12).collect()
    }
    want = _np_pagerank(edges, max_iter=60, tol=1e-12)
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-6


def test_pagerank_fixed_iteration_mode_matches_numpy_exactly(spark):
    """tol=0.0 pins EXACTLY max_iter iterations (never early-stops) —
    the contract the SQL-unrolled link_authority oracle depends on.
    With few iterations the ranks are far from the fixed point, so a
    match here proves the iteration COUNT agrees, not just the limit."""
    edges = [(1, 2), (1, 3), (2, 3), (3, 4), (4, 1), (5, 3)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    for k in (1, 3):
        rows = G.pagerank(df, max_iter=k, tol=0.0).collect()
        got = {r["node"]: r["rank"] for r in rows}
        assert {r["node"]: r["out_degree"] for r in rows} == _out_degree(edges)
        want = _np_pagerank(edges, max_iter=k, tol=0.0)
        far = _np_pagerank(edges, max_iter=60, tol=1e-12)
        assert any(abs(want[x] - far[x]) > 1e-4 for x in want), (
            "fixture converged too fast to distinguish iteration counts"
        )
        for x in want:
            assert abs(got[x] - want[x]) < 1e-9, (k, x, got[x], want[x])


def test_pagerank_convergence_check_costs_no_job(spark):
    """The dangling mass and the L1 delta are observed inside each
    round's checkpoint job, so convergence mode (a tol that never
    stops early) runs exactly the jobs of fixed-iteration mode, and a
    round costs at most 7 jobs. Counted by job group."""
    sc = spark.sparkContext
    edges = [(1, 2), (1, 3), (2, 3), (3, 4), (4, 1), (5, 3)]
    df = spark.createDataFrame(edges, ["src", "dst"])

    def jobs(max_iter, tol):
        group = f"pagerank_jobs_{max_iter}_{tol}"
        sc.setJobGroup(group, group)
        try:
            G.pagerank(df, max_iter=max_iter, tol=tol).collect()
        finally:
            sc.setJobGroup("", "")
        return len(sc.statusTracker().getJobIdsForGroup(group))

    fixed = jobs(4, 0.0)
    assert jobs(4, 1e-300) == fixed
    assert fixed - jobs(3, 0.0) <= 7


def test_pagerank_releases_checkpoint_blocks(spark):
    """ADVICE r12: DataFrame.unpersist() is a no-op for localCheckpoint
    blocks (they live in RDD block storage, not the CacheManager), so
    the release must happen at the RDD level. Pinned with the storage
    API itself: after pagerank returns, RDD block storage holds AT
    MOST the final ranks checkpoint beyond what it held before — the
    three setup checkpoints and every superseded per-iteration
    generation are gone."""
    sc = spark.sparkContext

    def cached_ids():
        return {
            info.id()
            for info in sc._jsc.sc().getRDDStorageInfo()
            if info.isCached()
        }

    rows = [(i, (i * 7) % 23) for i in range(200)] + [(i, 5) for i in range(40)]
    df = spark.createDataFrame(rows, "src long, dst long")

    before = cached_ids()
    ranks = G.pagerank(df, max_iter=8, tol=1e-9)
    ranks.count()  # materialize through the final checkpoint
    leaked = cached_ids() - before
    # 8+ iterations each create a checkpoint; all but the final one
    # (plus the 3 setup frames) must have been released
    assert len(leaked) <= 1, (
        f"{len(leaked)} checkpoint RDDs left in block storage — the "
        "RDD-level release regressed to the DataFrame-level no-op"
    )
