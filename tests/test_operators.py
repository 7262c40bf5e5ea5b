"""Operator-level tests: salted skew join equivalence and the
applyInPandas as-of variant vs the window-based plan."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from conftest import SF_DIR, assert_matches_oracle
from jonesy_spark.caching import cache_scope
from jonesy_spark.catalog import Catalog
from jonesy_spark.functions.scalars import micro_units
from jonesy_spark.operators.joins import asof_topk_pandas, salted_join
from jonesy_spark.plans import all_queries


def test_salted_join_matches_plain_join(spark):
    """Salting must be a pure physical rewrite: same rows out."""
    cat = Catalog(spark, SF_DIR)
    li = cat.lineitem.select("l_orderkey", "l_partkey", "l_quantity")
    orders = cat.orders.select(
        F.col("o_orderkey").alias("l_orderkey"), "o_custkey", "o_orderstatus"
    )
    plain = li.join(orders, on="l_orderkey", how="inner")
    salted = salted_join(li, orders, on="l_orderkey", how="inner", salt_buckets=8)
    cols = sorted(plain.columns)
    assert sorted(salted.columns) == cols
    p = sorted(tuple(r[c] for c in cols) for r in plain.collect())
    s = sorted(tuple(r[c] for c in cols) for r in salted.collect())
    assert p == s


def test_salted_join_left_outer(spark):
    """Left-outer with the skewed side on the left: unmatched skewed rows
    survive exactly once."""
    left = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "c"), (99, "orphan")], ["k", "v"]
    )
    right = spark.createDataFrame([(1, "x"), (2, "y")], ["k", "w"])
    plain = left.join(right, "k", "left")
    salted = salted_join(left, right, on="k", how="left", salt_buckets=4)
    p = sorted(map(tuple, plain.select("k", "v", "w").collect()))
    s = sorted(map(tuple, salted.select("k", "v", "w").collect()))
    assert p == s


def test_approx_distinct_within_bounds(spark):
    """approx_count_distinct (HLL) — the 100 TB path for distinct counts
    (one pass, mergeable sketch, no Expand) — must land within its
    documented error bound of the exact count."""
    li = Catalog(spark, SF_DIR).lineitem
    row = li.agg(
        F.countDistinct("l_partkey").alias("exact"),
        F.approx_count_distinct("l_partkey", rsd=0.05).alias("approx"),
    ).first()
    assert abs(row["approx"] - row["exact"]) / row["exact"] < 0.15


def test_asof_pandas_matches_window_plan(spark):
    """The applyInPandas merge_asof variant and the window-based as-of
    plan must agree row-for-row (two implementations, one semantics)."""
    events = Catalog(spark, SF_DIR).events
    pandas_out = asof_topk_pandas(events)
    window_out = all_queries()["asof_join_last_click"](spark, SF_DIR)
    cols = ["purchase_id", "user_id", "purchase_ts", "click_ts"]
    p = sorted(tuple(r[c] for c in cols) for r in pandas_out.collect())
    w = sorted(tuple(r[c] for c in cols) for r in window_out.collect())
    assert p == w


def test_ivf_near_dup_recall_vs_brute_force(spark):
    """IVF-blocked near-dup must (a) return a subset of the brute-force
    pairs with identical cosines (blocking never invents pairs) and (b)
    keep recall well above the old label block's measured 11%.

    The fixture embeddings are near-isotropic (median pairwise cosine
    ~0), the hardest regime for any LSH/IVF block at the weak 0.3
    threshold; real near-dups live at high cosine where IVF recall
    approaches 1."""
    from jonesy_spark.operators.similarity import _prepared, embedding_near_dup

    emb = Catalog(spark, SF_DIR).embeddings
    e = _prepared(emb)
    a, b = e.alias("a"), e.alias("b")
    brute = (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            micro_units(
                F.aggregate(
                    F.zip_with(F.col("a.v"), F.col("b.v"), lambda x, y: x * y),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                / (F.col("a.nrm") * F.col("b.nrm"))
            ).alias("cosine_micro"),
        )
        .filter(F.col("cosine_micro") >= 300_000)
    )
    truth = {(r["vec_a"], r["vec_b"]): r["cosine_micro"] for r in brute.collect()}
    found = {
        (r["vec_a"], r["vec_b"]): r["cosine_micro"]
        for r in embedding_near_dup(emb, threshold=0.3).collect()
    }
    assert set(found) <= set(truth), "blocking produced a non-true pair"
    for pair, cos in found.items():
        assert cos == truth[pair]
    recall = len(found) / len(truth)
    assert recall >= 0.6, f"IVF recall {recall:.3f} below floor"


def test_embedding_near_dup_precomputed_count_skips_job(spark):
    """A caller that already knows the corpus size (catalog stats, a
    prior stage) must not pay the K ~ sqrt(n) sizing count(): with
    n_docs supplied, building the plan runs ZERO Spark jobs, and the
    result is identical to the self-counting default."""
    from jonesy_spark.operators import similarity as SIM

    emb = Catalog(spark, SF_DIR).embeddings
    n = emb.count()
    sc = spark.sparkContext
    sc.setJobGroup("nd-build", "plan construction only")
    try:
        df = SIM.embedding_near_dup(emb, threshold=0.3, n_docs=n)
        jobs = sc.statusTracker().getJobIdsForGroup("nd-build")
    finally:
        sc.setJobGroup("", "")
    assert list(jobs) == [], f"plan construction ran jobs: {jobs}"
    got = {(r["vec_a"], r["vec_b"]) for r in df.collect()}
    want = {
        (r["vec_a"], r["vec_b"])
        for r in SIM.embedding_near_dup(emb, threshold=0.3).collect()
    }
    assert got == want


def test_kmeans_ivf_beats_or_matches_default_recall(spark):
    """Trained centroids must plug into the same IVF plan shape and not
    lose recall vs the seedless first-K default at equal (K, probes)."""
    from jonesy_spark.operators import similarity as SIM

    emb = Catalog(spark, SF_DIR).embeddings
    k, probes, thr = 16, 3, 0.3

    truth = {
        (r["vec_a"], r["vec_b"])
        for r in SIM.embedding_near_dup(emb, thr, n_centroids=1, probes=1).collect()
    }  # K=1: every vector in one cell == exact all-pairs ground truth

    def recall(pairs):
        found = {(r["vec_a"], r["vec_b"]) for r in pairs.collect()}
        assert found <= truth  # verification is exact: no false positives
        return len(found) / len(truth)

    r_default = recall(SIM.embedding_near_dup(emb, thr, n_centroids=k, probes=probes))
    cents = SIM.kmeans_centroids(emb, k=k)
    r_kmeans = recall(SIM.embedding_near_dup(emb, thr, probes=probes, centroids=cents))
    assert r_kmeans >= r_default - 0.05, (r_kmeans, r_default)


def _write_degenerate_docs(path, n_copies, tail=4):
    """A pathological corpus: ``n_copies`` byte-identical docs (every
    band bucket degenerates to one hot key) plus a few unique docs."""
    import pandas as pd

    boiler = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        {"doc_id": i, "text": boiler, "lang": "en", "source": "web",
         "n_chars": len(boiler)}
        for i in range(n_copies)
    ]
    for j in range(tail):
        t = f"completely unrelated document {j} covering subject {j * 13} " \
            f"with extra padding words {' '.join(str(j * 7 + m) for m in range(j + 3))}"
        rows.append({"doc_id": 1_000_000 + j, "text": t, "lang": "en",
                     "source": "web", "n_chars": len(t)})
    pd.DataFrame(rows).to_parquet(f"{path}/documents.parquet")


def test_hot_bucket_cap_collapses_degenerate_buckets(spark, tmp_path):
    """VERDICT r2 #1: a 10k-copy corpus puts every duplicate in one band
    bucket; the cap must emit the O(n) min-id star, never O(n^2) pairs —
    for all three LSH-family operators."""
    import jonesy_spark.operators.dedup as DD

    k = 10_000
    _write_degenerate_docs(tmp_path, k)
    docs = spark.read.parquet(f"{tmp_path}/documents.parquet")

    for op, kwargs in [
        (DD.minhash_lsh_pairs, {"threshold": 0.8}),
        (DD.simhash_near_dup, {"max_hamming": 3}),
        (DD.ngram_jaccard_pairs, {"threshold": 0.6}),
    ]:
        pairs = op(docs, **kwargs).collect()
        # O(n): the star (rep, member) for the identical block — k-1
        # pairs, not C(k,2) ~ 50M. (The tail docs may legitimately pair
        # among themselves — e.g. char-3-gram Jaccard — so only the
        # degenerate block is asserted.)
        star = [r for r in pairs if r["doc_b"] < 1_000_000]
        assert len(star) == k - 1, (op.__name__, len(star))
        assert all(r["doc_a"] == 0 for r in star), op.__name__
        assert {r["doc_b"] for r in star} == set(range(1, k)), op.__name__
        assert len(pairs) - len(star) < 10, op.__name__


def test_hot_bucket_cap_small_cap_vs_uncapped(spark, tmp_path):
    """Below the cap the pair set is the full clique; above it, the
    min-id star. Verifies both paths of the split on one corpus."""
    import jonesy_spark.operators.dedup as DD

    k = 30
    _write_degenerate_docs(tmp_path, k)
    docs = spark.read.parquet(f"{tmp_path}/documents.parquet")

    clique = DD.minhash_lsh_pairs(docs, bucket_cap=None).count()
    assert clique == k * (k - 1) // 2
    star = DD.minhash_lsh_pairs(docs, bucket_cap=8).count()
    assert star == k - 1


def test_hot_bucket_cap_is_observable(spark, tmp_path):
    """A default-on recall change must be visible when it fires: the
    collapsed branch carries a named CollectMetrics observation
    (collapsed_members / hot_buckets) a production listener can read;
    with the cap disabled the node is absent."""
    import jonesy_spark.operators.dedup as DD

    _write_degenerate_docs(tmp_path, 30)
    docs = spark.read.parquet(f"{tmp_path}/documents.parquet")

    for op, name in [
        (DD.minhash_lsh_pairs, "hot_buckets_minhash"),
        (DD.simhash_near_dup, "hot_buckets_simhash"),
        (DD.ngram_jaccard_pairs, "hot_buckets_ngram"),
    ]:
        plan = str(op(docs, bucket_cap=8)._jdf.queryExecution().analyzed())
        assert name in plan and "collapsed_members" in plan, name
    uncapped = str(
        DD.minhash_lsh_pairs(docs, bucket_cap=None)
        ._jdf.queryExecution()
        .analyzed()
    )
    assert "hot_buckets" not in uncapped


def test_oracle_sql_carries_operator_bucket_cap():
    """The dedup oracles interpolate the SHARED cap constant; a literal
    that drifted from BUCKET_CAP would silently diverge the two engines
    on corpora with buckets between the two values (ADVICE r3)."""
    import jonesy_spark.operators.dedup as DD
    from jonesy_spark.plans import all_oracle_sql

    # full registry, not the rotating driver surface: the invariant is
    # about the oracle TEXT wherever the row currently lives
    oracles = all_oracle_sql()
    for name in ("dedup_minhash_lsh", "dedup_simhash", "dedup_ngram_jaccard"):
        sql = oracles[name]
        assert f"<= {DD.BUCKET_CAP}" in sql, name
        assert f"> {DD.BUCKET_CAP}" in sql, name


def test_hot_bucket_cap_matches_oracle_when_hit(spark, tmp_path):
    """The cap is mirrored in the DuckDB oracles: with 600 copies
    (> cap 256) the driver-registered queries must still hash-match
    their oracle SQL — the correctness gate holds even when the guard
    fires."""
    import duckdb

    from jonesy_spark.plans import all_oracle_sql, all_queries

    k = 600
    _write_degenerate_docs(tmp_path, k)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{tmp_path}/documents.parquet'"
    )
    q, o = all_queries(), all_oracle_sql()
    try:
        for name in ["dedup_minhash_lsh", "dedup_simhash", "dedup_ngram_jaccard"]:
            assert_matches_oracle(q[name](spark, str(tmp_path)), con, o[name])
    finally:
        con.close()


def test_dedup_release_caches_leaves_no_residue(spark):
    """VERDICT r4 #3: operators persist multi-consumer subtrees; a
    long-lived session (corpus job, 50-query driver run) must get them
    back once the terminal action ran. After the cache scope closes the
    session's SQL cache must be empty."""
    import jonesy_spark.operators.dedup as DD
    from conftest import SF_DIR
    from jonesy_spark.catalog import Catalog

    docs = Catalog(spark, SF_DIR).documents
    cache_mgr = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    assert cache_mgr.isEmpty()

    for op, kwargs in [
        (DD.minhash_lsh_pairs, {"threshold": 0.8}),
        (DD.simhash_near_dup, {"max_hamming": 3}),
        (DD.ngram_jaccard_pairs, {"threshold": 0.6}),
    ]:
        with cache_scope():
            df = op(docs, **kwargs)
            df.write.mode("overwrite").format("noop").save()
            assert not cache_mgr.isEmpty(), op.__name__  # something was cached
        assert cache_mgr.isEmpty(), op.__name__


@pytest.mark.slow
def test_cap_split_is_noop_below_cap(spark):
    """The window-based hot-bucket split (r5) must be semantically
    invisible while every bucket is <= cap: capped and uncapped outputs
    identical for all three LSH-family operators on a corpus with
    duplicates but no degenerate bucket."""
    import jonesy_spark.operators.dedup as DD
    from pyspark.sql import functions as F

    rows = []
    for i in range(60):
        base = f"tok{i % 7} tok{(i * 3) % 11} tok{(i * 5) % 13} middle words here"
        if i % 4 == 0:
            base = f"tok{(i - 1) % 7} tok{((i - 1) * 3) % 11} tok{((i - 1) * 5) % 13} middle words here"
        rows.append((i, base))
    docs = spark.createDataFrame(rows, ["doc_id", "text"]).withColumn(
        "lang", F.lit("en")
    )
    for op, kwargs in [
        (DD.minhash_lsh_pairs, {"threshold": 0.5}),
        (DD.simhash_near_dup, {"max_hamming": 8, "n_bands": 16}),
        (DD.ngram_jaccard_pairs, {"threshold": 0.4}),
    ]:
        capped = sorted(map(tuple, op(docs, **kwargs).collect()))
        uncapped = sorted(map(tuple, op(docs, bucket_cap=None, **kwargs).collect()))
        assert capped == uncapped and capped, op.__name__


def test_incremental_embedding_dedup_two_batches(spark, tmp_path):
    """Persisted IVF index: batch 1 freezes the centroid table and
    seeds its cells; batch 2 copies of batch-1 vectors must be caught by
    the cell probe (cosine 1.0) without reading vectors outside the
    probed cells, and only genuinely novel vectors are appended."""
    import glob

    from conftest import SF_DIR
    from pyspark.sql import functions as F

    from jonesy_spark.catalog import Catalog
    from jonesy_spark.operators import similarity as SIM

    idx = str(tmp_path / "ivf")
    spark.catalog.clearCache()  # isolate the residue assertion below
    emb = Catalog(spark, SF_DIR).embeddings
    with cache_scope():
        batch1 = emb.filter(F.col("vec_id") < 80)
        novel1, matches1 = SIM.incremental_embedding_dedup(
            batch1, spark, idx, threshold=0.995, run_id="r0"
        )
        assert matches1.count() == 0  # no index yet
        n1 = novel1.count()
        assert 0 < n1 <= 80

        # batch 2: exact copies of three batch-1 survivors + fresh vectors
        survivors = [r["vec_id"] for r in novel1.select("vec_id").limit(3).collect()]
        copies = (
            emb.filter(F.col("vec_id").isin(survivors))
            .withColumn("vec_id", F.col("vec_id") + 1000)
        )
        fresh = emb.filter((F.col("vec_id") >= 80) & (F.col("vec_id") < 90))
        novel2, matches2 = SIM.incremental_embedding_dedup(
            copies.unionByName(fresh), spark, idx, threshold=0.995, run_id="r1"
        )
        hit = {(r["vec_id"], r["index_vec_id"]) for r in matches2.collect()}
        for s in survivors:
            assert (s + 1000, s) in hit  # each copy matched its original
        assert {r["vec_id"] for r in novel2.collect()}.isdisjoint(
            {s + 1000 for s in survivors}
        )

        # layout: frozen centroids + cid-partitioned per-run assignments
        assert glob.glob(f"{idx}/centroids/*.parquet")
        assert glob.glob(f"{idx}/assignments/ingest_batch=r0/cid=*/*.parquet")
        assert glob.glob(f"{idx}/assignments/ingest_batch=r1/cid=*/*.parquet")
        # the index never double-stores a vector id
        stored = [
            r["vec_id"]
            for r in spark.read.parquet(f"{idx}/assignments").select("vec_id").collect()
        ]
        assert len(stored) == len(set(stored))

    # VERDICT r5 #6: persisted (not checkpointed) subtrees, released
    # with the scope
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.mark.slow
def test_rebuild_ivf_index_versions(spark, tmp_path):
    """VERDICT r5 missing #3: a growing corpus re-trains its frozen
    centroids via rebuild_ivf_index — new version=N subtree, k-means||
    centroids over every stored vector, atomic _COMMITTED publish.
    Readers resolving mid-rebuild (marker absent) keep the old layout;
    post-publish probes and appends land on the new one; the old
    subtree is untouched."""
    import glob
    import os

    from conftest import SF_DIR
    from pyspark.sql import functions as F

    from jonesy_spark.catalog import Catalog
    from jonesy_spark.operators import similarity as SIM

    idx = str(tmp_path / "ivf_rebuild")
    emb = Catalog(spark, SF_DIR).embeddings
    SIM.write_ivf_index(emb.filter(F.col("vec_id") < 60), idx, run_id="r0")
    SIM.write_ivf_index(
        emb.filter((F.col("vec_id") >= 60) & (F.col("vec_id") < 80)),
        idx,
        run_id="r1",
    )

    copies = emb.filter(F.col("vec_id") < 5).withColumn(
        "vec_id", F.col("vec_id") + 9000
    )
    pre = {
        (r["vec_id"], r["index_vec_id"])
        for r in SIM.probe_ivf_index(copies, spark, idx, threshold=0.999).collect()
    }
    assert pre  # exact copies match their originals pre-rebuild

    # an UNMARKED version subtree (rebuild in flight / crashed) must be
    # invisible: resolution stays on the legacy root
    os.makedirs(f"{idx}/version=5")
    assert SIM.live_ivf_version(spark, idx) is None
    mid = {
        (r["vec_id"], r["index_vec_id"])
        for r in SIM.probe_ivf_index(copies, spark, idx, threshold=0.999).collect()
    }
    assert mid == pre

    v = SIM.rebuild_ivf_index(spark, idx)
    assert v == 6  # numbered past the crashed subtree, never colliding
    assert SIM.live_ivf_version(spark, idx) == 6
    assert os.path.exists(f"{idx}/version=6/_COMMITTED")

    # same matches through the retrained cells (identical vectors share
    # a nearest centroid by definition)
    post = {
        (r["vec_id"], r["index_vec_id"])
        for r in SIM.probe_ivf_index(copies, spark, idx, threshold=0.999).collect()
    }
    assert post == pre
    # every stored vector made it across, exactly once
    stored = [
        r["vec_id"]
        for r in spark.read.parquet(f"{idx}/version=6/assignments")
        .select("vec_id")
        .collect()
    ]
    assert sorted(stored) == list(range(80))
    # the old layout is untouched (in-flight readers keep working)
    assert glob.glob(f"{idx}/assignments/ingest_batch=r0/cid=*/*.parquet")
    assert glob.glob(f"{idx}/assignments/ingest_batch=r1/cid=*/*.parquet")
    # appends now land in the live version
    SIM.write_ivf_index(
        emb.filter((F.col("vec_id") >= 80) & (F.col("vec_id") < 90)),
        idx,
        run_id="r2",
    )
    assert glob.glob(f"{idx}/version=6/assignments/ingest_batch=r2/cid=*/*.parquet")
    assert not glob.glob(f"{idx}/assignments/ingest_batch=r2")

    # vacuum (next maintenance window): stale version dirs + the legacy
    # root go; the live version and its probes are untouched
    deleted = SIM.vacuum_ivf_versions(spark, idx)
    assert any(d.endswith("version=5") for d in deleted)
    assert any(d.endswith("/assignments") for d in deleted)
    assert not os.path.exists(f"{idx}/version=5")
    assert not os.path.exists(f"{idx}/assignments")
    assert os.path.exists(f"{idx}/version=6/_COMMITTED")
    after_vacuum = {
        (r["vec_id"], r["index_vec_id"])
        for r in SIM.probe_ivf_index(copies, spark, idx, threshold=0.999).collect()
    }
    assert after_vacuum == pre
    assert SIM.vacuum_ivf_versions(spark, idx) == []  # idempotent


def test_probe_ivf_index_observability(spark, tmp_path):
    """VERDICT r5 #7 (embedding axis): the IVF probe's returned frame
    observes matches / matched_new_vecs, and the batch's assignment
    subtree observes probed_cells — nightly alerting costs zero extra
    actions."""
    from conftest import SF_DIR
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from jonesy_spark.catalog import Catalog
    from jonesy_spark.operators import similarity as SIM

    idx = str(tmp_path / "ivf_obs")
    emb = Catalog(spark, SF_DIR).embeddings
    with cache_scope():
        seed_novel, _ = SIM.incremental_embedding_dedup(
            emb.filter(F.col("vec_id") < 60), spark, idx, threshold=0.995, run_id="r0"
        )
        seed_ids = [r["vec_id"] for r in seed_novel.select("vec_id").limit(2).collect()]

    copies = (
        emb.filter(F.col("vec_id").isin(seed_ids))
        .withColumn("vec_id", F.col("vec_id") + 5000)
    )
    obs = Observation("ivf_probe")
    out = SIM.probe_ivf_index(copies, spark, idx, threshold=0.995, observation=obs)
    assert out.count() >= len(seed_ids)
    got = obs.get
    assert got["matches"] >= len(seed_ids)
    assert got["matched_new_vecs"] >= 1
    assert "probe_ivf_cells" in str(out._jdf.queryExecution().analyzed())


def test_ivf_index_offset_ids_seed_centroids(spark, tmp_path):
    """ADVICE r5 #2: a first batch whose vec_ids are offset/sparse (post
    dedup, hashed, partition-offset) must still freeze a usable centroid
    table — the old id-value filter (vec_id < K) found no rows and froze
    an empty index that could never match anything, permanently."""
    import glob

    from conftest import SF_DIR
    from pyspark.sql import functions as F

    from jonesy_spark.catalog import Catalog
    from jonesy_spark.operators import similarity as SIM

    idx = str(tmp_path / "ivf_offset")
    emb = Catalog(spark, SF_DIR).embeddings
    offset = emb.filter(F.col("vec_id") < 60).withColumn(
        "vec_id", F.col("vec_id") + 5_000_000
    )
    SIM.write_ivf_index(offset, idx, run_id="r0")
    cents = spark.read.parquet(f"{idx}/centroids")
    k = SIM.adaptive_centroids(60)
    assert cents.count() == k  # rank-based seed ignores id values
    assert glob.glob(f"{idx}/assignments/ingest_batch=r0/cid=*/*.parquet")

    # a copy of an indexed vector must be found by the probe
    probe_batch = (
        emb.filter(F.col("vec_id") < 3).withColumn("vec_id", F.col("vec_id") + 9_000_000)
    )
    hits = SIM.probe_ivf_index(probe_batch, spark, idx, threshold=0.999)
    got = {(r["vec_id"], r["index_vec_id"]) for r in hits.collect()}
    for i in range(3):
        assert (9_000_000 + i, 5_000_000 + i) in got


def test_ivf_index_refuses_empty_first_batch(spark, tmp_path):
    """Creation must fail loudly rather than freeze a matchless index."""
    import pytest

    from conftest import SF_DIR
    from pyspark.sql import functions as F

    from jonesy_spark.catalog import Catalog
    from jonesy_spark.operators import similarity as SIM

    emb = Catalog(spark, SF_DIR).embeddings.filter(F.col("vec_id") < 0)
    with pytest.raises(ValueError, match="empty centroid"):
        SIM.write_ivf_index(emb, str(tmp_path / "ivf_empty"), run_id="r0")


def test_ngram_containment_asymmetric(spark):
    """Containment catches a short doc pasted inside a long one — the
    pair symmetric Jaccard misses — and only in the contained->container
    direction when the container has enough extra material."""
    from jonesy_spark.operators import dedup as DD

    short = "alpha beta gamma delta words"
    long = (
        "completely unrelated opening material here " + short +
        " and then a very long tail of additional unrelated content "
        "stretching onward with many extra characters to dilute jaccard"
    )
    docs = spark.createDataFrame(
        [(1, short), (2, long), (3, "nothing in common at all here")],
        ["doc_id", "text"],
    ).withColumn("lang", F.lit("en"))
    got = {
        (r["doc_a"], r["doc_b"]): r["containment_micro"]
        for r in DD.ngram_containment(docs, n=5, threshold=0.8).collect()
    }
    assert (1, 2) in got and got[(1, 2)] == 1_000_000  # short fully contained
    assert (2, 1) not in got  # container is NOT contained in the part
    assert not any(3 in k for k in got)
    # and the symmetric-Jaccard operator indeed misses the pair at the
    # same confidence: |A|/|B| bounds jaccard well below containment
    jac = DD.ngram_jaccard_pairs(docs, n=5, threshold=0.8)
    assert jac.filter("doc_a = 1 AND doc_b = 2").count() == 0


def test_ngram_containment_df_cap_drops_boilerplate(spark):
    """Grams above the document-frequency cap are excluded from both
    numerator and denominator — a gram shared by every doc must not
    produce all-pairs containment."""
    from jonesy_spark.operators import dedup as DD

    boiler = "sharedboilerplategram"
    rows = [(i, f"{boiler} unique{i}content{i}") for i in range(10)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = DD.ngram_containment(docs, n=5, threshold=0.5, df_cap=5).collect()
    # the boilerplate grams (df=10 > 5) are dropped; the unique tails
    # share nothing, so no pair reaches 0.5
    assert got == []


def test_incremental_embedding_dedup_replay_idempotent(spark, tmp_path):
    """ADVICE r5 #1, embedding axis: a replayed batch (same run_id) must
    not probe its own crashed attempt's committed vectors — without the
    ingest_batch exclusion every survivor self-matches at cosine 1.0
    and the batch is erased on replay."""
    from conftest import SF_DIR
    from pyspark.sql import functions as F

    from jonesy_spark.catalog import Catalog
    from jonesy_spark.operators import similarity as SIM

    idx = str(tmp_path / "ivf_replay")
    batch = Catalog(spark, SF_DIR).embeddings.filter(F.col("vec_id") < 40)
    novel1, _ = SIM.incremental_embedding_dedup(
        batch, spark, idx, threshold=0.995, run_id="epoch-0", mode="overwrite"
    )
    ids1 = sorted(r["vec_id"] for r in novel1.collect())
    assert ids1

    sunk: list[list[int]] = []
    novel2, matches2 = SIM.incremental_embedding_dedup(
        batch,
        spark,
        idx,
        threshold=0.995,
        run_id="epoch-0",
        mode="overwrite",
        novel_sink=lambda df: sunk.append(sorted(r["vec_id"] for r in df.collect())),
    )
    assert matches2.count() == 0  # own subtree pruned
    assert sorted(r["vec_id"] for r in novel2.collect()) == ids1
    assert sunk == [ids1]
    stored = sorted(
        r["vec_id"]
        for r in spark.read.parquet(f"{idx}/assignments")
        .select("vec_id")
        .distinct()
        .collect()
    )
    assert stored == ids1


def test_compact_ivf_assignments(spark, tmp_path):
    """IVF compaction collapses the per-epoch vector subtrees into one
    cid-partitioned tree; probes are unchanged."""
    import glob

    from conftest import SF_DIR
    from pyspark.sql import functions as F

    from jonesy_spark.catalog import Catalog
    from jonesy_spark.operators import similarity as SIM

    idx = str(tmp_path / "ivf")
    emb = Catalog(spark, SF_DIR).embeddings
    SIM.write_ivf_index(emb.filter(F.col("vec_id") < 40), idx, run_id="e0")
    SIM.write_ivf_index(
        emb.filter((F.col("vec_id") >= 40) & (F.col("vec_id") < 80)), idx, run_id="e1"
    )
    probe = emb.filter(F.col("vec_id") < 3).withColumn(
        "vec_id", F.col("vec_id") + 1000
    )
    before = sorted(
        map(tuple, SIM.probe_ivf_index(probe, spark, idx, threshold=0.999).collect())
    )
    rid = SIM.compact_ivf_assignments(spark, idx)
    assert rid.startswith("compact-2-")
    trees = glob.glob(f"{idx}/assignments/ingest_batch=*")
    assert len(trees) == 1 and trees[0].endswith(rid)
    after = sorted(
        map(tuple, SIM.probe_ivf_index(probe, spark, idx, threshold=0.999).collect())
    )
    assert after == before and before  # copies still found post-compaction


def test_quantize_int8_roundtrip_bounded(spark):
    """Per-component reconstruction error is <= scale/2 and the cosine
    distortion is negligible — the storage-tier contract."""
    from jonesy_spark.functions import vectors as V

    emb = Catalog(spark, SF_DIR).embeddings
    q = emb.select(
        "vec_id",
        V.as_double(F.col("embedding")).alias("orig"),
        V.quantize_int8(F.col("embedding")).alias("qv"),
    )
    assert q.schema["qv"].dataType.simpleString() == "struct<q:array<tinyint>,scale:float>"
    r = q.select(
        V.cosine(F.col("orig"), V.dequantize_int8(F.col("qv"))).alias("cos"),
        F.array_max(
            F.zip_with(
                F.col("orig"), V.dequantize_int8(F.col("qv")), lambda a, b: F.abs(a - b)
            )
        ).alias("maxerr"),
        (F.col("qv.scale") / 2).alias("bound"),
    )
    assert r.filter(F.col("maxerr") > F.col("bound") * 1.01).count() == 0
    assert r.agg(F.min("cos")).first()[0] >= 0.999

    # all-zero vector round-trips exactly instead of dividing by zero
    z = spark.createDataFrame([([0.0, 0.0, 0.0],)], "v array<float>")
    back = z.select(V.dequantize_int8(V.quantize_int8(F.col("v"))).alias("d")).first()["d"]
    assert back == [0.0, 0.0, 0.0]


def test_quantized_topk_recall_and_exact_scores(spark):
    """Candidate generation off the int8 store recalls ~all of the
    float-exact top-k, and the re-ranked scores are EXACT (float
    originals re-score the survivors)."""
    from jonesy_spark.operators import similarity as SIM

    emb = Catalog(spark, SF_DIR).embeddings
    exact = SIM.cosine_topk(emb, k=10).persist()
    approx = SIM.quantized_topk(emb, k=10)
    rec = SIM.ann_recall(exact, approx).collect()
    assert len(rec) == 10
    assert min(r["recall_micro"] for r in rec) >= 900_000

    # overlapping pairs carry identical cosines: the rerank is exact
    both = exact.select("query_id", "vec_id", F.col("cosine_micro").alias("ce")).join(
        approx.select("query_id", "vec_id", F.col("cosine_micro").alias("ca")),
        ["query_id", "vec_id"],
    )
    assert both.filter(F.col("ce") != F.col("ca")).count() == 0
    exact.unpersist()


def test_semantic_dedup_prunes_planted_duplicates_min_id_wins(spark):
    """SemDeDup frame semantics on a planted fixture: three exact
    copies of one vector (cosine 1.0, same sign cell by construction)
    prune down to the min id; an orthogonal singleton survives; every
    pruned row names the MIN smaller-id duplicate."""
    from jonesy_spark.operators import similarity as SIM

    base = [1.0, 2.0, -3.0, 0.5, 0.0, 1.0, 0.0, 0.0]
    ortho = [-1.0, 2.0, 3.0, -0.5, 1.0, -1.0, 0.0, 0.0]
    rows = [
        (10, base, "a"),
        (11, [x * 2.0 for x in base], "a"),  # scaled copy: cosine 1.0
        (12, base, "a"),
        (20, ortho, "b"),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label string"
    )
    with cache_scope():
        got = {r["vec_id"]: r.asDict() for r in SIM.semantic_dedup(emb, threshold=0.9).collect()}
    assert len(got) == 4
    assert not got[10]["is_pruned"] and got[10]["pruned_by"] == -1
    assert got[11]["is_pruned"] and got[11]["pruned_by"] == 10
    assert got[12]["is_pruned"] and got[12]["pruned_by"] == 10
    assert not got[20]["is_pruned"] and got[20]["pruned_by"] == -1
    # cells: the copies share one sign cell; the flipped-sign vector
    # lands elsewhere (so it was never even a candidate)
    assert got[10]["cell"] == got[11]["cell"] == got[12]["cell"]
    assert got[20]["cell"] != got[10]["cell"]


def test_semantic_dedup_matches_brute_force_on_fixture(spark):
    """The blocked frame equals the unblocked definition WITHIN cells:
    for every vector, pruned_by is exactly the min smaller-id
    same-cell partner at cosine >= threshold computed brute-force in
    numpy over the sf fixture."""
    import numpy as np

    from jonesy_spark.operators import similarity as SIM

    emb = Catalog(spark, SF_DIR).embeddings
    with cache_scope():
        out = SIM.semantic_dedup(emb, threshold=0.3)
        got = {r["vec_id"]: (r["is_pruned"], r["pruned_by"]) for r in out.collect()}

    rows = sorted(
        (r["vec_id"], np.array(r["embedding"], dtype=np.float64))
        for r in emb.collect()
    )
    cells = {
        vid: "".join("1" if v[i] >= 0 else "0" for i in range(6))
        for vid, v in rows
    }
    want = {}
    for vid, v in rows:
        best = -1
        for wid, w in rows:
            if wid >= vid or cells[wid] != cells[vid]:
                continue
            cos_micro = round(
                float(v @ w)
                / (np.linalg.norm(v) * np.linalg.norm(w))
                * 1_000_000
            )
            if cos_micro >= 300_000:
                best = wid if best < 0 else min(best, wid)
        want[vid] = (best >= 0, best)
    assert got == want


def test_ann_recall_identity_and_miss(spark):
    from jonesy_spark.operators import similarity as SIM

    emb = Catalog(spark, SF_DIR).embeddings
    exact = SIM.cosine_topk(emb, k=5).persist()
    self_rec = SIM.ann_recall(exact, exact)
    assert all(r["recall_micro"] == 1_000_000 for r in self_rec.collect())
    # an empty approximation scores recall 0, not a crash or a dropped row
    empty = exact.filter(F.lit(False))
    zero = SIM.ann_recall(exact, empty)
    assert all(r["recall_micro"] == 0 for r in zero.collect())
    exact.unpersist()


def test_ivf_index_int8_tier(spark, tmp_path):
    """quantize=True stores the int8 tier; the format is sticky across
    appends, survives a rebuild, probes still find copies, and the
    subtree is materially smaller than its float twin."""
    import glob as _glob
    import os as _os

    from jonesy_spark.operators import similarity as SIM

    emb = Catalog(spark, SF_DIR).embeddings
    idx = str(tmp_path / "ivf8")
    SIM.write_ivf_index(emb.filter(F.col("vec_id") < 300), idx, run_id="e0", quantize=True)
    stored = spark.read.parquet(f"{idx}/assignments")
    assert "qv" in stored.columns and "v" not in stored.columns

    # appends follow the index's format even when the call disagrees
    SIM.write_ivf_index(
        emb.filter((F.col("vec_id") >= 300) & (F.col("vec_id") < 400)),
        idx,
        run_id="e1",
        quantize=False,
    )
    assert "qv" in spark.read.parquet(f"{idx}/assignments/ingest_batch=e1").columns

    # copies probe through the quantized store (distortion << threshold)
    probe = emb.filter(F.col("vec_id") < 3).withColumn("vec_id", F.col("vec_id") + 1000)
    got = {
        (r["vec_id"], r["index_vec_id"])
        for r in SIM.probe_ivf_index(probe, spark, idx, threshold=0.99).collect()
    }
    assert {(1000, 0), (1001, 1), (1002, 2)} <= got

    # rebuild re-trains on dequantized vectors and stays int8
    v = SIM.rebuild_ivf_index(spark, idx)
    assert "qv" in spark.read.parquet(f"{idx}/version={v}/assignments").columns
    got2 = {
        (r["vec_id"], r["index_vec_id"])
        for r in SIM.probe_ivf_index(probe, spark, idx, threshold=0.99).collect()
    }
    assert {(1000, 0), (1001, 1), (1002, 2)} <= got2

    # the int8 subtree is materially smaller than a float twin of the
    # same batch (64-dim doubles: 512 B/row raw vs 64 B + scale)
    idxf = str(tmp_path / "ivff")
    SIM.write_ivf_index(emb.filter(F.col("vec_id") < 300), idxf, run_id="e0")

    def _bytes(root):
        return sum(
            _os.path.getsize(p)
            for p in _glob.glob(f"{root}/**/*.parquet", recursive=True)
        )

    # raw vector bytes shrink 8x (512 B -> 68 B per 64-dim row) but at
    # 300 rows the per-file parquet overhead (~1 footer per cid cell)
    # dominates both trees, so assert the direction, not the asymptote
    assert _bytes(f"{idx}/assignments/ingest_batch=e0") < 0.65 * _bytes(
        f"{idxf}/assignments/ingest_batch=e0"
    )


def test_embedding_health_flags_defects(spark):
    """The pre-flight report catches the classic export defects:
    duplicate ids, mixed dims, null and zero vectors."""
    from jonesy_spark.operators.similarity import embedding_health

    healthy = Catalog(spark, SF_DIR).embeddings
    h = embedding_health(healthy).first()
    assert h["n_rows"] == h["n_distinct_ids"] == 500
    assert h["n_dims_seen"] == 1 and h["dim_min"] == h["dim_max"] == 64
    assert h["n_null_vecs"] == 0 and h["n_zero_vecs"] == 0
    assert h["norm_min_micro"] > 0

    broken = spark.createDataFrame(
        [
            (1, [1.0, 0.0], 0),
            (1, [0.0, 1.0], 0),        # duplicate id
            (2, [1.0, 2.0, 3.0], 0),   # mixed dimension
            (3, None, 0),              # null vector
            (4, [0.0, 0.0], 0),        # zero vector
        ],
        "vec_id long, embedding array<float>, label int",
    )
    b = embedding_health(broken).first()
    assert b["n_rows"] == 5 and b["n_distinct_ids"] == 4
    assert b["n_dims_seen"] == 2 and (b["dim_min"], b["dim_max"]) == (2, 3)
    assert b["n_null_vecs"] == 1 and b["n_zero_vecs"] == 1


def test_lsh_recall_report_planted_duplicates(spark):
    """Identical-set pairs share every band key, so banding recall over
    a corpus whose only true pairs are exact duplicates is 1.0 — and
    the report's counts, worst_miss and cache-release contract hold."""
    from jonesy_spark.operators.dedup import lsh_recall_report

    rows = []
    # 20 mutually-distinct docs (disjoint token sets)
    for i in range(20):
        rows.append((i, " ".join(f"tok{i}_{j}" for j in range(30))))
    # 5 planted exact duplicates of the first five docs
    for k in range(5):
        rows.append((100 + k, rows[k][1]))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    spark.catalog.clearCache()
    with cache_scope():
        r = lsh_recall_report(docs, threshold=0.8, sample_frac=1.0).collect()[0]
    assert r["n_docs"] == 25
    assert r["n_true_pairs"] == 5
    assert r["recall_micro"] == 1_000_000
    assert r["worst_miss_micro"] == -1  # no miss: -1 sentinel, not NULL
    assert r["n_lsh_pairs"] == 5
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_lsh_recall_report_empty_sample(spark):
    from jonesy_spark.operators.dedup import lsh_recall_report

    docs = spark.createDataFrame(
        [(i, f"unique text {i}") for i in range(10)], "doc_id long, text string"
    )
    with cache_scope():
        r = lsh_recall_report(docs, sample_frac=1.0).collect()[0]
    # no true pairs -> vacuous recall 1.0, nothing missed
    assert r["n_true_pairs"] == 0 and r["recall_micro"] == 1_000_000


def test_prefix_jaccard_pairs_exact_vs_brute_force(spark):
    """Recall 1.0 by theorem: the prefix-filtered join returns EXACTLY
    the brute-force >= 0.8 pairs, and the probabilistic LSH pairs are
    a subset of them."""
    from jonesy_spark.operators.dedup import minhash_lsh_pairs, prefix_jaccard_pairs

    base = ["alpha bravo charlie delta echo foxtrot golf hotel india juliet"]
    rows = []
    for i in range(12):
        rows.append((i, " ".join(f"w{i}_{j}" for j in range(10))))
    # near-dup pairs at graded overlap: 9/11 (~0.818), 8/12 (~0.667)
    rows.append((100, base[0]))
    rows.append((101, base[0].replace("juliet", "kilo")))       # J=9/11
    rows.append((102, base[0].replace("india juliet", "kilo lima")))  # J=8/12
    rows.append((103, base[0]))                                  # J=1.0 w/ 100
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    with cache_scope():
        got = {
            (r["doc_a"], r["doc_b"]): r["jaccard_micro"]
            for r in prefix_jaccard_pairs(docs, threshold=0.8).collect()
        }
    # brute force over hashed token sets
    from jonesy_spark.functions.text import jaccard_micro as jx
    from jonesy_spark.operators.dedup import element_hash

    toks = docs.select(
        "doc_id",
        F.array_distinct(
            F.transform(
                F.split(F.lower(F.trim("text")), " "),
                lambda t: element_hash(t),
            )
        ).alias("toks"),
    )
    a, b = toks.alias("a"), toks.alias("b")
    brute = {
        (r["da"], r["db"]): r["j"]
        for r in a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("da"),
            F.col("b.doc_id").alias("db"),
            jx(F.col("a.toks"), F.col("b.toks")).alias("j"),
        )
        .filter(F.col("j") >= 800_000)
        .collect()
    }
    assert got == brute
    assert (100, 101) in got and (100, 103) in got
    assert (100, 102) not in got  # 0.667 < threshold

    with cache_scope():
        lsh_pairs = {
            (r["doc_a"], r["doc_b"]) for r in minhash_lsh_pairs(docs, threshold=0.8).collect()
        }
    assert lsh_pairs <= set(got)


def test_resample_ffill_gap_semantics(spark):
    from jonesy_spark.operators.windows import resample_ffill

    # user 1: events in buckets 0 and 1800 (hole at 600, 1200); user 2: one event
    rows = [
        (1, 1, "2024-01-01 00:01:00", 10.0),
        (2, 1, "2024-01-01 00:05:00", 20.0),   # same bucket, later -> wins
        (3, 1, "2024-01-01 00:31:00", 30.0),   # bucket 1800
        (4, 2, "2024-01-01 01:00:00", 99.0),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts string, value double"
    )
    got = {
        (r["user_id"], r["grid_epoch"]): r
        for r in resample_ffill(ev, step_seconds=600).collect()
    }
    base = 1704067200  # 2024-01-01 00:00:00 UTC
    u1 = [(1, base), (1, base + 600), (1, base + 1200), (1, base + 1800)]
    assert set(got) == set(u1) | {(2, base + 3600)}
    # bucket 0: two events, last (by ts) wins
    assert got[(1, base)]["n_events"] == 2 and got[(1, base)]["last_value_micro"] == 20_000_000
    # holes: flagged gaps, value carried forward
    for e in (base + 600, base + 1200):
        assert got[(1, e)]["is_gap"] == 1 and got[(1, e)]["last_value_micro"] == 20_000_000
        assert got[(1, e)]["n_events"] == 0
    assert got[(1, base + 1800)]["last_value_micro"] == 30_000_000
    assert got[(2, base + 3600)]["is_gap"] == 0


def test_trailing_range_stats_time_horizon(spark):
    """RANGE frame semantics: the frame is a TIME horizon, not a row
    count — a burst inside the window aggregates fully, events past
    the horizon fall out."""
    from jonesy_spark.operators.windows import trailing_range_stats

    rows = [
        (1, 1, "2024-01-01 00:00:00", 10.0),
        (2, 1, "2024-01-01 10:00:00", 20.0),
        (3, 1, "2024-01-01 10:00:00", 30.0),   # same second: peer row
        (4, 1, "2024-01-02 09:00:00", 40.0),   # 10:00 day1 still in 24h
        (5, 1, "2024-01-03 00:00:00", 50.0),   # only event 4 (15h ago) left
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts string, value double"
    )
    got = {r["event_id"]: r for r in trailing_range_stats(ev).collect()}
    assert got[1]["n_trailing"] == 1 and got[1]["mean_trailing_micro"] == 10_000_000
    # peer rows at the same epoch are BOTH in each other's frame
    assert got[2]["n_trailing"] == 3 and got[3]["n_trailing"] == 3
    assert got[2]["mean_trailing_micro"] == 20_000_000  # (10+20+30)/3
    # 24h horizon: event 1 (00:00 day1) aged out by 09:00 day2
    assert got[4]["n_trailing"] == 3 and got[4]["max_trailing_micro"] == 40_000_000
    assert got[5]["n_trailing"] == 2 and got[5]["mean_trailing_micro"] == 45_000_000


def test_resample_interpolate_straight_line(spark):
    from jonesy_spark.operators.windows import resample_interpolate

    # values 10 at bucket 0 and 40 at bucket 1800: gaps at 600/1200
    # must land exactly on the line (20, 30)
    rows = [
        (1, 1, "2024-01-01 00:01:00", 10.0),
        (2, 1, "2024-01-01 00:31:00", 40.0),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts string, value double"
    )
    got = {
        r["grid_epoch"]: r
        for r in resample_interpolate(ev, step_seconds=600).collect()
    }
    base = 1704067200
    assert got[base]["value_interp_micro"] == 10_000_000 and got[base]["is_gap"] == 0
    assert got[base + 600]["value_interp_micro"] == 20_000_000
    assert got[base + 1200]["value_interp_micro"] == 30_000_000
    assert got[base + 1800]["value_interp_micro"] == 40_000_000
    assert got[base + 600]["is_gap"] == 1 and got[base + 1200]["is_gap"] == 1


def test_funnel_conversion_strict_ordering(spark):
    from jonesy_spark.operators.windows import funnel_conversion

    rows = [
        # user 1: full funnel in order
        (1, 1, "2024-01-01 00:00:00", "view"),
        (2, 1, "2024-01-01 01:00:00", "click"),
        (3, 1, "2024-01-01 02:00:00", "purchase"),
        # user 2: purchase BEFORE click -> stops at step 2
        (4, 2, "2024-01-01 00:00:00", "view"),
        (5, 2, "2024-01-01 00:30:00", "purchase"),
        (6, 2, "2024-01-01 01:00:00", "click"),
        # user 3: click only, never viewed -> not in the funnel at all
        (7, 3, "2024-01-01 00:00:00", "click"),
        # user 4: view only
        (8, 4, "2024-01-01 00:00:00", "view"),
        # user 5: earliest click is BEFORE view; a later click counts
        (9, 5, "2024-01-01 00:00:00", "click"),
        (10, 5, "2024-01-01 01:00:00", "view"),
        (11, 5, "2024-01-01 02:00:00", "click"),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts string, event_type string"
    )
    got = {
        r["user_id"]: r
        for r in funnel_conversion(
            ev, steps=["view", "click", "purchase"]
        ).collect()
    }
    assert set(got) == {1, 2, 4, 5}
    assert got[1]["furthest_step"] == 3
    assert got[2]["furthest_step"] == 2  # purchase before click: no credit
    assert got[2]["step3_epoch"] is None
    assert got[4]["furthest_step"] == 1
    assert got[5]["furthest_step"] == 2
    base = 1704067200
    assert got[5]["step2_epoch"] == base + 7200  # the post-view click


def test_retention_cohorts_matrix(spark):
    from jonesy_spark.operators.windows import retention_cohorts

    W = 604_800
    base = 1704067200 - (1704067200 % W)  # week bucket containing 2024-01-01
    rows = [
        # cohort week 0: users 1, 2 sign up
        (1, 1, "2024-01-01 00:00:00", "signup"),
        (2, 2, "2024-01-02 00:00:00", "signup"),
        # user 1 active weeks 0 and 1; user 2 only week 0
        (3, 1, "2024-01-03 00:00:00", "click"),
        (4, 1, "2024-01-10 00:00:00", "view"),
        (5, 2, "2024-01-03 00:00:00", "click"),
        # user 3: activity but NO signup -> excluded entirely
        (6, 3, "2024-01-03 00:00:00", "click"),
        # user 2 had activity BEFORE signup-week: not counted (negative offset)
        (7, 2, "2023-12-20 00:00:00", "click"),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts string, event_type string"
    )
    got = {
        (r["cohort_epoch"], r["week_offset"]): r
        for r in retention_cohorts(ev).collect()
    }
    assert set(k[1] for k in got) == {0, 1}
    (c0,) = {k[0] for k in got}
    assert got[(c0, 0)]["n_active"] == 2 and got[(c0, 0)]["cohort_size"] == 2
    assert got[(c0, 0)]["retention_micro"] == 1_000_000
    assert got[(c0, 1)]["n_active"] == 1 and got[(c0, 1)]["retention_micro"] == 500_000


def test_event_transitions_semantics(spark):
    """Constructed paths: A->B twice, B->C once across users; per-key
    isolation (no cross-user pair); shares sum to 1 over the report."""
    from datetime import datetime

    from jonesy_spark.operators.windows import event_transitions

    rows = [
        (1, datetime(2024, 1, 1, 0, 0), "A"),
        (1, datetime(2024, 1, 1, 0, 1), "B"),
        (1, datetime(2024, 1, 1, 0, 2), "C"),
        (2, datetime(2024, 1, 1, 0, 0), "A"),
        (2, datetime(2024, 1, 1, 0, 5), "B"),
        (3, datetime(2024, 1, 1, 9, 0), "Z"),  # single event: no pair
    ]
    events = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string"
    )
    got = {
        (r["from_type"], r["to_type"]): (r["n_transitions"], r["share_micro"])
        for r in event_transitions(events).collect()
    }
    assert got == {
        ("A", "B"): (2, round(2 / 3 * 1e6)),
        ("B", "C"): (1, round(1 / 3 * 1e6)),
    }


def test_trailing_anomaly_flags_semantics(spark):
    """A spike against an established flat-ish baseline flags; early
    events (thin baseline) and the baseline points themselves don't;
    the frame excludes the current row so the spike can't dampen its
    own baseline."""
    from datetime import datetime, timedelta

    from jonesy_spark.operators.windows import trailing_anomaly_flags

    t0 = datetime(2024, 1, 1)
    vals = [10.0, 11.0, 9.0, 10.5, 9.5, 10.0, 100.0, 10.2]
    rows = [
        (i, t0 + timedelta(minutes=i), 1, v) for i, v in enumerate(vals)
    ]
    events = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, value double"
    )
    got = {
        r["event_id"]: r
        for r in trailing_anomaly_flags(
            events, window_seconds=3600, z=3.0, min_baseline=5
        ).collect()
    }
    assert got[6]["is_anomaly"]          # the spike
    assert got[6]["n_baseline"] == 6     # excludes itself
    assert not any(got[i]["is_anomaly"] for i in range(6))  # baseline rows
    # the event AFTER the spike: baseline now contains 100.0, stddev
    # widens, 10.2 is not 3 sigma out
    assert not got[7]["is_anomaly"]
    # thin-baseline rows carry NULL z, not a flag
    assert got[1]["z_score_micro"] is None and not got[1]["is_anomaly"]


def test_lsh_recall_report_truth_pair_budget_guard(spark):
    """A sample_frac typo must not schedule an all-pairs join: the
    report counts the sample up front and raises when sample^2/2
    exceeds max_truth_pairs (VERDICT r7 #8)."""
    import pytest as _pytest

    from jonesy_spark.operators.dedup import lsh_recall_report

    docs = spark.createDataFrame(
        [(i, f"tok{i} tok{i+1}") for i in range(10)],
        "doc_id long, text string",
    )
    with _pytest.raises(ValueError, match="max_truth_pairs"):
        lsh_recall_report(
            docs, threshold=0.8, sample_frac=1.0, max_truth_pairs=3
        )
    # within budget: the same corpus builds the report
    rep = lsh_recall_report(
        docs, threshold=0.8, sample_frac=1.0, max_truth_pairs=1000
    )
    assert rep.collect()[0]["n_docs"] == 10


def test_pq_topk_reranked_scores_exact_and_recall_floor(spark):
    """IVF-PQ's ADC tier: reranked scores must EQUAL the brute-force
    float scores for every reported (query, vec) pair (the re-rank is
    exact by construction), PQ recall must clear a floor on the
    near-isotropic fixture (the hardest regime), and the code table
    must be m small ints per vector (the 32x scan-compression claim)."""
    from jonesy_spark.operators import similarity as SIM

    emb = Catalog(spark, SF_DIR).embeddings
    books = SIM.pq_codebooks(emb, m=8, k=16)
    assert books.count() == 8 * 16
    codes = SIM.pq_encode(emb, books)
    crow = codes.first()
    assert len(crow["codes"]) == 8
    assert all(0 <= c < 16 for c in crow["codes"])
    assert codes.count() == emb.count()

    exact = {
        (r["query_id"], r["vec_id"]): r["cosine_micro"]
        for r in SIM.cosine_topk(emb, k=10, n_queries=8).collect()
    }
    pq = {
        (r["query_id"], r["vec_id"]): r["cosine_micro"]
        for r in SIM.pq_topk(
            emb, k=10, n_queries=8, overfetch=4,
            codebooks=books, codes=codes,
        ).collect()
    }
    # every reported PQ score is the exact float score
    all_scores = {
        (r["query_id"], r["vec_id"]): r["cosine_micro"]
        for r in SIM.cosine_topk(
            emb, k=emb.count(), n_queries=8
        ).collect()
    }
    for pair, score in pq.items():
        assert score == all_scores[pair], pair
    recall = len(set(pq) & set(exact)) / len(exact)
    assert recall >= 0.5, f"PQ recall {recall:.3f} below floor"


def test_pq_encode_identical_vectors_share_codes(spark):
    """Two identical embeddings must encode to identical code words
    (determinism of the argmin incl. its tie-break), and ADC distance
    between a vector and itself through the no-rerank path must rank
    it first."""
    from jonesy_spark.operators import similarity as SIM

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0, 1.0, 0.0, 0.0, 0.0], 0),
        (1, [1.0, 0.0, 0.0, 0.0, 1.0, 0.0, 0.0, 0.0], 0),  # copy of 0
        (2, [0.0, 1.0, 0.0, 0.0, 0.0, 1.0, 0.0, 0.0], 1),
        (3, [0.0, 0.0, 1.0, 0.0, 0.0, 0.0, 1.0, 0.0], 1),
        (4, [0.0, 0.0, 0.0, 1.0, 0.0, 0.0, 0.0, 1.0], 1),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    books = SIM.pq_codebooks(emb, m=2, k=4)
    codes = {r["vec_id"]: r["codes"] for r in SIM.pq_encode(emb, books).collect()}
    assert codes[0] == codes[1]
    top = SIM.pq_topk(
        emb, k=1, n_queries=1, rerank=False, m=2, n_codes=4,
        codebooks=books, codes=SIM.pq_encode(emb, books),
    ).collect()
    by_q = {r["query_id"]: r["vec_id"] for r in top if r["rank"] == 1}
    assert by_q[0] == 1  # the identical copy wins at ADC distance 0


def test_ivfpq_cell_restriction_and_full_probe_equality(spark):
    """The composed IVFPQ path: with probes >= n_cells every cell is
    probed and the output must EQUAL the unrestricted PQ scan row for
    row; with few probes the reported scores must still be exact float
    scores (the re-rank contract) at a sane recall."""
    from jonesy_spark.operators import similarity as SIM

    emb = Catalog(spark, SF_DIR).embeddings
    books = SIM.pq_codebooks(emb, m=8, k=16)
    codes = SIM.pq_encode(emb, books)

    def rows(df):
        return sorted(
            (r["query_id"], r["vec_id"], r["cosine_micro"], r["rank"])
            for r in df.collect()
        )

    plain = rows(
        SIM.pq_topk(emb, k=5, n_queries=6, codebooks=books, codes=codes)
    )
    all_probed = rows(
        SIM.pq_topk(
            emb, k=5, n_queries=6, codebooks=books, codes=codes,
            n_cells=16, probes=16,
        )
    )
    assert all_probed == plain

    restricted = SIM.pq_topk(
        emb, k=5, n_queries=6, codebooks=books, codes=codes,
        n_cells=16, probes=4,
    ).collect()
    exact_all = {
        (r["query_id"], r["vec_id"]): r["cosine_micro"]
        for r in SIM.cosine_topk(emb, k=emb.count(), n_queries=6).collect()
    }
    for r in restricted:
        assert r["cosine_micro"] == exact_all[(r["query_id"], r["vec_id"])]
    exact_top = {
        (r["query_id"], r["vec_id"])
        for r in SIM.cosine_topk(emb, k=5, n_queries=6).collect()
    }
    got = {(r["query_id"], r["vec_id"]) for r in restricted}
    recall = len(got & exact_top) / len(exact_top)
    assert recall >= 0.3, f"IVFPQ recall {recall:.3f} below floor"


def test_pq_index_store_round_trip_and_compaction(spark, tmp_path):
    """The PQ store: two appended batches probe identically to a fresh
    encode under the frozen codebook; flat compaction collapses the
    ledger without changing the probe; duplicate-batch crash survivors
    are excluded (the ADC SUM-folding hazard)."""
    import glob
    import json

    from jonesy_spark.operators import hygiene as H
    from jonesy_spark.operators import similarity as SIM

    emb = Catalog(spark, SF_DIR).embeddings
    half1 = emb.filter(F.col("vec_id") % 2 == 0)
    half2 = emb.filter(F.col("vec_id") % 2 == 1)
    path = str(tmp_path / "pq")
    SIM.write_pq_index(half1, path, run_id="b1")
    SIM.write_pq_index(half2, path, run_id="b2")

    books, codes = SIM.read_pq_index(spark, path)
    fresh = SIM.pq_encode(emb, books)
    assert sorted(
        (r["vec_id"], tuple(r["codes"])) for r in codes.collect()
    ) == sorted((r["vec_id"], tuple(r["codes"])) for r in fresh.collect())

    def probe():
        return sorted(
            (r["query_id"], r["vec_id"], r["cosine_micro"], r["rank"])
            for r in SIM.pq_topk(
                emb, k=5, n_queries=5, codebooks=books, codes=codes
            ).collect()
        )

    before = probe()

    # flat compaction: one subtree, probe unchanged
    rid = H.compact_index(spark, f"{path}/codes", part_col=None)
    assert rid.startswith("compact-2-")
    assert glob.glob(f"{path}/codes/ingest_batch=*") == [
        f"{path}/codes/ingest_batch={rid}"
    ]
    books, codes = SIM.read_pq_index(spark, path)
    assert probe() == before

    # crash survivor: a consumed batch resurfaces next to the intent —
    # the resolved read must exclude it or every ADC distance doubles
    SIM.write_pq_index(half1, path, run_id="b3")
    mdir = tmp_path / "pq" / "codes" / "_compactions"
    mdir.mkdir(exist_ok=True)
    (mdir / f"{rid}.json").write_text(
        json.dumps({"run_id": rid, "consumed": ["b1", "b2", "b3"]})
    )
    books, codes = SIM.read_pq_index(spark, path)
    assert probe() == before


def test_sliding_window_rollup_matches_explicit_hops(spark):
    """Catalyst's native window(ts, size, slide) lowering equals the
    closed-form hop explode — floor_S(es) - k*S for k in 0..W/S-1 —
    including PRE-EPOCH timestamps (pmod flooring, the rollup_batch
    sign rule); the misaligned-hop config is a loud error."""
    import pytest as _pytest

    from pyspark.sql import functions as F

    from jonesy_spark.operators.windows import sliding_window_rollup

    rows = [
        ("x", "1969-12-31 23:50:00", 2.5),
        ("x", "1970-01-01 00:05:00", 1.0),
        ("y", "1970-01-01 01:00:00", -3.0),
        ("y", "1970-01-01 01:59:59", 0.25),
    ]
    df = spark.createDataFrame(rows, "event_type string, ts string, value double")

    got = sorted(
        map(tuple, sliding_window_rollup(df, 3600, 900).collect())
    )

    es = F.unix_timestamp(F.col("ts").cast("timestamp"))
    floor_s = es - F.pmod(es, F.lit(900))
    hops = F.explode(F.array(*[F.lit(k) for k in range(4)])).alias("k")
    want = sorted(
        map(
            tuple,
            df.select(
                F.col("event_type").alias("key"),
                floor_s.alias("fs"),
                (F.col("value") * 1_000_000).cast("long").alias("vm"),
                hops,
            )
            .select(
                "key",
                (F.col("fs") - F.col("k") * 900).alias("window_es"),
                "vm",
            )
            .groupBy("key", "window_es")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum("vm").alias("sum_value_micro"),
            )
            .collect(),
        )
    )
    assert got == want
    # every event in exactly W/S = 4 windows
    assert sum(r[2] for r in got) == 4 * len(rows)

    with _pytest.raises(ValueError, match="multiple"):
        sliding_window_rollup(df, 3600, 1000)


def test_cosine_topk_ignores_negative_vec_ids_as_queries(spark):
    # with negative unique vec_ids present, the default query cut must
    # still select exactly [0, n_queries) — before the r9 ADVICE fix,
    # filter(vec_id < n) passed the negatives too and the unordered
    # limit(n) dropped query rows nondeterministically
    from jonesy_spark.operators import similarity as SIM

    rows = [
        (i, [float(i), 1.0, float(i % 3)], 0) for i in (-3, -2, -1, 0, 1, 2, 3)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    got = SIM.cosine_topk(emb, k=3, n_queries=2)
    assert set(r["query_id"] for r in got.collect()) == {0, 1}
    q = SIM.quantized_topk(emb, k=3, n_queries=2)
    assert set(r["query_id"] for r in q.collect()) == {0, 1}


def test_prefix_jaccard_pair_density_contract(spark, tmp_path):
    """The PPJoin bounded-tier contract in machinery (VERDICT r12 #7):
    on a planted degenerate corpus (every doc identical — the dedup
    rows' clique adversary) the EXACT tier must refuse BEFORE
    enumerating the quadratic candidate set, naming the LSH path and
    the capped collapse as the outs; with bucket_cap set, the same
    corpus completes as the O(k) min-id star — the cap bounds the
    blowup the decade ratio measures."""
    import pytest

    import jonesy_spark.operators.dedup as DD

    k = 600
    _write_degenerate_docs(tmp_path, k, tail=0)
    docs = spark.read.parquet(f"{tmp_path}/documents.parquet")

    # identical docs: every prefix bucket holds all k docs, so the
    # exact candidate estimate is ~|prefix| * C(k,2) >> the limit —
    # the refusal fires from the cheap pre-count, not mid-join
    with pytest.raises(ValueError, match="minhash_lsh_pairs|bucket_cap"):
        DD.prefix_jaccard_pairs(docs, pair_density_limit=10_000)

    # the capped collapse bounds the same corpus to the O(k) star
    star = DD.prefix_jaccard_pairs(docs, bucket_cap=64).collect()
    assert len(star) == k - 1
    assert all(r["doc_a"] == 0 and r["jaccard_micro"] == 1_000_000 for r in star)

    # under the budget the exact tier is untouched: same pairs with
    # and without the limit on a small clique
    small = 20
    (tmp_path / "small").mkdir()
    _write_degenerate_docs(tmp_path / "small", small, tail=0)
    sdocs = spark.read.parquet(f"{tmp_path}/small/documents.parquet")
    exact = DD.prefix_jaccard_pairs(sdocs).count()
    limited = DD.prefix_jaccard_pairs(sdocs, pair_density_limit=10_000).count()
    assert exact == limited == small * (small - 1) // 2


def test_ann_fixture_pinned_to_fresh_regeneration(spark):
    """The committed ANN store/codebook fixtures (VERDICT r13 #6) must
    equal a fresh regeneration from sf0.001 through the same library
    calls — quantization and the seeded k-means codebooks are
    deterministic for a fixed corpus, so a drifted fixture fails here
    instead of silently rotting under the oracle-checked
    ann_int8_rerank / ann_pq_rerank rows."""
    import importlib.util
    import pathlib

    import pandas as pd

    from jonesy_spark.plans.llm_queries import (
        ANN_CODEBOOKS_FIXTURE,
        ANN_STORE_FIXTURE,
    )

    root = pathlib.Path(__file__).resolve().parent.parent
    spec = importlib.util.spec_from_file_location(
        "gen_ann_fixture", root / "scripts" / "gen_ann_fixture.py"
    )
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)

    fresh_store, fresh_cb = gen.build_frames(spark)
    committed_store = pd.read_parquet(ANN_STORE_FIXTURE)
    committed_cb = pd.read_parquet(ANN_CODEBOOKS_FIXTURE)

    assert len(committed_store) == len(fresh_store) == 500
    for col in ("vec_id", "scale"):
        assert committed_store[col].tolist() == fresh_store[col].tolist()
    for col in ("q", "codes", "embedding"):
        assert [
            list(x) for x in committed_store[col]
        ] == [list(x) for x in fresh_store[col]]
    assert committed_cb[["sub", "code"]].values.tolist() == (
        fresh_cb[["sub", "code"]].values.tolist()
    )
    assert [list(x) for x in committed_cb["sv"]] == [
        list(x) for x in fresh_cb["sv"]
    ]


def test_ann_fixture_micro_boundary_margins():
    """Cross-engine safety of the fixture ANN rows, made a checked
    invariant instead of hope: every micro-rounded quantity the two
    rows rank or report (dequantized-scan cosines, ADC distance sums,
    exact re-rank cosines) must sit at least 1e-5 micro-units from the
    nearest round() half-boundary on the FROZEN data — engine/run
    summation-order drift is ~1e-10 micro-units, five orders below,
    so no rounding can flip a rank or a reported score. Measured via
    DuckDB over the committed fixtures (r14 generation: min margins
    1.1e-4 / 2.0e-4 / 8.4e-5)."""
    import duckdb

    from jonesy_spark.plans.llm_queries import (
        ANN_CODEBOOKS_FIXTURE,
        ANN_STORE_FIXTURE,
    )

    con = duckdb.connect()
    adc = con.execute(f"""
        WITH store AS (SELECT vec_id, embedding::DOUBLE[] AS fv, codes
                       FROM read_parquet('{ANN_STORE_FIXTURE}')),
        fl AS (SELECT vec_id, fv,
                      sqrt(list_sum(list_transform(range(1, len(fv)+1),
                                                   i -> fv[i]*fv[i]))) AS fn
               FROM store),
        unit AS (SELECT vec_id, list_transform(range(1, len(fv)+1),
                                               i -> fv[i]/fn) AS u
                 FROM fl),
        qsub AS (SELECT vec_id AS query_id, CAST(j AS INTEGER) AS sub,
                        u[j*8+1 : j*8+8] AS qx
                 FROM unit, unnest(range(0, 8)) AS t(j) WHERE vec_id < 10),
        lut AS (SELECT q.query_id, q.sub, cb.code,
                       list_sum(list_transform(range(1, 9),
                           i -> (q.qx[i]-cb.sv[i])*(q.qx[i]-cb.sv[i]))) AS d2
                FROM qsub q
                JOIN read_parquet('{ANN_CODEBOOKS_FIXTURE}') cb
                  ON cb.sub = q.sub),
        cx AS (SELECT vec_id, CAST(j-1 AS INTEGER) AS sub, codes[j] AS code
               FROM store, unnest(range(1, len(codes)+1)) AS t(j)),
        adc AS (SELECT l.query_id, c.vec_id, sum(l.d2) AS d2s
                FROM cx c JOIN lut l ON l.sub = c.sub AND l.code = c.code
                WHERE c.vec_id <> l.query_id GROUP BY 1, 2)
        SELECT min(abs(d2s*1000000 - floor(d2s*1000000) - 0.5)) FROM adc
    """).fetchone()[0]
    dequant = con.execute(f"""
        WITH store AS (SELECT vec_id,
                              list_transform(q, x -> CAST(x AS DOUBLE)
                                                     * CAST(scale AS DOUBLE))
                                  AS v
                       FROM read_parquet('{ANN_STORE_FIXTURE}')),
        de AS (SELECT vec_id, v,
                      sqrt(list_sum(list_transform(range(1, len(v)+1),
                                                   i -> v[i]*v[i]))) AS nrm
               FROM store),
        dq AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn
               FROM de WHERE vec_id < 10),
        sc AS (SELECT dq.query_id, e.vec_id,
                      list_sum(list_transform(range(1, len(e.v)+1),
                                              i -> dq.qv[i]*e.v[i]))
                      / (dq.qn*e.nrm) AS c
               FROM de e JOIN dq ON e.vec_id <> dq.query_id)
        SELECT min(abs(c*1000000 - floor(c*1000000) - 0.5)) FROM sc
    """).fetchone()[0]
    exact = con.execute(f"""
        WITH store AS (SELECT vec_id, embedding::DOUBLE[] AS fv
                       FROM read_parquet('{ANN_STORE_FIXTURE}')),
        fl AS (SELECT vec_id, fv,
                      sqrt(list_sum(list_transform(range(1, len(fv)+1),
                                                   i -> fv[i]*fv[i]))) AS fn
               FROM store),
        qf AS (SELECT vec_id AS query_id, fv AS qfv, fn AS qfn
               FROM fl WHERE vec_id < 10),
        sc AS (SELECT q.query_id, f.vec_id,
                      list_sum(list_transform(range(1, len(f.fv)+1),
                                              i -> q.qfv[i]*f.fv[i]))
                      / (q.qfn*f.fn) AS c
               FROM fl f JOIN qf q ON f.vec_id <> q.query_id)
        SELECT min(abs(c*1000000 - floor(c*1000000) - 0.5)) FROM sc
    """).fetchone()[0]
    for name, margin in [("adc", adc), ("dequant", dequant), ("exact", exact)]:
        assert margin is not None and margin > 1e-5, (name, margin)


def test_ann_fixture_rows_equal_live_operators_on_fixture_corpus(spark):
    """ann_int8_rerank must equal quantized_topk run LIVE on the
    fixture corpus (the freeze changes where q/scale come from, not
    what they are), and ann_pq_rerank's fixture-frozen codes/codebooks
    must reproduce pq_topk on the same inputs — the split is a
    bookkeeping move, not a semantic fork."""
    from pyspark.sql import functions as F

    from jonesy_spark.operators import similarity as SIM
    from jonesy_spark.plans import all_queries
    from jonesy_spark.plans.llm_queries import ANN_STORE_FIXTURE

    store = spark.read.parquet(ANN_STORE_FIXTURE)
    emb = store.select("vec_id", "embedding", "label")

    fixture_row = all_queries()["ann_int8_rerank"](spark, "unused")
    live = SIM.quantized_topk(emb, k=10)
    assert sorted(map(tuple, fixture_row.collect())) == sorted(
        map(tuple, live.collect())
    )

    pq_fixture_row = all_queries()["ann_pq_rerank"](spark, "unused")
    got = {(r["query_id"], r["rank"]): r["vec_id"]
           for r in pq_fixture_row.collect()}
    assert len(got) == 100  # 10 queries x top-10, total-ordered
