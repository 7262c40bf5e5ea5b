"""BM25 retrieval tests: exact agreement with an independent Python
reference, length normalization, and ranking semantics."""

from __future__ import annotations

import math

import pytest

from jonesy_spark.operators.search import bm25_search


def _py_bm25(corpus, terms, k1=1.2, b=0.75):
    """Independent driver-side reference."""
    toks = {i: t.lower().split() for i, t in corpus.items()}
    lens = {i: len(ts) for i, ts in toks.items()}
    n = len(corpus)
    avg = sum(lens.values()) / n
    out = {}
    for i, ts in toks.items():
        score = 0.0
        hits = 0
        for t in sorted(set(terms)):
            tf = ts.count(t)
            if not tf:
                continue
            hits += 1
            df = sum(1 for other in toks.values() if t in other)
            idf = round(math.log(1 + (n - df + 0.5) / (df + 0.5)), 9)
            score += round(
                idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * lens[i] / avg)), 9
            )
        if hits:
            out[i] = (round(round(score, 6) * 1e6), hits)
    return out


def test_bm25_matches_reference(spark):
    corpus = {
        1: "spark join window spark filter",
        2: "join join join table scan",
        3: "window sort merge batch",
        4: "totally unrelated words here",
    }
    docs = spark.createDataFrame(list(corpus.items()), ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["score_micro"], r["n_hits"])
        for r in bm25_search(docs, ["spark", "join", "window"]).collect()
    }
    want = _py_bm25(corpus, ["spark", "join", "window"])
    assert got == want
    assert 4 not in got  # no query term -> absent, not zero-scored


def test_bm25_length_normalization_and_tf(spark):
    """Same tf in a shorter doc outranks a longer one; higher tf at
    equal length outranks lower."""
    docs = spark.createDataFrame(
        [
            (1, "spark alpha"),
            (2, "spark alpha beta gamma delta epsilon zeta eta theta iota"),
            (3, "spark spark alpha beta"),
            (4, "spark alpha beta gamma"),
        ],
        ["doc_id", "text"],
    )
    rows = bm25_search(docs, ["spark"], top_k=10).collect()
    scores = {r["doc_id"]: r["score_micro"] for r in rows}
    assert scores[1] > scores[2]  # shorter doc wins at equal tf
    assert scores[3] > scores[4]  # higher tf wins at equal length


def test_bm25_rejects_empty_query(spark):
    docs = spark.createDataFrame([(1, "x")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="query term"):
        bm25_search(docs, ["", "  "])


def test_hash_embed_geometry(spark):
    """Signed-feature-hashing embeddings: identical texts map to the
    same unit vector, near-duplicate texts to high cosine, disjoint
    vocabularies to low |cosine|; all vectors unit-norm."""
    import math

    from jonesy_spark.operators.similarity import hash_embed

    base = "alpha beta gamma delta epsilon zeta eta theta " * 4
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base),                      # exact copy
            (3, base + " iota"),            # near dup
            (4, "omega sigma tau rho phi chi psi xi " * 4),  # disjoint
        ],
        ["doc_id", "text"],
    )
    emb = {r["doc_id"]: r["embedding"] for r in hash_embed(docs, dim=32).collect()}

    def cos(a, b):
        return sum(x * y for x, y in zip(a, b))

    for v in emb.values():
        assert abs(math.sqrt(sum(x * x for x in v)) - 1.0) < 1e-4
        assert len(v) == 32
    assert emb[1] == emb[2]
    assert cos(emb[1], emb[3]) > 0.95
    assert abs(cos(emb[1], emb[4])) < 0.5


def test_hash_embed_rejects_tiny_dim(spark):
    from jonesy_spark.operators.similarity import hash_embed

    docs = spark.createDataFrame([(1, "x")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="dim"):
        hash_embed(docs, dim=1)


@pytest.mark.slow
def test_pipeline_semantic_dedup_collapses_paraphrase_cluster(spark):
    """CorpusConfig.semantic_dedup_threshold: token-REORDERED copies
    (which shingle-based LSH misses at high thresholds but bag-of-words
    embeddings catch) collapse to their min-id survivor; unrelated
    docs survive. The cache-release contract holds (empty manager)."""
    from jonesy_spark.pipeline.corpus_job import (
        CorpusConfig,
        prepare_training_corpus,
    )

    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta",
             "eta", "theta", "iota", "kappa"]
    fwd = " ".join(words)
    rev = " ".join(reversed(words))  # same bag, different order
    other = " ".join(f"x{i}" for i in range(10))
    docs = spark.createDataFrame(
        [(1, fwd, "en", "s0"), (2, rev, "en", "s0"), (3, other, "en", "s1")],
        "doc_id long, text string, lang string, source string",
    )
    # Cache release: the pipeline must not LEAVE DataFrame caches
    # behind. getPersistentRDDs would double-count the CC loop's
    # sanctioned localCheckpoint RDD storage, and asserting a
    # globally EMPTY cache manager flakes when another suite test
    # holds a legitimate cache — so assert emptiness is PRESERVED.
    mgr = spark._jsparkSession.sharedState().cacheManager()
    was_empty = mgr.isEmpty()
    out = prepare_training_corpus(
        docs,
        CorpusConfig(
            near_dup_threshold=0.99,  # lexical pass keeps the reorder
            semantic_dedup_threshold=0.95,
            semantic_dedup_dim=32,
        ),
    )
    kept = {r["doc_id"] for r in out["clean"].select("doc_id").collect()}
    assert kept == {1, 3}
    assert mgr.isEmpty() or not was_empty


def test_search_index_probe_matches_batch_bm25(spark, tmp_path):
    """Two-batch persisted index: bm25_probe must return EXACTLY the
    batch bm25_search result over the union (same rounded grids end to
    end), and the probe's postings scan must partition-prune to the
    query terms' buckets."""
    import contextlib
    import io

    from jonesy_spark.operators.search import (
        bm25_probe,
        bm25_search,
        write_search_index,
    )

    path = str(tmp_path / "sx")
    b1 = spark.createDataFrame(
        [(1, "spark join window spark"), (2, "join table scan")],
        ["doc_id", "text"],
    )
    b2 = spark.createDataFrame(
        [(3, "window sort spark"), (4, "unrelated words only")],
        ["doc_id", "text"],
    )
    write_search_index(b1, path)
    write_search_index(b2, path)

    terms = ["spark", "window"]
    got = bm25_probe(spark, path, terms, top_k=10)
    want = bm25_search(b1.unionByName(b2), terms, top_k=10)
    g = [(r["doc_id"], r["score_micro"], r["n_hits"]) for r in got.collect()]
    w = [(r["doc_id"], r["score_micro"], r["n_hits"]) for r in want.collect()]
    assert g == w and len(g) == 2  # docs 2 and 4 match neither term

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        got.explain("formatted")
    plan = buf.getvalue()
    prune_lines = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert any("bucket" in l for l in prune_lines)


def test_search_index_probe_excludes_replaying_epoch(spark, tmp_path):
    from jonesy_spark.operators.search import (
        bm25_probe,
        write_search_index,
    )

    path = str(tmp_path / "sx")
    write_search_index(
        spark.createDataFrame([(1, "spark")], ["doc_id", "text"]),
        path,
        run_id="epoch-0",
        mode="overwrite",
    )
    write_search_index(
        spark.createDataFrame([(2, "spark spark")], ["doc_id", "text"]),
        path,
        run_id="epoch-1",
        mode="overwrite",
    )
    all_docs = {r["doc_id"] for r in bm25_probe(spark, path, ["spark"]).collect()}
    assert all_docs == {1, 2}
    excl = {
        r["doc_id"]
        for r in bm25_probe(spark, path, ["spark"], exclude_run_id="epoch-1").collect()
    }
    assert excl == {1}


def test_search_index_probe_requires_index(spark, tmp_path):
    from jonesy_spark.operators.search import bm25_probe

    with pytest.raises(ValueError, match="no search index"):
        bm25_probe(spark, str(tmp_path / "missing"), ["x"])


def test_search_index_compaction_preserves_probe(spark, tmp_path):
    """hygiene.compact_index over the postings root (same
    ingest_batch=/bucket= layout as the dedup indexes) folds the
    accumulated epoch subtrees into one and leaves probe results
    byte-identical; docmeta batches stay as-is (metadata-sized)."""
    from jonesy_spark.operators.hygiene import compact_index
    from jonesy_spark.operators.search import (
        bm25_probe,
        write_search_index,
    )

    path = str(tmp_path / "sx")
    for i in range(3):
        write_search_index(
            spark.createDataFrame(
                [(10 * i + 1, f"spark join doc{i}")], ["doc_id", "text"]
            ),
            path,
            run_id=f"b{i}",
        )
    before = [
        (r["doc_id"], r["score_micro"], r["n_hits"])
        for r in bm25_probe(spark, path, ["spark"]).collect()
    ]
    run = compact_index(spark, f"{path}/postings")
    assert run.startswith("compact-3-")
    batches = (
        spark.read.parquet(f"{path}/postings")
        .select("ingest_batch")
        .distinct()
        .count()
    )
    assert batches == 1
    after = [
        (r["doc_id"], r["score_micro"], r["n_hits"])
        for r in bm25_probe(spark, path, ["spark"]).collect()
    ]
    assert after == before


def _py_phrase_counts(corpus, phrase):
    """Independent reference: sliding-window phrase occurrences over
    the whitespace token stream."""
    out = {}
    k = len(phrase)
    for i, text in corpus.items():
        ts = text.lower().split()
        n = sum(
            1 for j in range(len(ts) - k + 1) if ts[j : j + k] == phrase
        )
        if n:
            out[i] = n
    return out


def test_phrase_probe_matches_reference(spark, tmp_path):
    """Positional index: phrase matches equal the sliding-window
    reference, including overlapping and repeated occurrences; docs
    with all terms but never adjacent don't match."""
    from jonesy_spark.operators.search import (
        phrase_probe,
        write_positional_index,
    )

    corpus = {
        1: "big data spark big data spark",        # phrase twice
        2: "data big spark",                        # terms, wrong order
        3: "big data only once here",               # phrase once
        4: "nothing relevant",
        5: "big big data",                          # once, offset start
    }
    path = str(tmp_path / "px")
    write_positional_index(
        spark.createDataFrame(list(corpus.items()), ["doc_id", "text"]), path
    )
    got = {
        r["doc_id"]: r["n_occurrences"]
        for r in phrase_probe(spark, path, ["big", "data"]).collect()
    }
    assert got == _py_phrase_counts(corpus, ["big", "data"]) == {1: 2, 3: 1, 5: 1}
    # three-term phrase spanning the repeat boundary
    got3 = {
        r["doc_id"]: r["n_occurrences"]
        for r in phrase_probe(spark, path, ["big", "data", "spark"]).collect()
    }
    assert got3 == _py_phrase_counts(corpus, ["big", "data", "spark"]) == {1: 2}
    # single term degenerates to occurrence counts
    got1 = {
        r["doc_id"]: r["n_occurrences"]
        for r in phrase_probe(spark, path, ["big"]).collect()
    }
    assert got1 == {1: 2, 2: 1, 3: 1, 5: 2}


def test_phrase_probe_rejects_tf_only_index(spark, tmp_path):
    from jonesy_spark.operators.search import (
        phrase_probe,
        write_search_index,
    )

    path = str(tmp_path / "sx")
    write_search_index(
        spark.createDataFrame([(1, "a b")], ["doc_id", "text"]), path
    )
    with pytest.raises(ValueError, match="no positions column"):
        phrase_probe(spark, path, ["a", "b"])


def test_hybrid_search_fuses_channels(spark):
    """RRF fusion: the doc strong in BOTH channels ranks first; the
    fused score is exactly 1/(60+bm_rank) + 1/(60+dense_rank) with
    absent channels contributing zero."""
    from jonesy_spark.operators.search import hybrid_search

    docs = spark.createDataFrame(
        [
            (1, "spark window spark window spark"),   # strong in both
            (2, "spark table scan merge sort"),        # one term, weak
            (3, "alpha beta gamma delta epsilon"),     # no query term
        ],
        ["doc_id", "text"],
    )
    rows = hybrid_search(docs, ["spark", "window"], top_k=10, dim=32).collect()
    by_id = {r["doc_id"]: r for r in rows}
    assert rows[0]["doc_id"] == 1
    assert by_id[1]["bm25_rank"] == 1 and by_id[1]["dense_rank"] == 1
    # doc 3 has no query term: absent from the lexical channel
    assert by_id[3]["bm25_rank"] is None and by_id[3]["dense_rank"] is not None
    for r in rows:
        want = 0.0
        if r["bm25_rank"] is not None:
            want += 1.0 / (60 + r["bm25_rank"])
        if r["dense_rank"] is not None:
            want += 1.0 / (60 + r["dense_rank"])
        assert r["rrf_score_nano"] == round(want * 1e9)


def test_hybrid_search_rejects_empty_query(spark):
    from jonesy_spark.operators.search import hybrid_search

    docs = spark.createDataFrame([(1, "x")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="query term"):
        hybrid_search(docs, [" "])


def test_margin_bitext_recovers_planted_parallel_pairs(spark):
    """Margin mining (Artetxe & Schwenk ratio criterion): plant near-
    identical cross-side twins inside orthogonal-ish noise — every
    planted pair must come back as a mutual-best with margin > 1, no
    noise vector may pair with a planted one, and the pair set must be
    one-to-one on both sides (the mutual-argmax invariant)."""
    import math
    import random

    from jonesy_spark.operators.similarity import margin_bitext_pairs

    def unit(seed, dim=16):
        # seeded gaussians: cross-cosines concentrate near 0 (+-1/sqrt(dim)),
        # so planted twins at cos ~0.9996 dominate — a sin-grid fixture
        # phase-collides across seeds and out-scores the plants
        rng = random.Random(seed)
        vals = [rng.gauss(0, 1) for _ in range(dim)]
        n = math.sqrt(sum(v * v for v in vals))
        return [v / n for v in vals]

    rows = []
    # planted twins: src 2i (label 0) ~ tgt 2i+1 (label 1), tiny tilt
    for i in range(10):
        base = unit(i)
        rows.append((2 * i, 0, base))
        tilt = unit(1000 + i)
        rows.append((2 * i + 1, 1, [v + 0.02 * t for v, t in zip(base, tilt)]))
    # unpaired noise on both sides
    for i in range(10, 25):
        rows.append((2 * i, 0, unit(100 + i)))
        rows.append((2 * i + 1, 1, unit(200 + i)))
    emb = spark.createDataFrame(
        rows, "vec_id long, label long, embedding array<double>"
    )
    # exact tier (n_bucket_dims=None): the full property set
    got = {
        (r["src_id"], r["tgt_id"]): r["margin_micro"]
        for r in margin_bitext_pairs(
            emb, k_neighborhood=4, n_bucket_dims=None
        ).collect()
    }
    for i in range(10):
        assert (2 * i, 2 * i + 1) in got, f"planted pair {i} not mined"
        assert got[(2 * i, 2 * i + 1)] > 1_000_000
    # one-to-one: no side id appears twice
    srcs = [s for s, _ in got]
    tgts = [t for _, t in got]
    assert len(srcs) == len(set(srcs)) and len(tgts) == len(set(tgts))
    # no planted vector pairs with noise
    for (s, t) in got:
        planted_s, planted_t = s < 20, t < 20
        assert planted_s == planted_t, (s, t)

    # bucketed tier (the registered row's shape): every planted pair
    # whose twins SHARE a sign bucket must still be mined — the
    # candidate equi-join only drops cross-bucket pairs
    def bucket(vec):
        return "".join("1" if v >= 0 else "0" for v in vec[:6])

    emb_by_id = {vid: v for vid, _, v in rows}
    bucketed = {
        (r["src_id"], r["tgt_id"])
        for r in margin_bitext_pairs(
            emb, k_neighborhood=4, n_bucket_dims=6
        ).collect()
    }
    for i in range(10):
        if bucket(emb_by_id[2 * i]) == bucket(emb_by_id[2 * i + 1]):
            assert (2 * i, 2 * i + 1) in bucketed, f"co-bucketed pair {i} lost"
    srcs = [s for s, _ in bucketed]
    tgts = [t for _, t in bucketed]
    assert len(srcs) == len(set(srcs)) and len(tgts) == len(set(tgts))
