"""Corpus-hygiene operator tests: PII redaction goldens, contamination
DuckDB differential, blocklist anti-join, incremental dedup semantics."""

from __future__ import annotations

import pytest
import duckdb
from pyspark.sql import functions as F

from conftest import SF_DIR
from jonesy_spark.caching import cache_scope
from jonesy_spark.catalog import Catalog
from jonesy_spark.operators import hygiene as H

DOCS = f"{SF_DIR}/documents.parquet"


def test_redact_pii_golden(spark):
    rows = [
        (1, "mail bob.smith+x@example.co.uk now"),
        (2, "ssn 123-45-6789 leaked"),
        (3, "host 192.168.001.1 up"),
        (4, "call +1 415-555-0199 today"),
        (5, "clean text stays clean"),
    ]
    out = {
        r["doc_id"]: r["redacted_text"]
        for r in H.pii_stats(spark.createDataFrame(rows, ["doc_id", "text"])).collect()
    }
    assert out[1] == "mail <EMAIL> now"
    assert out[2] == "ssn <SSN> leaked"
    assert out[3] == "host <IP> up"
    assert out[4] == "call <PHONE> today"
    assert out[5] == "clean text stays clean"


def test_pii_stats_counts(spark):
    rows = [(1, "a@b.co and c@d.org, ip 10.0.0.1")]
    r = H.pii_stats(spark.createDataFrame(rows, ["doc_id", "text"])).first()
    assert r["n_email"] == 2 and r["n_ipv4"] == 1 and r["n_ssn"] == 0


def test_ssn_not_eaten_by_phone_rule(spark):
    # Rule order: the SSN pattern must fire before the generic phone one.
    r = (
        spark.range(1)
        .select(H.redact_pii(F.lit("id 987-65-4321 on file")).alias("t"))
        .first()["t"]
    )
    assert r == "id <SSN> on file"


def test_phone_rule_shapes(spark):
    """The phone rule matches telephone-like grouping and ONLY that:
    ISBNs, long numeric ids, and ISO timestamps must survive (the old
    any-9+-digit-run rule ate all three)."""
    positives = [
        ("call 415-555-2671 now", "call <PHONE> now"),
        ("call (415) 555-2671 now", "call <PHONE> now"),
        ("call +44 20 7946 0958 now", "call <PHONE> now"),
        ("call +14155552671 now", "call <PHONE> now"),
        ("call 415.555.2671 now", "call <PHONE> now"),
        ("local 555-2671 line", "local <PHONE> line"),
    ]
    negatives = [
        "ISBN 978-3-16-148410-0 ed.2",
        "ISBN 0-306-40615-2 ed.1",
        "order 1234567890 shipped",
        "at 2026-08-13 14:30:45 UTC",
        "window 2026-08-13T14:30:45.123456",
        "total 1 000 000 units",
    ]
    rows = [(i, t) for i, (t, _) in enumerate(positives)]
    rows += [(100 + i, t) for i, t in enumerate(negatives)]
    out = {
        r["doc_id"]: r["t"]
        for r in spark.createDataFrame(rows, ["doc_id", "text"])
        .select("doc_id", H.redact_pii(F.col("text")).alias("t"))
        .collect()
    }
    for i, (_, want) in enumerate(positives):
        assert out[i] == want, (i, out[i])
    for i, t in enumerate(negatives):
        assert out[100 + i] == t, (t, out[100 + i])


def test_contamination_duckdb_differential(spark):
    docs = Catalog(spark, SF_DIR).documents
    bench = docs.filter(F.col("doc_id") % 50 == 0).select("doc_id", "text")
    got = sorted(
        map(tuple, H.contamination(docs, bench, n=13).collect())
    )
    want = sorted(
        map(
            tuple,
            duckdb.sql(
                f"""
                WITH dg AS (
                    SELECT doc_id,
                           ('0x' || substr(md5(u.g), 1, 7))::BIGINT AS h
                    FROM (
                        SELECT doc_id,
                               list_distinct(list_transform(
                                   range(1, length(text) - 11),
                                   i -> substr(text, i, 13))) AS gs
                        FROM '{DOCS}' WHERE length(text) >= 13
                    ), unnest(gs) u(g)
                ),
                bg AS (
                    SELECT DISTINCT ('0x' || substr(md5(u.g), 1, 7))::BIGINT AS h
                    FROM (
                        SELECT list_distinct(list_transform(
                                   range(1, length(text) - 11),
                                   i -> substr(text, i, 13))) AS gs
                        FROM '{DOCS}'
                        WHERE doc_id % 50 = 0 AND length(text) >= 13
                    ), unnest(gs) u(g)
                )
                SELECT dg.doc_id,
                       count(*) AS n_grams,
                       sum(CASE WHEN bg.h IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
                           AS n_contaminated,
                       CAST(round(sum(CASE WHEN bg.h IS NOT NULL THEN 1 ELSE 0 END)
                             / count(*) * 1000000) AS BIGINT)
                           AS contamination_frac
                FROM dg LEFT JOIN bg ON dg.h = bg.h
                GROUP BY dg.doc_id
                """
            ).fetchall(),
        )
    )
    assert got == want and got
    # benchmark members must read fully contaminated
    full = [t for t in got if t[0] % 50 == 0]
    assert full and all(t[3] == 1_000_000 for t in full)


def test_blocklist_filter(spark):
    docs = Catalog(spark, SF_DIR).documents
    srcs = [r[0] for r in docs.select("source").distinct().limit(2).collect()]
    kept = H.blocklist_filter(docs, srcs)
    assert kept.filter(F.col("source").isin(srcs)).count() == 0
    assert kept.count() == docs.filter(~F.col("source").isin(srcs)).count()


def test_incremental_dedup_rounds(spark):
    batch1 = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma"), (3, "Alpha  beta")],  # 3 dups 1 after norm
        ["doc_id", "text"],
    )
    empty_seen = spark.createDataFrame([], "content_hash string")
    novel1, seen1 = H.incremental_dedup(batch1, empty_seen)
    assert sorted(r["doc_id"] for r in novel1.collect()) == [1, 2]  # min-id survivor
    assert seen1.count() == 2

    batch2 = spark.createDataFrame(
        [(10, "gamma"), (11, "delta")], ["doc_id", "text"]
    )
    novel2, seen2 = H.incremental_dedup(batch2, seen1)
    assert [r["doc_id"] for r in novel2.collect()] == [11]  # 'gamma' already seen
    assert seen2.count() == 3
    # Disjointness makes distinct() redundant: the index must stay
    # duplicate-free across consecutive batches with a plain union.
    hashes = [r["content_hash"] for r in seen2.collect()]
    assert len(hashes) == len(set(hashes))


def test_incremental_dedup_persisted_index_rounds(spark, tmp_path):
    """Two nightly runs against the ON-DISK index: each run appends only
    its novel digests (O(novel) write), the second run's probe drops
    what the first ingested, and the index stays duplicate-free."""
    import glob

    idx = str(tmp_path / "digest_index")

    batch1 = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma"), (3, "Alpha  beta")],
        ["doc_id", "text"],
    )
    novel1, _ = H.incremental_dedup(batch1, H.read_digest_index(spark, idx))
    run1 = H.write_novel_digests(novel1, idx)
    assert run1.startswith("nightly-")
    files_after_1 = set(glob.glob(f"{idx}/ingest_batch=*/bucket=*/*.parquet"))
    assert H.read_digest_index(spark, idx).count() == 2
    assert files_after_1

    batch2 = spark.createDataFrame(
        [(10, "gamma"), (11, "delta")], ["doc_id", "text"]
    )
    novel2, _ = H.incremental_dedup(batch2, H.read_digest_index(spark, idx))
    assert [r["doc_id"] for r in novel2.collect()] == [11]
    run2 = H.write_novel_digests(novel2, idx)
    assert run2 != run1  # each nightly run gets its own batch dir

    # append-only: run 1's files are untouched, run 2 added O(novel)
    files_after_2 = set(glob.glob(f"{idx}/ingest_batch=*/bucket=*/*.parquet"))
    assert files_after_1 <= files_after_2
    assert len(files_after_2) == len(files_after_1) + 1  # 1 novel digest

    hashes = [
        r["content_hash"] for r in H.read_digest_index(spark, idx).collect()
    ]
    assert len(hashes) == 3 and len(set(hashes)) == 3


def test_incremental_dedup_index_update_has_no_extra_shuffle(spark):
    """The nightly index update must be a plain union — a distinct()
    here re-shuffles the entire historical digest index every run. The
    plan above the union of seen + novel digests must be exchange-free
    (the anti-join's own exchanges sit BELOW the union's novel leg)."""
    docs = Catalog(spark, SF_DIR).documents.limit(50)
    seen = spark.createDataFrame([("x",)], "content_hash string")
    _, updated = H.incremental_dedup(docs, seen)
    plan = updated._jdf.queryExecution().executedPlan().toString()
    assert "Union" in plan
    head = plan.split("Union", 1)[0]  # ancestors of the union
    assert "Exchange" not in head and "Aggregate" not in head, head


def test_contamination_benchmark_broadcasts(spark):
    docs = Catalog(spark, SF_DIR).documents
    bench = docs.filter(F.col("doc_id") < 5).select("doc_id", "text")
    plan = (
        H.contamination(docs, bench)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan


@pytest.mark.slow
def test_incremental_near_dup_two_batches(spark, tmp_path):
    """Near-dup sibling of the digest index: batch 1 collapses its own
    cluster and seeds the index; batch 2 is deduped against HISTORY via
    the signature probe (no historical text read), and only its novel
    docs' signatures are appended."""
    idx = str(tmp_path / "mh_index")
    spark.catalog.clearCache()  # isolate the residue assertion below
    t_common = "alpha beta gamma delta epsilon zeta eta theta iota kappa"

    with cache_scope():
        batch1 = spark.createDataFrame(
            [(1, t_common), (2, t_common), (3, "totally different words here now")],
            ["doc_id", "text"],
        )
        novel1, matches1 = H.incremental_near_dup(
            batch1, spark, idx, threshold=0.8, run_id="n0"
        )
        assert matches1.count() == 0  # first run: no index yet
        assert sorted(r["doc_id"] for r in novel1.collect()) == [1, 3]  # 2 collapsed

        batch2 = spark.createDataFrame(
            [(10, t_common), (11, "yet another unrelated document body")],
            ["doc_id", "text"],
        )
        novel2, matches2 = H.incremental_near_dup(
            batch2, spark, idx, threshold=0.8, run_id="n1"
        )
        got = [
            (r["doc_id"], r["index_doc_id"], r["est_jaccard_micro"])
            for r in matches2.collect()
        ]
        assert got == [(10, 1, 1_000_000)]  # identical signature -> estimate 1
        assert [r["doc_id"] for r in novel2.collect()] == [11]

        # the index holds exactly the novel survivors' signatures
        docs_in_index = sorted(
            r["doc_id"]
            for r in spark.read.parquet(idx).select("doc_id").distinct().collect()
        )
        assert docs_in_index == [1, 3, 11]
        # and the layout matches the digest-index contract
        import glob

        assert glob.glob(f"{idx}/ingest_batch=n0/bucket=*/*.parquet")
        assert glob.glob(f"{idx}/ingest_batch=n1/bucket=*/*.parquet")

    # VERDICT r5 #6: the operator persists (never checkpoints) its
    # multi-consumer subtrees; the scope releases them
    cache_mgr = spark._jsparkSession.sharedState().cacheManager()
    assert cache_mgr.isEmpty()


@pytest.mark.slow
def test_probe_minhash_index_observability(spark, tmp_path):
    """VERDICT r5 #7: nightly probes must be alertable without extra
    actions — the probe's returned frame carries a CollectMetrics node
    (matches / matched_new_docs / probed_buckets) that an in-process
    Observation (or a production QueryExecutionListener) reads off the
    caller's own action."""
    from pyspark.sql import Observation

    from jonesy_spark.operators import dedup as DD

    idx = str(tmp_path / "mh_index")
    t = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    seed = spark.createDataFrame([(1, t)], ["doc_id", "text"])
    with cache_scope():
        H.incremental_near_dup(seed, spark, idx, run_id="n0")

    sigs = DD.minhash_banded_sigs(
        spark.createDataFrame([(10, t), (11, "unrelated body")], ["doc_id", "text"])
    )
    obs = Observation("probe")
    out = H.probe_minhash_index(sigs, spark, idx, observation=obs)
    assert out.count() == 1  # doc 10 matches the indexed doc 1
    got = obs.get
    assert got["matches"] == 1
    assert got["matched_new_docs"] == 1
    assert got["probed_buckets"] >= 1

    # the incremental wrapper's novel path is observable too
    with cache_scope():
        novel, matches = H.incremental_near_dup(
            spark.createDataFrame([(20, t)], ["doc_id", "text"]), spark, idx, run_id="n1"
        )
        plan = str(novel._jdf.queryExecution().analyzed())
        assert "incremental_near_dup_novel" in plan
        assert "probe_minhash_index" in str(matches._jdf.queryExecution().analyzed())


def test_incremental_near_dup_replay_idempotent(spark, tmp_path):
    """ADVICE r5 #1: a replayed batch (same run_id, at-least-once
    foreachBatch) must NOT probe its own crashed attempt's committed
    signatures — without the ingest_batch exclusion every survivor
    self-matches at est_jaccard 1.0, novel collapses to empty, and the
    overwrite permanently erases the batch from both sinks."""
    idx = str(tmp_path / "mh_index")
    batch = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "completely unrelated words in this body"),
        ],
        ["doc_id", "text"],
    )
    # attempt 1 commits the index subtree, then "crashes" before the
    # streaming checkpoint commits -> the engine redelivers the epoch
    novel1, _ = H.incremental_near_dup(
        batch, spark, idx, run_id="epoch-0", mode="overwrite"
    )
    assert sorted(r["doc_id"] for r in novel1.collect()) == [1, 2]

    sunk: list[list[int]] = []
    novel2, matches2 = H.incremental_near_dup(
        batch,
        spark,
        idx,
        run_id="epoch-0",
        mode="overwrite",
        novel_sink=lambda df: sunk.append(sorted(r["doc_id"] for r in df.collect())),
    )
    assert matches2.count() == 0  # own subtree pruned, no self-matches
    assert sorted(r["doc_id"] for r in novel2.collect()) == [1, 2]
    assert sunk == [[1, 2]]  # document sink sees the full batch again
    assert sorted(
        r["doc_id"]
        for r in spark.read.parquet(idx).select("doc_id").distinct().collect()
    ) == [1, 2]


def test_digest_index_replay_exclusion(spark, tmp_path):
    """Digest twin of the replay hazard: after a crashed attempt already
    committed ``ingest_batch=epoch-0``, the replay's ``seen`` read must
    prune that subtree or the whole batch anti-joins itself away and
    the novel sink is overwritten empty."""
    idx = str(tmp_path / "digest_index")
    batch = spark.createDataFrame([(1, "alpha"), (2, "beta")], ["doc_id", "text"])
    novel, _ = H.incremental_dedup(
        batch, H.read_digest_index(spark, idx, exclude_run_id="epoch-0")
    )
    H.write_novel_digests(novel, idx, mode="overwrite", run_id="epoch-0")

    seen_replay = H.read_digest_index(spark, idx, exclude_run_id="epoch-0")
    assert seen_replay.count() == 0
    novel2, _ = H.incremental_dedup(batch, seen_replay)
    assert novel2.count() == 2
    # other readers (the next epoch, the nightly) still see the digests
    assert H.read_digest_index(spark, idx).count() == 2


def test_minhash_signature_estimate_matches_duckdb(spark):
    """The component-agreement Jaccard estimate is md5-deterministic, so
    DuckDB reproduces it bit-for-bit with the shared permutation
    constants — the cross-engine guarantee the persisted index relies
    on (an index written by any conforming engine probes identically)."""
    from jonesy_spark.operators import dedup as DD

    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "alpha beta gamma delta epsilon zeta eta NINE"),
        (3, "completely different tokens in this body"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    sigs = DD.minhash_banded_sigs(docs)
    a = sigs.select(F.col("doc_id").alias("da"), F.col("mh").alias("ma")).distinct()
    b = sigs.select(F.col("doc_id").alias("db"), F.col("mh").alias("mb")).distinct()
    got = sorted(
        (r["da"], r["db"], r["est"])
        for r in a.join(b, F.col("da") < F.col("db"))
        .select("da", "db", DD.estimated_jaccard(F.col("ma"), F.col("mb"), 16).alias("est"))
        .collect()
    )
    import duckdb

    vals = ", ".join(f"({i}, '{t}')" for i, t in rows)
    want = sorted(
        map(
            tuple,
            duckdb.sql(
                f"""
        WITH docs(doc_id, text) AS (VALUES {vals}),
        toki AS (
            SELECT doc_id, list_distinct(list_transform(
                string_split(lower(trim(text)), ' '),
                t -> ('0x' || substr(md5(t), 1, 7))::BIGINT)) AS toks
            FROM docs
        ),
        mh AS (
            SELECT doc_id, r.i,
                   min((((2654435761 * (r.i+1)) % 2147483647) * u.h
                        + ((97531 * (r.i+1)) % 2147483647)) % 2147483647) AS h
            FROM toki, range(16) r(i), unnest(toki.toks) u(h)
            GROUP BY doc_id, r.i
        )
        SELECT a.doc_id AS da, b.doc_id AS db,
               CAST(round(sum(CASE WHEN a.h = b.h THEN 1 ELSE 0 END)
                          / 16.0 * 1000000) AS BIGINT) AS est
        FROM mh a JOIN mh b ON a.i = b.i AND a.doc_id < b.doc_id
        GROUP BY 1, 2 ORDER BY 1, 2
        """
            ).fetchall(),
        )
    )
    assert got == want and got[0][2] > 0.5  # (1,2) mostly agree


def test_line_dedup_semantics(spark):
    """Boilerplate lines (df > cap) vanish; a doc that is ALL
    boilerplate survives with empty clean_text; a line repeated inside
    ONE doc counts once toward document frequency; order is preserved."""
    banner = "subscribe now"
    rows = [(i, f"unique body {i}\n{banner}") for i in range(5)]
    rows.append((90, banner))  # all-boilerplate doc
    rows.append((91, "echo\necho\necho"))  # within-doc repeat, df = 1
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in H.line_dedup(docs, df_cap=3).collect()}
    for i in range(5):
        assert out[i]["clean_text"] == f"unique body {i}"
        assert (out[i]["n_lines"], out[i]["n_removed"]) == (2, 1)
    assert out[90]["clean_text"] == "" and out[90]["n_removed"] == 1
    # 'echo' appears in one document only -> df 1 <= cap, kept 3x in order
    assert out[91]["clean_text"] == "echo\necho\necho"
    assert out[91]["n_removed"] == 0


def test_near_dup_contamination_catches_reformatted_eval(spark):
    """A reformatted benchmark copy (token set mostly intact, contiguous
    13-grams all shifted) must be flagged by the sketch gate even when
    the exact-overlap gate scores it low; an unrelated doc stays clean.
    The benchmark side must broadcast."""
    bench_text = (
        "which planet is known as the red one in our solar system "
        "mars is the answer to this question"
    )
    # same tokens in REVERSED order -> the token SET is identical but
    # almost no contiguous 13-char gram survives
    reformatted = " ".join(reversed(bench_text.split(" ")))
    docs = spark.createDataFrame(
        [(1, reformatted), (2, "totally unrelated corpus document body")],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame([(100, bench_text)], ["doc_id", "text"])
    got = {
        (r["doc_id"], r["bench_id"]): r["est_jaccard_micro"]
        for r in H.near_dup_contamination(docs, bench, threshold=0.8).collect()
    }
    assert (1, 100) in got and got[(1, 100)] >= 800_000
    assert not any(d == 2 for d, _ in got)
    # the exact contiguous-gram gate scores the same pair low
    exact = {
        r["doc_id"]: r["contamination_frac_micro"]
        for r in H.contamination(docs, bench, n=13).collect()
    }
    assert exact[1] < 500_000
    plan = (
        H.near_dup_contamination(docs, bench)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan


@pytest.mark.slow
def test_compact_index_digest_and_minhash(spark, tmp_path):
    """Compaction collapses N ingest_batch subtrees into one with
    identical content and strictly fewer files, for BOTH index layouts;
    probes against the compacted index are unchanged."""
    import glob

    # --- digest index: three batches, then compact
    didx = str(tmp_path / "digest")
    for i, texts in enumerate([["alpha", "beta"], ["gamma"], ["delta", "eps"]]):
        b = spark.createDataFrame(
            [(i * 10 + j, t) for j, t in enumerate(texts)], ["doc_id", "text"]
        )
        novel, _ = H.incremental_dedup(b, H.read_digest_index(spark, didx))
        H.write_novel_digests(novel, didx, run_id=f"n{i}")
    before = sorted(
        r["content_hash"] for r in H.read_digest_index(spark, didx).collect()
    )
    files_before = glob.glob(f"{didx}/ingest_batch=*/bucket=*/*.parquet")
    rid = H.compact_index(spark, didx)
    assert rid.startswith("compact-3-")
    after = sorted(
        r["content_hash"] for r in H.read_digest_index(spark, didx).collect()
    )
    assert after == before
    trees = glob.glob(f"{didx}/ingest_batch=*")
    assert len(trees) == 1 and trees[0].endswith(rid)
    # one file per touched bucket total (the point of compaction); with
    # these 5 digests in 5 distinct buckets that's equality, never more
    assert len(glob.glob(f"{didx}/ingest_batch=*/bucket=*/*.parquet")) <= len(
        files_before
    )

    # --- minhash index: seed two batches, compact, probe unchanged
    midx = str(tmp_path / "mh")
    t_common = "alpha beta gamma delta epsilon zeta eta theta"
    H.incremental_near_dup(
        spark.createDataFrame([(1, t_common)], ["doc_id", "text"]),
        spark, midx, run_id="m0",
    )
    H.incremental_near_dup(
        spark.createDataFrame([(2, "totally different body here")], ["doc_id", "text"]),
        spark, midx, run_id="m1",
    )
    from jonesy_spark.operators import dedup as DD

    probe_sigs = DD.minhash_banded_sigs(
        spark.createDataFrame([(99, t_common)], ["doc_id", "text"])
    ).localCheckpoint()
    before_m = sorted(
        map(tuple, H.probe_minhash_index(probe_sigs, spark, midx).collect())
    )
    H.compact_index(spark, midx)
    after_m = sorted(
        map(tuple, H.probe_minhash_index(probe_sigs, spark, midx).collect())
    )
    assert after_m == before_m and before_m == [(99, 1, 1_000_000)]

    # single-tree index: compaction is a no-op returning that run_id
    assert H.compact_index(spark, midx).startswith("compact-")


def test_incremental_dedup_small_batch_equivalent_and_unshuffled(spark):
    """The small-batch probe geometry must produce exactly the default
    strategy's novel set, and the novel plan must be exchange-free
    below its window (index scanned map-side via broadcasts, never
    shuffled)."""
    docs = Catalog(spark, SF_DIR).documents.limit(60)
    seen_rows = [(r["content_hash"],) for r in
                 docs.limit(20).select(H.content_digest(F.col("text")).alias("content_hash")).collect()]
    seen = spark.createDataFrame(seen_rows, "content_hash string")
    novel_a, _ = H.incremental_dedup(docs, seen)
    novel_b, _ = H.incremental_dedup(docs, seen, small_batch=True)
    a = sorted(r["doc_id"] for r in novel_a.collect())
    b = sorted(r["doc_id"] for r in novel_b.collect())
    assert a == b and len(a) == 40
    plan = novel_b._jdf.queryExecution().executedPlan().toString()
    # both probe joins are broadcast; the only exchange under the novel
    # frame is the within-batch window's own keyed shuffle
    assert plan.count("BroadcastHashJoin") >= 1 or "BroadcastExchange" in plan
    import re
    shuffles = re.findall(r"Exchange hashpartitioning\(([^,]+)", plan)
    assert all(s.strip().startswith("content_hash") for s in shuffles), shuffles


def test_repeated_span_removal_keeps_one_copy(spark):
    """A paragraph lifted into two documents survives only in the
    min-id document; unrelated text is untouched; short docs pass
    through; overlapping repeated spans merge in the position dedup."""
    from jonesy_spark.operators.hygiene import repeated_span_removal

    shared = " ".join(f"shared{i}" for i in range(15))  # 15-token run
    docs = spark.createDataFrame(
        [
            (1, f"intro one {shared} outro one"),
            (5, f"different lead {shared} and a different tail"),
            (7, "totally unrelated text with enough tokens to stand alone"),
            (9, "tiny doc"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in repeated_span_removal(docs, k=13).collect()}

    # keeper (min id) intact
    assert out[1]["clean_text"] == f"intro one {shared} outro one"
    assert out[1]["n_removed"] == 0
    # the other occurrence loses exactly the shared tokens
    assert "shared0" not in out[5]["clean_text"]
    assert out[5]["clean_text"].startswith("different lead")
    assert out[5]["clean_text"].endswith("and a different tail")
    assert out[5]["n_removed"] == 15
    # bystanders untouched
    assert out[7]["n_removed"] == 0 and out[9]["n_removed"] == 0
    assert out[9]["clean_text"] == "tiny doc"


def test_repeated_span_removal_three_docs_one_keeper(spark):
    from jonesy_spark.operators.hygiene import repeated_span_removal

    boiler = " ".join(f"b{i}" for i in range(13))
    docs = spark.createDataFrame(
        [(i, f"head{i} {boiler} tail{i}") for i in (3, 8, 11)],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in repeated_span_removal(docs, k=13).collect()}
    assert out[3]["n_removed"] == 0
    assert out[8]["n_removed"] == 13 and out[11]["n_removed"] == 13
    assert out[8]["clean_text"] == "head8 tail8"


def test_repeated_span_removal_validates_params(spark):
    import pytest

    from jonesy_spark.operators.hygiene import repeated_span_removal

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError):
        repeated_span_removal(docs, k=1)
    with pytest.raises(ValueError):
        repeated_span_removal(docs, min_df=1)


def test_compact_intent_protocol_keeps_sum_folds_exact(spark, tmp_path):
    """ADVICE r7 (medium): a compaction that crashed between writing
    the consolidated subtree and deleting its sources must NOT double
    the classifier ledger's folded counts. The intent manifest names
    the consumed batches; superseded_batches exposes the survivors;
    train_from_counts excludes them; the next compact_index run
    repairs the state. Also pins the classifier ledger's FLAT
    compaction layout (part_col=None — no bucket= shatter)."""
    import glob
    import json

    from pyspark.sql import functions as F

    from jonesy_spark.operators import classify as C

    path = str(tmp_path / "counts")
    mk = lambda lo: spark.createDataFrame(
        [
            (i, f"tok{i} shared words here", "en" if i % 2 else "fr")
            for i in range(lo, lo + 8)
        ],
        "doc_id long, text string, lang string",
    )
    C.write_classifier_counts(
        mk(0), F.col("lang") == "en", path, run_id="e1", n_buckets=64
    )
    C.write_classifier_counts(
        mk(8), F.col("lang") == "en", path, run_id="e2", n_buckets=64
    )

    def model_rows():
        model, nb, ng = C.train_from_counts(spark, path)
        assert (nb, ng) == (64, 1)
        return sorted(map(tuple, model.collect()))

    before = model_rows()

    # flat compaction: one consolidated batch, NO bucket= directories
    rid = H.compact_index(spark, path, part_col=None)
    assert rid.startswith("compact-2-")
    assert glob.glob(f"{path}/ingest_batch=*") == [
        f"{path}/ingest_batch={rid}"
    ]
    assert not glob.glob(f"{path}/ingest_batch={rid}/bucket=*")
    assert model_rows() == before

    # crash simulation: a consumed source batch SURVIVES next to the
    # committed compact subtree, with the intent manifest still present
    C.write_classifier_counts(
        mk(0), F.col("lang") == "en", path, run_id="e3", n_buckets=64
    )
    mdir = tmp_path / "counts" / "_compactions"
    mdir.mkdir(exist_ok=True)
    (mdir / f"{rid}.json").write_text(
        json.dumps({"run_id": rid, "consumed": ["e1", "e2", "e3"]})
    )
    assert H.superseded_batches(spark, path) == {"e3"}
    # the SUM fold stays exact: the survivor is excluded, not doubled
    assert model_rows() == before

    # repair: the next maintenance pass finishes the deletion, retires
    # the intent, and the fold still matches
    H.compact_index(spark, path, part_col=None)
    assert glob.glob(f"{path}/ingest_batch=*") == [
        f"{path}/ingest_batch={rid}"
    ]
    assert glob.glob(f"{path}/_compactions/*.json") == []
    assert model_rows() == before


def test_compact_stale_intent_is_vacuumed_not_applied(spark, tmp_path):
    """A crash BEFORE the consolidated write leaves an intent with no
    committed subtree: sources are the truth, nothing is excluded, and
    the next compaction vacuums the stale record."""
    import glob
    import json

    idx = str(tmp_path / "digest")
    for i, t in enumerate(["alpha", "beta"]):
        b = spark.createDataFrame([(i, t)], ["doc_id", "text"])
        novel, _ = H.incremental_dedup(b, H.read_digest_index(spark, idx))
        H.write_novel_digests(novel, idx, run_id=f"n{i}")
    mdir = tmp_path / "digest" / "_compactions"
    mdir.mkdir()
    (mdir / "compact-9-dead.json").write_text(
        json.dumps({"run_id": "compact-9-dead", "consumed": ["n0", "n1"]})
    )
    assert H.superseded_batches(spark, idx) == set()
    n_before = H.read_digest_index(spark, idx).count()
    rid = H.compact_index(spark, idx)
    assert rid.startswith("compact-2-")
    assert glob.glob(f"{idx}/_compactions/*.json") == []
    assert H.read_digest_index(spark, idx).count() == n_before


def test_compact_partial_subtree_is_excluded_and_vacuumed(spark, tmp_path):
    """A crash DURING the consolidated write leaves part files visible
    to parquet readers under an uncommitted (no ``_SUCCESS``) compact
    subtree, next to intact sources. SUM-folding readers must exclude
    the PARTIAL SUBTREE (the sources are the truth), and the repair
    pass must vacuum the subtree with the intent record — deleting
    only the record would bake the partial rows into the next
    compaction as permanent duplicates."""
    import glob
    import json

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    from jonesy_spark.catalog import Catalog
    from jonesy_spark.operators import stats as ST

    path = str(tmp_path / "rollup")
    events = Catalog(spark, "/root/testdata/sf0.001").events
    for rid, parity in (("b0", 0), ("b1", 1)):
        ST.write_rollup_index(
            ST.rollup_batch(events.filter(F.col("event_id") % 2 == parity)),
            path,
            run_id=rid,
        )
    before = sorted(map(tuple, ST.rollup_report(spark, path).collect()))

    # crash simulation: half-written consolidated subtree (one part
    # file, NO _SUCCESS) + the intent record naming the sources
    dead = f"{path}/ingest_batch=compact-9-dead"
    (tmp_path / "rollup" / "ingest_batch=compact-9-dead").mkdir()
    pq.write_table(
        pa.table(
            {
                "key": ["view"],
                "bucket_es": [0],
                "n_events": [999_999],
                "sum_value_micro": [999_999],
                "min_value_micro": [0],
                "max_value_micro": [0],
            },
            schema=pa.schema(
                [
                    ("key", pa.string()),
                    ("bucket_es", pa.int64()),
                    ("n_events", pa.int64()),
                    ("sum_value_micro", pa.int64()),
                    ("min_value_micro", pa.int64()),
                    ("max_value_micro", pa.int64()),
                ]
            ),
        ),
        f"{dead}/part-00000.parquet",
    )
    mdir = tmp_path / "rollup" / "_compactions"
    mdir.mkdir()
    (mdir / "compact-9-dead.json").write_text(
        json.dumps({"run_id": "compact-9-dead", "consumed": ["b0", "b1"]})
    )

    assert H.superseded_batches(spark, path) == {"compact-9-dead"}
    # the fold ignores the partial rows: sources are the truth
    assert sorted(map(tuple, ST.rollup_report(spark, path).collect())) == before

    # repair: the partial subtree AND its record are vacuumed, the
    # fresh compaction folds only the sources
    rid = H.compact_index(spark, path, part_col=None)
    assert rid.startswith("compact-2-")
    assert glob.glob(f"{path}/ingest_batch=*") == [f"{path}/ingest_batch={rid}"]
    assert glob.glob(f"{path}/_compactions/*.json") == []
    assert sorted(map(tuple, ST.rollup_report(spark, path).collect())) == before


def test_compact_commit_witnessed_by_missing_source_without_marker(
    spark, tmp_path
):
    """Object-store reality: success markers can be disabled or
    stripped. A compaction that committed and began deleting sources
    (one consumed batch already gone) then crashed must NOT have its
    consolidated subtree treated as partial — the missing source IS
    the commit witness (step 3 only starts after step 2 commits), and
    the subtree may be the only copy of the deleted source's rows.
    Readers exclude the SURVIVING source; repair deletes it and keeps
    the subtree."""
    import glob
    import json

    from pyspark.sql import functions as F

    from jonesy_spark.catalog import Catalog
    from jonesy_spark.operators import stats as ST

    path = str(tmp_path / "rollup")
    events = Catalog(spark, "/root/testdata/sf0.001").events
    halves = {
        rid: ST.rollup_batch(events.filter(F.col("event_id") % 2 == p))
        for rid, p in (("b0", 0), ("b1", 1))
    }
    for rid, part in halves.items():
        ST.write_rollup_index(part, path, run_id=rid)
    before = sorted(map(tuple, ST.rollup_report(spark, path).collect()))

    rid = H.compact_index(spark, path, part_col=None)
    # crash reconstruction: marker stripped, deletion of b1 done,
    # b0 still present, intent record still present
    (tmp_path / "rollup" / f"ingest_batch={rid}" / "_SUCCESS").unlink()
    ST.write_rollup_index(halves["b0"], path, run_id="b0")
    mdir = tmp_path / "rollup" / "_compactions"
    mdir.mkdir(exist_ok=True)
    (mdir / f"{rid}.json").write_text(
        json.dumps({"run_id": rid, "consumed": ["b0", "b1"]})
    )

    # the missing b1 witnesses the commit: exclude the survivor, not
    # the (complete, marker-less) subtree
    assert H.superseded_batches(spark, path) == {"b0"}
    assert sorted(map(tuple, ST.rollup_report(spark, path).collect())) == before

    # repair keeps the subtree (the only copy of b1's rows), deletes
    # the survivor, retires the record
    rid2 = H.compact_index(spark, path, part_col=None)
    assert rid2 == rid
    assert glob.glob(f"{path}/ingest_batch=*") == [f"{path}/ingest_batch={rid}"]
    assert glob.glob(f"{path}/_compactions/*.json") == []
    assert sorted(map(tuple, ST.rollup_report(spark, path).collect())) == before


def test_compact_torn_intent_record_is_tolerated(spark, tmp_path):
    """A crash during the intent write itself leaves a torn/empty
    record. By the protocol no subtree was written yet, so readers
    must treat it as stale (not raise), and the repair pass vacuums
    the record alone."""
    import glob

    from pyspark.sql import functions as F

    from jonesy_spark.catalog import Catalog
    from jonesy_spark.operators import stats as ST

    path = str(tmp_path / "kmv")
    ev = (
        Catalog(spark, "/root/testdata/sf0.001")
        .events.filter(F.col("user_id").isNotNull())
        .select("event_id", F.col("event_type").alias("key"), "user_id")
    )
    for rid, parity in (("b0", 0), ("b1", 1)):
        ST.write_kmv_index(
            ST.kmv_sketch_batch(
                ev.filter(F.col("event_id") % 2 == parity), ["key"], "user_id", k=8
            ),
            path,
            run_id=rid,
        )
    before = sorted(map(tuple, ST.kmv_fold(spark, path, ["key"], k=8).collect()))

    mdir = tmp_path / "kmv" / "_compactions"
    mdir.mkdir()
    (mdir / "compact-torn.json").write_text("")  # crash mid-intent-write

    assert H.superseded_batches(spark, path) == set()
    assert sorted(map(tuple, ST.kmv_fold(spark, path, ["key"], k=8).collect())) == before
    rid = H.compact_index(spark, path, part_col=None)
    assert rid.startswith("compact-2-")
    assert glob.glob(f"{path}/_compactions/*.json") == []
    assert sorted(map(tuple, ST.kmv_fold(spark, path, ["key"], k=8).collect())) == before


def test_gopher_quality_gate_rule_goldens(spark):
    """Each Gopher rule isolated on a hand-built doc that violates ONLY
    it, plus a clean pass, the exact-tie boundaries of the 10%-symbol
    and 90%-bullet thresholds, and the case/punctuation-normalized
    stop-word match — counts and booleans pinned by hand."""
    clean = ["alpha"] * 58 + ["the", "of"]          # mean len 295/60
    rows = [
        (1, " ".join(clean)),                        # all rules pass
        (2, "just ten the of tokens in this doc right here"),  # <50 words
        (3, " ".join(["#" + w if i < 20 else w for i, w in enumerate(clean)])),
        (4, "\n".join(
            "- " + " ".join(clean[:6])
            for _ in range(10)) + " the of"),        # 10/10 bullet lines
        (5, "\n".join(
            " ".join(clean[:6]) + ("..." if i < 4 else "")
            for i in range(10)) + " the of"),        # 4/10 ellipsis lines
        (6, " ".join(["alphabetical"] * 58 + ["the", "of"])),  # mean 11.7
        (7, " ".join(["123" if i < 20 else w for i, w in enumerate(clean)])),
        (8, " ".join(["alpha"] * 59 + ["the"])),     # only 1 stop kind
        (9, " ".join(["#" + w if i < 6 else w for i, w in enumerate(clean)])),
        # 9/10 bullet lines: exactly the paper's 90% bar — passes
        (10, "\n".join(
            ("- " if i < 9 else "") + " ".join(clean[:6])
            for i in range(10)) + " the of"),
        # sentence-initial 'The' and punctuated 'of,' still count
        (11, " ".join(["The"] + ["alpha"] * 57 + ["of,", "beta"])),
        # 12/60 '...'-suffixed words: ellipsis OCCURRENCES > 10% even
        # with zero '#' — the per-symbol ratio, not a pooled cap
        (12, " ".join([w + "..." if i < 12 else w
                       for i, w in enumerate(clean)])),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r.asDict() for r in H.gopher_quality_gate(docs).collect()}
    assert out[1]["keep"] and all(
        out[1][k] for k in out[1] if k.startswith("r_")
    )
    assert out[1]["n_words"] == 60 and out[1]["total_word_chars"] == 295
    assert not out[2]["r_word_count"] and not out[2]["keep"]
    # doc 3: 20 '#' occurrences in 60 words > 10%; all else passes
    assert not out[3]["r_symbol_ratio"] and out[3]["n_hash_symbols"] == 20
    assert out[3]["r_mean_word_len"] and out[3]["r_alpha_ratio"]
    # doc 4: a pure bullet list (10/10 > 90%) — the paper's reject
    assert not out[4]["r_bullet_lines"] and out[4]["n_bullet_lines"] == 10
    assert out[4]["r_ellipsis_lines"] and not out[4]["keep"]
    # doc 5: exactly the ellipsis-LINE rule (4*10 > 3*10)
    assert not out[5]["r_ellipsis_lines"] and out[5]["n_ellipsis_lines"] == 4
    assert out[5]["r_bullet_lines"]
    # doc 6: mean word length 697/60 > 10, all else green
    assert not out[6]["r_mean_word_len"] and out[6]["r_stop_words"]
    # doc 7: 20/60 non-alpha > 20%
    assert not out[7]["r_alpha_ratio"] and out[7]["n_alpha_words"] == 40
    # doc 8: one stop kind is not two
    assert not out[8]["r_stop_words"] and out[8]["n_stop_kinds"] == 1
    # doc 9: EXACT tie — 6 '#' occurrences in 60 is <= 10%, rule passes
    assert out[9]["r_symbol_ratio"] and out[9]["n_hash_symbols"] == 6
    assert out[9]["keep"]
    # doc 10: EXACT tie at the 90% bullet bar — 9/10 passes
    assert out[10]["r_bullet_lines"] and out[10]["n_bullet_lines"] == 9
    assert out[10]["keep"]
    # doc 11: normalized stop match ('The', 'of,') -> 2 kinds, keeps
    assert out[11]["r_stop_words"] and out[11]["n_stop_kinds"] == 2
    assert out[11]["keep"]
    # doc 12: 12 ellipsis occurrences in 60 words > 10% with no '#'
    assert not out[12]["r_symbol_ratio"]
    assert out[12]["n_ellipsis_symbols"] == 12
    assert out[12]["n_hash_symbols"] == 0 and not out[12]["keep"]
    # null-free canon over every cell
    assert all(v is not None for d in out.values() for v in d.values())


def test_ngram_novelty_known_answers(spark):
    """Endpoint properties of the RAVEN-style novelty metric: an eval
    doc wholly contained in a train doc reads novelty 0; an eval doc
    with a vocabulary disjoint from the whole train side reads
    1,000,000 (every gram novel); a half-copied doc sits strictly
    between; docs shorter than n grams are absent from the report."""
    from jonesy_spark.operators.hygiene import ngram_novelty

    train = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "one two three four five six seven eight nine"),
        ],
        "doc_id long, text string",
    )
    copied = "alpha beta gamma delta epsilon zeta eta theta"
    disjoint = "red orange yellow green blue indigo violet pink"
    half = "one two three four five crimson maroon teal navy olive"
    evald = spark.createDataFrame(
        [(10, copied), (11, disjoint), (12, half), (13, "too short")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in ngram_novelty(evald, train, n=5).collect()}
    assert got[10]["novelty_micro"] == 0
    assert got[11]["novelty_micro"] == 1_000_000
    assert 0 < got[12]["novelty_micro"] < 1_000_000
    assert 13 not in got  # 2 words < n, no grams, no row
    # counts are distinct-gram counts: the copied doc has 4 grams
    assert got[10]["n_grams"] == 4 and got[10]["n_novel"] == 0
