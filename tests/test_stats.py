"""Mergeable HLL corpus statistics: estimate accuracy, merge
invariance, and the persisted incremental index round-trip."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from jonesy_spark.catalog import Catalog
from jonesy_spark.operators import stats as S

SF_DIR = "/root/testdata/sf0.001"


def _exact_vocab(docs):
    return {
        (r["source"], r["lang"]): r["v"]
        for r in docs.select(
            "source",
            "lang",
            F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("tok"),
        )
        .filter(F.col("tok") != "")
        .groupBy("source", "lang")
        .agg(F.countDistinct("tok").alias("v"))
        .collect()
    }


def test_profile_counters_and_estimate_match_exact(spark):
    docs = Catalog(spark, SF_DIR).documents
    report = S.profile_report(S.profile_batch(docs)).collect()
    exact = _exact_vocab(docs)
    exact_docs = {
        (r["source"], r["lang"]): r["n"]
        for r in docs.groupBy("source", "lang").count().withColumnRenamed("count", "n").collect()
    }
    assert {(r["source"], r["lang"]) for r in report} == set(exact)
    for r in report:
        key = (r["source"], r["lang"])
        assert r["n_docs"] == exact_docs[key]
        # fixture vocabularies sit in HLL's sparse-exact regime
        assert abs(r["vocab_est"] - exact[key]) <= max(1, 0.02 * exact[key])


def test_merge_is_batching_invariant(spark):
    docs = Catalog(spark, SF_DIR).documents
    single = {
        (r["source"], r["lang"]): (r["n_docs"], r["n_tokens"], r["vocab_est"])
        for r in S.profile_report(S.profile_batch(docs)).collect()
    }
    halves = [docs.filter(F.col("doc_id") % 2 == i) for i in (0, 1)]
    merged_rows = S.profile_report(
        S.merge_profiles(
            S.profile_batch(halves[0]).unionByName(S.profile_batch(halves[1]))
        )
    ).collect()
    merged = {
        (r["source"], r["lang"]): (r["n_docs"], r["n_tokens"], r["vocab_est"])
        for r in merged_rows
    }
    # counters add exactly; the unioned sketch estimate equals the
    # single-pass estimate (register-wise max is cut-invariant)
    assert merged == single


def test_stats_index_accumulates_batches(spark, tmp_path):
    docs = Catalog(spark, SF_DIR).documents
    idx = str(tmp_path / "stats_index")
    b1 = docs.filter(F.col("doc_id") < 30)
    b2 = docs.filter(F.col("doc_id") >= 30)
    S.write_stats_index(S.profile_batch(b1), idx, run_id="epoch-1", mode="overwrite")
    S.write_stats_index(S.profile_batch(b2), idx, run_id="epoch-2", mode="overwrite")

    report = {
        (r["source"], r["lang"]): (r["n_docs"], r["n_tokens"], r["vocab_est"])
        for r in S.corpus_stats_report(spark, idx).collect()
    }
    single = {
        (r["source"], r["lang"]): (r["n_docs"], r["n_tokens"], r["vocab_est"])
        for r in S.profile_report(S.profile_batch(docs)).collect()
    }
    assert report == single

    # replay idempotence: re-writing epoch-2's own subtree changes nothing
    S.write_stats_index(S.profile_batch(b2), idx, run_id="epoch-2", mode="overwrite")
    report2 = {
        (r["source"], r["lang"]): (r["n_docs"], r["n_tokens"], r["vocab_est"])
        for r in S.corpus_stats_report(spark, idx).collect()
    }
    assert report2 == report

    # the replay-safety read excludes a batch's own subtree
    partial = S.read_stats_index(spark, idx, exclude_run_id="epoch-2")
    assert partial.agg(F.sum("n_docs")).first()[0] == b1.count()


def test_pretoken_count_matches_duckdb_everywhere(spark, duck):
    """The BPE-ish pre-tokenizer count is engine-portable: identical
    leftmost-first match counts in Spark (Java regex) and DuckDB (RE2)
    over the entire fixture corpus."""
    from jonesy_spark.functions.text import PRETOKEN_PATTERN, pretoken_count

    got = {
        r["doc_id"]: r["n"]
        for r in Catalog(spark, SF_DIR)
        .documents.select("doc_id", pretoken_count(F.col("text")).alias("n"))
        .collect()
    }
    want = dict(
        duck.execute(
            "SELECT doc_id, len(regexp_extract_all(text, ?)) FROM documents",
            [PRETOKEN_PATTERN],
        ).fetchall()
    )
    assert got == want
    # sanity: strictly more granular than whitespace words on punctuated text
    sample = Catalog(spark, SF_DIR).documents.select(
        pretoken_count(F.lit("It's here, now!")).alias("p")
    ).first()
    assert sample["p"] == 6


def test_stats_drift_report(spark):
    """Known-answer drift: a shrunk domain, a grown one, one vanished,
    one appeared — ratios, shares and statuses all pinned."""
    base = spark.createDataFrame(
        [("a", "en", 10, 1000, 100.0), ("b", "en", 10, 1000, 100.0), ("c", "en", 5, 500, 50.0)],
        "source string, lang string, n_docs long, n_tokens long, vocab_est double",
    )
    cur = spark.createDataFrame(
        [("a", "en", 20, 2000, 150.0), ("b", "en", 5, 500, 90.0), ("d", "en", 5, 500, 60.0)],
        "source string, lang string, n_docs long, n_tokens long, vocab_est double",
    )
    rows = {
        r["source"]: r for r in S.stats_drift(cur, base).collect()
    }
    assert rows["a"]["status"] == "both" and rows["a"]["tokens_ratio"] == 2.0
    assert rows["a"]["vocab_ratio"] == 1.5
    assert rows["b"]["tokens_ratio"] == 0.5
    assert rows["c"]["status"] == "gone" and rows["c"]["n_tokens_cur"] is None
    assert rows["d"]["status"] == "new" and rows["d"]["tokens_ratio"] is None
    # shares: base total 2500, cur total 3000
    assert rows["a"]["token_share_base"] == 0.4
    assert abs(rows["a"]["token_share_cur"] - 2000 / 3000) < 1e-6
    assert rows["d"]["token_share_base"] == 0.0
    # share deltas sum to ~0 across the union of groups
    assert abs(sum(r["share_delta"] for r in rows.values())) < 1e-5


def test_profile_batch_null_group_keeps_sketch(spark):
    """A NULL source/lang is a legal group (the ingest contract only
    requires doc_id/text): its sketch must survive the group join."""
    docs = spark.createDataFrame(
        [(1, "alpha beta", None, None, 10), (2, "alpha gamma", None, "en", 11)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    rows = {
        (r["source"], r["lang"]): r
        for r in S.profile_report(S.profile_batch(docs)).collect()
    }
    assert rows[(None, None)]["vocab_est"] == 2.0
    assert rows[("en", None)]["vocab_est"] == 2.0


def test_read_stats_index_absent_is_empty(spark, tmp_path):
    """First-run contract: an index that does not exist yet reads as
    an empty frame and the report yields zero groups, not a crash."""
    report = S.corpus_stats_report(spark, str(tmp_path / "never_written"))
    assert report.count() == 0
    assert "vocab_est" in report.columns


def test_merge_tolerates_mixed_lg_k(spark):
    docs = Catalog(spark, SF_DIR).documents
    a = S.profile_batch(docs.filter(F.col("doc_id") < 30), lg_k=12)
    b = S.profile_batch(docs.filter(F.col("doc_id") >= 30), lg_k=14)
    merged = S.profile_report(S.merge_profiles(a.unionByName(b)))
    assert merged.filter(F.col("vocab_est").isNull()).count() == 0


def test_nfc_normalize_unifies_digests(spark):
    """Composed vs decomposed unicode digests differently RAW and
    identically after NFC — the exact-dedup correctness case; NFC is
    idempotent; control chars strip without touching \\t \\n."""
    from jonesy_spark.functions.text import nfc_normalize, strip_control_chars

    composed = "café au lait"
    decomposed = "café au lait"
    df = spark.createDataFrame(
        [(1, composed), (2, decomposed)], "doc_id long, text string"
    )
    raw = df.select(F.md5("text").alias("d")).distinct().count()
    norm = (
        df.select(F.md5(nfc_normalize(F.col("text"))).alias("d"))
        .distinct()
        .count()
    )
    assert raw == 2 and norm == 1

    # idempotence
    once = df.select(nfc_normalize(F.col("text")).alias("t"))
    twice = once.select(nfc_normalize(F.col("t")).alias("t"))
    assert [r["t"] for r in once.collect()] == [r["t"] for r in twice.collect()]

    ctrl = spark.createDataFrame(
        [(1, "a\x00b\x1fc\tkeep\nlines\x9d")], "doc_id long, text string"
    )
    got = ctrl.select(strip_control_chars(F.col("text")).alias("t")).first()["t"]
    assert got == "abc\tkeep\nlines"


def test_script_profile_matches_duckdb(spark, duck):
    """Script-family counts are engine-portable (explicit codepoint
    ranges — named script classes differ between Java and RE2), and
    dominant_script picks the max with first-listed tie-break."""
    from jonesy_spark.functions.text import (
        SCRIPT_RANGES,
        dominant_script,
        script_counts,
    )

    texts = [
        (1, "Hello мир мир мир"),
        (2, "你好世界 ひらがな"),
        (3, "...!!! 123"),
        (4, "mixed мир"),
        (5, "مرحبا بالعالم"),
        (6, "ab яю"),  # 2 latin vs 2 cyrillic: a true tie -> first listed wins
    ]
    df = spark.createDataFrame(texts, "i long, t string")
    got = {
        r["i"]: (r["s"], *[r[f"n_{k}"] for k in SCRIPT_RANGES])
        for r in df.select(
            "i", dominant_script(F.col("t")).alias("s"), *script_counts(F.col("t"))
        ).collect()
    }
    assert got[1][0] == "cyrillic" and got[2][0] == "cjk"
    assert got[3][0] == "none" and got[5][0] == "arabic"
    assert got[6][0] == "latin"  # tie-break: first-listed family

    for i, t in texts:
        duck_counts = tuple(
            duck.execute(
                "SELECT len(regexp_extract_all(?, ?))", [t, pat]
            ).fetchone()[0]
            for pat in SCRIPT_RANGES.values()
        )
        assert got[i][1:] == duck_counts, (t, got[i][1:], duck_counts)


def test_snapshot_diff_statuses(spark):
    from jonesy_spark.operators.stats import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (4, None), (5, "")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(1, "a"), (2, "B"), (4, ""), (5, ""), (6, "f")],
        "doc_id long, text string",
    )
    d = snapshot_diff(old, new)
    got = {r["doc_id"]: r["status"] for r in d.collect()}
    assert got == {
        1: "unchanged",
        2: "changed",
        3: "removed",
        4: "changed",  # NULL -> '' is a CHANGE, not unchanged
        5: "unchanged",
        6: "added",
    }


def test_snapshot_diff_multi_column_compare(spark):
    from jonesy_spark.operators.stats import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", "en"), (2, "b", "en")], "doc_id long, text string, lang string"
    )
    new = spark.createDataFrame(
        [(1, "a", "de"), (2, "b", "en")], "doc_id long, text string, lang string"
    )
    d = snapshot_diff(old, new, compare_cols=("text", "lang"))
    got = {r["doc_id"]: r["status"] for r in d.collect()}
    assert got == {1: "changed", 2: "unchanged"}


def test_psi_report_identical_and_shifted(spark):
    from jonesy_spark.operators.stats import psi_report

    a = spark.createDataFrame(
        [(i, (i % 10) / 10.0 + 0.05) for i in range(100)], "id long, s double"
    )
    same = psi_report(a, a, F.col("s")).collect()
    assert all(r["psi_micro"] == 0 for r in same)
    assert len(same) == 10

    # everything shifts into the top bin -> large PSI
    b = spark.createDataFrame(
        [(i, 0.95) for i in range(100)], "id long, s double"
    )
    shifted = psi_report(a, b, F.col("s")).collect()
    psi = shifted[0]["psi_micro"]
    assert psi > 250_000  # the classic "population shifted" threshold
    # shares: base uniform 0.1 per bin; cur all in bin 9
    by_bin = {r["bin"]: r for r in shifted}
    assert by_bin[9]["share_cur_micro"] == 1_000_000
    assert by_bin[0]["share_cur_micro"] == 1  # the 1e-6 eps floor


def test_key_skew_report_flags_heavy_hitter(spark):
    """One key carrying half the rows over a uniform background must
    top the report with the right share and median ratio."""
    from jonesy_spark.operators.stats import key_skew_report

    rows = [("hot",)] * 50 + [(f"k{i}",) for i in range(25) for _ in range(2)]
    df = spark.createDataFrame(rows, ["k"])
    got = key_skew_report(df, "k", top_n=3).collect()
    assert got[0]["key"] == "hot"
    assert got[0]["n_rows"] == 50
    assert got[0]["share_micro"] == 500_000
    # background keys have 2 rows each -> median 2, ratio 25
    assert got[0]["ratio_to_median_micro"] == 25_000_000
    assert [r["n_rows"] for r in got[1:]] == [2, 2]


def test_key_skew_report_uniform_ratio_one(spark):
    from jonesy_spark.operators.stats import key_skew_report

    df = spark.createDataFrame([(f"k{i}",) for i in range(10)] * 3, ["k"])
    got = key_skew_report(df, "k", top_n=5).collect()
    assert all(r["ratio_to_median_micro"] == 1_000_000 for r in got)
    assert all(r["share_micro"] == round(3 / 30 * 1e6) for r in got)


def test_rollup_ledger_fold_equals_direct_and_compacts(spark, tmp_path):
    """The hypertable rollup's mergeability contract: partials from an
    arbitrary 3-way batch split fold to EXACTLY the single-pass
    rollup (per-row micro-units make count/sum/min/max associative
    with zero drift); flat compaction collapses the ledger without
    changing the fold; an absent ledger raises."""
    import pytest as _pytest

    from jonesy_spark.operators import hygiene as H
    from jonesy_spark.operators import stats as ST

    events = Catalog(spark, SF_DIR).events
    path = str(tmp_path / "rollup")

    with _pytest.raises(ValueError, match="no rollup ledger"):
        ST.rollup_report(spark, str(tmp_path / "missing"))

    for i in range(3):
        ST.write_rollup_index(
            ST.rollup_batch(events.filter(F.col("event_id") % 3 == i)),
            path,
            run_id=f"b{i}",
        )

    def rows(df):
        return sorted(map(tuple, df.collect()))

    direct = rows(ST.rollup_batch(events))
    assert rows(ST.rollup_report(spark, path)) == direct

    rid = H.compact_index(spark, path, part_col=None)
    assert rid.startswith("compact-3-")
    assert rows(ST.rollup_report(spark, path)) == direct


def test_rollup_floors_pre_epoch_timestamps(spark):
    """Bucketing must FLOOR for all signs: Spark's % takes the
    dividend's sign, so a naive es - es % b would round a pre-epoch
    event toward zero and merge it into the wrong (next-higher)
    bucket. 1969-12-31T23:30Z (es = -1800) belongs to bucket -3600,
    not 0."""
    from jonesy_spark.operators import stats as ST

    df = spark.createDataFrame(
        [("x", "1969-12-31 23:30:00", 1.0), ("x", "1970-01-01 00:30:00", 1.0)],
        "event_type string, ts string, value double",
    )
    got = {
        r["bucket_es"]: r["n_events"]
        for r in ST.rollup_batch(df, bucket_seconds=3600).collect()
    }
    assert got == {-3600: 1, 0: 1}


def test_kmv_ledger_fold_equals_direct_and_compacts(spark, tmp_path):
    """The KMV sketch's mergeability contract: min-k partials from an
    arbitrary 3-way batch split fold to the BIT-IDENTICAL single-pass
    sketch (min-k of a union of per-batch min-k sets is the union's
    min-k, by pigeonhole); flat compaction leaves the fold unchanged;
    an absent ledger raises; the salted two-level rank equals the
    unsalted single-window result."""
    import pytest as _pytest

    from jonesy_spark.operators import hygiene as H
    from jonesy_spark.operators import stats as ST

    events = Catalog(spark, SF_DIR).events
    keys = ["key"]
    ev = events.filter(F.col("user_id").isNotNull()).select(
        "event_id", F.col("event_type").alias("key"), "user_id"
    )
    path = str(tmp_path / "kmv")

    with _pytest.raises(ValueError, match="no KMV ledger"):
        ST.kmv_fold(spark, str(tmp_path / "missing"), keys)

    for i in range(3):
        ST.write_kmv_index(
            ST.kmv_sketch_batch(
                ev.filter(F.col("event_id") % 3 == i), keys, "user_id", k=16
            ),
            path,
            run_id=f"b{i}",
        )

    def rows(df):
        return sorted(map(tuple, df.collect()))

    direct = rows(ST.kmv_sketch_batch(ev, keys, "user_id", k=16))
    assert rows(ST.kmv_fold(spark, path, keys, k=16)) == direct
    # salting is a pure execution detail: n_salts must not change rows
    assert (
        rows(ST.kmv_sketch_batch(ev, keys, "user_id", k=16, n_salts=1))
        == direct
    )

    rid = H.compact_index(spark, path, part_col=None)
    assert rid.startswith("compact-3-")
    assert rows(ST.kmv_fold(spark, path, keys, k=16)) == direct


def test_kmv_estimate_regimes(spark):
    """Exact regime: a group with fewer than k distinct values keeps
    every hash (n_kept < k) and estimates EXACTLY. Estimation regime:
    with k distinct hashes kept, the Bar-Yossef integer estimator
    lands within its ~1/sqrt(k-2) band of the true cardinality."""
    from jonesy_spark.operators import stats as ST

    rows = [("small", i % 7) for i in range(200)] + [
        ("big", i) for i in range(5000)
    ]
    df = spark.createDataFrame(rows, "grp string, v long")
    sk = ST.kmv_sketch_batch(df, ["grp"], "v", k=64)
    est = {
        r["grp"]: (r["n_kept"], r["est_distinct"])
        for r in ST.kmv_estimate(sk, ["grp"], k=64).collect()
    }
    assert est["small"] == (7, 7)
    n_kept, e = est["big"]
    assert n_kept == 64
    assert abs(e - 5000) / 5000 < 0.5  # ~13 % expected; 4-sigma bound


def test_bottomk_sample_ledger_and_quantiles(spark, tmp_path):
    """The value-carrying KMV variant: 3-way-split sample partials
    fold to the bit-identical one-pass sample; a group under k rows is
    sampled exhaustively, so its sample quantiles EQUAL the exact
    nearest-rank population quantiles; a large group's sampled median
    lands within the O(1/sqrt(k)) rank band."""
    from jonesy_spark.operators import stats as ST

    rows = [("small", i, 10.0 * i) for i in range(40)] + [
        ("big", 1000 + i, float(i)) for i in range(8000)
    ]
    df = spark.createDataFrame(rows, "grp string, rid long, value double")
    path = str(tmp_path / "sample")

    for i in range(3):
        ST.write_kmv_index(
            ST.bottomk_sample_batch(
                df.filter(F.col("rid") % 3 == i), ["grp"], "rid", "value", k=64
            ),
            path,
            run_id=f"b{i}",
        )

    def srt(d):
        return sorted(map(tuple, d.collect()))

    direct = srt(ST.bottomk_sample_batch(df, ["grp"], "rid", "value", k=64))
    assert srt(ST.sample_fold(spark, path, ["grp"], k=64)) == direct
    assert (
        srt(ST.bottomk_sample_batch(df, ["grp"], "rid", "value", k=64, n_salts=1))
        == direct
    )

    sample = ST.sample_fold(spark, path, ["grp"], k=64)
    q = {
        (r["grp"], r["q_pct"]): (r["n_sample"], r["q_value_micro"])
        for r in ST.sample_quantiles(sample, ["grp"], (50, 90)).collect()
    }
    # exhaustive regime: 40 rows < k=64 -> exact nearest-rank picks
    # over values {0, 10, .., 390}: rank ceil(.5*40)=20 -> 190;
    # rank ceil(.9*40)=36 -> 350 (micro-units x1e6)
    assert q[("small", 50)] == (40, 190_000_000)
    assert q[("small", 90)] == (40, 350_000_000)
    # estimation regime: true median of 0..7999 is ~4000; k=64 gives
    # a ~1/sqrt(64) rank band — assert a generous 4-sigma envelope
    n_sample, med = q[("big", 50)]
    assert n_sample == 64
    assert abs(med / 1_000_000 - 4000) < 2000


def test_cms_ledger_fold_and_upper_bound(spark, tmp_path):
    """Count-min mergeability and correctness: 3-way-split counter
    partials fold by SUM to the bit-identical single-pass sketch
    (through flat compaction too); point estimates are NEVER below the
    true count (the CMS guarantee) even on a deliberately
    collision-heavy sketch (w=16 << 120 distinct values), and with
    w >> distinct values every estimate is exact."""
    from jonesy_spark.operators import hygiene as H
    from jonesy_spark.operators import stats as ST

    rows = [(i, f"u{i % 120}") for i in range(2000)]
    df = spark.createDataFrame(rows, "event_id long, uid string")

    # collision-heavy regime: upper bound must still hold everywhere
    path = str(tmp_path / "cms")
    for i in range(3):
        ST.write_kmv_index(
            ST.cms_sketch_batch(
                df.filter(F.col("event_id") % 3 == i), "uid", d=4, w=16
            ),
            path,
            run_id=f"b{i}",
        )

    def srt(d):
        return sorted(map(tuple, d.collect()))

    direct = srt(ST.cms_sketch_batch(df, "uid", d=4, w=16))
    assert srt(ST.cms_fold(spark, path)) == direct
    rid = H.compact_index(spark, path, part_col=None)
    assert rid.startswith("compact-3-")
    assert srt(ST.cms_fold(spark, path)) == direct

    est = {
        r["value"]: r["est_count"]
        for r in ST.cms_point_estimates(
            ST.cms_fold(spark, path), df, "uid", d=4, w=16
        ).collect()
    }
    exact = {f"u{k}": len([1 for i in range(2000) if i % 120 == k]) for k in range(120)}
    assert set(est) == set(exact)
    assert all(est[v] >= exact[v] for v in exact)  # never undercounts

    # sparse regime: w >> distinct -> exact for every value
    wide = ST.cms_point_estimates(
        ST.cms_sketch_batch(df, "uid", d=4, w=65536), df, "uid", d=4, w=65536
    )
    got = {r["value"]: r["est_count"] for r in wide.collect()}
    assert got == exact


def test_mg_heavy_hitters_guarantee_across_fold(spark, tmp_path):
    """Misra-Gries contract through the ledger: with <= k distinct
    values the summary IS the exact count table; on a skewed fixture
    folded from a 3-way batch cut, every reported estimate satisfies
    est <= true <= est + N/(k+1), and every key with true count >
    N/(k+1) is present (no false negatives) — the Agarwal-2012 merge
    guarantee as assertions."""
    from jonesy_spark.operators import stats as ST

    # exact regime
    small = spark.createDataFrame(
        [(i, f"u{i % 5}") for i in range(100)], "event_id long, uid string"
    )
    got = {
        r["value"]: r["est"]
        for r in ST.mg_summary_batch(small, "uid", k=16).collect()
    }
    assert got == {f"u{j}": 20 for j in range(5)}

    # skewed fixture: u0 is ~38% of 2600 rows, far above N/(k+1)
    rows = [(i, "u0") for i in range(1000)] + [
        (1000 + i, f"u{1 + i % 80}") for i in range(1600)
    ]
    df = spark.createDataFrame(rows, "event_id long, uid string")
    n_total = len(rows)
    k = 16
    path = str(tmp_path / "mg")
    for b in range(3):
        ST.write_kmv_index(
            ST.mg_summary_batch(
                df.filter(F.col("event_id") % 3 == b), "uid", k=k
            ),
            path,
            run_id=f"b{b}",
        )
    merged = {
        r["value"]: r["est"] for r in ST.mg_fold(spark, path, k=k).collect()
    }
    exact = {"u0": 1000, **{f"u{1 + j}": 20 for j in range(80)}}
    bound = n_total // (k + 1)
    assert len(merged) <= k
    for v, est in merged.items():
        assert est <= exact[v] <= est + bound
    # no false negatives above the bound
    for v, true in exact.items():
        if true > bound:
            assert v in merged


def test_kmv_overlap_regimes(spark):
    """Sketch-algebra overlap: in the exact regime (union under k)
    the intersection comes out EXACT, including a zero-overlap pair;
    in the estimation regime the estimate lands within a generous
    band of the planted 50% overlap."""
    from jonesy_spark.operators import stats as ST

    # exact regime: |A|=30, |B|=30, |A ∩ B|=10, C disjoint from both
    rows = (
        [("A", v) for v in range(30)]
        + [("B", v) for v in range(20, 50)]
        + [("C", v) for v in range(1000, 1020)]
    )
    df = spark.createDataFrame(rows, "key string, v long")
    sk = ST.kmv_sketch_batch(df, ["key"], "v", k=64)
    rep = {
        (r["a"], r["b"]): (r["est_union"], r["est_intersection"])
        for r in ST.kmv_overlap_report(sk, k=64).collect()
    }
    assert rep[("A", "B")] == (50, 10)
    assert rep[("A", "C")] == (50, 0)
    assert rep[("B", "C")] == (50, 0)

    # estimation regime: 3000-value sets overlapping in 1500
    big = [("X", v) for v in range(3000)] + [
        ("Y", v) for v in range(1500, 4500)
    ]
    bsk = ST.kmv_sketch_batch(
        spark.createDataFrame(big, "key string, v long"), ["key"], "v", k=64
    )
    (row,) = ST.kmv_overlap_report(bsk, k=64).collect()
    assert row["n_kept"] == 64
    assert abs(row["est_union"] - 4500) / 4500 < 0.5
    assert abs(row["est_intersection"] - 1500) / 1500 < 0.8  # coarse band


def test_bloom_probe_no_false_negatives(spark):
    """Bloom contract: every inserted value probes maybe_present (no
    false negatives); a disjoint probe set on a roomy filter is
    overwhelmingly rejected; and a deliberately tiny filter (m=64)
    shows deterministic false positives without ever undercounting
    membership. (Batch partials union to the single-pass filter:
    test_bloom_fold_cut_invariance_property.)"""
    from jonesy_spark.operators import stats as ST

    df = spark.createDataFrame(
        [(i, f"val{i}") for i in range(300)], "rid long, v string"
    )
    filt = ST.bloom_batch(df, "v")
    inserted = {
        r["value"]: r["maybe_present"]
        for r in ST.bloom_probe(filt, df, "v").collect()
    }
    assert all(inserted.values())  # no false negatives, ever

    others = spark.createDataFrame(
        [(i, f"other{i}") for i in range(300)], "rid long, v string"
    )
    rejected = [
        r["maybe_present"]
        for r in ST.bloom_probe(filt, others, "v").collect()
    ]
    # m=8192, d=4, n=300 -> fpr ~ 1e-4; allow a couple of collisions
    assert sum(rejected) <= 3

    tiny = ST.bloom_batch(df, "v", m=64)
    tiny_probe = {
        r["value"]: r["maybe_present"]
        for r in ST.bloom_probe(tiny, df, "v", m=64).collect()
    }
    assert all(tiny_probe.values())  # saturated, but still no misses


def test_corpus_card_job_emits_gzip_csv(spark, tmp_path):
    """The card as a registered nightly job: one gzip CSV under the
    job root, uploaded under the daily prefix, source-ordered."""
    import csv
    import gzip
    import os

    from jonesy_spark.pipeline.jobs import JobContext, run_job

    ctx = JobContext(
        spark=spark,
        sf_dir="/root/testdata/sf0.001",
        out_root=str(tmp_path),
        targets=[str(tmp_path / "t0")],
    )
    run_job("corpus_card", ctx)
    assert "corpus_card" in ctx.written
    # the sink uploads under <target>/<daily_prefix>/<key> — the key
    # names the object, the payload is the gzip bytes
    [path] = [
        os.path.join(r, f)
        for r, _, fs in os.walk(tmp_path / "t0")
        for f in fs
        if f == "corpus_card"
    ]
    with gzip.open(path, "rt") as fh:
        rows = list(csv.reader(fh))
    sources = [r[0] for r in rows]
    assert sources == sorted(sources) and len(sources) > 1
    wrapper = os.path.join(
        os.path.dirname(__file__), "..", "scripts", "cron", "corpus-card.sh"
    )
    assert os.access(wrapper, os.X_OK)
    assert "corpus_card" in open(wrapper).read()


def test_strip_html_semantics(spark):
    """The load-bearing corners of the extraction chain: script bodies
    containing angle brackets vanish WHOLE (strip order), '&amp;lt;'
    decodes to the literal text '&lt;' (entity order — one pass, amp
    last), and whitespace collapses to single spaces."""
    from pyspark.sql import functions as F

    from jonesy_spark.functions.text import strip_html

    cases = [
        # script body with < > && must vanish entirely
        ('<p>a</p><script>if (x < y && y > z) {..}</script><p>b</p>', "a b"),
        # style body, comment, nested tags
        ('<style>p < div {}</style><div><b>bold</b> text</div><!-- c -->', "bold text"),
        # one-pass entity decode: &amp;lt; is the TEXT "&lt;", not "<"
        ("<p>&amp;lt; &lt; &gt; &quot; &#39; &nbsp; &amp;</p>", "&lt; < > \" '   &".replace("   ", " ")),
        # whitespace collapse across tag boundaries and newlines
        ("<p>a</p>\n\t<p>b</p>", "a b"),
    ]
    df = spark.createDataFrame([(h,) for h, _ in cases], ["html"])
    got = [r["t"] for r in df.select(strip_html(F.col("html")).alias("t")).collect()]
    assert got == [want for _, want in cases], got


# --------------------------------------------------------------------
# KLL-family quantile sketch (VERDICT r13 #5)
# --------------------------------------------------------------------


def _kll_frame(spark, values, key="g"):
    return spark.createDataFrame(
        [(key, i, float(v)) for i, v in enumerate(values)],
        "key string, rid long, value double",
    )


def test_kll_exhaustive_regime_is_exact(spark):
    """Groups of <= k rows decimate with step 1: the sketch IS the
    sorted group, weights all 1, and every quantile is the exact
    nearest-rank answer."""
    vals = [7, 3, 11, 5, 2, 13, 2]
    sk = S.kll_sketch_batch(_kll_frame(spark, vals), ["key"], "value", k=16)
    rows = sorted((r["v"], r["w"]) for r in sk.collect())
    assert rows == [(v * 1_000_000, 1) for v in sorted(vals)]
    q = {
        r["q_pct"]: r["q_value_micro"]
        for r in S.kll_quantiles(sk, ["key"], (50, 99)).collect()
    }
    sv = sorted(v * 1_000_000 for v in vals)
    n = len(vals)
    assert q[50] == sv[(50 * n + 99) // 100 - 1]
    assert q[99] == sv[(99 * n + 99) // 100 - 1]


def test_kll_weights_conserve_and_state_bounded(spark):
    """Decimation weights sum to EXACTLY n per batch; the fold's
    recompaction conserves the total and survives in <= k+1 rows."""
    import random

    rnd = random.Random(7)
    vals = [rnd.uniform(-50, 50) for _ in range(3000)]
    k = 64
    sk = S.kll_sketch_batch(_kll_frame(spark, vals), ["key"], "value", k=k)
    rows = sk.collect()
    assert len(rows) <= k
    assert sum(r["w"] for r in rows) == len(vals)

    merged = S._kll_compact(
        sk.unionByName(sk.withColumn("v", F.col("v") + 1)), ["key"], k
    )
    mrows = merged.collect()
    assert len(mrows) <= k + 1
    assert sum(r["w"] for r in mrows) == 2 * len(vals)


def test_kll_cut_invariance_merged_halves_within_single_pass_bound(
    spark, tmp_path
):
    """The mergeability contract: sketching two halves and folding the
    ledger answers every quantile within the DETERMINISTIC rank-error
    bound (2n/k + batches + 1 ranks) of the exact answer — the same
    bound a single-pass sketch obeys — and the fold conserves the
    exact total count."""
    import random

    rnd = random.Random(13)
    vals = [rnd.gauss(0, 1000) for _ in range(5001)]
    k = 128
    n = len(vals)
    df = _kll_frame(spark, vals)
    idx = str(tmp_path / "kll")
    S.write_kll_index(
        S.kll_sketch_batch(df.filter(F.col("rid") % 2 == 0), ["key"], "value", k=k),
        idx, run_id="even",
    )
    S.write_kll_index(
        S.kll_sketch_batch(df.filter(F.col("rid") % 2 == 1), ["key"], "value", k=k),
        idx, run_id="odd",
    )
    folded = S.kll_fold(spark, idx, ["key"], k=k)
    frows = folded.collect()
    assert len(frows) <= k + 1
    assert sum(r["w"] for r in frows) == n

    single = S.kll_sketch_batch(df, ["key"], "value", k=k)
    sv = sorted(round(v * 1_000_000) for v in vals)
    bound = 2 * n // k + 2 + 1  # 2n/k + B(=2) + 1
    for sketch in (folded, single):
        got = {
            r["q_pct"]: r["q_value_micro"]
            for r in S.kll_quantiles(sketch, ["key"], (25, 50, 75, 90, 99)).collect()
        }
        for q, val in got.items():
            t = (q * n + 99) // 100
            # true rank band of the reported value
            lo = next(i for i, x in enumerate(sv) if x >= val)
            hi = max(i for i, x in enumerate(sv) if x <= val)
            assert lo - bound <= t - 1 <= hi + bound, (q, val, t, lo, hi)


def test_kll_fold_replay_overwrite_idempotent(spark, tmp_path):
    """A replayed batch (same run_id, overwrite) must not change the
    folded sketch — duplicate weight rows are the SUM hazard, so the
    epoch's own subtree is replaced, not appended."""
    vals = list(range(1000))
    df = _kll_frame(spark, vals)
    idx = str(tmp_path / "kll_replay")
    part = S.kll_sketch_batch(df, ["key"], "value", k=32)
    S.write_kll_index(part, idx, run_id="b1")
    before = sorted((r["v"], r["w"]) for r in S.kll_fold(spark, idx, ["key"], k=32).collect())
    S.write_kll_index(part, idx, mode="overwrite", run_id="b1")
    after = sorted((r["v"], r["w"]) for r in S.kll_fold(spark, idx, ["key"], k=32).collect())
    assert before == after
    assert sum(w for _, w in after) == len(vals)


def test_kll_quantiles_rejects_bad_percentiles(spark):
    import pytest

    sk = S.kll_sketch_batch(_kll_frame(spark, [1, 2, 3]), ["key"], "value")
    with pytest.raises(ValueError):
        S.kll_quantiles(sk, ["key"], (0,))
    with pytest.raises(ValueError):
        S.kll_quantiles(sk, ["key"], ())
