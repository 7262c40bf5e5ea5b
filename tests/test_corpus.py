"""Training-corpus operator tests: repetition gates, mixture sampling,
sequence packing, train-order shuffle, URL canonicalization.

Sampling and packing are DuckDB-differential-tested (same md5-derived
decisions re-expressed in SQL over the same parquet), mirroring the
driver's comparison; the rest are literal-fixture goldens plus physical
plan assertions (no single-partition exchange, broadcast rate table).
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from conftest import SF_DIR
from jonesy_spark.catalog import Catalog
from jonesy_spark.functions import url as URL
from jonesy_spark.operators import corpus as C

DOCS = f"{SF_DIR}/documents.parquet"


def test_repetition_stats_golden(spark):
    rows = [
        (1, "spam spam spam spam"),          # one token repeated
        (2, "a b a b a b"),                  # top 2-gram 'a b' 3/5
        (3, "all tokens here are distinct"),
        (4, "solo"),                         # too short for any 2-gram
    ]
    out = {
        r["doc_id"]: r
        for r in C.repetition_stats(
            spark.createDataFrame(rows, ["doc_id", "text"])
        ).collect()
    }
    assert len(out) == 4, "short docs must keep a stats row"
    assert out[1]["dup_token_frac_micro"] == 750_000
    assert out[1]["top_ngram_frac_micro"] == 1_000_000
    assert out[2]["top_ngram_frac_micro"] == 600_000  # 'a b': 3 of 5 grams
    assert out[3]["dup_token_frac_micro"] == 0
    assert out[4]["top_ngram_frac_micro"] == 0 and out[4]["max_ngram_count"] == 0


def test_repetition_filter_gates(spark):
    rows = [(1, "spam spam spam spam"), (2, "clean text with varied words here")]
    kept = C.repetition_filter(
        spark.createDataFrame(rows, ["doc_id", "text"])
    ).select("doc_id")
    assert [r[0] for r in kept.collect()] == [2]


def test_mixture_sample_duckdb_differential(spark):
    rates = {"src0": 0.8, "src1": 0.25}
    got = sorted(
        r[0]
        for r in C.mixture_sample(
            Catalog(spark, SF_DIR).documents, rates, salt="mix-test"
        )
        .select("doc_id")
        .collect()
    )
    want = sorted(
        r[0]
        for r in duckdb.sql(
            f"""
            SELECT doc_id FROM '{DOCS}' d
            JOIN (VALUES ('src0', 0.8), ('src1', 0.25)) r(source, rate)
              USING (source)
            WHERE ('0x' || substr(md5('mix-test|' || doc_id::VARCHAR), 1, 7))::BIGINT
                  / 268435456.0 < r.rate
            """
        ).fetchall()
    )
    assert got == want and got  # exact same survivors, non-empty


def test_mixture_sample_default_rate_and_determinism(spark):
    docs = Catalog(spark, SF_DIR).documents
    none = C.mixture_sample(docs, {"src0": 0.5}, default_rate=0.0, salt="s")
    assert none.filter(F.col("source") != "src0").count() == 0
    a = C.mixture_sample(docs, {"src0": 0.5}, salt="s").count()
    b = C.mixture_sample(docs, {"src0": 0.5}, salt="s").count()
    assert a == b  # same salt -> identical draw


def test_mixture_sample_broadcasts_rates(spark):
    plan = C.mixture_sample(
        Catalog(spark, SF_DIR).documents, {"src0": 0.5}
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_pack_sequences_duckdb_differential(spark):
    got = sorted(
        map(
            tuple,
            C.pack_sequences(Catalog(spark, SF_DIR).documents, budget_tokens=512)
            .select("doc_id", "shard", "n_tokens", "start_offset", "seq_nbr")
            .collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            duckdb.sql(
                f"""
                WITH base AS (
                    SELECT doc_id,
                           md5('pack-v1|' || doc_id::VARCHAR) AS pack_key,
                           ('0x' || substr(md5(md5('pack-v1|' || doc_id::VARCHAR)), 1, 7))::BIGINT
                               % 64 AS shard,
                           greatest(len(string_split(trim(text), ' ')), 1) AS n_tokens
                    FROM '{DOCS}'
                ),
                packed AS (
                    SELECT doc_id, shard, n_tokens,
                           (sum(n_tokens) OVER (PARTITION BY shard ORDER BY pack_key))::BIGINT
                               - n_tokens AS start_offset
                    FROM base
                )
                SELECT doc_id, shard, n_tokens, start_offset,
                       floor(start_offset / 512)::BIGINT AS seq_nbr
                FROM packed
                """
            ).fetchall(),
        )
    )
    assert got == want and got


def test_pack_sequences_no_global_sort(spark):
    """The packing window must partition by shard — a global-order
    window would plan Exchange SinglePartition (one task packs
    everything)."""
    plan = (
        C.pack_sequences(Catalog(spark, SF_DIR).documents)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SinglePartition" not in plan


def test_sequence_fill_stats_sane(spark):
    packed = C.pack_sequences(Catalog(spark, SF_DIR).documents, budget_tokens=512)
    stats = C.sequence_fill_stats(packed, budget_tokens=512).collect()
    assert stats
    for r in stats:
        assert 0 < r["avg_fill_ratio"] <= 1.0
        assert r["avg_docs_per_seq"] >= 1.0


def test_train_order_deterministic_and_balanced(spark):
    docs = Catalog(spark, SF_DIR).documents
    a = [r[0] for r in C.train_order(docs, salt="e1", n_files=8).select("doc_id").collect()]
    b = [r[0] for r in C.train_order(docs, salt="e1", n_files=8).select("doc_id").collect()]
    c = [r[0] for r in C.train_order(docs, salt="e2", n_files=8).select("doc_id").collect()]
    assert a == b  # rerun of an epoch is byte-identical
    assert a != c and sorted(a) == sorted(c)  # new salt = new permutation
    sizes = (
        C.train_order(docs, salt="e1", n_files=8)
        .groupBy(F.spark_partition_id().alias("p"))
        .count()
        .collect()
    )
    counts = [r["count"] for r in sizes]
    assert len(counts) == 8
    assert max(counts) < 2.5 * (sum(counts) / len(counts))  # range split balances


@pytest.mark.parametrize(
    "raw,canon",
    [
        ("http://WWW.Example.com/path/?utm_source=x&b=2&a=1#frag",
         "https://example.com/path?a=1&b=2"),
        ("https://example.com/", "https://example.com"),
        ("https://example.com/a/", "https://example.com/a"),
        ("http://sub.Example.COM?gclid=1", "https://sub.example.com"),
        ("https://example.com/p?fbclid=z&UTM_CAMPAIGN=c", "https://example.com/p"),
    ],
)
def test_normalize_url_golden(spark, raw, canon):
    got = (
        spark.range(1)
        .select(URL.normalize_url(F.lit(raw)).alias("u"))
        .first()["u"]
    )
    assert got == canon


def test_url_host_and_registered_domain(spark):
    row = (
        spark.range(1)
        .select(
            URL.url_host(F.lit("https://www.news.bbc.co.uk:8080/x")).alias("h"),
            URL.registered_domain(F.lit("https://a.b.example.com/x")).alias("d"),
        )
        .first()
    )
    assert row["h"] == "news.bbc.co.uk"
    assert row["d"] == "example.com"


def test_registered_domain_public_suffixes(spark):
    """Multi-label public suffixes keep suffix + one label; unknown
    hosts fall back to last-two; a bare suffix host has no registrable
    part and yields itself (last-two fallback)."""
    cases = [
        ("https://foo.example.co.uk/x", "example.co.uk"),
        ("https://www.example.co.uk", "example.co.uk"),
        ("https://a.b.shop.com.au/y?z=1", "shop.com.au"),
        ("https://news.site.co.jp", "site.co.jp"),
        ("https://deep.a.b.example.com", "example.com"),
        ("https://co.uk/odd", "co.uk"),
    ]
    rows = spark.createDataFrame(
        [(u,) for u, _ in cases], "url string"
    ).select(URL.registered_domain(F.col("url")).alias("d"))
    got = [r["d"] for r in rows.collect()]
    assert got == [want for _, want in cases], got


def test_url_dedup_keeps_preferred(spark):
    rows = [
        (1, "http://example.com/a?utm_source=x", 0.2),
        (2, "https://www.example.com/a", 0.9),   # same canonical URL, best quality
        (3, "https://example.com/b", 0.5),
    ]
    out = URL.url_dedup(
        spark.createDataFrame(rows, ["doc_id", "url", "quality"]),
        prefer=F.col("quality").desc(),
    )
    kept = sorted(r["doc_id"] for r in out.collect())
    assert kept == [2, 3]


def test_assemble_sequences_round_trip(spark):
    docs = Catalog(spark, SF_DIR).documents
    packed = C.pack_sequences(docs, budget_tokens=512)
    seqs = C.assemble_sequences(docs, packed, sep="<|doc|>")
    rows = seqs.collect()
    # every doc's text lands in exactly one sequence, total docs conserved
    assert sum(r["n_docs"] for r in rows) == docs.count()
    # doc count per sequence matches separator count
    for r in rows:
        assert r["seq_text"].count("<|doc|>") == r["n_docs"] - 1
    # assembly is deterministic
    a = {r["seq_id"]: r["seq_text"] for r in rows}
    b = {r["seq_id"]: r["seq_text"] for r in C.assemble_sequences(docs, packed).collect()}
    assert a == b


def test_url_dedup_malformed_urls_do_not_collapse(spark):
    """Host-less/unparseable URLs must keep distinct canonical keys
    (raw fallback) — a NULL key would merge every malformed URL into
    one group and drop the documents behind it."""
    rows = [
        (1, "not a url at all"),
        (2, "also-not-a-url"),
        (3, "https://example.com/ok"),
    ]
    out = URL.url_dedup(spark.createDataFrame(rows, ["doc_id", "url"]))
    assert sorted(r["doc_id"] for r in out.collect()) == [1, 2, 3]
    keys = {r["canonical_url"] for r in out.collect()}
    assert len(keys) == 3 and None not in keys


def test_mixture_sample_empty_rates_uses_default(spark):
    docs = Catalog(spark, SF_DIR).documents
    assert C.mixture_sample(docs, {}, default_rate=0.0).count() == 0
    n = C.mixture_sample(docs, {}, default_rate=1.0).count()
    assert n == docs.count()


def test_repetition_stats_duckdb_differential(spark):
    got = sorted(
        map(
            tuple,
            C.repetition_stats(Catalog(spark, SF_DIR).documents)
            .select(
                "doc_id",
                "n_tokens",
                "dup_token_frac_micro",
                "top_ngram_frac_micro",
            )
            .collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            duckdb.sql(
                f"""
                WITH toks AS (
                    SELECT doc_id, string_split(trim(lower(text)), ' ') AS ts
                    FROM '{DOCS}'
                ),
                base AS (
                    SELECT doc_id, len(ts) AS n_tokens,
                           CAST(round((len(ts) - len(list_distinct(ts)))
                                 / greatest(len(ts), 1) * 1000000) AS BIGINT)
                               AS dup_token_frac,
                           CASE WHEN len(ts) >= 2 THEN list_transform(
                               range(1, len(ts)), i -> ts[i] || ' ' || ts[i+1])
                           ELSE [] END AS grams
                    FROM toks
                ),
                per_gram AS (
                    SELECT doc_id, n_tokens, dup_token_frac, u.g, count(*) AS c
                    FROM base, unnest(grams) u(g)
                    GROUP BY ALL
                )
                SELECT b.doc_id, b.n_tokens, b.dup_token_frac,
                       CAST(round(coalesce(m.mx, 0)
                                  / greatest(coalesce(m.tot, 0), 1) * 1000000)
                            AS BIGINT) AS top_ngram_frac
                FROM base b
                LEFT JOIN (
                    SELECT doc_id, max(c) AS mx, sum(c) AS tot
                    FROM per_gram GROUP BY doc_id
                ) m USING (doc_id)
                """
            ).fetchall(),
        )
    )
    assert got == want and got


def test_mixture_rates_from_targets(spark):
    docs = Catalog(spark, SF_DIR).documents
    totals = {
        r["source"]: r["tok"]
        for r in docs.groupBy("source")
        .agg(F.sum(F.size(F.split(F.trim("text"), " "))).alias("tok"))
        .collect()
    }
    src = sorted(totals)[0]
    rates = C.mixture_rates_from_targets(
        docs, {src: totals[src] * 2.0, "no-such-source": 99}
    )
    assert rates == {src: 2.0}  # above-availability -> rate > 1; unknown dropped


def test_mixture_upsample_epochs(spark):
    docs = Catalog(spark, SF_DIR).documents
    src = docs.select("source").distinct().orderBy("source").first()["source"]
    base = docs.filter(F.col("source") == src)
    n = base.count()
    out = C.mixture_upsample(docs, {src: 2.3}, salt="up-test")
    per_doc = out.groupBy("doc_id").count().collect()
    assert len(per_doc) == n  # every doc of the domain present
    assert all(r["count"] in (2, 3) for r in per_doc)  # 2 or 3 epochs each
    total = sum(r["count"] for r in per_doc)
    assert abs(total / n - 2.3) < 0.2  # fractional epoch realized ~30% (small-n noise)
    # copy_nbr indexes copies 0..k-1
    assert out.filter(F.col("copy_nbr") > 2).count() == 0
    # rate <= 1 degenerates to mixture_sample + copy_nbr 0
    a = sorted(r["doc_id"] for r in C.mixture_upsample(docs, {src: 0.5}, salt="s").collect())
    b = sorted(r["doc_id"] for r in C.mixture_sample(docs, {src: 0.5}, salt="s").collect())
    assert a == b


def test_quality_gate_approx_matches_exact_within_sketch_error(spark):
    """The exact=False path (per-group percentile_approx threshold,
    broadcast back, map-only filter — the skew-safe 100 TB shape) must
    land the same cut as the exact window up to sketch precision and
    threshold ties: every kept doc's quality >= its group threshold,
    per-group kept fraction near keep_frac, and the approx keep-set
    contains every exactly-kept doc whose quality clears the threshold
    strictly."""
    from conftest import SF_DIR
    from pyspark.sql import functions as F

    from jonesy_spark.catalog import Catalog
    from jonesy_spark.functions import text as TX
    from jonesy_spark.operators import corpus as C

    docs = Catalog(spark, SF_DIR).documents
    n_tokens = TX.whitespace_token_count(F.col("text"))
    quality = F.round(F.least(F.lit(1.0), n_tokens / 100.0), 6)
    scored = docs.select("doc_id", "source", quality.alias("quality"))

    exact = C.quality_percentile_filter(
        scored, F.col("quality"), keep_frac=0.5, exact=True
    )
    approx = C.quality_percentile_filter(
        scored, F.col("quality"), keep_frac=0.5, exact=False
    )

    totals = {r["source"]: r["n"] for r in
              scored.groupBy("source").agg(F.count("*").alias("n")).collect()}
    kept = {r["source"]: r["n"] for r in
            approx.groupBy("source").agg(F.count("*").alias("n")).collect()}
    for src, n in totals.items():
        frac = kept.get(src, 0) / n
        # inclusive >= keeps threshold ties, so frac can exceed 0.5;
        # it must never fall meaningfully below the target
        assert 0.45 <= frac, (src, frac)

    # agreement: docs strictly above the quality of any approx-dropped
    # doc in the same group are kept by both
    e = {(r["source"], r["doc_id"]) for r in exact.collect()}
    a = {(r["source"], r["doc_id"]) for r in approx.collect()}
    overlap = len(e & a) / len(e)
    assert overlap >= 0.9, overlap

    # the approx plan has no per-group sort (no Window), and the
    # threshold joins broadcast
    plan = approx._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan


def test_unigram_logprob_oov_floor_and_ranking(spark):
    """A doc of corpus-frequent tokens must outscore a doc of rare/OOV
    tokens; OOV tokens hit the shared floor probability exactly."""
    import math

    rows = [(1, "a a a b"), (2, "a b a b"), (3, "zz qq xx yy")]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in C.unigram_logprob(docs, vocab_size=3, alpha=0.5).collect()
    }
    # corpus counts: a=5, b=3, zz/qq/xx/yy=1 each; vocab (top-3 by count,
    # token tiebreak) = a, b, qq; N=12, V=3 -> denom = 12 + 0.5*4 = 14
    denom = 14.0
    lp = lambda c: round(math.log((c + 0.5) / denom), 9)
    micro = lambda x: round(x * 1e6)
    assert out[3]["oov_frac_micro"] == 750_000  # qq in vocab, zz/xx/yy OOV
    assert out[1]["oov_frac_micro"] == 0
    want1 = micro((3 * lp(5) + lp(3)) / 4)
    assert out[1]["avg_logprob_micro"] == want1
    want3 = micro((lp(1) + 3 * lp(0)) / 4)  # one vocab hit + 3 OOV floors
    assert out[3]["avg_logprob_micro"] == want3
    assert out[1]["avg_logprob_micro"] > out[3]["avg_logprob_micro"]


def test_unigram_logprob_vocab_broadcasts(spark):
    docs = Catalog(spark, SF_DIR).documents
    plan = (
        C.unigram_logprob(docs, vocab_size=16)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_perplexity_buckets_matches_per_doc_tercile_rule(spark):
    """The CCNet head/middle/tail split must equal an independent
    Python fold of the per-doc scores under the documented rule
    (t1 = score at cumulative rank ceil(n/3), t2 at ceil(2n/3), ties
    share a bucket) — covering a mixed 7-doc language, an all-tied
    language (one single 'tail' bucket), and 1- and 2-doc degenerates."""
    rows = [
        # 'aa': 7 docs, compositions spread across vocab/OOV mixes
        (1, "aa", "alpha alpha alpha alpha"),
        (2, "aa", "alpha beta alpha beta"),
        (3, "aa", "alpha beta gamma zz"),
        (4, "aa", "zz qq xx yy"),
        (5, "aa", "beta beta gamma gamma"),
        (6, "aa", "alpha alpha beta zz"),
        (7, "aa", "gamma gamma gamma qq"),
        # 'bb': 3 byte-identical docs -> one all-tied 'tail' bucket
        (8, "bb", "alpha beta"),
        (9, "bb", "alpha beta"),
        (10, "bb", "alpha beta"),
        # 'cc': single doc -> 'tail'
        (11, "cc", "alpha gamma"),
        # 'dd': two distinct docs -> 'tail' + 'middle', never 'head'
        (12, "dd", "alpha alpha"),
        (13, "dd", "zz yy"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "lang", "text"])
    scored = {
        r["doc_id"]: (r["avg_logprob_micro"], r["n_tokens"])
        for r in C.unigram_logprob(docs, vocab_size=4, alpha=0.5).collect()
    }
    lang_of = {i: lang for i, lang, _ in rows}
    by_lang: dict[str, list[int]] = {}
    for i, (score, _) in scored.items():
        by_lang.setdefault(lang_of[i], []).append(score)
    expected: dict[tuple[str, str], list[int]] = {}
    for lang, scores in by_lang.items():
        s = sorted(scores)
        n = len(s)
        t1, t2 = s[(n + 2) // 3 - 1], s[(2 * n + 2) // 3 - 1]
        for i, (score, n_tokens) in scored.items():
            if lang_of[i] != lang:
                continue
            bucket = (
                "tail" if score <= t1 else "middle" if score <= t2 else "head"
            )
            agg = expected.setdefault((lang, bucket), [0, 0, 0, None, None])
            agg[0] += 1
            agg[1] += n_tokens
            agg[2] += score
            agg[3] = score if agg[3] is None else min(agg[3], score)
            agg[4] = score if agg[4] is None else max(agg[4], score)
    out = C.perplexity_buckets(docs, vocab_size=4, alpha=0.5).collect()
    got = {
        (r["lang"], r["bucket"]): [
            r["n_docs"],
            r["total_tokens"],
            r["sum_logprob_micro"],
            r["min_score_micro"],
            r["max_score_micro"],
        ]
        for r in out
    }
    assert got == expected
    assert all(v is not None for r in out for v in r)  # null-free canon
    # all-tied language collapses to exactly one bucket, and it's tail
    assert [k for k in got if k[0] == "bb"] == [("bb", "tail")]
    assert got[("bb", "tail")][0] == 3
    assert [k[1] for k in sorted(got) if k[0] == "cc"] == ["tail"]
    assert sorted(k[1] for k in got if k[0] == "dd") == ["middle", "tail"]


def test_cluster_keyed_split_never_straddles(spark):
    """THE leakage property: every cluster lands in exactly one split,
    and singletons fall back to their own id (matching corpus_split's
    draw for unclustered docs with the same salt)."""
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(100)], ["doc_id", "text"]
    )
    clusters = spark.createDataFrame(
        [(i, i % 7) for i in range(0, 50)], ["doc_id", "cluster_id"]
    )
    out = C.cluster_keyed_split(docs, clusters, salt="t-v1")
    per_cluster = (
        out.groupBy("cluster_id")
        .agg(F.countDistinct("split").alias("n_splits"))
        .collect()
    )
    assert all(r["n_splits"] == 1 for r in per_cluster)
    got = {r["doc_id"]: (r["cluster_id"], r["split"]) for r in out.collect()}
    assert len(got) == 100
    assert got[60][0] == 60  # singleton: own id is the cluster
    # determinism: rerun is identical
    again = {
        r["doc_id"]: (r["cluster_id"], r["split"])
        for r in C.cluster_keyed_split(docs, clusters, salt="t-v1").collect()
    }
    assert got == again


def test_quota_sample_exact_counts_and_superset(spark):
    """Exactly N per quota'd stratum; unquota'd strata kept whole;
    growing a quota yields a strict superset (draws don't move)."""
    docs = Catalog(spark, SF_DIR).documents
    out = C.quota_sample(docs, {"src0": 10, "src1": 5})
    counts = {r["source"]: r["n"] for r in
              out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert counts["src0"] == 10 and counts["src1"] == 5
    whole = {r["source"]: r["n"] for r in
             docs.groupBy("source").agg(F.count("*").alias("n")).collect()}
    for s, n in whole.items():
        if s not in ("src0", "src1"):
            assert counts[s] == n
    small = {r["doc_id"] for r in
             C.quota_sample(docs, {"src0": 10}).filter("source='src0'").collect()}
    big = {r["doc_id"] for r in
           C.quota_sample(docs, {"src0": 20}).filter("source='src0'").collect()}
    assert small <= big and len(small) == 10 and len(big) == 20
    # a quota above the stratum population degrades to the whole stratum
    assert C.quota_sample(docs, {"src0": 400}).filter("source='src0'").count() == 25
    # default_quota caps every unlisted stratum
    capped = C.quota_sample(docs, {"src0": 15}, default_quota=8)
    cc = {r["source"]: r["n"] for r in
          capped.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert cc["src0"] == 15 and all(v == 8 for s, v in cc.items() if s != "src0")


def test_temperature_rates_math():
    from jonesy_spark.operators.corpus import temperature_rates

    totals = {"big": 8000.0, "small": 1000.0, "mid": 1000.0}
    # tau=1: natural proportions — every rate is budget/grand
    r1 = temperature_rates(totals, tau=1.0)
    assert all(abs(v - 1.0) < 1e-12 for v in r1.values())
    # tau=0: equal shares — expected tokens per domain = budget/3
    r0 = temperature_rates(totals, tau=0.0)
    expected = {g: r0[g] * totals[g] for g in totals}
    assert all(abs(v - 10000.0 / 3) < 1e-6 for v in expected.values())
    # between: head damped below natural, tail boosted above
    r7 = temperature_rates(totals, tau=0.7)
    assert r7["big"] < 1.0 < r7["small"]
    # expected token sum is preserved at the budget for any tau
    assert abs(sum(r0[g] * totals[g] for g in totals) - 10000.0) < 1e-6
    assert abs(sum(r7[g] * totals[g] for g in totals) - 10000.0) < 1e-6
    rb = temperature_rates(totals, tau=0.3, token_budget=5000)
    assert abs(sum(rb[g] * totals[g] for g in totals) - 5000.0) < 1e-6
    assert temperature_rates({}) == {}
    import pytest as _pytest

    with _pytest.raises(ValueError):
        temperature_rates(totals, tau=-0.1)


def test_temperature_mix_end_to_end(spark):
    from pyspark.sql import functions as F

    from jonesy_spark.functions.text import whitespace_token_count
    from jonesy_spark.operators.corpus import (
        domain_token_totals,
        temperature_mix,
        temperature_rates,
    )

    docs = Catalog(spark, SF_DIR).documents
    totals = domain_token_totals(docs)
    rates = temperature_rates(totals, tau=0.5)
    out = temperature_mix(docs, tau=0.5)
    # realized tokens per domain ~= rate * total (md5 draw is the only
    # variance source; whole-copy part is deterministic)
    realized = {
        r["source"]: r["tok"]
        for r in out.groupBy("source")
        .agg(F.sum(whitespace_token_count(F.col("text"))).alias("tok"))
        .collect()
    }
    for g, t in totals.items():
        want = rates[g] * t
        # floor(rate) copies are guaranteed; the fractional copy adds
        # at most one extra epoch of variance
        assert realized.get(g, 0) >= (rates[g] // 1) * t - 1e-9
        assert abs(realized.get(g, 0) - want) <= t  # within one epoch
    # determinism
    a = sorted(map(tuple, out.select("doc_id", "copy_nbr").collect()))
    b = sorted(map(tuple, temperature_mix(docs, tau=0.5).select("doc_id", "copy_nbr").collect()))
    assert a == b


def test_temperature_rates_degenerate_domains():
    from jonesy_spark.operators.corpus import temperature_rates

    # zero-token and NULL-keyed domains are excluded, not crashed on
    r = temperature_rates({"ok": 1000.0, "empty": 0.0, None: 50.0}, tau=0.5)
    assert set(r) == {"ok"}
    assert temperature_rates({"empty": 0.0, None: 0.0}) == {}


def test_token_budget_prune_partitioning_invariant(spark):
    """The greedy prefix is a property of the total order, not of where
    range bounds land: 1 partition and 64 partitions yield identical
    rows, and they equal the collected-sort reference."""
    from jonesy_spark.caching import cache_scope
    from jonesy_spark.operators.corpus import token_budget_prune

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    q = F.round(F.length("text") / 1000.0, 6)
    with cache_scope():
        ra = sorted(map(tuple, token_budget_prune(docs, 8_000, q, n_ranges=1).collect()))
        rb = sorted(map(tuple, token_budget_prune(docs, 8_000, q, n_ranges=64).collect()))
    assert ra == rb and len(ra) > 0

    # collected-sort reference: greedy prefix over (quality desc, id)
    scored = sorted(
        docs.select(
            "doc_id",
            q.alias("q"),
            F.greatest(
                F.size(F.split(F.trim("text"), " ")), F.lit(1)
            ).alias("n"),
        ).collect(),
        key=lambda r: (-r["q"], r["doc_id"]),
    )
    keep, cum = set(), 0
    for r in scored:
        cum += r["n"]
        if cum > 8_000:
            break
        keep.add(r["doc_id"])
    assert {t[0] for t in ra} == keep


def test_token_budget_prune_edges(spark):
    from jonesy_spark.caching import cache_scope
    from jonesy_spark.operators.corpus import token_budget_prune

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(50)
    q = F.lit(1.0)
    with cache_scope():
        assert token_budget_prune(docs, 0, q).count() == 0
    with cache_scope():
        rows = token_budget_prune(docs, 10**12, q).collect()
    assert len(rows) == 50
    # the max cum equals the token total: the prefix sum is exact
    assert max(r["cum_tokens"] for r in rows) == sum(r["n_tokens"] for r in rows)


def test_assemble_id_sequences_exact_boundaries(spark):
    """Pack on real id counts, assemble fixed-length sequences: every
    sequence but the last per shard is exactly the budget, and the
    concatenated sequences reproduce the concatenated documents in
    pack order, token for token."""
    from jonesy_spark.operators import tokenize as T
    from jonesy_spark.operators.corpus import assemble_id_sequences, pack_sequences

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(40)
    merges = T.bpe_train(docs, n_merges=16)
    vocab = T.bpe_vocab(docs, merges)
    tok = T.bpe_encode_ids(docs, vocab, merges).select("doc_id", "token_ids")
    tok = tok.withColumn("n_ids", F.size("token_ids"))

    BUDGET, SHARDS = 64, 4
    packed = pack_sequences(
        tok, budget_tokens=BUDGET, n_shards=SHARDS, n_tokens_col="n_ids"
    )
    seqs = assemble_id_sequences(tok, packed, budget_tokens=BUDGET)
    rows = seqs.collect()
    assert rows

    by_shard = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(r)
    pk = {r["doc_id"]: r for r in packed.collect()}
    ids = {r["doc_id"]: list(r["token_ids"]) for r in tok.collect()}
    for shard, srows in by_shard.items():
        srows.sort(key=lambda r: r["seq_nbr"])
        # all but the final sequence are exactly full
        for r in srows[:-1]:
            assert r["n_tokens"] == BUDGET, (shard, r["seq_nbr"])
        # conservation: concat(seqs) == concat(docs in pack order)
        flat = [t for r in srows for t in r["token_ids"]]
        docs_in_order = sorted(
            (d for d in pk.values() if d["shard"] == shard),
            key=lambda d: d["start_offset"],
        )
        want = [t for d in docs_in_order for t in ids[d["doc_id"]]]
        assert flat == want, shard


def test_bigram_logprob_discriminates_word_salad(spark):
    """Docs with IDENTICAL unigram content but scrambled order: the
    unigram scorer ties them, the bigram scorer ranks natural order
    above the salad — the whole point of the conditional upgrade."""
    from jonesy_spark.operators.corpus import bigram_logprob, unigram_logprob

    natural = "the cat sat on the mat and the dog sat on the rug"
    salad = "the the on mat sat cat the dog and rug on sat the"
    rows = [(i, natural) for i in range(8)] + [(100, salad)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    uni = {
        r["doc_id"]: r["avg_logprob_micro"]
        for r in unigram_logprob(docs).collect()
    }
    assert uni[0] == uni[100]  # same bag of words -> unigram tie

    bi = {
        r["doc_id"]: r["avg_logprob_micro"]
        for r in bigram_logprob(docs, vocab_size=50, bigram_size=200).collect()
    }
    assert bi[0] > bi[100]  # conditional model prefers natural order


def test_dsir_weights_favor_target_population(spark):
    """DSIR importance weights: raw holds two subpopulations; the
    target matches one of them, so every pop-A document must outweigh
    every pop-B document, and Gumbel-top-k selection at k = |pop A|
    must draw overwhelmingly from pop A."""
    from jonesy_spark.operators.corpus import dsir_select, dsir_weights

    pop_a = "alpha beta gamma delta alpha beta gamma"
    pop_b = "omega sigma tau rho omega sigma tau"
    raw = spark.createDataFrame(
        [(i, pop_a) for i in range(20)] + [(i + 20, pop_b) for i in range(20)],
        ["doc_id", "text"],
    )
    target = spark.createDataFrame(
        [(1000 + i, "alpha beta gamma delta") for i in range(5)],
        ["doc_id", "text"],
    )
    w = {
        r["doc_id"]: r["log_weight_micro"]
        for r in dsir_weights(raw, target).collect()
    }
    assert min(w[i] for i in range(20)) > max(w[i + 20] for i in range(20))
    picked = {r["doc_id"] for r in dsir_select(raw, target, k=20).collect()}
    # Gumbel noise can flip a few boundary draws; the bulk must be pop A
    assert len(picked & set(range(20))) >= 16


def test_dsir_zero_token_doc_unit_ratio(spark):
    from jonesy_spark.operators.corpus import dsir_weights

    raw = spark.createDataFrame(
        [(0, "alpha beta"), (1, "")], ["doc_id", "text"]
    )
    target = spark.createDataFrame([(9, "alpha")], ["doc_id", "text"])
    rows = {r["doc_id"]: r for r in dsir_weights(raw, target).collect()}
    assert rows[1]["n_tokens"] == 0 and rows[1]["log_weight_micro"] == 0


def test_dsir_select_is_deterministic_and_exhaustive(spark):
    """Same salt -> identical selection; k >= |raw| returns all rows
    (sampling without replacement can never repeat a doc)."""
    from jonesy_spark.operators.corpus import dsir_select

    raw = spark.createDataFrame(
        [(i, f"tok{i % 7} tok{(i + 1) % 7}") for i in range(30)],
        ["doc_id", "text"],
    )
    target = spark.createDataFrame([(99, "tok1 tok2")], ["doc_id", "text"])
    a = [r["doc_id"] for r in dsir_select(raw, target, k=10).collect()]
    b = [r["doc_id"] for r in dsir_select(raw, target, k=10).collect()]
    assert a == b and len(a) == len(set(a)) == 10
    everything = dsir_select(raw, target, k=1000).collect()
    assert len(everything) == 30


def test_diversity_sample_balances_buckets(spark):
    """A corpus dominated 10:1 by one vocabulary family still yields a
    balanced sample: each family's bucket contributes at most
    per_bucket_n docs, so the minority family survives selection."""
    from jonesy_spark.operators.corpus import diversity_sample

    major = "alpha beta gamma delta " * 4
    minor = "omega sigma tau rho " * 4
    rows = [(i, major) for i in range(50)] + [(100 + i, minor) for i in range(5)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = diversity_sample(docs, per_bucket_n=4, dim=32).collect()
    by_bucket: dict = {}
    for r in out:
        by_bucket.setdefault(r["div_bucket"], []).append(r["doc_id"])
    assert all(len(v) <= 4 for v in by_bucket.values())
    minority_kept = [r["doc_id"] for r in out if r["doc_id"] >= 100]
    assert len(minority_kept) == 4  # capped, not crowded out
    # determinism: same salt, same selection
    again = {r["doc_id"] for r in diversity_sample(docs, per_bucket_n=4, dim=32).collect()}
    assert again == {r["doc_id"] for r in out}


def test_temperature_tau_one_is_identity_mix(spark):
    """tau=1 keeps natural proportions with the budget at the corpus
    total, so every per-source rate is exactly 1.0 and the realized
    mix is the input corpus verbatim (one copy_nbr=0 row per doc) —
    the identity endpoint of the temperature family."""
    import pyspark.sql.functions as F

    from jonesy_spark.operators import corpus as C

    docs = spark.createDataFrame(
        [(i, f"src{i % 3}", "w " * (5 + i % 7)) for i in range(60)],
        "doc_id long, source string, text string",
    )
    rates = C.temperature_rates(C.domain_token_totals(docs), tau=1.0)
    assert all(abs(v - 1.0) < 1e-12 for v in rates.values())
    out = C.mixture_upsample(docs, rates, salt="t1")
    assert out.count() == 60
    assert out.agg(F.max("copy_nbr")).collect()[0][0] == 0


def test_excess_loss_ranks_structured_over_repetitive(spark):
    """The RHO-loss-proxy ordering property: under the corpus's own
    two models, a one-token repetition doc gains nothing from bigram
    context beyond what every doc gains (its unigram logprob is
    already maximal), so structured multi-token prose must outrank it
    on excess — and the top-k cut is exhaustive and deterministic."""
    from jonesy_spark.operators.corpus import excess_loss_select

    structured = "the cat sat on the mat and the dog sat on the rug"
    rows = [(i, structured) for i in range(10)]
    rows += [(100 + i, "spam " * 12) for i in range(10)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = excess_loss_select(docs, k=10, vocab_size=16, bigram_size=64)
    got = [r["doc_id"] for r in out.collect()]
    assert len(got) == 10
    assert all(d < 100 for d in got), got
