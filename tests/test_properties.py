"""Property tests for the semantics SURVEY.md §7 calls out as hard:
P10's NULL-propagating conditional lookup, J11's tie-keeping dedup, and
the F19 timezone coercion — each validated against an independent
pure-Python model over hypothesis-generated inputs."""

from __future__ import annotations

from datetime import datetime, timezone

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from jonesy_spark.operators.windows import latest_per_group

SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)

rows_strategy = st.lists(
    st.tuples(
        st.integers(0, 3),  # group key
        st.integers(0, 5),  # ts
        st.integers(0, 99),  # payload
    ),
    min_size=1,
    max_size=25,
)


@given(rows=rows_strategy)
@settings(**SETTINGS)
def test_latest_per_group_keeps_all_ties(spark, rows):
    """J11 semantics (reference queries.py:90-95): every row tied at the
    group max survives — not just one winner (SURVEY §7 hard part 3)."""
    df = spark.createDataFrame(rows, ["k", "ts", "payload"])
    got = sorted(
        (r["k"], r["ts"], r["payload"])
        for r in latest_per_group(df, ["k"], "ts", keep_ties=True).collect()
    )
    max_ts = {}
    for k, ts, _ in rows:
        max_ts[k] = max(max_ts.get(k, ts), ts)
    want = sorted((k, ts, p) for k, ts, p in rows if ts == max_ts[k])
    assert got == want


status_strategy = st.sampled_from(["E", "W", "A", None])
basis_strategy = st.sampled_from(["O", "F"])


@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 4),  # orderkey (group)
            st.integers(1, 3),  # linenumber
            status_strategy,  # returnflag ~ grade
            basis_strategy,  # linestatus ~ grading basis
        ),
        min_size=1,
        max_size=20,
    )
)
@settings(**SETTINGS)
def test_omit_drops_null_semantics(spark, rows):
    """P10 (reference queries.py:4-19): a 'NON'-basis row whose primary
    lookup is NULL must be FILTERED (NULL != 'R' → NULL → drop), exactly
    Oracle's semantics (SURVEY §7 hard part 1)."""
    df = spark.createDataFrame(
        rows, "orderkey int, linenumber int, returnflag string, linestatus string"
    )
    primary = (
        df.filter((F.col("linenumber") == 1) & (F.col("returnflag") != "A"))
        .groupBy("orderkey")
        .agg(F.min("returnflag").alias("primary_flag"))
    )
    effective = F.when(F.col("linestatus") == "O", F.col("primary_flag")).otherwise(
        F.col("returnflag")
    )
    got = sorted(
        (r["orderkey"], r["linenumber"], r["returnflag"], r["linestatus"])
        for r in df.join(primary, "orderkey", "left")
        .filter((F.col("returnflag") != "A") & (effective != "R"))
        .collect()
    )

    # Independent python model with explicit three-valued logic.
    def lookup(orderkey):
        vals = [
            rf
            for ok, ln, rf, _ in rows
            if ok == orderkey and ln == 1 and rf is not None and rf != "A"
        ]
        return min(vals) if vals else None

    want = []
    for ok, ln, rf, ls in rows:
        if rf is None or rf == "A":
            continue  # NULL != 'A' is NULL → filtered; 'A' filtered
        eff = lookup(ok) if ls == "O" else rf
        if eff is None:
            continue  # NULL != 'R' is NULL → filtered
        if eff != "R":
            want.append((ok, ln, rf, ls))
    assert got == sorted(want)


@given(
    ts=st.datetimes(
        min_value=datetime(2000, 1, 1),
        max_value=datetime(2030, 12, 31),
    )
)
@settings(**SETTINGS)
@pytest.mark.slow
def test_pacific_coercion_matches_pytz(spark, ts):
    """F19 (reference jobs.py:166-171): UTC wall time re-rendered as
    America/Los_Angeles with its true DST-aware offset."""
    pytz = pytest.importorskip("pytz")
    from jonesy_spark.pipeline.sinks import coerce_timestamp_pacific

    ts = ts.replace(microsecond=0)
    df = spark.createDataFrame([(ts,)], "ts timestamp")
    got = df.select(coerce_timestamp_pacific(F.col("ts")).alias("p")).first()["p"]
    pacific = ts.replace(tzinfo=timezone.utc).astimezone(
        pytz.timezone("America/Los_Angeles")
    )
    want = pacific.strftime("%Y-%m-%d %H:%M:%S %z")
    assert got == want


url_strategy = st.builds(
    lambda scheme, host, path, params, frag: (
        scheme
        + host
        + path
        + ("?" + "&".join(params) if params else "")
        + ("#" + frag if frag else "")
    ),
    st.sampled_from(["http://", "https://", "http://www.", "https://WWW."]),
    st.from_regex(r"[a-zA-Z]{1,8}\.(com|org|co\.uk)", fullmatch=True),
    st.sampled_from(["", "/", "/a", "/a/b/", "/p-q_r"]),
    st.lists(
        st.sampled_from(
            ["a=1", "b=2", "z=9", "utm_source=x", "gclid=42", "ref=tw"]
        ),
        max_size=4,
        unique=True,
    ),
    st.sampled_from(["", "frag", "x=y"]),
)


@given(url=url_strategy)
@settings(**SETTINGS)
def test_normalize_url_idempotent(spark, url):
    """Canonicalization must be a projection: applying it twice equals
    applying it once (otherwise dedup keys depend on how many hops a
    URL took through the pipeline)."""
    from jonesy_spark.functions.url import normalize_url

    once, twice = (
        spark.range(1)
        .select(
            normalize_url(F.lit(url)).alias("a"),
            normalize_url(normalize_url(F.lit(url))).alias("b"),
        )
        .first()
    )
    assert once == twice
    assert once.startswith("https://")
    assert "utm_" not in once and "gclid" not in once and "#" not in once


@given(
    texts=st.lists(
        st.text(
            alphabet=st.sampled_from(list("ab @.-0123456789xyz\n")), max_size=60
        ),
        min_size=1,
        max_size=8,
    )
)
@settings(**SETTINGS)
def test_redact_pii_idempotent(spark, texts):
    """Redaction output must contain no further matches — placeholders
    must not themselves trigger rules (no '<EMAIL>@<IP>' cascades)."""
    from jonesy_spark.operators.hygiene import redact_pii

    df = spark.createDataFrame([(t,) for t in texts], "text string")
    out = df.select(
        redact_pii(F.col("text")).alias("a"),
        redact_pii(redact_pii(F.col("text"))).alias("b"),
    )
    for r in out.collect():
        assert r["a"] == r["b"]


@given(
    sizes=st.lists(st.integers(1, 200), min_size=1, max_size=40),
    budget=st.sampled_from([32, 128, 512]),
)
@settings(**SETTINGS)
def test_pack_sequences_offsets_consistent(spark, sizes, budget):
    """Packing invariants for any doc-size distribution: every doc
    appears exactly once; within a shard, offsets tile the token stream
    with no gaps or overlaps; seq_nbr is the start-offset bin."""
    from jonesy_spark.operators.corpus import pack_sequences

    docs = spark.createDataFrame(
        [(i, "t " * (s - 1) + "t") for i, s in enumerate(sizes)],
        ["doc_id", "text"],
    )
    rows = pack_sequences(docs, budget_tokens=budget, n_shards=4).collect()
    assert sorted(r["doc_id"] for r in rows) == list(range(len(sizes)))
    by_shard: dict[int, list] = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(r)
    for shard_rows in by_shard.values():
        shard_rows.sort(key=lambda r: r["start_offset"])
        expect = 0
        for r in shard_rows:
            assert r["start_offset"] == expect
            assert r["seq_nbr"] == r["start_offset"] // budget
            expect += r["n_tokens"]


@given(
    vecs=st.lists(
        st.lists(
            st.floats(
                min_value=-1e6,
                max_value=1e6,
                allow_nan=False,
                allow_infinity=False,
                width=32,
            ),
            min_size=1,
            max_size=16,
        ),
        min_size=1,
        max_size=8,
    )
)
@settings(**SETTINGS)
def test_quantize_int8_error_bound_any_vector(spark, vecs):
    """quantize/dequantize round-trip error is <= scale/2 per component
    for ARBITRARY finite float vectors (negatives, zeros, huge and tiny
    magnitudes) — the storage-tier contract, not a fixture accident."""
    from jonesy_spark.functions import vectors as V

    df = spark.createDataFrame([(i, v) for i, v in enumerate(vecs)], "i int, v array<float>")
    rows = df.select(
        V.as_double(F.col("v")).alias("orig"),
        V.quantize_int8(F.col("v")).alias("qv"),
        V.dequantize_int8(V.quantize_int8(F.col("v"))).alias("back"),
    ).collect()
    for r in rows:
        scale = r["qv"]["scale"]
        for o, b, q in zip(r["orig"], r["back"], r["qv"]["q"]):
            assert -128 <= q <= 127
            assert abs(o - b) <= scale / 2 * 1.0001 + 1e-30
        # max-magnitude component pins the scale: re-quantization is exact
        assert max(abs(x) for x in r["orig"]) <= 127.001 * scale


@given(
    texts=st.lists(
        # Codepoints through U+058F (Latin/Greek/Cyrillic/Armenian +
        # all ASCII punctuation/control incl. the \x0B / \x85
        # whitespace edge cases the explicit class pins): category-
        # stable since early Unicode, so the Java 17 (Spark), RE2
        # (DuckDB) and Python `regex` tables agree. Recently-added
        # scripts legitimately differ across engines' Unicode DATA
        # versions (observed: U+1E290 is \p{L} to Python regex but
        # not to JDK 17) — that skew is a property of the engines'
        # tables, not of the pattern.
        st.text(
            alphabet=st.characters(max_codepoint=0x58F),
            max_size=40,
        ),
        min_size=1,
        max_size=8,
    )
)
@settings(**SETTINGS)
def test_pretoken_count_matches_python_re(spark, texts):
    """The pre-tokenizer count matches an independent Python regex
    implementation of the SAME pattern on arbitrary unicode — pinning
    the Java-regex semantics the engine relies on."""
    regex = pytest.importorskip("regex")  # supports \p{..} like Java/RE2

    from jonesy_spark.functions.text import PRETOKEN_PATTERN, pretoken_count

    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i int, t string")
    got = {
        r["i"]: r["n"]
        for r in df.select("i", pretoken_count(F.col("t")).alias("n")).collect()
    }
    for i, t in enumerate(texts):
        want = len(regex.findall(PRETOKEN_PATTERN, t))
        assert got[i] == want, (t, got[i], want)


@given(
    docs=st.lists(
        st.tuples(st.integers(0, 50), st.integers(1, 12), st.integers(0, 5)),
        min_size=1,
        max_size=20,
        unique_by=lambda t: t[0],
    ),
    budget=st.integers(0, 120),
)
@settings(**SETTINGS)
@pytest.mark.slow
def test_token_budget_prune_equals_greedy_reference(spark, docs, budget):
    """Property: the two-pass range-partition cut == the collected
    greedy prefix, for ANY corpus and budget (incl. 0 and over-total).
    Quality ties are exercised (quality drawn from 6 values)."""
    from jonesy_spark.caching import cache_scope
    from jonesy_spark.operators.corpus import token_budget_prune

    rows = [(i, " ".join(["w"] * n), float(q) / 10.0) for i, n, q in docs]
    df = spark.createDataFrame(rows, "doc_id long, text string, q double")
    with cache_scope():
        out = token_budget_prune(df, budget, F.col("q"), n_ranges=4)
        got = sorted((r["doc_id"], r["cum_tokens"]) for r in out.collect())

    ordered = sorted(docs, key=lambda t: (-t[2] / 10.0, t[0]))
    want, cum = [], 0
    for i, n, _ in ordered:
        cum += n
        if cum > budget:
            break
        want.append((i, cum))
    assert got == sorted(want)


@given(
    old=st.dictionaries(st.integers(0, 8), st.one_of(st.none(), st.text(max_size=3)), max_size=6),
    new=st.dictionaries(st.integers(0, 8), st.one_of(st.none(), st.text(max_size=3)), max_size=6),
)
@settings(**SETTINGS)
@pytest.mark.slow
def test_snapshot_diff_matches_dict_reference(spark, old, new):
    """Property: snapshot_diff statuses == the obvious dict diff, for
    ANY pair of snapshots incl. NULL texts and empty sides."""
    from jonesy_spark.operators.stats import snapshot_diff

    schema = "doc_id long, text string"
    o = spark.createDataFrame(list(old.items()), schema)
    n = spark.createDataFrame(list(new.items()), schema)
    got = {r["doc_id"]: r["status"] for r in snapshot_diff(o, n).collect()}

    want = {}
    for k in set(old) | set(new):
        if k not in old:
            want[k] = "added"
        elif k not in new:
            want[k] = "removed"
        elif old[k] != new[k]:
            want[k] = "changed"
        else:
            want[k] = "unchanged"
    assert got == want


@given(
    docs=st.lists(
        st.text(alphabet="abc ", min_size=1, max_size=16),
        min_size=2,
        max_size=10,
    ),
    threshold=st.sampled_from([0.5, 0.8, 1.0]),
)
@settings(**{**SETTINGS, "max_examples": 6})  # two Spark joins per example
@pytest.mark.slow
def test_prefix_jaccard_exactness_property(spark, docs, threshold):
    """Property: prefix filtering returns EXACTLY the brute-force
    >= threshold pairs on ANY corpus — including 1-symbol sets, full
    duplicates, t=1.0, and whitespace-only texts."""
    from jonesy_spark.functions.text import jaccard as jx
    from jonesy_spark.operators.dedup import element_hash, prefix_jaccard_pairs

    rows = [(i, t) for i, t in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["doc_a"], r["doc_b"])
        for r in prefix_jaccard_pairs(df, threshold=threshold).collect()
    }
    toks = df.select(
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
        (r["da"], r["db"])
        for r in a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("da"),
            F.col("b.doc_id").alias("db"),
            jx(F.col("a.toks"), F.col("b.toks")).alias("j"),
        )
        .filter(F.col("j") >= threshold)
        .collect()
    }
    assert got == brute


# --- retrieval-tier differentials over hypothesis-generated corpora ---

_WORDS = ["spark", "join", "window", "scan", "sort", "batch", "merge", "row"]

corpus_strategy = st.lists(
    st.lists(st.sampled_from(_WORDS), min_size=1, max_size=10).map(" ".join),
    min_size=2,
    max_size=8,
)


@given(texts=corpus_strategy)
@settings(**SETTINGS)
@pytest.mark.slow
def test_bm25_matches_python_reference_on_random_corpora(spark, texts):
    """BM25 == the independent Python reference on arbitrary small
    corpora: idf smoothing, tf saturation, length normalization and
    the rounding grids all reproduced, for every doc that matches."""
    from test_search import _py_bm25

    from jonesy_spark.operators.search import bm25_search

    corpus = dict(enumerate(texts))
    docs = spark.createDataFrame(list(corpus.items()), ["doc_id", "text"])
    terms = ["spark", "join"]
    got = {
        r["doc_id"]: (r["score_micro"], r["n_hits"])
        for r in bm25_search(docs, terms, top_k=100).collect()
    }
    assert got == _py_bm25(corpus, terms)


@given(texts=corpus_strategy)
@settings(**SETTINGS)
@pytest.mark.slow
def test_phrase_probe_matches_sliding_window_on_random_corpora(spark, tmp_path_factory, texts):
    """Positional phrase matching == the sliding-window reference on
    arbitrary corpora, including overlapping repeats."""
    from test_search import _py_phrase_counts

    from jonesy_spark.operators.search import (
        phrase_probe,
        write_positional_index,
    )

    corpus = dict(enumerate(texts))
    docs = spark.createDataFrame(list(corpus.items()), ["doc_id", "text"])
    path = str(tmp_path_factory.mktemp("px"))
    write_positional_index(docs, path, mode="overwrite", run_id="seed")
    phrase = ["spark", "join"]
    got = {
        r["doc_id"]: r["n_occurrences"]
        for r in phrase_probe(spark, path, phrase).collect()
    }
    assert got == _py_phrase_counts(corpus, phrase)


@given(
    rows=st.lists(
        st.tuples(
            st.lists(st.sampled_from(_WORDS), min_size=1, max_size=8).map(" ".join),
            st.booleans(),
        ),
        min_size=2,
        max_size=10,
    ).filter(lambda rs: any(y for _, y in rs) and any(not y for _, y in rs))
)
@settings(**SETTINGS)
@pytest.mark.slow
def test_classifier_matches_python_nb_on_random_corpora(spark, rows):
    """train_log_odds + score_log_odds == an independent pure-Python
    multinomial NB (decimal-exact accumulation) on arbitrary labeled
    corpora — pins the training math, the sentinel rows, and the
    decimal score discipline beyond the DuckDB mirror."""
    import hashlib
    import math
    from decimal import ROUND_HALF_UP, Decimal

    from jonesy_spark.operators import classify as C

    B = 64
    docs = [(i, text, y) for i, (text, y) in enumerate(rows)]

    def bucket(tok: str) -> int:
        return int(hashlib.md5(tok.encode()).hexdigest()[:7], 16) % B

    # python reference: train
    pos_c: dict[int, int] = {}
    neg_c: dict[int, int] = {}
    n_pos = n_neg = 0
    for _, text, y in docs:
        toks = [t for t in text.lower().strip().split() if t]
        n_pos += y
        n_neg += not y
        for t in toks:
            d = pos_c if y else neg_c
            d[bucket(t)] = d.get(bucket(t), 0) + 1
    pos_tot, neg_tot = sum(pos_c.values()), sum(neg_c.values())
    buckets = set(pos_c) | set(neg_c)
    w = {
        b: round(
            math.log((pos_c.get(b, 0) + 1.0) / (pos_tot + B))
            - math.log((neg_c.get(b, 0) + 1.0) / (neg_tot + B)),
            9,
        )
        for b in buckets
    }
    bias = round(math.log(n_pos / n_neg), 9)

    def score(text: str) -> tuple[int, float, bool]:
        toks = [t for t in text.lower().strip().split() if t]
        acc = Decimal(f"{bias:.9f}")
        for t in toks:
            acc += Decimal(f"{w[bucket(t)]:.9f}")
        # Spark rounds decimals HALF_UP; Python's round() on Decimal is
        # banker's — an exact ...5 at the 7th digit split the two
        # (hypothesis-found: sum 0.2159205 -> 0.215921 vs 0.21592)
        s = acc.quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
        micro = int(s * 1_000_000)
        return len(toks), micro, micro > 0

    want = {i: score(text) for i, text, _ in docs}

    df = spark.createDataFrame(docs, "doc_id long, text string, lang boolean")
    model = C.train_log_odds(df, F.col("lang"), n_buckets=B)
    got = {
        r["doc_id"]: (r["n_tokens"], r["score_micro"], r["pred"])
        for r in C.score_log_odds(df, model, n_buckets=B).collect()
    }
    assert got == want


@given(
    raw=corpus_strategy,
    target=corpus_strategy,
)
@settings(**SETTINGS)
@pytest.mark.slow
def test_dsir_weights_match_python_reference(spark, raw, target):
    """dsir_weights == an independent decimal-exact Python computation
    of the smoothed class-conditional hashed-distribution ratio."""
    import hashlib
    import math
    from decimal import ROUND_HALF_UP, Decimal

    from jonesy_spark.operators.corpus import dsir_weights

    B = 64

    def bucket(tok: str) -> int:
        return int(hashlib.md5(tok.encode()).hexdigest()[:7], 16) % B

    def counts(texts):
        out: dict[int, int] = {}
        for text in texts:
            for t in text.lower().strip().split():
                if t:
                    out[bucket(t)] = out.get(bucket(t), 0) + 1
        return out

    cr, ct = counts(raw), counts(target)
    tot_r, tot_t = sum(cr.values()), sum(ct.values())
    w = {
        b: round(
            math.log((ct.get(b, 0) + 1.0) / (tot_t + B))
            - math.log((cr.get(b, 0) + 1.0) / (tot_r + B)),
            9,
        )
        for b in set(cr) | set(ct)
    }

    def doc_weight(text):
        toks = [t for t in text.lower().strip().split() if t]
        acc = Decimal(0)
        for t in toks:
            acc += Decimal(f"{w[bucket(t)]:.9f}")
        # HALF_UP to match Spark's decimal rounding (see the NB test)
        return len(toks), int(
            acc.quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
            * 1_000_000
        )

    want = {i: doc_weight(text) for i, text in enumerate(raw)}
    raw_df = spark.createDataFrame(list(enumerate(raw)), ["doc_id", "text"])
    tgt_df = spark.createDataFrame(
        [(1000 + i, t) for i, t in enumerate(target)], ["doc_id", "text"]
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["log_weight_micro"])
        for r in dsir_weights(raw_df, tgt_df, n_buckets=B).collect()
    }
    assert got == want


@given(texts=corpus_strategy)
@settings(**SETTINGS)
def test_hash_embed_matches_python_reference(spark, texts):
    """hash_embed == the independent Python signed-hashing projection:
    integer component sums, one sqrt, per-component rounding."""
    import hashlib
    import math

    from jonesy_spark.operators.similarity import hash_embed

    DIM = 8

    def embed(text):
        comp = [0] * DIM
        for t in text.lower().strip().split():
            if not t:
                continue
            for j in range(DIM):
                h = int(hashlib.md5(f"{t}|{j}".encode()).hexdigest()[:7], 16)
                comp[j] += 1 if h % 2 == 1 else -1
        nrm = math.sqrt(sum(c * c for c in comp))
        if nrm == 0:
            return [0.0] * DIM
        return [round(c / nrm, 6) for c in comp]

    want = {i: embed(t) for i, t in enumerate(texts)}
    df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    got = {
        r["doc_id"]: list(r["embedding"])
        for r in hash_embed(df, dim=DIM).collect()
    }
    assert got == want


@given(texts=corpus_strategy)
@settings(**SETTINGS)
@pytest.mark.slow
def test_bm25_probe_equals_one_pass_on_random_corpora(
    spark, tmp_path_factory, texts
):
    """Probe == batch theorem under hypothesis (VERDICT r6 #8): for ANY
    corpus, splitting the ingest into doc-disjoint batches and probing
    the persisted inverted index returns exactly the one-pass
    bm25_search rows — scores, hit counts, ordering and the top-k cut.
    The equivalence previously rested on one two-batch fixture."""
    from jonesy_spark.operators.search import (
        bm25_probe,
        bm25_search,
        write_search_index,
    )

    corpus = dict(enumerate(texts))
    docs = spark.createDataFrame(list(corpus.items()), ["doc_id", "text"])
    path = str(tmp_path_factory.mktemp("bm25x"))
    # doc-disjoint batches (the write path's documented precondition)
    write_search_index(
        docs.filter("doc_id % 2 = 0"), path, run_id="even"
    )
    write_search_index(
        docs.filter("doc_id % 2 = 1"), path, run_id="odd"
    )
    terms = ["spark", "join"]
    want = [
        (r["doc_id"], r["score_micro"], r["n_hits"])
        for r in bm25_search(docs, terms, top_k=100).collect()
    ]
    got = [
        (r["doc_id"], r["score_micro"], r["n_hits"])
        for r in bm25_probe(spark, path, terms, top_k=100).collect()
    ]
    assert got == want


@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 2),    # group key
            st.integers(0, 40),   # value (cardinality straddles k)
            st.integers(0, 3),    # batch assignment
        ),
        min_size=1,
        max_size=60,
    ),
    k=st.integers(2, 12),
)
@settings(**SETTINGS)
@pytest.mark.slow
def test_kmv_fold_matches_python_model(spark, rows, k):
    """KMV mergeability under ARBITRARY batch cuts: per-batch min-k
    partials fold to the single-pass sketch, and both equal an
    independent pure-Python model of (md5-48bit-hash, distinct, sort,
    take k) — so the window rank, the salting and the fold are all
    pinned to the estimator's definition, not to each other."""
    import hashlib

    from jonesy_spark.operators import stats as ST

    df = spark.createDataFrame(rows, ["grp", "v", "batch"])

    # pure-Python model over the union
    def h48(v: int) -> int:
        return int(hashlib.md5(str(v).encode()).hexdigest()[:12], 16)

    want = set()
    by_grp: dict[int, set[int]] = {}
    for grp, v, _ in rows:
        by_grp.setdefault(grp, set()).add(h48(v))
    for grp, hs in by_grp.items():
        want.update((grp, h) for h in sorted(hs)[:k])

    direct = {
        (r["grp"], r["h"])
        for r in ST.kmv_sketch_batch(df, ["grp"], "v", k=k, n_salts=3).collect()
    }
    assert direct == want

    # fold of per-batch partials == direct (mergeability)
    parts = [
        ST.kmv_sketch_batch(
            df.filter(F.col("batch") == b), ["grp"], "v", k=k, n_salts=3
        )
        for b in range(4)
    ]
    union = parts[0]
    for p in parts[1:]:
        union = union.unionByName(p)
    folded = {
        (r["grp"], r["h"])
        for r in ST._min_k(union.select("grp", "h"), ["grp"], k, 3).collect()
    }
    assert folded == want


# --- unigram Viterbi: property pin against exhaustive enumeration ----


@st.composite
def _viterbi_case(draw):
    alphabet = "abc"
    word = draw(st.text(alphabet=alphabet, min_size=0, max_size=7))
    n_pieces = draw(st.integers(min_value=0, max_value=8))
    pieces = draw(
        st.lists(
            st.text(alphabet=alphabet, min_size=1, max_size=3),
            min_size=n_pieces,
            max_size=n_pieces,
            unique=True,
        )
    )
    scores = {
        p: draw(st.integers(min_value=-9_000_000, max_value=-1))
        for p in pieces
    }
    return word, scores


@given(_viterbi_case())
@settings(max_examples=200, deadline=None)
def test_unigram_viterbi_property_matches_enumeration(case):
    """For ANY word and ANY integer score table (unknown chars falling
    back to the UNK sentinel), the DP equals the exhaustive-enumeration
    argmax under the declared total order, and concatenation is exact."""
    from jonesy_spark.operators.tokenize import UNK_LOGPROB_MICRO, _viterbi_py

    word, scores = case
    got = _viterbi_py(word, scores, 3)
    assert "".join(got) == word
    if not word:
        return

    def enumerate_all(w):
        if w == "":
            return [([], 0, 0)]
        out = []
        for ln in range(1, min(3, len(w)) + 1):
            head, rest = w[:ln], w[ln:]
            sc = scores.get(head)
            if sc is None:
                if ln > 1:
                    continue
                sc = UNK_LOGPROB_MICRO
            for toks, s, n in enumerate_all(rest):
                out.append(([head] + toks, s + sc, n + 1))
        return out

    best = max(
        enumerate_all(word),
        key=lambda t: (t[1], -t[2], [len(p) for p in reversed(t[0])]),
    )
    assert got == best[0]


# --- sketch-ledger mergeability: ANY batch cut folds bit-identically --


@st.composite
def _cut_case(draw):
    n = draw(st.integers(min_value=1, max_value=40))
    values = draw(
        st.lists(
            st.tuples(
                st.integers(0, 2),      # group key
                st.integers(0, 15),     # value (distinct-count domain)
            ),
            min_size=n,
            max_size=n,
        )
    )
    batch_of = draw(
        st.lists(st.integers(0, 3), min_size=n, max_size=n)
    )
    return values, batch_of


@given(_cut_case())
@settings(**SETTINGS)
@pytest.mark.slow
def test_kmv_fold_cut_invariance_property(spark, case):
    """The KMV pigeonhole theorem over ARBITRARY batch cuts: min-k of
    the union of per-batch min-k partials equals the single-pass
    sketch, bit for bit, for any grouping of rows into batches — the
    fixed 3-way-split unit test generalized by hypothesis."""
    from jonesy_spark.operators import stats as ST

    values, batch_of = case
    rows = [(k, f"u{v}", b) for (k, v), b in zip(values, batch_of)]
    df = spark.createDataFrame(rows, "key int, user string, batch int")

    single = sorted(
        map(
            tuple,
            ST.kmv_sketch_batch(df, ["key"], "user", k=4, n_salts=2)
            .collect(),
        )
    )
    partials = [
        ST.kmv_sketch_batch(
            df.filter(F.col("batch") == b), ["key"], "user", k=4, n_salts=2
        )
        for b in sorted({b for *_, b in rows})
    ]
    union = partials[0]
    for p in partials[1:]:
        union = union.unionByName(p)
    from jonesy_spark.operators.stats import _min_k

    folded = sorted(
        map(tuple, _min_k(union.select("key", "h"), ["key"], 4, 2).collect())
    )
    assert folded == single


@given(_cut_case())
@settings(**SETTINGS)
@pytest.mark.slow
def test_rollup_fold_cut_invariance_property(spark, case):
    """Rollup partial mergeability over ARBITRARY batch cuts:
    sum-of-sums / min-of-mins / max-of-maxes of per-batch partials
    equals the single-pass rollup exactly (integer micro-units make
    the sums associative with zero drift)."""
    from jonesy_spark.operators import stats as ST

    values, batch_of = case
    rows = [
        (k, f"2024-01-0{1 + (v % 5)} 0{v % 10}:00:00", float(v) / 7, b)
        for (k, v), b in zip(values, batch_of)
    ]
    df = spark.createDataFrame(
        rows, "event_type int, ts string, value double, batch int"
    ).withColumn("event_type", F.col("event_type").cast("string"))

    single = sorted(map(tuple, ST.rollup_batch(df).collect()))
    partials = [
        ST.rollup_batch(df.filter(F.col("batch") == b))
        for b in sorted({r[3] for r in rows})
    ]
    union = partials[0]
    for p in partials[1:]:
        union = union.unionByName(p)
    folded = sorted(
        map(
            tuple,
            union.groupBy("key", "bucket_es")
            .agg(
                F.sum("n_events").alias("n_events"),
                F.sum("sum_value_micro").alias("sum_value_micro"),
                F.min("min_value_micro").alias("min_value_micro"),
                F.max("max_value_micro").alias("max_value_micro"),
            )
            .collect(),
        )
    )
    assert folded == single


@given(_cut_case())
@settings(**SETTINGS)
@pytest.mark.slow
def test_cms_fold_cut_invariance_property(spark, case):
    """Count-min partials are SUM-mergeable over ARBITRARY batch cuts:
    summing per-batch (r, c, cnt) counters equals the single-pass
    sketch bit for bit (counter addition is associative)."""
    from jonesy_spark.operators import stats as ST

    values, batch_of = case
    rows = [(f"u{v}", b) for (_, v), b in zip(values, batch_of)]
    df = spark.createDataFrame(rows, "user string, batch int")

    single = sorted(
        map(tuple, ST.cms_sketch_batch(df, "user", d=2, w=8).collect())
    )
    partials = [
        ST.cms_sketch_batch(
            df.filter(F.col("batch") == b), "user", d=2, w=8
        )
        for b in sorted({b for _, b in rows})
    ]
    union = partials[0]
    for p in partials[1:]:
        union = union.unionByName(p)
    folded = sorted(
        map(
            tuple,
            union.groupBy("r", "c").agg(F.sum("cnt").alias("cnt")).collect(),
        )
    )
    assert folded == single


@given(_cut_case())
@settings(**SETTINGS)
@pytest.mark.slow
def test_bloom_fold_cut_invariance_property(spark, case):
    """Bloom set bits are OR-mergeable over ARBITRARY batch cuts:
    the distinct union of per-batch bit sets equals the single-pass
    filter exactly (and duplicate ledger rows are absorbed)."""
    from jonesy_spark.operators import stats as ST

    values, batch_of = case
    rows = [(f"u{v}", b) for (_, v), b in zip(values, batch_of)]
    df = spark.createDataFrame(rows, "user string, batch int")

    single = sorted(
        r["bit"] for r in ST.bloom_batch(df, "user", d=2, m=64).collect()
    )
    partials = [
        ST.bloom_batch(df.filter(F.col("batch") == b), "user", d=2, m=64)
        for b in sorted({b for _, b in rows})
    ]
    union = partials[0]
    for p in partials[1:]:
        union = union.unionByName(p)
    # duplicate a partial deliberately: the OR monoid absorbs replays
    union = union.unionByName(partials[0])
    folded = sorted(r["bit"] for r in union.distinct().collect())
    assert folded == single


# --- funnel_conversion vs a pure-Python model (r12: the chained-window
# rewrite must hold the stage-chain semantics on adversarial orderings:
# ties, out-of-order stages, repeats, drop-offs at every depth) --------

funnel_events = st.lists(
    st.tuples(
        st.integers(0, 3),          # user
        st.sampled_from(["view", "click", "purchase", "noise"]),
        st.integers(0, 8),          # epoch second
    ),
    min_size=1,
    max_size=30,
)


def _funnel_reference(rows, steps):
    """Independent model: step_i = min epoch of step_i events strictly
    after step_{i-1}'s epoch; keys that never hit step 1 are absent."""
    out = {}
    for k in {r[0] for r in rows}:
        es = [(t, e) for (u, t, e) in rows if u == k]
        epochs, prev = [], None
        for i, step in enumerate(steps):
            cand = [
                e
                for (t, e) in es
                if t == step and (prev is None or e > prev)
            ]
            cur = min(cand) if cand else None
            epochs.append(cur)
            if cur is None:
                epochs.extend([None] * (len(steps) - i - 1))
                break
            prev = cur
        if epochs[0] is not None:
            furthest = max(i + 1 for i, e in enumerate(epochs) if e is not None)
            out[k] = (*epochs, furthest)
    return out


@given(rows=funnel_events)
@settings(**SETTINGS)
def test_funnel_conversion_matches_reference(spark, rows):
    from datetime import datetime, timezone as tz

    from jonesy_spark.operators.windows import funnel_conversion

    df = spark.createDataFrame(
        [
            (u, t, datetime.fromtimestamp(e, tz.utc).replace(tzinfo=None))
            for (u, t, e) in rows
        ],
        "user_id long, event_type string, ts timestamp",
    )
    got = {
        r["user_id"]: (
            r["step1_epoch"],
            r["step2_epoch"],
            r["step3_epoch"],
            r["furthest_step"],
        )
        for r in funnel_conversion(
            df, ["view", "click", "purchase"]
        ).collect()
    }
    assert got == _funnel_reference(rows, ["view", "click", "purchase"])
