"""BPE vocabulary induction + corpus tokenization (operators.tokenize).

The merge table is pinned against an INDEPENDENT naive reference
implementation (recount-every-round, written here, no code shared with
the operator), and the encoder is pinned against sequentially
replaying the training merges — the standard equivalence the greedy
rank-ordered encoder claims."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from jonesy_spark.operators import tokenize as T

SF_DIR = "/root/testdata/sf0.001"


# --- independent naive reference (no shared code with the operator) ---


def _naive_pairs(word):
    return list(zip(word, word[1:]))


def _naive_merge(word, a, b):
    out, i = [], 0
    while i < len(word):
        if i + 1 < len(word) and word[i] == a and word[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(word[i])
            i += 1
    return out


def _naive_bpe(words, n_merges, min_pair_count=2):
    """Recount-from-scratch every round: O(rounds * corpus), obviously
    correct, used only on tiny corpora."""
    words = [(list(w), c) for w, c in words]
    merges = []
    for rank in range(n_merges):
        counts = {}
        for w, c in words:
            for p in _naive_pairs(w):
                counts[p] = counts.get(p, 0) + c
        if not counts:
            break
        best_count = max(counts.values())
        if best_count < min_pair_count:
            break
        best = min(p for p, c in counts.items() if c == best_count)
        merges.append((rank, best[0], best[1], best[0] + best[1], best_count))
        words = [(_naive_merge(w, *best), c) for w, c in words]
    return merges


TINY = [
    ("low", 5),
    ("lower", 2),
    ("newest", 6),
    ("widest", 3),
    ("newer", 2),
]


def _tiny_docs(spark):
    # one doc per word occurrence keeps word_counts == the TINY table
    rows = []
    i = 0
    for w, c in TINY:
        for _ in range(c):
            rows.append((i, w))
            i += 1
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_pretokens_tile_roundtrip(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(200)
    bad = (
        docs.select(
            F.concat_ws("", T.pretokens(F.col("text"))).alias("rt"),
            "text",
        )
        .filter(F.col("rt") != F.col("text"))
        .count()
    )
    assert bad == 0


def test_bpe_train_matches_naive_reference(spark):
    docs = _tiny_docs(spark)
    got = [
        (r["rank"], r["left"], r["right"], r["merged"], r["pair_count"])
        for r in T.bpe_train(docs, n_merges=10).orderBy("rank").collect()
    ]
    want = _naive_bpe(TINY, 10)
    assert got == want
    assert len(got) > 3  # the corpus supports several merges


def test_bpe_encode_roundtrip_and_zero_merges(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(50)
    merges = T.bpe_train(docs, n_merges=24)
    enc = T.bpe_encode(docs, merges)
    bad = (
        enc.select(
            F.concat_ws("", "bpe_tokens").alias("rt"), "text"
        )
        .filter(F.col("rt") != F.col("text"))
        .count()
    )
    assert bad == 0
    # zero merges -> every token is a single character
    enc0 = T.bpe_encode(docs, [], out_col="t0")
    bad0 = (
        enc0.select(F.size("t0").alias("n"), F.length("text").alias("l"))
        .filter(F.col("n") != F.col("l"))
        .count()
    )
    assert bad0 == 0


def test_bpe_encode_monotone_in_merges(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(50)
    m_small = T.bpe_train(docs, n_merges=8).collect()
    m_big = T.bpe_train(docs, n_merges=32).collect()
    # the larger table extends the smaller one (same prefix)
    assert [tuple(r) for r in m_big[:len(m_small)]] == [tuple(r) for r in m_small]
    a = T.bpe_encode(docs, m_small, out_col="a").select("doc_id", F.size("a").alias("na"))
    b = T.bpe_encode(docs, m_big, out_col="b").select("doc_id", F.size("b").alias("nb"))
    grew = a.join(b, "doc_id").filter(F.col("nb") > F.col("na")).count()
    assert grew == 0


def test_bpe_encode_equals_sequential_replay(spark):
    """Greedy lowest-rank-first per segment == replaying the training
    merges in rank order over the segment — the GPT-2 equivalence."""
    docs = _tiny_docs(spark)
    merges = T.bpe_train(docs, n_merges=8).orderBy("rank").collect()
    enc = {
        r["text"]: list(r["toks"])
        for r in T.bpe_encode(docs, merges, out_col="toks")
        .select("text", "toks")
        .distinct()
        .collect()
    }
    for word, _ in TINY:
        syms = list(word)
        for m in merges:
            syms = _naive_merge(syms, m["left"], m["right"])
        assert enc[word] == syms, word


def test_bpe_token_stats_bounds(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(50)
    merges = T.bpe_train(docs, n_merges=16)
    stats = T.bpe_token_stats(docs, merges)
    bad = stats.filter(
        (F.col("n_bpe_tokens") < F.col("n_pretokens"))
        | (F.col("n_bpe_tokens") > F.col("n_chars"))
    ).count()
    assert bad == 0


def test_token_stats_counts_equal_encode_sizes(spark):
    """The r14 count-only stats UDFs must reproduce size(encode) bit
    for bit: both paths share the per-word kernel (_bpe_word_syms /
    _viterbi_py with identical memo keying), so n_*_tokens from the
    count UDF equals the old array-UDF's F.size() for every document —
    the equality the optimization's correctness rests on."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(80)
    merges = T.bpe_train(docs, n_merges=16)
    got_b = {
        r["doc_id"]: r["n_bpe_tokens"]
        for r in T.bpe_token_stats(docs, merges).collect()
    }
    want_b = {
        r["doc_id"]: r["n"]
        for r in T.bpe_encode(docs, merges)
        .select("doc_id", F.size("bpe_tokens").alias("n"))
        .collect()
    }
    assert got_b == want_b
    pieces = T.unigram_train(docs, vocab_size=64, seed_size=256)
    got_u = {
        r["doc_id"]: r["n_unigram_tokens"]
        for r in T.unigram_token_stats(docs, pieces).collect()
    }
    want_u = {
        r["doc_id"]: r["n"]
        for r in T.unigram_encode(docs, pieces)
        .select("doc_id", F.size("unigram_tokens").alias("n"))
        .collect()
    }
    assert got_u == want_u


def test_bpe_vocab_ids_contiguous(spark):
    docs = _tiny_docs(spark)
    merges = T.bpe_train(docs, n_merges=6)
    vocab = T.bpe_vocab(docs, merges).orderBy("token_id").collect()
    ids = [r["token_id"] for r in vocab]
    assert ids == list(range(len(vocab)))
    kinds = [r["kind"] for r in vocab]
    n_base = kinds.count("base")
    assert kinds == ["base"] * n_base + ["merged"] * (len(vocab) - n_base)
    # every merged token is the concat of its merge pair
    by_rank = {r["rank"]: r for r in merges.collect()}
    merged = [r for r in vocab if r["kind"] == "merged"]
    for i, r in enumerate(merged):
        assert r["token"] == by_rank[i]["merged"]


def test_bpe_train_min_pair_count_stops(spark):
    # every word unique, count 1: no pair ever reaches 2 -> no merges
    docs = spark.createDataFrame(
        [(0, "abc"), (1, "def"), (2, "ghi")], "doc_id long, text string"
    )
    assert T.bpe_train(docs, n_merges=5).count() == 0


@pytest.mark.slow
def test_bpe_tokenizer_store_skips_crashed_version(spark, tmp_path):
    path = str(tmp_path / "tok")
    docs = _tiny_docs(spark)
    m1 = T.bpe_train(docs, n_merges=4)
    assert T.write_bpe_tokenizer(m1, T.bpe_vocab(docs, m1), path) == 0

    # a crashed attempt (no _COMMITTED marker) stays invisible
    m2 = T.bpe_train(docs, n_merges=6)
    m2.write.parquet(f"{path}/version=1/merges")
    merges, _, n = T.read_bpe_tokenizer(spark, path)
    assert n == 0 and merges.count() == 4

    # the next publish skips past the crashed subtree
    assert T.write_bpe_tokenizer(m2, T.bpe_vocab(docs, m2), path) == 2
    merges, _, n = T.read_bpe_tokenizer(spark, path)
    assert n == 2 and merges.count() == 6


def test_bpe_encode_ids_roundtrip_through_vocab(spark):
    docs = _tiny_docs(spark)
    merges = T.bpe_train(docs, n_merges=6)
    vocab = T.bpe_vocab(docs, merges)
    id2tok = {r["token_id"]: r["token"] for r in vocab.collect()}
    enc_s = T.bpe_encode(docs, merges, out_col="toks")
    enc_i = T.bpe_encode_ids(docs, vocab, merges, out_col="ids")
    rows = (
        enc_s.select("doc_id", "toks")
        .join(enc_i.select("doc_id", "ids"), "doc_id")
        .collect()
    )
    assert rows
    for r in rows:
        assert [id2tok[i] for i in r["ids"]] == list(r["toks"])
        assert -1 not in r["ids"]  # same corpus -> no OOV


def test_bpe_encode_ids_oov_on_unseen_chars(spark):
    train = _tiny_docs(spark)
    merges = T.bpe_train(train, n_merges=4)
    vocab = T.bpe_vocab(train, merges)
    other = spark.createDataFrame([(0, "lowzq")], "doc_id long, text string")
    ids = T.bpe_encode_ids(other, vocab, merges).collect()[0]["token_ids"]
    assert ids.count(-1) == 2  # z and q unseen in training


@pytest.mark.slow
def test_bpe_tokenizer_pair_store_roundtrip(spark, tmp_path):
    path = str(tmp_path / "tok")
    docs = _tiny_docs(spark)
    assert T.read_bpe_tokenizer(spark, path) is None
    m = T.bpe_train(docs, n_merges=4)
    v = T.bpe_vocab(docs, m)
    assert T.write_bpe_tokenizer(m, v, path) == 0
    rm, rv, n = T.read_bpe_tokenizer(spark, path)
    assert n == 0
    assert sorted(map(tuple, rm.collect())) == sorted(map(tuple, m.collect()))
    assert sorted(map(tuple, rv.collect())) == sorted(map(tuple, v.collect()))
    # second publish bumps the version; readers re-point atomically
    assert T.write_bpe_tokenizer(m, v, path) == 1
    assert T.read_bpe_tokenizer(spark, path)[2] == 1


@pytest.mark.slow
def test_train_tokenizer_job_publishes_versioned_pair(spark, tmp_path, monkeypatch):
    from jonesy_spark.pipeline.jobs import JobContext, run_job

    monkeypatch.setenv("TOKENIZER_MERGES", "8")
    ctx = JobContext(
        spark=spark,
        sf_dir=SF_DIR,
        out_root=str(tmp_path),
        targets=[str(tmp_path / "t0")],
    )
    run_job("train_tokenizer", ctx)
    assert any(w.startswith("tokenizer/version=0") for w in ctx.written)
    merges, vocab, v = T.read_bpe_tokenizer(spark, f"{tmp_path}/tokenizer")
    assert v == 0 and merges.count() == 8 and vocab.count() > 8


def test_train_tokenizer_job_unigram_family(spark, tmp_path, monkeypatch):
    from jonesy_spark.pipeline.jobs import JobContext, run_job

    monkeypatch.setenv("TOKENIZER_FAMILY", "unigram")
    monkeypatch.setenv("TOKENIZER_VOCAB_SIZE", "64")
    ctx = JobContext(
        spark=spark,
        sf_dir=SF_DIR,
        out_root=str(tmp_path),
        targets=[str(tmp_path / "t0")],
    )
    run_job("train_tokenizer", ctx)
    assert any(
        w.startswith("unigram_tokenizer/version=0") for w in ctx.written
    )
    pieces, v = T.read_unigram_tokenizer(spark, f"{tmp_path}/unigram_tokenizer")
    assert v == 0 and pieces.count() <= 64
    # the published table drives a working encoder end to end
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(20)
    enc = T.unigram_encode(docs, pieces)
    from pyspark.sql import functions as F
    assert (
        enc.filter(
            F.concat_ws("", F.col("unigram_tokens")) != F.col("text")
        ).count()
        == 0
    )


def test_train_tokenizer_job_rejects_unknown_family(spark, tmp_path, monkeypatch):
    import pytest

    from jonesy_spark.pipeline.jobs import JobContext, run_job

    monkeypatch.setenv("TOKENIZER_FAMILY", "wordpiece")
    ctx = JobContext(
        spark=spark,
        sf_dir=SF_DIR,
        out_root=str(tmp_path),
        targets=[str(tmp_path / "t0")],
    )
    with pytest.raises(ValueError, match="TOKENIZER_FAMILY"):
        run_job("train_tokenizer", ctx)


# --- property: the incremental driver trainer == the naive reference ---

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_words_strategy = st.lists(
    st.tuples(
        # tiny alphabet forces overlapping-pair stress (aaa + merge
        # (a,a)) and string-collision merges ((ab,c) vs (a,bc))
        st.text(alphabet="ab", min_size=1, max_size=7),
        st.integers(1, 5),
    ),
    min_size=1,
    max_size=12,
)


@given(words=_words_strategy, n=st.integers(1, 10))
@settings(max_examples=120, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
def test_bpe_incremental_trainer_matches_naive_property(words, n):
    """The incremental pair-bookkeeping trainer (touch only words
    containing the chosen pair, stale-index recheck, delta counts) is
    exactly the recount-from-scratch reference on ANY corpus."""
    got = T._train_bpe_py([(list(w), c) for w, c in words], n, 2)
    assert got == _naive_bpe(words, n, 2)


# --- unigram-LM tokenizer (Kudo 2018 / SentencePiece-style) -----------


def _all_segmentations(word, scores, max_piece_len):
    """Exhaustive enumeration — the independent oracle for Viterbi:
    every way to tile ``word`` with vocab pieces or single-char UNKs,
    scored identically, argmax under the operator's declared total
    order (score desc, fewer pieces, longest-piece-first)."""
    if word == "":
        return [([], 0, 0)]
    out = []
    for ln in range(1, min(max_piece_len, len(word)) + 1):
        head, rest = word[:ln], word[ln:]
        sc = scores.get(head)
        if sc is None:
            if ln > 1:
                continue
            sc = T.UNK_LOGPROB_MICRO
        for toks, s, n in _all_segmentations(rest, scores, max_piece_len):
            out.append(([head] + toks, s + sc, n + 1))
    return out


def _naive_viterbi(word, scores, max_piece_len):
    segs = _all_segmentations(word, scores, max_piece_len)
    # the DP resolves ties right-to-left (longest LAST piece per cell;
    # equal last-piece length forces the same backpointer), so the
    # induced total order on tied segmentations is lexicographic-max
    # over the REVERSED piece-length sequence
    best = max(
        segs,
        key=lambda t: (t[1], -t[2], [len(p) for p in reversed(t[0])]),
    )
    return best[0]


def test_unigram_viterbi_matches_exhaustive_enumeration():
    scores = {
        "h": -5_000_000, "e": -5_000_000, "l": -4_000_000,
        "o": -4_500_000, "w": -6_000_000,
        "he": -3_000_000, "ll": -3_500_000, "lo": -3_200_000,
        "hell": -2_000_000, "hello": -1_500_000, "low": -1_800_000,
    }
    for w in ["hello", "hellolow", "owl", "lll", "zzhello", "w", ""]:
        got = T._viterbi_py(w, scores, 8)
        assert "".join(got) == w
        if w:
            assert got == _naive_viterbi(w, scores, 8), w


def test_unigram_em_is_monotone_and_keeps_singles():
    import math

    words = [("hello", 50), ("help", 30), ("low", 40), ("lower", 25),
             ("banana", 35), ("bandana", 5)]
    logp = T._seed_unigram_py(words, 6, 64)
    assert all(len(c) == 1 and c in logp for w, _ in words for c in w)
    lls = []
    for _ in range(4):
        expected, ll = T._em_step_py(words, logp, 6)
        lls.append(ll)
        total = sum(expected.values())
        logp = {
            p: math.log(max(expected.get(p, 0.0), 1e-12) / total)
            for p in logp
            if len(p) == 1 or expected.get(p, 0.0) > 0.0
        }
    assert all(b >= a - 1e-9 for a, b in zip(lls, lls[1:])), lls
    pieces, hist = T._train_unigram_py(words, 24, 6, 64)
    assert len(pieces) <= 24
    singles = {p for p, _ in pieces if len(p) == 1}
    assert {c for w, _ in words for c in w} <= singles


def test_unigram_encode_roundtrip_and_stats(spark):
    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "text")
        .limit(200)
    )
    pieces = T.unigram_train(docs, vocab_size=128, max_piece_len=6,
                             seed_size=512)
    n_pieces = pieces.count()
    assert n_pieces <= 128
    enc = T.unigram_encode(docs, pieces)
    bad = enc.filter(
        F.concat_ws("", F.col("unigram_tokens")) != F.col("text")
    ).count()
    assert bad == 0  # exact concat round-trip, any piece table
    stats = T.unigram_token_stats(docs, pieces)
    row = stats.agg(
        F.min("n_unigram_tokens").alias("mn"),
        F.max("n_unigram_tokens").alias("mx"),
        F.min(F.col("n_unigram_tokens") >= F.col("n_pretokens")).alias(
            "ge_pre"
        ),
        F.min(F.col("n_chars") >= F.col("n_unigram_tokens")).alias(
            "le_chars"
        ),
    ).first()
    # each pretoken yields >= 1 piece; each piece covers >= 1 char
    assert row["ge_pre"] and row["le_chars"] and row["mn"] >= 0


def test_unigram_encode_beats_chars_on_repetitive_text(spark):
    """The LM property worth the training cost: on text the vocabulary
    models, Viterbi picks multi-char pieces, so tokens << chars."""
    docs = spark.createDataFrame(
        [(i, "the cat sat on the mat " * 6) for i in range(8)],
        "doc_id long, text string",
    )
    pieces = T.unigram_train(docs, vocab_size=64, max_piece_len=6,
                             seed_size=256)
    got = T.unigram_token_stats(docs, pieces).first()
    assert got["n_unigram_tokens"] < got["n_chars"] / 2


def test_unigram_tokenizer_store_roundtrip(spark, tmp_path):
    docs = spark.createDataFrame(
        [(1, "aba abab ab"), (2, "baba ab")], "doc_id long, text string"
    )
    pieces = T.unigram_train(docs, vocab_size=16, max_piece_len=4,
                             seed_size=64)
    path = str(tmp_path / "uni")
    v1 = T.write_unigram_tokenizer(pieces, path)
    got, ver = T.read_unigram_tokenizer(spark, path)
    assert ver == v1
    assert sorted(got.collect()) == sorted(pieces.collect())
    # encode under the read-back table is identical to the in-session one
    a = T.unigram_encode(docs, pieces).select("doc_id", "unigram_tokens")
    b = T.unigram_encode(docs, got).select("doc_id", "unigram_tokens")
    assert sorted(map(str, a.collect())) == sorted(map(str, b.collect()))


def test_unigram_encode_ids_roundtrip_and_oov(spark):
    docs = spark.createDataFrame(
        [(1, "low lower"), (2, "newest widest")], "doc_id long, text string"
    )
    pieces = T.unigram_train(docs, vocab_size=48, max_piece_len=6,
                             seed_size=128)
    vocab = T.unigram_vocab(pieces)
    ids = vocab.collect()
    assert [r["token_id"] for r in sorted(ids, key=lambda r: r["token_id"])] \
        == list(range(len(ids)))
    enc = T.unigram_encode_ids(docs, vocab)
    id2p = {r["token_id"]: r["piece"] for r in ids}
    for r in enc.select("text", "token_ids").collect():
        assert "".join(id2p[i] for i in r["token_ids"]) == r["text"]
    # unseen characters land as the OOV sentinel, never fail the job
    unseen = spark.createDataFrame([(9, "zq")], "doc_id long, text string")
    got = T.unigram_encode_ids(unseen, vocab).first()
    assert got["token_ids"] == [-1, -1]


def test_unigram_encoder_honors_trained_piece_length(spark):
    """The encoder's span bound comes from the TABLE, not a constant:
    a vocabulary trained with max_piece_len=12 produces 9+-char pieces
    that the default encoder must match (the review finding: an
    uncoupled max_piece_len=8 silently made long pieces unreachable)."""
    docs = spark.createDataFrame(
        [(i, "abcdefghij " * 4) for i in range(6)],
        "doc_id long, text string",
    )
    pieces = T.unigram_train(docs, vocab_size=64, max_piece_len=12,
                             seed_size=256)
    longest = max(len(r["piece"]) for r in pieces.collect())
    assert longest > 8  # the 10-char word is the corpus's whole mass
    enc = T.unigram_encode(docs, pieces).first()
    assert any(len(t) == longest for t in enc["unigram_tokens"])
    # and ids through the stream-default path see it too
    got = T.unigram_encode_ids(docs, T.unigram_vocab(pieces)).first()
    assert -1 not in got["token_ids"]


def test_unigram_train_rejects_small_vocab_and_empty_corpus(spark):
    docs = spark.createDataFrame(
        [(1, "abcdefghijklmnop")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="alphabet"):
        T.unigram_train(docs, vocab_size=4)
    empty = spark.createDataFrame([], "doc_id long, text string")
    with pytest.raises(ValueError, match="non-empty corpus"):
        T.unigram_train(empty, vocab_size=16)


def test_tokenizer_stats_fixture_matches_fresh_training(spark):
    """The committed fixture behind the oracle-checked
    tokenizer_family_fold row (r10 verdict #6) must equal a FRESH
    training run on the same corpus with the same params — the
    trainers are deterministic, so a drifted fixture (stale after a
    trainer change) fails here instead of silently pinning old
    behavior. Regenerate with scripts/gen_tokenizer_fixture.py."""
    import importlib.util
    import pathlib

    import pandas as pd

    root = pathlib.Path(__file__).resolve().parent.parent
    spec = importlib.util.spec_from_file_location(
        "gen_tokenizer_fixture", root / "scripts" / "gen_tokenizer_fixture.py"
    )
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)

    from jonesy_spark.plans.llm_queries import TOKENIZER_STATS_FIXTURE

    fresh = (
        gen.build_stats_frame(spark)
        .toPandas()
        .sort_values(["family", "doc_id"])
        .reset_index(drop=True)
    )
    committed = (
        pd.read_parquet(TOKENIZER_STATS_FIXTURE)
        .sort_values(["family", "doc_id"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(fresh, committed, check_dtype=True)


def test_tokenizer_family_fold_row_equals_compare_on_fixture_corpus(spark):
    """End-to-end tie between the two roster generations: the
    oracle-checked fold row (fold over the pinned fixture) equals
    tokenizer_family_compare run fresh on the fixture's corpus — the
    split changed what the driver can hash, not the semantics."""
    from jonesy_spark.plans.llm_queries import QUERIES

    fold_rows = {
        r["family"]: r.asDict()
        for r in QUERIES["tokenizer_family_fold"](spark, "unused").collect()
    }
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    compare_rows = {
        r["family"]: r.asDict()
        for r in T.tokenizer_family_compare(
            docs, n_merges=64, vocab_size=256, seed_size=2048
        ).collect()
    }
    assert fold_rows == compare_rows


def test_tokenizer_family_compare_rejects_empty_corpus(spark):
    # r10 ADVICE: the fold's sums are coalesced to 0 so the frame can
    # never carry null counters; the trainers additionally fail fast
    # with a named error before an all-empty corpus reaches the fold
    empty = spark.createDataFrame([], "doc_id long, text string")
    with pytest.raises(ValueError, match="non-empty corpus"):
        T.tokenizer_family_compare(
            empty, n_merges=4, vocab_size=16, seed_size=32
        )


def test_tokenizer_family_compare_equals_composed_stats(spark):
    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),
            (2, "the dog ate the cat food"),
            (3, "banana banana banana split"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["family"]: r
        for r in T.tokenizer_family_compare(
            docs, n_merges=8, vocab_size=32, seed_size=64
        ).collect()
    }
    assert set(got) == {"bpe", "unigram"}

    # the fold is the pure composition of the two pinned stats frames
    merges = T.bpe_train(docs, n_merges=8)
    pieces = T.unigram_train(docs, vocab_size=32, seed_size=64)
    for family, stats, tok_col, vocab in [
        ("bpe", T.bpe_token_stats(docs, merges), "n_bpe_tokens", merges),
        (
            "unigram",
            T.unigram_token_stats(docs, pieces),
            "n_unigram_tokens",
            pieces,
        ),
    ]:
        rows = stats.collect()
        n_docs = len(rows)
        n_tokens = sum(r[tok_col] for r in rows)
        n_chars = sum(r["n_chars"] for r in rows)
        r = got[family]
        assert r["n_docs"] == n_docs
        assert r["n_tokens"] == n_tokens
        assert r["vocab_rows"] == vocab.count()
        assert r["tokens_per_doc_micro"] == n_tokens * 1_000_000 // n_docs
        assert (
            r["chars_per_token_micro"] == n_chars * 1_000_000 // n_tokens
        )
        # driver-roster canon: non-null scalar ints/strings only
        assert all(v is not None for v in r.asDict().values())
