"""Subword vocabulary induction (BPE) and corpus tokenization.

Reference scope: the reference engine has no tokenizer — this belongs to
the beyond-the-reference LLM-pipeline surface (SURVEY.md §2 extension):
a training-data engine that can count, dedup and mix documents but not
TOKENIZE them hands the single most corpus-shaped computation (vocab
induction needs global substring statistics) to a separate system. The
token-count proxies in ``functions.text`` (``whitespace_token_count``,
``pretoken_count``) stay the cheap gating path; this module is the real
thing: learn a merge table from the corpus, then encode documents with
it.

Algorithm: byte-pair encoding over pre-tokenizer segments (Sennrich et
al. 2016, "Neural Machine Translation of Rare Words with Subword Units";
the greedy rank-ordered encoder is the public GPT-2 formulation). Both
are public literature. Segmentation reuses
``functions.text.PRETOKEN_PATTERN`` (GPT-2-style alternation, already
cross-engine pinned), and the pattern TILES the string — every character
lands in exactly one segment — so ``concat(tokens) == text`` is an exact
round-trip invariant, tested. Symbols are Unicode characters (not
bytes): codec-free, deterministic, and the fixture corpus is text; a
byte-level variant would only change the initial alphabet.

Scale shape (100 TB):

  * The ONLY corpus-scale pass is ``word_counts`` — explode pretokens,
    one keyed aggregation with map-side combine. Everything downstream
    operates on the ``(word, count)`` table, which Heaps' law bounds to
    a vanishing fraction of the corpus (distinct pretokens grow ~n^0.5
    while tokens grow ~n).
  * ``bpe_train`` then caps that table at the top ``max_words`` by
    count — the same Zipf boundedness argument as the unigram-logprob
    vocabulary broadcast (``corpus.unigram_logprob``): the top 100k
    pretokens carry essentially all token mass, so the capped table is
    MBs however large the corpus, and the merge loop runs driver-side
    over it (bounded, like the k-means centroid table). The merge TABLE
    is driver-sized by definition — ``n_merges`` rows is the entire
    output of training.
  * ``bpe_encode`` is the sanctioned slow path: pre-tokenization stays
    JVM-side (``regexp_extract_all``), and only the per-segment merge
    loop crosses to Python as an Arrow-batched pandas UDF with a
    per-batch segment→tokens memo — Zipf again: a batch of documents
    repeats the same frequent pretokens, so the memo turns the common
    case into a dict hit. The merge-rank dict rides the UDF closure
    (``n_merges`` entries, KBs — broadcast-sized by construction).
  * The UNIGRAM-LM family (Kudo 2018, the SentencePiece trainer —
    the public alternative pipelines toggle) shares the same shapes:
    ``unigram_train`` runs EM + shrink driver-side over the capped
    word table; ``unigram_encode`` / ``unigram_encode_ids`` run
    deterministic integer-micro Viterbi behind the same Arrow memo
    boundary as ``bpe_encode``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.scalars import micro_units
from ..functions.text import PRETOKEN_PATTERN

#: Output schema of :func:`bpe_train` — ``rank`` is the merge order (0 is
#: the first, most-frequent merge), ``pair_count`` the pair's frequency
#: at the time it was chosen (weighted by word counts).
MERGES_SCHEMA = "rank int, left string, right string, merged string, pair_count long"


def pretokens(text: Column) -> Column:
    """The pre-tokenizer segmentation BPE merges within — every merge
    stays inside one segment. ``regexp_extract_all`` group 0 under the
    shared :data:`~jonesy_spark.functions.text.PRETOKEN_PATTERN`; the
    alternation covers every character class, so the matches tile the
    string: ``concat_ws('', pretokens(t)) == t`` exactly (tested).
    JVM-side, map-only. NULL text yields an empty array (not NULL) so
    downstream explodes and folds never need a guard."""
    return F.coalesce(
        F.regexp_extract_all(text, F.lit(PRETOKEN_PATTERN), 0),
        F.array().cast("array<string>"),
    )


def word_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """The corpus-scale pass: ``(word, count)`` over pre-tokenizer
    segments. One explode + one keyed aggregation (map-side combine);
    the result is the Heaps-law-bounded sufficient statistic every
    trainer below consumes — the 100 TB corpus is never touched again.
    """
    return (
        docs.select(F.explode(pretokens(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("count"))
    )


def _merge_word(syms: list[str], a: str, b: str, ab: str) -> list[str]:
    """Greedy left-to-right non-overlapping replacement of the adjacent
    pair (a, b) — the classic BPE application order (a just-merged
    symbol is ``ab``, which no longer equals ``a`` unless the strings
    collide, in which case re-merging IS the correct greedy behavior)."""
    out: list[str] = []
    i, n = 0, len(syms)
    while i < n:
        if i + 1 < n and syms[i] == a and syms[i + 1] == b:
            out.append(ab)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _train_bpe_py(
    words: list[tuple[list[str], int]],
    n_merges: int,
    min_pair_count: int,
) -> list[tuple[int, str, str, str, int]]:
    """In-driver BPE over a bounded ``(symbols, count)`` word table —
    incremental pair bookkeeping (only words containing the chosen pair
    are touched per round), deterministic tie-break (max count, then
    lexicographically smallest pair). Pure Python on a capped table."""
    from collections import Counter, defaultdict

    syms = [list(w) for w, _ in words]
    counts = [c for _, c in words]
    pair_counts: Counter = Counter()
    pair_words: defaultdict = defaultdict(set)
    for wi, w in enumerate(syms):
        c = counts[wi]
        for p in zip(w, w[1:]):
            pair_counts[p] += c
            pair_words[p].add(wi)

    merges: list[tuple[int, str, str, str, int]] = []
    for rank in range(n_merges):
        best_count = 0
        for p, c in pair_counts.items():
            if c > best_count:
                best_count = c
        if best_count < min_pair_count:
            break
        best = min(p for p, c in pair_counts.items() if c == best_count)
        a, b = best
        ab = a + b
        merges.append((rank, a, b, ab, best_count))
        for wi in sorted(pair_words[best]):
            w = syms[wi]
            # the index is add-only, so entries can be stale — re-check
            if not any(x == a and y == b for x, y in zip(w, w[1:])):
                continue
            c = counts[wi]
            for p in zip(w, w[1:]):
                pair_counts[p] -= c
                if pair_counts[p] <= 0:
                    del pair_counts[p]
            new = _merge_word(w, a, b, ab)
            syms[wi] = new
            for p in zip(new, new[1:]):
                pair_counts[p] += c
                pair_words[p].add(wi)
    return merges


def bpe_train(
    docs: DataFrame,
    n_merges: int = 256,
    text_col: str = "text",
    max_words: int = 100_000,
    min_count: int = 1,
    min_pair_count: int = 2,
) -> DataFrame:
    """Learn a BPE merge table from the corpus — the bounded-statistic
    path. One distributed pass builds :func:`word_counts`; the top
    ``max_words`` words by (count desc, word) — deterministic, and by
    Zipf carrying essentially all token mass — come to the driver
    (bounded collect, the unigram-vocab precedent), and the merge loop
    runs in-process over them. Training stops early once the best
    pair's weighted count drops below ``min_pair_count`` (merging
    near-singletons memorizes noise).

    Returns a :data:`MERGES_SCHEMA` DataFrame — ``n_merges`` rows at
    most, driver-sized by definition, broadcast-shaped for
    :func:`bpe_encode`.
    """
    wc = word_counts(docs, text_col)
    if min_count > 1:
        wc = wc.filter(F.col("count") >= min_count)
    top = (
        wc.orderBy(F.col("count").desc(), "word")
        .limit(max_words)
        .collect()
    )
    merges = _train_bpe_py(
        [(list(r["word"]), r["count"]) for r in top], n_merges, min_pair_count
    )
    spark = docs.sparkSession
    return spark.createDataFrame(merges, MERGES_SCHEMA)


def _rank_table(merges) -> dict[tuple[str, str], int]:
    """Merge DataFrame (or pre-collected rows) → ``{(l, r): rank}`` —
    ``n_merges`` entries, KBs, closure-shipped to the encode UDF."""
    rows = merges.collect() if isinstance(merges, DataFrame) else merges
    return {(r["left"], r["right"]): r["rank"] for r in rows}


def _bpe_word_syms(word: str, ranks: dict) -> list[str]:
    """Greedy lowest-rank-first merge replay for ONE pre-token — the
    shared per-word kernel of every BPE encode/count UDF (the public
    GPT-2 formulation: repeatedly merge the lowest-ranked adjacent
    pair until none applies)."""
    inf = float("inf")
    syms = list(word)
    while len(syms) > 1:
        best, best_rank = None, inf
        for p in zip(syms, syms[1:]):
            r = ranks.get(p, inf)
            if r < best_rank:
                best, best_rank = p, r
        if best is None:
            break
        syms = _merge_word(syms, best[0], best[1], best[0] + best[1])
    return syms


def bpe_encode(
    docs: DataFrame,
    merges,
    text_col: str = "text",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Tokenize ``text_col`` under a trained merge table: adds
    ``out_col array<string>``. Pre-tokenization runs JVM-side
    (:func:`pretokens`); the Arrow-batched pandas UDF only runs the
    rank-ordered merge loop per DISTINCT segment, memoized per batch —
    the greedy lowest-rank-first encoder is equivalent to replaying
    training merges in order (the public GPT-2 formulation).
    ``concat_ws('', out_col) == text`` exactly, for any merge table
    (tested property).
    """
    from pyspark.sql.functions import pandas_udf

    ranks = _rank_table(merges)

    @pandas_udf("array<string>")
    def _enc(segs):  # pragma: no cover - executed on workers
        import pandas as pd

        memo: dict[str, list[str]] = {}

        def encode_word(word: str) -> list[str]:
            got = memo.get(word)
            if got is None:
                got = _bpe_word_syms(word, ranks)
                memo[word] = got
            return got

        out = []
        for seg_list in segs:
            toks: list[str] = []
            for w in seg_list:
                toks.extend(encode_word(w))
            out.append(toks)
        return pd.Series(out)

    return docs.withColumn(out_col, _enc(pretokens(F.col(text_col))))


def bpe_token_stats(
    docs: DataFrame,
    merges,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document tokenization report under a trained merge table:
    ``(doc_id, n_chars, n_pretokens, n_bpe_tokens, chars_per_token_micro)`` —
    the compression-ratio view that decides whether a vocabulary is
    worth its size. chars_per_token is fixed-point micro-units; counts are
    exact. One encode pass; the merge table rides the closure.

    The report needs only the token COUNT per document, so the Arrow
    UDF returns one int per doc instead of the full token array (r14,
    guide §4.2 "pass only the columns the function needs" — applied to
    the RETURN side: the per-word merge replay and memo are identical
    to :func:`bpe_encode`'s via the shared :func:`_bpe_word_syms`
    kernel, so ``n_bpe_tokens == size(bpe_encode(...))`` exactly —
    pinned by test — while the giant per-doc token lists are never
    built or Arrow-serialized; interleaved A/B at sf0.1: 0.74 → 0.37 s
    warm-min)."""
    from pyspark.sql.functions import pandas_udf

    ranks = _rank_table(merges)

    @pandas_udf("int")
    def _cnt(segs):  # pragma: no cover - executed on workers
        import pandas as pd

        memo: dict[str, int] = {}

        def count_word(word: str) -> int:
            got = memo.get(word)
            if got is None:
                got = len(_bpe_word_syms(word, ranks))
                memo[word] = got
            return got

        return pd.Series(
            [sum(count_word(w) for w in seg_list) for seg_list in segs]
        )

    cnt = docs.withColumn("__n_tok", _cnt(pretokens(F.col(text_col))))
    return cnt.select(
        F.col(id_col),
        F.length(F.col(text_col)).alias("n_chars"),
        F.size(pretokens(F.col(text_col))).alias("n_pretokens"),
        F.col("__n_tok").alias("n_bpe_tokens"),
        micro_units(
            F.length(F.col(text_col))
            / F.greatest(F.col("__n_tok"), F.lit(1))
        ).alias("chars_per_token_micro"),
    )


def bpe_vocab(
    docs: DataFrame,
    merges,
    text_col: str = "text",
) -> DataFrame:
    """The id-assigning vocabulary: base alphabet (distinct characters
    of the corpus's word table, id-ordered lexicographically) followed
    by merged symbols in rank order — ``(token_id, token, kind)``. The
    base pass is one distributed distinct over exploded characters;
    its RESULT is alphabet-sized (thousands at most, the same
    boundedness as the merge table), so ids are assigned on a bounded
    driver collect — not a global row_number window, which would move
    the frame to one partition and warn on every call. Deterministic
    for a fixed corpus + merge table."""
    spark = docs.sparkSession
    base_tokens = sorted(
        r["token"]
        for r in word_counts(docs, text_col)
        .select(F.explode(F.split("word", "")).alias("token"))
        .distinct()
        .collect()
    )
    base = spark.createDataFrame(
        [(i, t, "base") for i, t in enumerate(base_tokens)],
        "token_id int, token string, kind string",
    )
    n_base = len(base_tokens)
    m = merges if isinstance(merges, DataFrame) else docs.sparkSession.createDataFrame(merges, MERGES_SCHEMA)
    merged = m.select(
        (F.col("rank") + F.lit(n_base)).alias("token_id"),
        F.col("merged").alias("token"),
        F.lit("merged").alias("kind"),
    )
    return base.select("token_id", "token", "kind").unionByName(merged)


def bpe_encode_ids(
    docs: DataFrame,
    vocab: DataFrame,
    merges,
    text_col: str = "text",
    out_col: str = "token_ids",
    oov_id: int = -1,
) -> DataFrame:
    """Tokenize straight to integer ids under a frozen
    (:func:`bpe_vocab`, merge table) pair — what a training shard
    actually stores. Adds ``out_col array<int>``.

    The token→id dict rides the UDF closure next to the merge ranks —
    both are vocabulary-sized (base alphabet + ``n_merges`` entries,
    KBs to low MBs), the same boundedness contract as every broadcast
    dict in this engine. A symbol outside the vocab (possible only
    when encoding a DIFFERENT corpus than the vocab was built from —
    e.g. a new ingest batch with unseen characters) maps to ``oov_id``
    rather than failing the shard job; count them downstream via
    ``aggregate(out_col, 0, ...)`` or re-train a new vocab version.
    """
    from pyspark.sql.functions import pandas_udf

    ranks = _rank_table(merges)
    ids = {r["token"]: r["token_id"] for r in vocab.collect()}

    @pandas_udf("array<int>")
    def _enc(segs):  # pragma: no cover - executed on workers
        import pandas as pd

        memo: dict[str, list[int]] = {}

        def encode_word(word: str) -> list[int]:
            got = memo.get(word)
            if got is not None:
                return got
            out = [ids.get(s, oov_id) for s in _bpe_word_syms(word, ranks)]
            memo[word] = out
            return out

        out = []
        for seg_list in segs:
            toks: list[int] = []
            for w in seg_list:
                toks.extend(encode_word(w))
            out.append(toks)
        return pd.Series(out)

    return docs.withColumn(out_col, _enc(pretokens(F.col(text_col))))


def write_bpe_tokenizer(merges: DataFrame, vocab: DataFrame, path: str) -> int:
    """Publish a complete tokenizer — the (merge table, id vocabulary)
    PAIR — as one atomically-committed ``version=N`` subtree holding
    ``merges/`` and ``vocab/``. Ids are meaningless without the exact
    vocab they were assigned under, so the two tables freeze together
    or not at all: one ``_COMMITTED`` marker covers both (a reader can
    never see a new vocab with old merges mid-publish).

    A tokenizer is a VOCABULARY CONTRACT: every artifact encoded under
    it is only comparable to artifacts encoded under the SAME pair, so
    the store is versioned-immutable — retraining publishes a new
    version, it never mutates one. Version numbering skips past
    crashed (uncommitted) attempts."""
    from .store import publish_version

    return publish_version({"merges": merges, "vocab": vocab}, path)


def read_bpe_tokenizer(
    spark: SparkSession, path: str
) -> tuple[DataFrame, DataFrame, int] | None:
    """The live (merges, vocab, version) triple, or None when no
    version is committed. The version number travels with encoded
    output as artifact lineage — a shard is only comparable to shards
    of the same tokenizer version."""
    from .store import read_live

    got = read_live(spark, path, names=("merges", "vocab"))
    if got is None:
        return None
    (merges, vocab), n = got
    return merges, vocab, n


# ---------------------------------------------------------------------
# Unigram-LM tokenizer (Kudo 2018, "Subword Regularization"; the
# SentencePiece unigram trainer) — the public alternative real
# pipelines toggle against BPE. Same engine shape as bpe_train: ONE
# corpus-scale word_counts pass, then EM + pruning over the Zipf-capped
# (word, count) table on the driver (the table is MBs however large
# the corpus, and the EM state is vocab-sized — the k-means-centroid
# boundedness argument). Encode is the sanctioned Arrow boundary:
# Viterbi per distinct pretoken segment, memoized per batch, scores an
# integer micro-unit dict riding the closure (KBs).
# ---------------------------------------------------------------------

PIECES_SCHEMA = "piece string, logprob_micro long"

#: Viterbi score for a character absent from the vocabulary — harsh
#: enough that any in-vocab segmentation beats it, but finite so the
#: DP is total and ``concat(tokens) == text`` holds for ANY input.
UNK_LOGPROB_MICRO = -40_000_000


def _logsumexp(xs: list[float]) -> float:
    import math

    m = max(xs)
    if m == float("-inf"):
        return m
    return m + math.log(sum(math.exp(x - m) for x in xs))


def _seed_unigram_py(
    words: list[tuple[str, int]], max_piece_len: int, seed_size: int
) -> dict[str, float]:
    """Candidate pieces: every substring up to ``max_piece_len`` of the
    capped word table, scored by count * len (the SentencePiece seed
    heuristic — favor long frequent substrings); ALL single characters
    are kept unconditionally (they make every segmentation total), plus
    the top ``seed_size`` multi-char candidates by (score desc, piece).
    Initial probabilities are the normalized scores."""
    from collections import Counter

    sub_counts: Counter = Counter()
    for w, c in words:
        n = len(w)
        for i in range(n):
            for j in range(i + 1, min(i + max_piece_len, n) + 1):
                sub_counts[w[i:j]] += c
    singles = {p: c for p, c in sub_counts.items() if len(p) == 1}
    multi = sorted(
        ((p, c * len(p)) for p, c in sub_counts.items() if len(p) > 1),
        key=lambda t: (-t[1], t[0]),
    )[:seed_size]
    import math

    scores = {p: float(c) for p, c in singles.items()}
    scores.update({p: float(s) for p, s in multi})
    total = sum(scores.values())
    return {p: math.log(s / total) for p, s in scores.items()}


def _em_step_py(
    words: list[tuple[str, int]],
    logp: dict[str, float],
    max_piece_len: int,
) -> tuple[dict[str, float], float]:
    """One EM iteration over the word table: per word, forward-backward
    over the segmentation lattice (alpha[i] = log-marginal of prefix
    w[:i], beta[i] of suffix w[i:]); a piece spanning (j, i) contributes
    exp(alpha[j] + logp + beta[i] - alpha[n]) expected occurrences,
    weighted by the word's corpus count. Returns (expected counts,
    corpus log-likelihood) — the M-step is normalization."""
    from collections import defaultdict
    import math

    neg_inf = float("-inf")
    expected: defaultdict = defaultdict(float)
    ll = 0.0
    for w, c in words:
        n = len(w)
        alpha = [neg_inf] * (n + 1)
        alpha[0] = 0.0
        for i in range(1, n + 1):
            terms = []
            for j in range(max(0, i - max_piece_len), i):
                lp = logp.get(w[j:i])
                if lp is not None and alpha[j] != neg_inf:
                    terms.append(alpha[j] + lp)
            if terms:
                alpha[i] = _logsumexp(terms)
        if alpha[n] == neg_inf:
            continue  # unreachable while singles stay in the vocab
        beta = [neg_inf] * (n + 1)
        beta[n] = 0.0
        for i in range(n - 1, -1, -1):
            terms = []
            for j in range(i + 1, min(i + max_piece_len, n) + 1):
                lp = logp.get(w[i:j])
                if lp is not None and beta[j] != neg_inf:
                    terms.append(lp + beta[j])
            if terms:
                beta[i] = _logsumexp(terms)
        z = alpha[n]
        ll += c * z
        for i in range(n):
            if beta[i] == neg_inf or alpha[i] == neg_inf:
                continue
            for j in range(i + 1, min(i + max_piece_len, n) + 1):
                lp = logp.get(w[i:j])
                if lp is not None and beta[j] != neg_inf:
                    expected[w[i:j]] += c * math.exp(
                        alpha[i] + lp + beta[j] - z
                    )
    return expected, ll


def _train_unigram_py(
    words: list[tuple[str, int]],
    vocab_size: int,
    max_piece_len: int,
    seed_size: int,
    em_iters_per_round: int = 2,
    shrink: float = 0.75,
) -> tuple[list[tuple[str, float]], list[float]]:
    """In-driver unigram-LM training: seed → (EM x k → prune) rounds
    until the vocabulary fits ``vocab_size``. Pruning keeps every
    single character (totality) plus the top multi-char pieces by
    (probability desc, piece) — SentencePiece's shrink schedule with
    its deterministic tie replaced by an explicit lexicographic one.
    Returns (pieces with RENORMALIZED log-probs, the corpus
    log-likelihood after each EM step — non-decreasing within a round,
    the EM monotonicity property the tests pin)."""
    import math

    logp = _seed_unigram_py(words, max_piece_len, seed_size)
    if not logp:
        raise ValueError(
            "unigram training needs a non-empty corpus: the substring "
            "seed produced zero candidate pieces"
        )
    n_singles_total = sum(1 for p in logp if len(p) == 1)
    if n_singles_total > vocab_size:
        raise ValueError(
            f"vocab_size={vocab_size} is smaller than the corpus "
            f"alphabet ({n_singles_total} distinct characters) — every "
            "single character must stay in the vocabulary for "
            "segmentation to be total; raise vocab_size"
        )
    ll_history: list[float] = []
    while True:
        for _ in range(em_iters_per_round):
            expected, ll = _em_step_py(words, logp, max_piece_len)
            ll_history.append(ll)
            floor = 1e-12
            total = sum(expected.values())
            new = {}
            for p in logp:
                e = expected.get(p, 0.0)
                if e <= 0.0 and len(p) > 1:
                    continue  # a multi-char piece no path uses: drop
                new[p] = math.log(max(e, floor) / total)
            logp = new
        multi = [(p, lp) for p, lp in logp.items() if len(p) > 1]
        n_singles = len(logp) - len(multi)
        if n_singles + len(multi) <= vocab_size:
            break
        keep = max(vocab_size - n_singles, 0)
        target = max(keep, int(len(multi) * shrink))
        if target < len(multi):
            multi = sorted(multi, key=lambda t: (-t[1], t[0]))[:target]
        logp = {p: lp for p, lp in logp.items() if len(p) == 1}
        logp.update(dict(multi))
        if target == keep:
            expected, ll = _em_step_py(words, logp, max_piece_len)
            ll_history.append(ll)
            total = sum(expected.values())
            floor = 1e-12
            logp = {
                p: math.log(max(expected.get(p, 0.0), floor) / total)
                for p in logp
            }
            break
    # renormalize exactly once at the end so emitted probs sum to 1
    z = _logsumexp(list(logp.values()))
    pieces = sorted(
        ((p, lp - z) for p, lp in logp.items()), key=lambda t: (-t[1], t[0])
    )
    return pieces, ll_history


def unigram_train(
    docs: DataFrame,
    vocab_size: int = 512,
    text_col: str = "text",
    max_words: int = 100_000,
    max_piece_len: int = 8,
    seed_size: int = 4096,
) -> DataFrame:
    """Learn a unigram-LM piece table from the corpus — the
    SentencePiece-style alternative to :func:`bpe_train`, same
    bounded-statistic path: one distributed :func:`word_counts` pass,
    the top ``max_words`` words by (count desc, word) to the driver
    (Zipf-bounded collect), EM + shrink rounds in-process. Returns a
    :data:`PIECES_SCHEMA` DataFrame — ``vocab_size`` rows at most,
    log-probs in integer micro-units so downstream Viterbi ties are
    deterministic across engines and rounds."""
    wc = word_counts(docs, text_col)
    top = wc.orderBy(F.col("count").desc(), "word").limit(max_words).collect()
    pieces, _ = _train_unigram_py(
        [(r["word"], r["count"]) for r in top],
        vocab_size,
        max_piece_len,
        seed_size,
    )
    spark = docs.sparkSession
    return spark.createDataFrame(
        [(p, int(round(lp * 1_000_000))) for p, lp in pieces], PIECES_SCHEMA
    )


def _viterbi_py(
    word: str, scores: dict[str, int], max_piece_len: int
) -> list[str]:
    """Best segmentation under integer micro-unit piece scores —
    maximize total score, then FEWER pieces, then the longest-piece-
    first split (smallest start index per cell): a total order, so the
    result is deterministic for any score table. Characters absent
    from the vocabulary segment as single-char UNK pieces at
    :data:`UNK_LOGPROB_MICRO` — the DP is total and concatenation is
    exact for any input."""
    n = len(word)
    # dp[i] = (score, -n_pieces, start_j, piece) best for prefix w[:i]
    dp: list[tuple[int, int, int, str] | None] = [None] * (n + 1)
    dp[0] = (0, 0, 0, "")
    for i in range(1, n + 1):
        best = None
        for j in range(max(0, i - max_piece_len), i):
            if dp[j] is None:
                continue
            piece = word[j:i]
            sc = scores.get(piece)
            if sc is None:
                if i - j > 1:
                    continue
                sc = UNK_LOGPROB_MICRO
            cand = (dp[j][0] + sc, dp[j][1] - 1, j, piece)
            if best is None or (cand[0], cand[1], -cand[2]) > (
                best[0], best[1], -best[2]
            ):
                best = cand
        dp[i] = best
    out: list[str] = []
    i = n
    while i > 0:
        _, _, j, piece = dp[i]
        out.append(piece)
        i = j
    out.reverse()
    return out


def unigram_encode(
    docs: DataFrame,
    pieces,
    text_col: str = "text",
    out_col: str = "unigram_tokens",
    max_piece_len: int | None = None,
) -> DataFrame:
    """Tokenize ``text_col`` under a trained piece table: adds
    ``out_col array<string>``. Pre-tokenization stays JVM-side
    (:func:`pretokens`, the same tiling segmentation BPE uses, so the
    two tokenizers are toggleable over identical segment streams); the
    Arrow-batched pandas UDF runs Viterbi per DISTINCT segment with a
    per-batch memo. ``concat_ws('', out_col) == text`` exactly for any
    piece table (tested property, same as BPE's). ``max_piece_len``
    defaults to the longest piece IN THE TABLE — the artifact carries
    its own span bound, so an encoder can never silently ignore pieces
    longer than an uncoupled constant."""
    from pyspark.sql.functions import pandas_udf

    if isinstance(pieces, DataFrame):
        rows = pieces.collect()
    else:
        rows = list(pieces)
    scores = {r["piece"]: int(r["logprob_micro"]) for r in rows}
    if max_piece_len is None:
        max_piece_len = max((len(p) for p in scores), default=1)

    @pandas_udf("array<string>")
    def _enc(segs):  # pragma: no cover - executed on workers
        import pandas as pd

        memo: dict[str, list[str]] = {}
        out = []
        for seg_list in segs:
            toks: list[str] = []
            for w in seg_list:
                got = memo.get(w)
                if got is None:
                    got = _viterbi_py(w, scores, max_piece_len)
                    memo[w] = got
                toks.extend(got)
            out.append(toks)
        return pd.Series(out)

    return docs.withColumn(out_col, _enc(pretokens(F.col(text_col))))


def unigram_token_stats(
    docs: DataFrame,
    pieces,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document tokenization report under a trained piece table —
    the unigram twin of :func:`bpe_token_stats`, column-for-column, so
    the two vocabularies compare on one dashboard:
    ``(doc_id, n_chars, n_pretokens, n_unigram_tokens,
    chars_per_token_micro)``.

    Count-only Arrow UDF (r14, same rationale as
    :func:`bpe_token_stats`): the report consumes only the token count,
    so the UDF Viterbi-segments each DISTINCT pre-token (identical
    ``_viterbi_py`` call and memo keying as :func:`unigram_encode`,
    so the count equals ``size(unigram_encode(...))`` exactly — pinned
    by test) and returns one int per doc; the token arrays are never
    built or Arrow-serialized (interleaved A/B at sf0.1: 0.73 → 0.35 s
    warm-min)."""
    from pyspark.sql.functions import pandas_udf

    if isinstance(pieces, DataFrame):
        rows = pieces.collect()
    else:
        rows = list(pieces)
    scores = {r["piece"]: int(r["logprob_micro"]) for r in rows}
    max_piece_len = max((len(p) for p in scores), default=1)

    @pandas_udf("int")
    def _cnt(segs):  # pragma: no cover - executed on workers
        import pandas as pd

        memo: dict[str, int] = {}

        def count_word(w: str) -> int:
            got = memo.get(w)
            if got is None:
                got = len(_viterbi_py(w, scores, max_piece_len))
                memo[w] = got
            return got

        return pd.Series(
            [sum(count_word(w) for w in seg_list) for seg_list in segs]
        )

    cnt = docs.withColumn("__n_tok", _cnt(pretokens(F.col(text_col))))
    return cnt.select(
        F.col(id_col),
        F.length(F.col(text_col)).alias("n_chars"),
        F.size(pretokens(F.col(text_col))).alias("n_pretokens"),
        F.col("__n_tok").alias("n_unigram_tokens"),
        micro_units(
            F.length(F.col(text_col))
            / F.greatest(F.col("__n_tok"), F.lit(1))
        ).alias("chars_per_token_micro"),
    )


def _ratio_micro(num: Column, den: Column) -> Column:
    """floor(num * 1e6 / den) as BIGINT via exact decimal(38) rational
    arithmetic — safe where a long intermediate (num * 1_000_000)
    would overflow on 100 TB corpus totals (~1e13 tokens)."""
    return (
        F.floor(num.cast("decimal(38,0)") * F.lit(1_000_000) / den)
        .cast("long")
    )


def tokenizer_family_fold(stats: DataFrame) -> DataFrame:
    """Fold a family-tagged per-document stats frame — ``(family,
    vocab_rows, doc_id, n_tokens, n_chars)`` — to the one-row-per-family
    decision frame ``(family, vocab_rows, n_docs, n_tokens,
    tokens_per_doc_micro, chars_per_token_micro)``.

    This is the EXACT aggregation :func:`tokenizer_family_compare`
    applies to its freshly-trained stats (the compare calls this), split
    out so the fold is independently checkable: given pinned stats
    frames (the trainers are deterministic, so pytest pins them as
    parquet fixtures), the fold is plain SQL and carries a DuckDB oracle
    on the driver roster (``plans.llm_queries.tokenizer_family_fold``),
    while iterative training itself stays pytest-pinned. One hash
    aggregate, |families| output rows; ratios are exact decimal
    rationals floored to micro-units (bit-stable across engines)."""
    return (
        stats.groupBy("family")
        .agg(
            F.min("vocab_rows").cast("long").alias("vocab_rows"),
            F.count(F.lit(1)).alias("n_docs"),
            # coalesce: SUM over zero rows is NULL; the roster canon
            # requires non-null integer columns (r10 ADVICE)
            F.coalesce(F.sum("n_tokens"), F.lit(0)).alias("n_tokens"),
            F.coalesce(F.sum("n_chars"), F.lit(0)).alias("n_chars"),
        )
        .select(
            "family",
            "vocab_rows",
            "n_docs",
            "n_tokens",
            _ratio_micro(
                F.col("n_tokens"), F.greatest(F.col("n_docs"), F.lit(1))
            ).alias("tokens_per_doc_micro"),
            _ratio_micro(
                F.col("n_chars"), F.greatest(F.col("n_tokens"), F.lit(1))
            ).alias("chars_per_token_micro"),
        )
    )


def tokenizer_family_compare(
    docs: DataFrame,
    n_merges: int = 64,
    vocab_size: int = 256,
    seed_size: int = 2048,
    text_col: str = "text",
) -> DataFrame:
    """The family-toggle decision frame a pipeline owner actually
    reads: train BOTH vocabularies on the same corpus (BPE merge
    induction and unigram-LM EM — each deterministic for a fixed
    corpus), tokenize every document under each, and fold to one row
    per family: ``(family, vocab_rows, n_docs, n_tokens,
    tokens_per_doc_micro, chars_per_token_micro)``. All columns are
    non-null integers/strings (driver-roster canon); the per-family
    ratios are exact decimal rationals floored to micro-units, so the
    comparison is bit-stable across runs and engines.

    Scale shape: ONE shared :func:`word_counts` pass (both trainers
    consume the same Zipf-capped top-words collect — the job path's
    sharing, and exactly the table each trainer would have built
    alone, so the trained artifacts are identical to separate
    training; the composition test pins that), two Arrow-batched
    encode passes, and one 2-group hash aggregate
    (:func:`tokenizer_family_fold`); nothing corpus-sized ever reaches
    the driver. The per-family stats frames themselves are
    pytest-pinned (Viterbi/merge-replay differentials); the fold is
    their pure composition and is additionally oracle-checked over
    pinned stats fixtures via ``plans.llm_queries``."""
    spark = docs.sparkSession
    top = (
        word_counts(docs, text_col)
        .orderBy(F.col("count").desc(), "word")
        .limit(100_000)
        .collect()
    )
    merges = spark.createDataFrame(
        _train_bpe_py(
            [(list(r["word"]), r["count"]) for r in top], n_merges, 2
        ),
        MERGES_SCHEMA,
    )
    uni_pieces, _ = _train_unigram_py(
        [(r["word"], r["count"]) for r in top],
        vocab_size,
        8,
        seed_size,
    )
    pieces = spark.createDataFrame(
        [(p, int(round(lp * 1_000_000))) for p, lp in uni_pieces],
        PIECES_SCHEMA,
    )

    def tag(stats: DataFrame, tok_col: str, family: str, vocab_rows: int):
        return stats.select(
            F.lit(family).alias("family"),
            F.lit(vocab_rows).cast("long").alias("vocab_rows"),
            "doc_id",
            F.col(tok_col).alias("n_tokens"),
            "n_chars",
        )

    # vocab_rows: trained-artifact sizes — both tables are driver-sized
    # by construction (merge cap / shrink target), so count() is a
    # bounded metadata read, not a data scan
    bpe = tag(
        bpe_token_stats(docs, merges, text_col=text_col),
        "n_bpe_tokens",
        "bpe",
        merges.count(),
    )
    uni = tag(
        unigram_token_stats(docs, pieces, text_col=text_col),
        "n_unigram_tokens",
        "unigram",
        pieces.count(),
    )
    return tokenizer_family_fold(bpe.unionByName(uni))


def write_unigram_tokenizer(pieces: DataFrame, path: str) -> int:
    """Publish a trained piece table as one atomically-committed
    ``version=N`` subtree — the same versioned-immutable contract as
    :func:`write_bpe_tokenizer` (one ``_COMMITTED`` marker), so BPE
    and unigram artifacts version identically and shards carry
    comparable lineage."""
    from .store import publish_version

    return publish_version({"pieces": pieces}, path)


def read_unigram_tokenizer(
    spark: SparkSession, path: str
) -> tuple[DataFrame, int] | None:
    """The live (pieces, version) pair, or None when no version is
    committed."""
    from .store import read_live

    got = read_live(spark, path, names=("pieces",))
    if got is None:
        return None
    (pieces,), n = got
    return pieces, n


def unigram_vocab(pieces) -> DataFrame:
    """The id-assigning view of a trained piece table:
    ``(token_id, piece, logprob_micro)`` with ids in the table's own
    deterministic order (logprob desc, piece) — a PURE FUNCTION of the
    pieces, assigned on a vocab-sized driver pass, so the single
    published table is the complete artifact (unlike BPE, whose vocab
    ids additionally depend on the corpus's base-alphabet pass)."""
    if isinstance(pieces, DataFrame):
        spark = pieces.sparkSession
        rows = pieces.collect()
    else:
        raise TypeError("unigram_vocab takes the pieces DataFrame")
    ordered = sorted(rows, key=lambda r: (-r["logprob_micro"], r["piece"]))
    return spark.createDataFrame(
        [(i, r["piece"], r["logprob_micro"]) for i, r in enumerate(ordered)],
        "token_id int, piece string, logprob_micro long",
    )


def unigram_encode_ids(
    docs: DataFrame,
    vocab: DataFrame,
    text_col: str = "text",
    out_col: str = "token_ids",
    oov_id: int = -1,
    max_piece_len: int | None = None,
) -> DataFrame:
    """Tokenize straight to integer ids under a frozen
    :func:`unigram_vocab` — the unigram twin of :func:`bpe_encode_ids`
    and what a training shard stores. Same Viterbi as
    :func:`unigram_encode` (the scores ride the same table, and
    ``max_piece_len`` likewise defaults to the table's own longest
    piece), so the id sequence is the string sequence mapped: in-vocab
    pieces get their ids; the single-char UNK fallback (a character
    the vocab never saw) maps to ``oov_id`` rather than failing the
    shard job — count downstream and re-train, the BPE contract."""
    from pyspark.sql.functions import pandas_udf

    rows = vocab.collect()
    scores = {r["piece"]: int(r["logprob_micro"]) for r in rows}
    ids = {r["piece"]: r["token_id"] for r in rows}
    if max_piece_len is None:
        max_piece_len = max((len(p) for p in scores), default=1)

    @pandas_udf("array<int>")
    def _enc(segs):  # pragma: no cover - executed on workers
        import pandas as pd

        memo: dict[str, list[int]] = {}
        out = []
        for seg_list in segs:
            toks: list[int] = []
            for w in seg_list:
                got = memo.get(w)
                if got is None:
                    got = [
                        ids.get(p, oov_id)
                        for p in _viterbi_py(w, scores, max_piece_len)
                    ]
                    memo[w] = got
                toks.extend(got)
            out.append(toks)
        return pd.Series(out)

    return docs.withColumn(out_col, _enc(pretokens(F.col(text_col))))
