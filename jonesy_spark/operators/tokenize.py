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
  * ``bpe_train_distributed`` is the unbounded path (no word cap): the
    per-round state stays a DataFrame, each round is one keyed
    aggregation (pair counts, map-side combined) + a 1-row driver
    action (the argmax pair — same bounded-collect precedent as the
    per-term fan-out) + a map-only fold applying the merge. Lineage is
    truncated on a ``localCheckpoint`` cadence exactly like the
    connected-components round loop (``operators.graph``). Verified
    merge-for-merge identical to the driver trainer in tests.
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
    word table; ``unigram_train_distributed`` is its unbounded twin
    (substring seed and every E-step are distributed over the FULL
    word-count table, only vocab-sized state reaches the driver; the
    control loop is shared verbatim, so the trainers agree to float-
    summation-order tolerance — tested); ``unigram_encode`` /
    ``unigram_encode_ids`` run deterministic integer-micro Viterbi
    behind the same Arrow memo boundary as ``bpe_encode``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caching import cache_scope, checkpoint, persist
from ..functions.scalars import micro_units

from ..functions.text import PRETOKEN_PATTERN
from .dedup import CPU_PARTITIONS

#: Output schema of both trainers — ``rank`` is the merge order (0 is
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
    pair (a, b) — the classic BPE application order. Identical to the
    SQL ``aggregate`` fold the distributed trainer uses (a just-merged
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
    lexicographically smallest pair). Pure Python on a capped table;
    the distributed twin reproduces it merge-for-merge (tested)."""
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
    near-singletons memorizes noise, and the distributed twin's
    stopping rule must agree exactly).

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


def _apply_merge_col(syms: Column, a: str, b: str) -> Column:
    """The SQL twin of :func:`_merge_word`: a left fold over the symbol
    array that merges adjacent (a, b) greedily. Whole-stage-codegen
    higher-order function — map-only, no shuffle, no Python."""
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (s == F.lit(b)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(a + b))
            ),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def _exact_batch_prefix(
    rows, start_rank: int, budget: int, min_pair_count: int
):
    """Select the maximal PREFIX of a (count desc, l, r)-ordered
    candidate page that the sequential trainer would provably pick in
    this order — the r6 #4 batching rule, exactness argument:

    * Pairs are accepted in page order while pairwise SYMBOL-DISJOINT
      (including each accepted merge's produced string, so a produced
      token can never collide with a later candidate's symbol). A
      disjoint pair's count is untouched by the earlier merges, so at
      its turn it still carries its original count.
    * Every pair OVERLAPPING the accepted set sits at/after the stop
      position (the page is sorted and we stop at the first overlap),
      so its count is <= c_stop. A merge (a, b) can only create pairs
      ``(x, ab)`` / ``(ab, y)`` whose counts are bounded by the
      ORIGINAL counts of ``(x, a)`` / ``(b, y)`` — overlapping pairs —
      hence every created pair's count is <= c_stop as well.
    * Therefore each accepted pair with count STRICTLY > c_stop beats
      every created, decreased, and unseen pair at its turn — the
      sequential argmax (count desc, l, r tie-break) picks exactly
      this prefix, in this order. Candidates at c_stop (where a tie
      with a created pair could flip the lexicographic pick) wait for
      the next round's fresh count table.

    Returns the accepted ``(rank, l, r, produced, count)`` rows and
    whether the stop was the ``min_pair_count`` floor (train is done).
    """
    accepted: list[tuple[int, str, str, str, int]] = []
    used: set[str] = set()
    floored = False
    # everything NOT on the page is bounded by the page's last count
    # (the page is one row larger than the budget precisely to witness
    # this bound); a complete page means no unseen pairs at all
    c_stop = rows[-1]["c"] if len(rows) > budget else min_pair_count - 1
    for row in rows[:budget]:
        a, b, c = row["l"], row["r"], row["c"]
        if c < min_pair_count:
            floored = True
            break
        if {a, b, a + b} & used:
            # the first overlapping candidate ALSO bounds every pair a
            # prior merge can create or shrink (created (x, ab) counts
            # are <= the original (x, a) count, and every overlapping
            # pair sorts at/after this position) — fold it into c_stop
            c_stop = max(c_stop, c)
            break
        accepted.append((start_rank + len(accepted), a, b, a + b, c))
        used |= {a, b, a + b}
    # strictness trim: ranks 2+ must beat c_stop outright, or a created
    # pair could tie them and win the lexicographic tie-break; the head
    # is the true argmax of the CURRENT table and always stands
    while len(accepted) > 1 and accepted[-1][4] <= c_stop:
        accepted.pop()
    return accepted, floored and not accepted


def bpe_train_distributed(
    docs: DataFrame,
    n_merges: int = 256,
    text_col: str = "text",
    min_count: int = 1,
    min_pair_count: int = 2,
    checkpoint_every: int = 8,
    batch_candidates: int = 32,
) -> DataFrame:
    """The unbounded-word-table trainer: per-round state is the
    ``(symbols, count)`` DataFrame itself, never collected. Each round
    costs one keyed pair-count aggregation (map-side combined; the pair
    stream is built map-side from array slices, the span-dedup idiom),
    one bounded top-page collect (``batch_candidates + 1`` rows), and
    ONE map-only fold applying every merge the page proves safe —
    :func:`_exact_batch_prefix` selects the maximal symbol-disjoint,
    strictly-above-the-stop-count prefix, which the sequential trainer
    provably emits in the same order (VERDICT r6 #4: merges per job
    > 1 instead of one 32k-merge vocab costing 32k Spark jobs).
    ``localCheckpoint`` every ``checkpoint_every`` rounds truncates
    lineage exactly like the connected-components loop; each round's
    state is persisted and the predecessor released, so no round
    replays its ancestors.

    Same deterministic tie-break and ``min_pair_count`` stop as
    :func:`bpe_train` — the two trainers are merge-for-merge identical
    on any corpus whose word table survives the cap (tested).
    """
    merges: list[tuple[int, str, str, str, int]] = []
    rounds = 0
    with cache_scope():
        state = persist(
            word_counts(docs, text_col)
            .filter(F.col("count") >= min_count)
            .select(F.split("word", "").alias("syms"), "count")
            .repartition(CPU_PARTITIONS)
        )
        while len(merges) < n_merges:
            rounds += 1
            # pair stream built map-side from an indexed transform; the
            # slice guard (not sequence()) keeps 1-symbol words empty —
            # sequence(1, 0) DESCENDS in Spark — and get() is the
            # ANSI-safe subscript for the final null-padded slot
            pairs = (
                state.select(
                    F.explode(
                        F.expr(
                            "slice(transform(syms, (s, i) -> "
                            "struct(get(syms, i) as l, get(syms, i + 1) as r)), "
                            "1, greatest(size(syms) - 1, 0))"
                        )
                    ).alias("p"),
                    "count",
                )
                .groupBy("p.l", "p.r")
                .agg(F.sum("count").alias("c"))
            )
            budget = min(batch_candidates, n_merges - len(merges))
            page = (
                pairs.orderBy(F.col("c").desc(), "l", "r")
                .limit(budget + 1)
                .collect()
            )
            if not page:
                break
            accepted, floored = _exact_batch_prefix(
                page, len(merges), budget, min_pair_count
            )
            if not accepted:
                break
            merges.extend(accepted)
            syms = F.col("syms")
            for _, a, b, _, _ in accepted:
                syms = _apply_merge_col(syms, a, b)
            nxt = state.select(syms.alias("syms"), "count")
            if rounds % checkpoint_every == 0:
                nxt = checkpoint(nxt)
            nxt = persist(nxt)
            # drop the superseded round's cache; a checkpoint stays
            # until the scope closes, since the still-lazy nxt reads it
            state.unpersist()
            state = nxt
            if floored:
                break
    out = docs.sparkSession.createDataFrame(merges, MERGES_SCHEMA)
    out._jonesy_train_rounds = rounds  # observability for tests/SCALE.md
    return out


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


def live_merges_version(spark: SparkSession, path: str) -> int | None:
    """The committed merge-table version currently served, or None when
    none is published (the shared ``store.live_version`` contract:
    atomic ``_COMMITTED`` publish, crashed writes invisible)."""
    from .store import live_version

    return live_version(spark, path)


def write_bpe_merges(merges: DataFrame, path: str) -> int:
    """Publish a trained merge table as the next ``version=N`` subtree,
    made live by an atomic ``_COMMITTED`` marker create. Returns the
    published version number.

    A merge table is a VOCABULARY CONTRACT: every artifact encoded
    under it (packed sequences, token counts, downstream training
    shards) is only comparable to artifacts encoded under the SAME
    table, so the store is versioned-immutable like the IVF centroid
    tables — retraining publishes a new version, it never mutates one.
    Version numbering skips past crashed (uncommitted) attempts, and
    the table itself is one coalesced file (``n_merges`` rows —
    driver-sized by definition)."""
    from .store import publish_version

    return publish_version(merges, path)


def read_bpe_merges(spark: SparkSession, path: str) -> DataFrame | None:
    """The live (latest committed) merge table, or None when no version
    has been published — crashed partial writes are invisible by
    construction (no ``_COMMITTED`` marker)."""
    from .store import read_live

    got = read_live(spark, path)
    return None if got is None else got[0][0]


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
    never see a new vocab with old merges mid-publish). Same
    versioned-immutable contract as :func:`write_bpe_merges`; use THIS
    store when downstream consumes ids (training shards), the
    merges-only store when it consumes token strings. The two layouts
    differ (subtrees vs a bare table), so give each store its own
    path."""
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


def oov_report(shards: DataFrame) -> DataFrame:
    """Nightly OOV-rate report over a tokenized shard table (the
    ``run_tokenized_shard_stream`` / :func:`bpe_encode_ids` output):
    per (tokenizer_version, ingest_batch) docs, token totals, OOV
    totals and rate — one keyed aggregation over per-row counters, no
    re-tokenization. A rising ``oov_rate`` across batches is the
    re-train-the-vocab alarm; a STEP at a version bump is the expected
    signature of the new vocab taking over."""
    keys = [
        c for c in ("tokenizer_version", "ingest_batch") if c in shards.columns
    ]
    # the shard schema names its token count for its family; read
    # either — but a table carrying BOTH is two families written to one
    # path (schema-merged parquet with nulls in each half), whose token
    # totals are not comparable: reject it instead of silently summing
    # one family's column against every row's doc count
    has_bpe = "n_bpe_tokens" in shards.columns
    has_uni = "n_unigram_tokens" in shards.columns
    if has_bpe and has_uni:
        raise ValueError(
            "shards table carries both n_bpe_tokens and "
            "n_unigram_tokens — mixed tokenizer families in one shards "
            "path; give each family its own path"
        )
    if not has_bpe and not has_uni:
        raise ValueError(
            "shards table carries neither n_bpe_tokens nor "
            "n_unigram_tokens — not a tokenized shards table (expected "
            f"one family token column; got {shards.columns})"
        )
    tok_col = "n_bpe_tokens" if has_bpe else "n_unigram_tokens"
    return (
        shards.groupBy(*keys)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(tok_col).alias("n_tokens"),
            F.sum("n_oov").alias("n_oov"),
        )
        .withColumn(
            "oov_rate",
            F.round(
                F.col("n_oov") / F.greatest(F.col("n_tokens"), F.lit(1)), 6
            ),
        )
    )


def tokenizer_drift(old_merges: DataFrame, new_merges: DataFrame) -> DataFrame:
    """One-row drift report between two merge tables — the re-ship
    decision input when :func:`oov_report` alarms: ``(n_old, n_new,
    n_shared, n_rank_moved, jaccard, prefix_len)``. ``n_shared``
    counts merges present in both (by (left, right) pair),
    ``n_rank_moved`` those shared but at a different rank,
    ``prefix_len`` the length of the common PREFIX (identical pair at
    every rank up to it) — BPE merges are order-sensitive, so a long
    shared prefix means shards encoded under the old table stay
    byte-identical up to tokens formed past that point. Driver-sized
    inputs by definition (merge tables); one join, no corpus access."""
    o = old_merges.select(
        F.col("rank").alias("rank_old"), "left", "right"
    )
    n = new_merges.select(
        F.col("rank").alias("rank_new"), "left", "right"
    )
    j = o.join(n, ["left", "right"], "full_outer")
    agg = j.agg(
        F.count(F.when(F.col("rank_old").isNotNull(), 1)).alias("n_old"),
        F.count(F.when(F.col("rank_new").isNotNull(), 1)).alias("n_new"),
        F.count(
            F.when(
                F.col("rank_old").isNotNull() & F.col("rank_new").isNotNull(),
                1,
            )
        ).alias("n_shared"),
        F.count(
            F.when(
                F.col("rank_old").isNotNull()
                & F.col("rank_new").isNotNull()
                & (F.col("rank_old") != F.col("rank_new")),
                1,
            )
        ).alias("n_rank_moved"),
        F.min(
            F.when(
                F.col("rank_old").isNull() | F.col("rank_new").isNull()
                | (F.col("rank_old") != F.col("rank_new")),
                F.coalesce("rank_old", "rank_new"),
            )
        ).alias("__first_div"),
    )
    return agg.select(
        "n_old",
        "n_new",
        "n_shared",
        "n_rank_moved",
        micro_units(
            F.col("n_shared")
            / F.greatest(
                F.col("n_old") + F.col("n_new") - F.col("n_shared"), F.lit(1)
            )
        ).alias("jaccard_micro"),
        F.coalesce(
            F.col("__first_div"), F.least("n_old", "n_new")
        ).cast("int").alias("prefix_len"),
    )


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
    logp = _seed_unigram_py(words, max_piece_len, seed_size)
    return _train_unigram_loop(
        lambda lp: _em_step_py(words, lp, max_piece_len),
        logp,
        vocab_size,
        em_iters_per_round=em_iters_per_round,
        shrink=shrink,
    )


def _train_unigram_loop(
    em_step,
    logp: dict[str, float],
    vocab_size: int,
    em_iters_per_round: int = 2,
    shrink: float = 0.75,
) -> tuple[list[tuple[str, float]], list[float]]:
    """The trainer's driver-side control loop, shared verbatim by the
    in-driver and the distributed trainer — only the E-step
    (``em_step(logp) -> (expected counts, corpus ll)``) differs, so
    the two trainers can only disagree where float summation order
    does (tested to micro tolerance). State (``logp``) is vocab-sized
    throughout: the loop never touches the corpus or the word table
    except through ``em_step``."""
    import math

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
            expected, ll = em_step(logp)
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
            expected, ll = em_step(logp)
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


def unigram_drift(old_pieces: DataFrame, new_pieces: DataFrame) -> DataFrame:
    """One-row drift report between two unigram piece tables — the
    unigram twin of :func:`tokenizer_drift` and the same re-ship
    decision input: ``(n_old, n_new, n_shared, n_id_moved,
    jaccard_micro, mean_abs_dlogprob_micro)``. Unlike BPE merges,
    pieces are ORDER-FREE (ids are a pure rank of the table itself),
    so instead of a common-prefix length the report carries the mean
    absolute log-prob movement over shared pieces — the quantity that
    actually moves Viterbi segmentations. ``n_id_moved`` counts shared
    pieces whose :func:`unigram_vocab` id changed (shard
    id-compatibility at a glance). Vocab-sized inputs by definition;
    one join, no corpus access."""
    o = unigram_vocab(old_pieces).select(
        "piece",
        F.col("token_id").alias("id_old"),
        F.col("logprob_micro").alias("lp_old"),
    )
    n = unigram_vocab(new_pieces).select(
        "piece",
        F.col("token_id").alias("id_new"),
        F.col("logprob_micro").alias("lp_new"),
    )
    j = o.join(n, "piece", "full_outer")
    shared = F.col("id_old").isNotNull() & F.col("id_new").isNotNull()
    return j.agg(
        F.count(F.when(F.col("id_old").isNotNull(), 1)).alias("n_old"),
        F.count(F.when(F.col("id_new").isNotNull(), 1)).alias("n_new"),
        F.count(F.when(shared, 1)).alias("n_shared"),
        F.count(
            F.when(shared & (F.col("id_old") != F.col("id_new")), 1)
        ).alias("n_id_moved"),
        micro_units(
            F.count(F.when(shared, 1))
            / F.greatest(
                F.count(F.lit(1)),
                F.lit(1),
            )
        ).alias("jaccard_micro"),
        F.coalesce(
            F.avg(F.when(shared, F.abs(F.col("lp_old") - F.col("lp_new")))),
            F.lit(0.0),
        ).cast("long").alias("mean_abs_dlogprob_micro"),
    )


def _seed_unigram_distributed(
    wc: DataFrame, max_piece_len: int, seed_size: int
) -> dict[str, float]:
    """The distributed twin of :func:`_seed_unigram_py`: substring
    candidates enumerated JVM-side (a nested ``transform`` over
    position x length sequences — map-only, whole-stage codegen), one
    keyed aggregation for the weighted substring counts, singles kept
    unconditionally, the top ``seed_size`` multi-char candidates by
    (count*len desc, piece) via orderBy+limit. Only the RESULT —
    alphabet + seed_size rows — reaches the driver, so the seed is
    computable over a word table no driver could hold. Same multiset
    semantics as the in-driver seed (overlapping repeats inside one
    word each count), so on a shared word table the two seeds are
    IDENTICAL up to float division."""
    import math

    # guard: sequence(1, length(word)) on a zero-length word yields a
    # DESCENDING [1, 0] sequence whose empty-string pieces would linger
    # in logp (len('') escapes both pruning paths); pretokens never
    # emits empty segments today, but arbitrary word-count inputs must
    # not depend on that
    wc = wc.filter(F.length("word") > 0)
    subs = (
        wc.select(
            F.explode(
                F.expr(
                    "flatten(transform(sequence(1, length(word)), i -> "
                    f"transform(sequence(i, least(i + {int(max_piece_len)}"
                    " - 1, length(word))), j -> "
                    "substring(word, i, j - i + 1))))"
                )
            ).alias("piece"),
            F.col("count"),
        )
        .groupBy("piece")
        .agg(F.sum("count").alias("c"))
    )
    singles = subs.filter(F.length("piece") == 1).collect()
    multi = (
        subs.filter(F.length("piece") > 1)
        .withColumn("score", F.col("c") * F.length("piece"))
        .orderBy(F.col("score").desc(), "piece")
        .limit(seed_size)
        .collect()
    )
    scores = {r["piece"]: float(r["c"]) for r in singles}
    scores.update({r["piece"]: float(r["score"]) for r in multi})
    total = sum(scores.values())
    return {p: math.log(s / total) for p, s in scores.items()}


def unigram_em_step_distributed(
    wc: DataFrame, logp: dict[str, float], max_piece_len: int
) -> tuple[dict[str, float], float]:
    """One distributed EM iteration: the forward-backward lattice runs
    per word inside an Arrow-batched ``mapInPandas`` (the vocab-sized
    ``logp`` dict rides the closure, the broadcast-dict contract), each
    word emits its per-piece expected counts plus one log-likelihood
    row flagged by an explicit ``is_ll`` column (a typed flag, not a
    name sentinel — a real piece containing any byte sequence can
    never collide with it), and ONE keyed aggregation folds them
    corpus-wide — the word table is the only distributed input, never
    collected. Numerically identical to :func:`_em_step_py` per word;
    corpus sums differ only in float addition order (tested to micro
    tolerance)."""

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            pieces: list[str] = []
            exps: list[float] = []
            is_ll: list[bool] = []
            for w, c in zip(pdf["word"], pdf["count"]):
                expected, ll = _em_step_py([(w, int(c))], logp, max_piece_len)
                for p, e in expected.items():
                    pieces.append(p)
                    exps.append(e)
                    is_ll.append(False)
                pieces.append("")
                exps.append(ll)
                is_ll.append(True)
            yield pd.DataFrame(
                {"piece": pieces, "exp": exps, "is_ll": is_ll}
            )

    folded = (
        wc.select("word", "count")
        .mapInPandas(gen, schema="piece string, exp double, is_ll boolean")
        .groupBy("piece", "is_ll")
        .agg(F.sum("exp").alias("exp"))
        .collect()  # bounded: vocab + 1 log-likelihood rows
    )
    expected = {r["piece"]: r["exp"] for r in folded if not r["is_ll"]}
    ll = next((r["exp"] for r in folded if r["is_ll"]), 0.0)
    return expected, ll


def unigram_train_distributed(
    docs: DataFrame,
    vocab_size: int = 512,
    text_col: str = "text",
    max_piece_len: int = 8,
    seed_size: int = 4096,
) -> DataFrame:
    """The unbounded-word-table unigram trainer — the
    :func:`bpe_train_distributed` complement: no ``max_words`` cap
    anywhere. The seed aggregates substrings distributedly
    (:func:`_seed_unigram_distributed`), every E-step is one Arrow
    pass + one keyed fold over the full word-count table
    (:func:`unigram_em_step_distributed`), and only vocab-sized state
    (the ``logp`` dict, the folded expected counts) ever reaches the
    driver — the same control loop as :func:`unigram_train`, shared
    verbatim (``_train_unigram_loop``), so the two trainers can only
    diverge where float summation order does (pinned to micro
    tolerance in tests). Output schema matches :func:`unigram_train`.

    Scale note: each EM round re-reads the word-count table; persist
    it upstream (or let the parquet cache serve it) when training
    many rounds — the table is Heaps-bounded, orders of magnitude
    smaller than the corpus."""
    wc = word_counts(docs, text_col)
    logp = _seed_unigram_distributed(wc, max_piece_len, seed_size)
    pieces, _ = _train_unigram_loop(
        lambda lp: unigram_em_step_distributed(wc, lp, max_piece_len),
        logp,
        vocab_size,
    )
    spark = docs.sparkSession
    return spark.createDataFrame(
        [(p, int(round(lp * 1_000_000))) for p, lp in pieces], PIECES_SCHEMA
    )
