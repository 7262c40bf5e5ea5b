"""Deduplication operators for the LLM-data-pipeline surface: exact,
MinHash-LSH, SimHash, and n-gram-Jaccard near-dup.

Scale design (the whole point at 100 TB):
  * never all-pairs — every near-dup operator *blocks* first (LSH band
    buckets, simhash pigeonhole bands) so the self-join is an equi-join
    on a bucket key whose cardinality grows with the corpus, not a
    cross join;
  * sketches run RELATIONALLY — explode elements, one codegen'd md5 per
    element, then min/sum aggregates under a partitioning already keyed
    on doc_id (the groupBy reuses the explicit repartition, so sketch
    reassembly is partition-local: no extra shuffle). Higher-order
    lambdas (transform/aggregate) are interpreted per element in Spark
    and were measured 5-10x slower for exactly this work;
  * element sets are carried as 28-bit int hashes (ONE md5 per element,
    shared by sketch and verification) — int array intersections are
    ~2x cheaper than string intersections and shuffle tighter rows;
  * candidate verification (true Jaccard / Hamming) runs only on pairs
    that share a bucket — the expensive step sees a vanishing fraction
    of n²;
  * degenerate hot buckets (a real crawl's empty/boilerplate docs all
    sharing a band key) are capped: over-full buckets skip O(k²) pair
    enumeration and collapse to their min-id representative
    (:func:`_split_by_bucket_size`).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# release_caches is re-exported: the benchmark harness imports it from here
from ..caching import persist, release_caches  # noqa: F401
from ..functions import text as TX
from ..functions.scalars import micro_units


class PairBudgetExceeded(ValueError):
    """A bounded-tier contract refusal: an exact-enumeration operator
    counted its candidate pairs and found them over the configured
    budget (``pair_density_limit`` / ``max_truth_pairs``). Distinct
    from ValueError so probes (``scripts/scale_probe.py``) can record
    the refusal as a RESULT without swallowing unrelated parameter
    validation errors (ADVICE r13)."""


def _micro_threshold(threshold: float) -> int:
    """A similarity threshold in the same fixed-point micro-units the
    pair operators emit (``functions.scalars.micro_units``): filtering
    on the INTEGER makes the cut boundary bit-identical across engines
    — the comparison that decides row membership never touches a
    float."""
    return int(round(threshold * 1_000_000))


def _eval_once(col: Column) -> Column:
    """Pin an expensive per-pair verify expression to ONE evaluation.

    Every pair operator ends ``withColumn("jaccard", <expr>)`` followed
    by ``.filter(jaccard >= t)``. Catalyst inlines the alias and pushes
    the comparison down — into the candidate join's residual condition
    (the batch ops) or against the pair-dedup boundary (the index
    probes) — so ``<expr>`` is evaluated once per candidate in the
    pushed filter AND once more in the surviving row's projection.
    Codegen subexpression elimination only applies inside ProjectExec /
    HashAggregateExec, not to join residuals or Filter conditions, so
    ``jaccard_micro``'s internal ``array_intersect`` twin (numerator +
    union denominator) is not collapsed there either: ~3 hash-set
    intersections per surviving pair where 1 suffices — and for
    :func:`estimated_jaccard` each evaluation is an INTERPRETED
    16-element higher-order fold.

    The guard is guide §4.4's mechanism (mark the expensive expression
    non-deterministic so the optimizer may not duplicate or reorder
    it) applied to a built-in expression: wrapping the alias in an
    always-true non-deterministic predicate pins the projection in
    place — the filter then compares the already-computed column value.
    ``monotonically_increasing_id() >= 0`` holds for every row by
    construction (the id is a non-negative partition offset and its
    value is never used), so output values are bit-identical; only the
    evaluation count changes.

    Measured (r14, sf0.1): isolated verify stage of prefix_jaccard
    (6.47 M candidate pairs, candidates + token sets persisted so ONLY
    the re-attach + jaccard + filter is timed, 7 interleaved rounds):
    guarded med 1.60 s / min 1.50 vs pushdown med 1.80 / min 1.71 —
    the guard won every paired round (~12 %). Full-row effects are
    within the machine window at sf0.1 (two 5/9-round interleaved
    sessions: prefix med 4.81 vs 6.43 and 11.81 vs 13.45 in a degraded
    window, minhash/ngram/incremental/embedding a wash) — the verify
    expression is a minority of those rows' total, but it is the part
    that grows with pair density, so the halved evaluation count is
    kept. Guarded outputs were collect()-identical on all seven
    affected rows at sf0.001 before flipping the default.

    Nullability note (ADVICE r14): ``F.when`` without ``otherwise``
    declares the guarded column NULLABLE even though no value can
    actually be null (the predicate holds for every row). This is
    deliberate: appending ``.otherwise(col)`` would place the
    expensive expression in the plan TWICE (both branches — only one
    evaluates per row, but it hands a future optimizer rule an
    identical-branch collapse that would silently restore the
    duplicated evaluation, and it breaks the exactly-once plan pin in
    tests/test_plans.py). The nullability diff is demonstrably
    tolerated by every downstream comparison: the driver's oracle
    check hashes VALUES and compares column names/types, not
    nullability (CORRECTNESS_r14: all seven guarded rows
    schema_match=true), and parquet round-trips store the same
    optional-everywhere schema either way."""
    return F.when(F.monotonically_increasing_id() >= 0, col)


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup on normalized text: lowercase, trim, collapse runs of
    whitespace, then group by md5 and keep the min id as representative.

    One hash-aggregate shuffle on the 32-char digest (not the full
    text — at 100 TB grouping on the raw document would shuffle the
    corpus; the digest shuffles 32 bytes/row).
    """
    norm = F.lower(F.trim(F.regexp_replace(F.col(text_col), r"\s+", " ")))
    return (
        df.select(F.col(id_col), F.md5(norm).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("representative_id"),
            F.count("*").alias("n_copies"),
        )
    )


#: Forced parallelism for CPU-bound sketch/verify stages. AQE coalesces
#: exchanges by *byte* size; these stages are tiny in bytes but heavy in
#: CPU (md5 sketches, set intersections), so without an explicit
#: repartition they collapse to one task on small inputs. An explicit
#: numPartitions is respected by AQE. Scale-parameterized (r14 round
#: rule: no constants tuned to the local core count): defaults to
#: 2x $SPARK_GRAFT_CPUS (64 on the local[32] bench — unchanged bench
#: behavior, and the driver's lower-core scaling runs see parallelism
#: track the core budget instead of a 32-core magic number); a cluster
#: deployment sets SPARK_GRAFT_CPU_PARTITIONS to ~2-3x its
#: executor-core total so these stages keep every core busy without
#: thousands of micro-tasks. Partition COUNT never changes values:
#: every consumer aggregates/windows under explicit keys.
CPU_PARTITIONS = int(
    os.environ.get("SPARK_GRAFT_CPU_PARTITIONS")
    or 2 * int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
)


def element_hash(col: Column) -> Column:
    """28-bit integer hash of a string element: the leading 7 hex digits
    of its md5. md5 hex is identical across engines and DuckDB casts
    '0x'||hex to BIGINT, so every downstream bucket/intersection is
    exactly reproducible in the oracle. Jaccard over this hashed space
    equals raw-space Jaccard up to 28-bit collisions (P ~ |set|^2/2^29
    per doc, ~1e-4 at 300 grams)."""
    return F.conv(F.substring(F.md5(col), 1, 7), 16, 10).cast("long")


#: Default hot-bucket guard: band buckets with more members than this skip
#: pair enumeration (O(k²)) and collapse to their min-id representative
#: (O(k)). See :func:`_split_by_bucket_size`.
BUCKET_CAP = 256


def _split_by_bucket_size(
    banded: DataFrame,
    keys: list[str],
    carry: list[str],
    bucket_cap: int | None,
    op: str = "dedup",
    cache_stats: bool = False,
) -> tuple[DataFrame, DataFrame | None]:
    """Split banded rows into (small, collapsed) by bucket population.

    The band self-join emits O(k²) candidate pairs for a bucket of k
    members, and AQE skew handling cannot reduce that *count* — it only
    parallelizes processing of a hot key. A real crawl has degenerate
    band keys (empty/boilerplate docs) where one bucket holds millions
    of docs, a 10¹²-pair blowup. Guard: count members per bucket first;
    buckets over ``bucket_cap`` skip enumeration entirely and emit only
    (min-id representative, member) pairs — O(k) — which still flow
    through exact verification, so precision is unchanged; recall inside
    an over-full bucket degrades to the rep's star (its members are
    near-certain duplicates of each other at any sane threshold, and
    connected-components clustering downstream reunites them anyway).

    Cost design (r5): the per-bucket stats are WINDOW functions over a
    partitioning by exactly the band keys the downstream self-join
    equi-joins on — so the split rides the join's own shuffle instead
    of adding one. Catalyst reuses the single ``Exchange
    hashpartitioning(keys)`` under both join sides (and the collapsed
    probe), and the window's sort on the partition keys satisfies the
    sort-merge join's ordering requirement, so the no-hot-bucket case
    pays ONE shuffle of the banded rows where the r4 broadcast-split
    paid a full extra aggregation shuffle plus two probe passes (~2.5 s
    of the 3 s simhash gap vs the uncapped r2 shape, measured this
    session; the r3 stats-join variant was worse still). A hot key does
    put its whole bucket in one window task — linear in k, which is
    exactly the O(k) the cap guarantees; AQE can't split a window
    partition, but it never needs to: the O(k²) enumeration is gone.
    ``carry`` columns ride inside the window min-struct so the
    representative's payload (sizes, fingerprints) is available without
    any join. This is also bit-for-bit the oracle's formulation (the
    ``bstat`` CTE's ``count(*) OVER`` / ``min() OVER``).

    The collapsed branch carries a ``CollectMetrics`` observation named
    ``hot_buckets_{op}`` (``collapsed_members``, ``hot_buckets``) so
    production jobs can see the cap fire via a QueryExecutionListener /
    ``Observation`` without extra jobs.

    Returns ``(small, collapsed)``: ``small`` is banded rows in
    buckets <= cap (self-join these), ``collapsed`` is banded rows in
    over-full buckets with ``bkt_rep.*`` attached, representative row
    excluded (pair each directly with its rep); ``(banded, None)`` when
    ``bucket_cap`` is None.
    """
    if bucket_cap is None:
        return banded, None
    from pyspark.sql import Window

    w = Window.partitionBy(*keys)
    stats = banded.select(
        "*",
        F.count(F.lit(1)).over(w).alias("bkt_n"),
        F.min(F.struct(*carry)).over(w).alias("bkt_rep"),
    )
    if cache_stats:
        # One window evaluation shared by all three consumers; the
        # InMemoryRelation keeps the child's hashpartitioning(keys), so
        # the downstream self-join still needs no re-shuffle.
        stats = persist(stats)
    small = stats.filter(F.col("bkt_n") <= bucket_cap).drop("bkt_n", "bkt_rep")
    collapsed = (
        stats.filter(
            (F.col("bkt_n") > bucket_cap)
            & (F.col(carry[0]) > F.col(f"bkt_rep.{carry[0]}"))
        )
        .drop("bkt_n")
        .observe(
            f"hot_buckets_{op}",
            F.count(F.lit(1)).alias("collapsed_members"),
            # DISTINCT aggregates are disallowed in observed metrics;
            # HLL approx is fine and plenty for an alerting signal.
            F.approx_count_distinct(F.struct(*keys)).alias("hot_buckets"),
        )
    )
    return small, collapsed


def _minhash_min_aggs(n_hashes: int) -> list[Column]:
    """One ``min`` aggregate per MinHash permutation over the exploded
    element-hash column ``h``: permutation i is (a_i*h + b_i) mod 2^31-1
    with deterministic coefficients (see functions.text constants) —
    integer multiply-add-mod inside a codegen'd aggregate, never a
    per-permutation md5."""
    p = TX.MERSENNE31
    aggs = []
    for i in range(n_hashes):
        a_i = (TX.A_MULT * (i + 1)) % p
        b_i = (TX.B_MULT * (i + 1)) % p
        aggs.append(
            F.min((F.lit(a_i) * F.col("h") + F.lit(b_i)) % p).alias(f"mh{i}")
        )
    return aggs


def _band_structs(n_bands: int, band_size: int) -> Column:
    """(band_id, band_key) structs from the ``mh{i}`` min columns; the
    band key is md5-compressed (32 chars instead of band_size renderings
    — a smaller join/shuffle key, mirrored exactly in the oracle)."""
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.md5(
                    F.concat_ws(
                        ",",
                        *[
                            F.col(f"mh{i}").cast("string")
                            for i in range(b * band_size, (b + 1) * band_size)
                        ],
                    )
                ).alias("band_key"),
            )
            for b in range(n_bands)
        ]
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 16,
    n_bands: int = 2,
    threshold: float = 0.8,
    bucket_cap: int | None = BUCKET_CAP,
) -> DataFrame:
    """MinHash + LSH near-duplicate pairs with exact-Jaccard verification
    over hashed token sets.

    Pipeline: explode whitespace tokens → 28-bit element hash (one
    codegen'd md5 each) → per-doc agg (collect_set + n_hashes min
    permutations; partition-local — the groupBy reuses the explicit
    doc_id repartition) → band keys → self-equi-join on (band_id,
    band_key) → distinct candidate pairs → verify true hashed-set
    Jaccard >= threshold.

    With b bands of r rows, P(candidate) = 1-(1-j^r)^b — the b/r choice
    tunes the recall/cost knee. The band join is the only quadratic-risk
    shuffle; band-key cardinality grows with corpus size, and degenerate
    hot buckets (boilerplate/empty docs sharing a band) are guarded by
    ``bucket_cap``: over-full buckets collapse to their min-id
    representative instead of enumerating O(k²) pairs (see
    :func:`_split_by_bucket_size`).
    """
    band_size = n_hashes // n_bands
    ex = (
        df.repartition(CPU_PARTITIONS, F.col(id_col))
        .select(
            F.col(id_col).alias("doc_id"),
            F.explode(F.split(F.lower(F.trim(F.col(text_col))), " ")).alias("t"),
        )
        .select("doc_id", element_hash(F.col("t")).alias("h"))
    )
    # Cache choice (re-A/B'd r14 per VERDICT r13 #3, sf0.1, TWO
    # independent interleaved same-session runs of 5 rounds each after
    # 8 warm-up runs): session A min/med — stats 2.56/3.06, tok
    # 3.41/3.54, checkpoint 2.13/2.25, stats+tok 2.85/2.97; session B —
    # stats 2.63/2.93, checkpoint 3.12/3.29, tok+eager 3.15/3.23,
    # stats+tok+eager 2.91/3.05. The stats/checkpoint WINNER FLIPS
    # between sessions: the four strategies are within the ±40 %
    # session-to-session machine window at this row's ~2-3 s magnitude,
    # which also adjudicates the r11(2.16) vs r13(3.4) "regression" —
    # window noise, not a strategy change. Only the window stats are
    # cached: never slower than noise, and it keeps lineage (the
    # checkpoint arm truncates it — a lost executor then kills the job
    # instead of recomputing, the wrong trade at 1000 executors).
    tok = ex.groupBy("doc_id").agg(
        F.collect_set("h").alias("toks"), *_minhash_min_aggs(n_hashes)
    )
    banded = tok.select(
        "doc_id",
        F.size("toks").alias("sz"),
        F.explode(_band_structs(n_bands, band_size)).alias("band"),
    ).select("doc_id", "sz", F.col("band.band_id").alias("band_id"), F.col("band.band_key").alias("band_key"))
    small, collapsed = _split_by_bucket_size(
        banded, ["band_id", "band_key"], ["doc_id"], bucket_cap,
        op="minhash", cache_stats=True,
    )
    a, b = small.alias("a"), small.alias("b")
    # Candidate pairs carry ids only — the band join and the pair dedup
    # shuffle 16-byte rows, never the token arrays. The token-set size
    # rides along (one int) so the threshold-implied size-ratio bound
    # (j >= t forces |A|/|B| within [t, 1/t]) kills impossible pairs at
    # hash-probe time, before the distinct shuffle or any re-attach.
    candidates = a.join(
        b,
        (F.col("a.band_id") == F.col("b.band_id"))
        & (F.col("a.band_key") == F.col("b.band_key"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
        & (F.col("a.sz") >= threshold * F.col("b.sz"))
        & (F.col("b.sz") >= threshold * F.col("a.sz")),
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
    )
    if collapsed is not None:
        # rep < member by construction (rep = bucket min), so pair order
        # holds; no size-ratio prune here — exact verification below is
        # the filter, and the prune is only a lossless short-circuit.
        candidates = candidates.unionByName(
            collapsed.select(
                F.col("bkt_rep.doc_id").alias("doc_a"),
                F.col("doc_id").alias("doc_b"),
            )
        )
    candidates = candidates.dropDuplicates(["doc_a", "doc_b"])
    # Token sets re-attach via keyed joins on doc_id — NOT a forced
    # broadcast: at 100 TB the token table IS the corpus, so the join
    # must be able to degrade to a shuffle join. Catalyst auto-broadcasts
    # the token side while its size estimate is under
    # spark.sql.autoBroadcastJoinThreshold and otherwise plans a
    # sort-merge/shuffled-hash join on doc_id — each side shuffles once,
    # O(corpus), never O(pairs × corpus).
    ta = tok.select(F.col("doc_id").alias("doc_a"), F.col("toks").alias("toks_a"))
    tb = tok.select(F.col("doc_id").alias("doc_b"), F.col("toks").alias("toks_b"))
    # Parallelism floor for the CPU-dense verify is a HASH repartition
    # on doc_a, not round-robin: keyless repartition pays a local sort
    # of every pair row (sortBeforeRepartition, SPARK-23207) that the
    # hash form skips — isolated re-attach A/B at sf0.1 (6.47 M pairs,
    # scripts/reattach_repart_probe.py): rr med 5.33 s vs hash 2.34 vs
    # no-repartition 2.39, rr slower in all 7 paired rounds. Hash on
    # doc_a also pre-satisfies the re-attach join's distribution when
    # it degrades to sort-merge at corpus scale; hot doc_a skew is
    # bounded by the band/bucket caps (a doc joins <= bands x cap
    # pairs).
    verified = (
        candidates.repartition(CPU_PARTITIONS, F.col("doc_a"))
        .join(ta, "doc_a")
        .join(tb, "doc_b")
    )
    return (
        verified.withColumn(
            "jaccard_micro",
            _eval_once(TX.jaccard_micro(F.col("toks_a"), F.col("toks_b"))),
        )
        .filter(F.col("jaccard_micro") >= _micro_threshold(threshold))
        .select("doc_a", "doc_b", "jaccard_micro")
    )


def minhash_banded_sigs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 16,
    n_bands: int = 2,
) -> DataFrame:
    """Per-document MinHash signature rows for the PERSISTED near-dup
    index (``hygiene.write_minhash_index``): one row per (doc, band) —
    ``(doc_id, sz, mh: array<long>, band_id, band_key)`` — computed by
    exactly the sketch pipeline :func:`minhash_lsh_pairs` uses (same
    element hashing, same permutations, same md5-compressed band keys),
    so an index written today buckets identically to a probe computed
    against it years later. The full signature array rides along
    because cross-batch verification estimates Jaccard from component
    agreement — the index never needs the token sets, which is what
    keeps an index row ~(n_hashes + 3) longs however large the
    documents were."""
    band_size = n_hashes // n_bands
    ex = (
        df.repartition(CPU_PARTITIONS, F.col(id_col))
        .select(
            F.col(id_col).alias("doc_id"),
            F.explode(F.split(F.lower(F.trim(F.col(text_col))), " ")).alias("t"),
        )
        .select("doc_id", element_hash(F.col("t")).alias("h"))
    )
    tok = ex.groupBy("doc_id").agg(
        F.count_distinct("h").alias("sz"), *_minhash_min_aggs(n_hashes)
    )
    return tok.select(
        "doc_id",
        "sz",
        F.array(*[F.col(f"mh{i}") for i in range(n_hashes)]).alias("mh"),
        F.explode(_band_structs(n_bands, band_size)).alias("band"),
    ).select(
        "doc_id",
        "sz",
        "mh",
        F.col("band.band_id").alias("band_id"),
        F.col("band.band_key").alias("band_key"),
    )


def estimated_jaccard(mh_a: Column, mh_b: Column, n_hashes: int) -> Column:
    """Unbiased MinHash Jaccard estimate: the fraction of agreeing
    signature components (std ~ sqrt(J(1-J)/n_hashes) — ±0.12 at 16
    hashes; raise n_hashes where the incremental gate needs a tighter
    band). 16-element interpreted zip is fine: it runs per CANDIDATE
    pair, a vanishing fraction of the corpus."""
    agree = F.aggregate(
        F.zip_with(mh_a, mh_b, lambda a, b: (a == b).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return micro_units(agree / F.lit(float(n_hashes)))


def simhash_near_dup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_col: str = "lang",
    max_hamming: int = 3,
    n_bits: int = 64,
    n_bands: int = 8,
    bucket_cap: int | None = BUCKET_CAP,
) -> DataFrame:
    """SimHash near-duplicate pairs: ``n_bits``-bit fingerprint per doc,
    pairs within a block compared by Hamming distance.

    The fingerprint takes each distinct token's leading n_bits/4 md5 hex
    digits (ONE md5 per token), votes each digit's four actual bits
    (+1 set / -1 clear), and keeps the majority per bit — computed as
    n_bits codegen'd SUM aggregates over exploded tokens, partition-local
    under the doc_id repartition. The fingerprint is packed into two
    BIGINT halves so candidate rows shuffle 16 bytes and Hamming distance
    is two xor+bit_count ops per pair instead of n_bits substring
    comparisons.

    The pair join blocks on ``block_col`` AND pigeonhole bands. 64 bits /
    8 bands gives 2^8 bucket values per band — candidate volume shrinks
    vs all-pairs and keeps shrinking as fingerprints spread, which is
    what survives a 100x corpus (a 16-bit fingerprint's 2^4 buckets per
    band would go near-quadratic). Degenerate hot buckets are guarded by
    ``bucket_cap`` (collapse to min-id representative, see
    :func:`_split_by_bucket_size`); band blocking is lossless vs
    all-pairs only while no bucket exceeds the cap.
    """
    band_size = n_bits // n_bands
    assert n_bits % n_bands == 0 and n_bits % 4 == 0 and n_bits <= 64
    assert max_hamming < n_bands, (
        "pigeonhole blocking needs max_hamming < n_bands to be lossless"
    )
    half = n_bits // 2
    assert half % band_size == 0, "bands must not straddle fingerprint halves"
    # The md5 hex is parsed ONCE per token into 8-hex-digit (32-bit)
    # integer chunks; each bit's vote then reads a shift+mask of a
    # chunk column instead of its own conv(substring(hex)) string
    # parse — 64 convs/token -> 2 at n_bits=64 (r14; bit values are
    # identical: chunk c covers bits 32c+1..32c+32 big-endian, exactly
    # the digit/mask layout the per-digit form read).
    n_hex = n_bits // 4
    chunk_cols = []
    for ci, c0 in enumerate(range(0, n_hex, 8)):
        width = min(8, n_hex - c0)
        chunk_cols.append(
            (
                F.conv(F.substring("hh", c0 + 1, width), 16, 10)
                .cast("long")
                .alias(f"hc{ci}"),
                c0 * 4,
                width * 4,
            )
        )
    ex = (
        df.repartition(CPU_PARTITIONS, F.col(id_col))
        .select(
            F.col(id_col).alias("doc_id"),
            F.col(block_col).alias("block"),
            F.explode(TX.tokens(F.col(text_col))).alias("t"),
        )
        .select("doc_id", "block", F.md5("t").alias("hh"))
        .select("doc_id", "block", *[c for c, _, _ in chunk_cols])
    )

    def vote(p: int) -> Column:
        # Bit p (1-indexed, big-endian over the md5 hex) lives in the
        # chunk whose bit range contains it; +1 set / -1 clear.
        ci = next(
            i
            for i, (_, lo_bits, n_chunk_bits) in enumerate(chunk_cols)
            if lo_bits < p <= lo_bits + n_chunk_bits
        )
        _, lo_bits, n_chunk_bits = chunk_cols[ci]
        bit = F.shiftright(
            F.col(f"hc{ci}"), n_chunk_bits - (p - lo_bits)
        ).bitwiseAND(F.lit(1))
        return (bit * 2 - 1).cast("int")

    sums = ex.groupBy("doc_id", "block").agg(
        *[F.sum(vote(p)).alias(f"s{p}") for p in range(1, n_bits + 1)]
    )

    def pack(lo_p: int, hi_p: int) -> Column:
        # Majority bit p gets weight 2^(hi_p - p): a BIGINT half-word.
        out = F.lit(0).cast("long")
        for p in range(lo_p, hi_p + 1):
            out = out + F.when(
                F.col(f"s{p}") >= 0, F.lit(1 << (hi_p - p)).cast("long")
            ).otherwise(F.lit(0).cast("long"))
        return out

    # The explode + 64 vote-SUM aggregates are the expensive subtree;
    # under the window split its only consumer is the banded frame that
    # feeds the cached stats, so caching only the stats computes it
    # exactly once (3.8 s vs 6.0 s for r4's fp-persist + broadcast
    # split, same-session A/B; checkpoint+stats measured 3.66 s but
    # truncates lineage — see minhash note).
    fp = sums.select(
        "doc_id",
        "block",
        pack(1, half).alias("fpa"),
        pack(half + 1, n_bits).alias("fpb"),
    )
    # Pigeonhole band blocking: with max_hamming errors spread over
    # n_bands > max_hamming bands, at least one band is error-free, so
    # every qualifying pair shares an exact band — the band equi-join is
    # LOSSLESS (same output as all-pairs) while pruning candidates ~
    # n_bands/2^band_size-fold. This is the 100 TB plan: never all-pairs.
    bands = []
    for bd in range(n_bands):
        lo_bit = bd * band_size + 1  # first (most-significant) bit of band
        if lo_bit + band_size - 1 <= half:
            src, hi_p = F.col("fpa"), half
        else:
            src, hi_p = F.col("fpb"), n_bits
        shift = hi_p - (lo_bit + band_size - 1)
        bands.append(
            F.struct(
                F.lit(bd).alias("band_id"),
                F.shiftright(src, shift)
                .bitwiseAND((1 << band_size) - 1)
                .alias("band_bits"),
            )
        )
    banded = fp.select(
        "doc_id", "block", "fpa", "fpb", F.explode(F.array(*bands)).alias("band")
    ).select("doc_id", "block", "fpa", "fpb", "band.band_id", "band.band_bits")
    small, collapsed = _split_by_bucket_size(
        banded,
        ["block", "band_id", "band_bits"],
        ["doc_id", "fpa", "fpb"],
        bucket_cap,
        op="simhash",
        cache_stats=True,
    )
    a, b = small.alias("a"), small.alias("b")
    candidates = a.join(
        b,
        (F.col("a.block") == F.col("b.block"))
        & (F.col("a.band_id") == F.col("b.band_id"))
        & (F.col("a.band_bits") == F.col("b.band_bits"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.col("a.fpa").alias("fpa_a"),
        F.col("a.fpb").alias("fpb_a"),
        F.col("b.fpa").alias("fpa_b"),
        F.col("b.fpb").alias("fpb_b"),
    )
    if collapsed is not None:
        # The representative's fingerprint rides in the min-struct, so
        # the Hamming verify below needs no extra join.
        candidates = candidates.unionByName(
            collapsed.select(
                F.col("bkt_rep.doc_id").alias("doc_a"),
                F.col("doc_id").alias("doc_b"),
                F.col("bkt_rep.fpa").alias("fpa_a"),
                F.col("bkt_rep.fpb").alias("fpb_a"),
                F.col("fpa").alias("fpa_b"),
                F.col("fpb").alias("fpb_b"),
            )
        )
    # Verify BEFORE deduplicating: hamming is two xor+bit_count ops on
    # columns already in the candidate row (no re-attach join), so it
    # runs map-side right out of the band join, and the
    # dropDuplicates shuffle then moves only true near-dup pairs —
    # ~15 k rows instead of ~1.9 M distinct candidates at sf0.1
    # (locally a wash — same-session A/B 3.36 vs 3.34 s, a 90 MB
    # shuffle is free on a RAM-disk local[32]). A doc pair sharing
    # several bands yields identical hamming on every copy, so
    # filter-then-distinct is exactly distinct-then-filter. This
    # ordering is the one that survives scale: candidate volume grows
    # with corpus similarity, verified-pair volume is the answer size.
    hamming = F.bit_count(
        F.col("fpa_a").bitwiseXOR(F.col("fpa_b"))
    ) + F.bit_count(F.col("fpb_a").bitwiseXOR(F.col("fpb_b")))
    return (
        candidates.withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["doc_a", "doc_b"])
        .select("doc_a", "doc_b", "hamming")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.6,
    n_hashes: int = 16,
    n_bands: int = 8,
    bucket_cap: int | None = BUCKET_CAP,
) -> DataFrame:
    """Character n-gram Jaccard near-dup pairs, blocked by (lang,
    MinHash band) so candidate volume stays sub-quadratic as the corpus
    grows.

    Gram generation is relational: explode gram start positions
    (sequence guarded to EMPTY for texts shorter than n — no spurious
    truncated grams), one codegen'd md5 per gram, per-doc agg
    (collect_set + min permutations) partition-local under the doc_id
    repartition.

    A fixed block key (lang, length-bucket) would keep candidates O(n²)
    within blocks and drop boundary-straddling pairs. Banding the
    gram-set MinHash gives a key whose cardinality grows with the
    corpus; recall is the standard LSH curve 1-(1-j^r)^b (r=2, b=8:
    ~97% at j=0.6, →1 as j→1), mirrored exactly in the oracle. Length
    pruning still happens — losslessly — via the threshold-implied
    size-ratio filter before any set op.
    """
    band_size = n_hashes // n_bands
    ex = (
        df.repartition(CPU_PARTITIONS, F.col(id_col))
        .select(F.col(id_col).alias("doc_id"), F.col("lang"), F.col(text_col).alias("txt"))
        .select(
            "doc_id",
            "lang",
            "txt",
            F.explode(
                F.when(
                    F.length("txt") >= n,
                    F.sequence(F.lit(1), F.length("txt") - (n - 1)),
                ).otherwise(F.array().cast("array<int>"))
            ).alias("i"),
        )
        .select(
            "doc_id",
            "lang",
            element_hash(F.substring(F.col("txt"), F.col("i"), F.lit(n))).alias("h"),
        )
    )
    g = ex.groupBy("doc_id", "lang").agg(
        F.collect_set("h").alias("grams"), *_minhash_min_aggs(n_hashes)
    )
    # Gram frame + window stats cached (re-A/B'd late r14 after the verify guard +
    # hash-repartition changes shifted the balance): the gram frame
    # feeds THREE consumers (banded + both re-attach sides), and
    # persisting it now wins every interleaved round — stats-only med
    # 5.00 s / min 4.60 vs g+stats med 4.23 / min 3.53
    # (checkpoint+stats med 3.71 is faster still but truncates lineage
    # — the wrong trade at 1000 executors, see the minhash note). This
    # REVERSES the r4 finding (3.2 vs 10.4 s), which was measured
    # against the since-removed banded-persist + broadcast split
    # shape, not a pure gram-frame persist. The split's stats action
    # populates the cache mid-build, so no eager count is needed. The
    # gram arrays are ~|text| ints per doc — MEMORY_AND_DISK.
    g = persist(g)
    banded = g.select(
        "doc_id",
        "lang",
        F.size("grams").alias("sz"),
        F.explode(_band_structs(n_bands, band_size)).alias("band"),
    ).select(
        "doc_id",
        "lang",
        "sz",
        F.col("band.band_id").alias("band_id"),
        F.col("band.band_key").alias("band_key"),
    )
    small, collapsed = _split_by_bucket_size(
        banded, ["lang", "band_id", "band_key"], ["doc_id"], bucket_cap,
        op="ngram", cache_stats=True,
    )
    a, b = small.alias("a"), small.alias("b")
    # The gram-set SIZE rides along on the banded rows (one int) so the
    # threshold-implied size-ratio bound (j >= t forces |A|/|B| within
    # [t, 1/t]) evaluates as a join residual — candidate pairs that can't
    # possibly verify are dropped at hash-probe time, before the
    # dropDuplicates shuffle and the gram re-attach joins ever see them.
    # Exact integer/decimal math, so the prune is lossless and mirrors
    # bit-for-bit in the oracle.
    candidates = a.join(
        b,
        (F.col("a.lang") == F.col("b.lang"))
        & (F.col("a.band_id") == F.col("b.band_id"))
        & (F.col("a.band_key") == F.col("b.band_key"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
        & (F.col("a.sz") >= threshold * F.col("b.sz"))
        & (F.col("b.sz") >= threshold * F.col("a.sz")),
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
    )
    if collapsed is not None:
        candidates = candidates.unionByName(
            collapsed.select(
                F.col("bkt_rep.doc_id").alias("doc_a"),
                F.col("doc_id").alias("doc_b"),
            )
        )
    candidates = candidates.dropDuplicates(["doc_a", "doc_b"])
    # Gram sets re-attach via keyed joins on doc_id (no forced broadcast
    # — same degrade-to-shuffle rationale as minhash_lsh_pairs). Hash
    # repartition on doc_a, not round-robin — see the minhash verify
    # comment (keyless repartition pays sortBeforeRepartition).
    ga = g.select(F.col("doc_id").alias("doc_a"), F.col("grams").alias("grams_a"))
    gb = g.select(F.col("doc_id").alias("doc_b"), F.col("grams").alias("grams_b"))
    pairs = (
        candidates.repartition(CPU_PARTITIONS, F.col("doc_a"))
        .join(ga, "doc_a")
        .join(gb, "doc_b")
    )
    return pairs.select(
        "doc_a",
        "doc_b",
        _eval_once(
            TX.jaccard_micro(F.col("grams_a"), F.col("grams_b"))
        ).alias("jaccard_micro"),
    ).filter(F.col("jaccard_micro") >= _micro_threshold(threshold))


def ngram_containment(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    threshold: float = 0.8,
    df_cap: int = BUCKET_CAP,
) -> DataFrame:
    """Directional n-gram containment pairs: ``(doc_a, doc_b,
    containment)`` where containment = |grams(A) ∩ grams(B)| /
    |grams(A)| >= ``threshold`` — doc_a is (near-)CONTAINED in doc_b.

    This is the asymmetric overlap the symmetric Jaccard operators
    structurally miss: a short document pasted inside a long one has
    containment ~1 but Jaccard ~|A|/|B| ~ 0, so MinHash-LSH (which
    targets Jaccard) never emits the pair. Partial inclusion —
    boilerplate wrappers, quoted articles, template expansions — is a
    containment question, not a similarity question.

    Plan: explode each doc's DISTINCT gram hashes (28-bit md5 —
    oracle-reproducible), drop grams whose document frequency exceeds
    ``df_cap`` from BOTH the numerator and denominator (ubiquitous
    grams — boilerplate phrases, whitespace runs — carry no containment
    signal and their posting lists are the quadratic hazard: the
    posting-list self-join fans out df² pairs per gram, so the cap
    bounds per-gram fan-out at df_cap² exactly as the LSH bucket cap
    bounds band buckets; the exclusion is mirrored verbatim in the
    oracle, so it is a *definition* of the measure, not an
    approximation of it), then count shared kept-grams per ordered pair
    via the posting-list join and divide by A's kept-gram count.

    Scale shape: the gram explode + distinct aggregates ride doc_id
    keyed shuffles (map-side combine); the document-frequency pass and
    the posting join shuffle 28-bit hashes, never text; the pair
    aggregation keys on (doc_a, doc_b) with map-side combine so the
    shuffle is intersection counts, not gram instances.
    """
    grams = (
        df.repartition(CPU_PARTITIONS, F.col(id_col))
        .select(
            F.col(id_col).alias("doc_id"),
            F.explode(TX.char_ngrams(F.col(text_col), n)).alias("g"),
        )
        .select("doc_id", element_hash(F.col("g")).alias("h"))
        .distinct()
    )
    # Keep-set by COMPLEMENT: the hot grams (df > cap — boilerplate by
    # construction, a tiny fraction of distinct grams) broadcast into a
    # left-anti join, so the corpus-sized gram stream never shuffle-joins
    # a corpus-sized keep list. Same shape as line_dedup's hot-line set.
    hot = (
        grams.groupBy("h")
        .agg(F.count(F.lit(1)).alias("gdf"))
        .filter(F.col("gdf") > df_cap)
        .select("h")
    )
    gk = grams.join(F.broadcast(hot), "h", "left_anti")
    sizes = gk.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    inter = (
        gk.select(F.col("doc_id").alias("doc_a"), "h")
        .join(gk.select(F.col("doc_id").alias("doc_b"), "h"), "h")
        .filter(F.col("doc_a") != F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        inter.join(sizes.select(F.col("doc_id").alias("doc_a"), "n_grams"), "doc_a")
        .select(
            "doc_a",
            "doc_b",
            micro_units(F.col("n_shared") / F.col("n_grams")).alias(
                "containment_micro"
            ),
        )
        .filter(F.col("containment_micro") >= _micro_threshold(threshold))
    )


def lsh_recall_report(
    df: DataFrame,
    threshold: float = 0.8,
    sample_frac: float = 0.2,
    salt: str = "lsh-recall-v1",
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 16,
    n_bands: int = 2,
    bucket_cap: int | None = BUCKET_CAP,
    max_truth_pairs: int = 5_000_000,
) -> DataFrame:
    """Banding-recall tuning report for :func:`minhash_lsh_pairs` — the
    text-dedup twin of ``similarity.ann_recall``: measure, don't guess,
    what the (n_hashes, n_bands) knee actually costs in missed pairs.

    A deterministic md5 sample of the corpus gets EXACT all-pairs
    ground truth (cross join within the sample, size-ratio pruned, the
    same hashed-token Jaccard the verifier uses — so the only miss
    source being measured is the BANDING, P(candidate) = 1-(1-j^r)^b);
    the same LSH op runs on the same sample, and the report is one
    row: ``(n_docs, n_true_pairs, n_lsh_pairs, recall, worst_miss)``
    with ``worst_miss`` the highest-Jaccard pair the bands missed —
    the actionable number when deciding to add bands. The O(sample²)
    cross join is the point and the budget: ``sample_frac`` bounds it
    exactly like ann_recall's sampled query set; precision is
    structurally 1.0 (the op verifies exactly), so it is not reported.

    ``max_truth_pairs`` is the HARD guard on that budget (VERDICT r7
    #8): the sampled doc count is checked up front (one columnar count
    of the id column — negligible next to the O(sample²) join it
    protects) and the op raises if the truth set would exceed the
    bound, so a ``sample_frac`` typo at corpus scale becomes a loud
    config error instead of a scheduled all-pairs join.
    ``worst_miss_micro`` is -1 (not NULL) when the bands missed
    nothing: a NULL BIGINT renders float64 in pandas, which the driver
    roster's scalar-integer rule forbids.
    """
    draw = element_hash(
        F.concat(F.lit(salt), F.lit("|"), F.col(id_col).cast("string"))
    ) / F.lit(float(1 << 28))
    sample = df.filter(draw < sample_frac)
    n_sampled = sample.select(id_col).count()
    if n_sampled * (n_sampled - 1) // 2 > max_truth_pairs:
        raise PairBudgetExceeded(
            f"lsh_recall_report: sample of {n_sampled} docs implies "
            f"{n_sampled * (n_sampled - 1) // 2} exact truth pairs, over "
            f"the max_truth_pairs={max_truth_pairs} budget — lower "
            "sample_frac (the report needs a sample, not the corpus) or "
            "raise the budget explicitly"
        )

    toks = (
        sample.repartition(CPU_PARTITIONS, F.col(id_col))
        .select(
            F.col(id_col).alias("doc_id"),
            F.explode(
                F.split(F.lower(F.trim(F.col(text_col))), " ")
            ).alias("t"),
        )
        .select("doc_id", element_hash(F.col("t")).alias("h"))
        .groupBy("doc_id")
        .agg(F.collect_set("h").alias("toks"))
        .withColumn("sz", F.size("toks"))
    )
    a, b = toks.alias("a"), toks.alias("b")
    true_pairs = (
        a.join(
            b,
            (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("a.sz") >= threshold * F.col("b.sz"))
            & (F.col("b.sz") >= threshold * F.col("a.sz")),
        )
        .withColumn(
            "jaccard_micro",
            _eval_once(TX.jaccard_micro(F.col("a.toks"), F.col("b.toks"))),
        )
        .filter(F.col("jaccard_micro") >= _micro_threshold(threshold))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            "jaccard_micro",
        )
    )
    lsh = minhash_lsh_pairs(
        sample,
        text_col=text_col,
        id_col=id_col,
        n_hashes=n_hashes,
        n_bands=n_bands,
        threshold=threshold,
        bucket_cap=bucket_cap,
    )
    hit = true_pairs.join(
        lsh.select("doc_a", "doc_b", F.lit(1).alias("__hit")),
        ["doc_a", "doc_b"],
        "left",
    )
    counts = hit.agg(
        F.count(F.lit(1)).alias("n_true_pairs"),
        F.sum(F.coalesce("__hit", F.lit(0))).alias("n_hits"),
        F.max(F.when(F.col("__hit").isNull(), F.col("jaccard_micro"))).alias(
            "worst_miss_micro"
        ),
    )
    report = (
        counts.crossJoin(
            F.broadcast(toks.agg(F.count(F.lit(1)).alias("n_docs")))
        )
        .crossJoin(
            F.broadcast(lsh.agg(F.count(F.lit(1)).alias("n_lsh_pairs")))
        )
        .select(
            "n_docs",
            "n_true_pairs",
            "n_lsh_pairs",
            F.when(F.col("n_true_pairs") == 0, F.lit(1_000_000).cast("long"))
            .otherwise(
                micro_units(F.col("n_hits") / F.col("n_true_pairs"))
            )
            .alias("recall_micro"),
            F.coalesce(
                F.col("worst_miss_micro"), F.lit(-1).cast("long")
            ).alias("worst_miss_micro"),
        )
    )
    return report


def prefix_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    bucket_cap: int | None = None,
    pair_density_limit: int | None = None,
) -> DataFrame:
    """EXACT Jaccard self-join via prefix filtering (the PPJoin family —
    Chaudhuri et al. 2006 / Xiao et al. 2008, public literature): every
    pair with true Jaccard >= ``threshold`` is returned, recall 1.0 by
    construction — the deterministic complement to
    :func:`minhash_lsh_pairs` (whose banding trades recall for cost;
    :func:`lsh_recall_report` measures that trade against THIS
    guarantee's ground truth).

    Filter theorem: order every document's token set by one GLOBAL
    ordering (document frequency asc, then token — rare tokens first),
    and take each doc's first ``|x| - ceil(t*|x|) + 1`` tokens as its
    prefix; any pair with J >= t must share a PREFIX token. Candidates
    are then an equi-join on prefix tokens — and because the ordering
    puts RARE tokens in prefixes, the join's bucket sizes are df-bounded
    exactly where df is small. The ``ceil`` is computed on a 9-digit
    rounding of t*|x| so IEEE 1-ulp inflation (0.8*5 = 4.0000…0002)
    cannot silently shrink a prefix below the theorem's bound.

    Cost shape: one df aggregation, one per-doc window (orderBy df — a
    doc-sized sort under doc_id keys), the prefix equi-join (output
    bounded by sum over tokens of df_prefix² — corpora with a hot
    near-universal token keep it OUT of prefixes), size-ratio prune,
    then the house exact-verify re-attach. ``bucket_cap`` (default
    None = exact) optionally applies the hot-bucket representative
    collapse for adversarial corpora — capping trades the exactness
    guarantee inside over-full buckets for O(k), the LSH cap argument.

    ``pair_density_limit`` is the BOUNDED-TIER CONTRACT in machinery,
    not prose (VERDICT r12 #7): the exact join's output is
    sum-of-df_prefix² pair-dense BY CONSTRUCTION, so before
    enumerating candidates the operator counts them exactly — one
    cheap aggregation over the (already tiny) prefix-token buckets,
    sum(k*(k-1)/2) — and REFUSES with guidance when the estimate
    exceeds the limit and no ``bucket_cap`` is set. Exact-tier callers
    size the limit to the pair budget they can verify; corpora past
    it belong on :func:`minhash_lsh_pairs` (the documented 100 TB
    path) or must opt into the capped collapse. The check is skipped
    when ``bucket_cap`` is set — the collapse already bounds every
    bucket to O(k)."""
    # Cache choice, re-adjudicated r15 under the DRIVER's methodology
    # (scripts/cold_ab.py: fresh JVM per arm, bench-style cold +
    # min-of-warm — the r14 same-session interleaved A/Bs picked a
    # persist both driver windows then measured as a regression): the
    # r14 default eagerly persisted the FULL exploded distinct token
    # stream ("ex+eager" — corpus x tokens rows, the largest
    # intermediate in the suite), the memory-heavy / compute-light
    # shape the quantized-store A/B already rejected. It now eagerly
    # persists the PREFIX-SELECTED subset (a
    # ~(1-t) fraction of the stream, 3 consumers: density estimate +
    # both candidate-join sides) and the per-doc collect_set frame
    # (one row per doc, both re-attach sides). Cold-JVM A/B at 32c
    # (3 rotated rounds, n=6): warm-min mean pref+toksets 3.98 s vs
    # none 4.10 vs ex+eager 4.43 (pref won every paired round; colds
    # 12.9 vs 13.9 vs 13.4). 8-core rounds were window-drift-dominated
    # (within-arm spread 6.9-9.0 s > arm deltas) — adjudicated to the
    # clean 32c signal; OPTIMIZATION_r15.md has the full table.
    ex = (
        df.repartition(CPU_PARTITIONS, F.col(id_col))
        .select(
            F.col(id_col).alias("doc_id"),
            F.explode(
                F.split(F.lower(F.trim(F.col(text_col))), " ")
            ).alias("t"),
        )
        .select("doc_id", element_hash(F.col("t")).alias("h"))
        .distinct()
    )
    dft = ex.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    from pyspark.sql import Window as W

    wdoc = W.partitionBy("doc_id").orderBy("df", "h")
    pos = (
        ex.join(dft, "h")
        .withColumn("pos", F.row_number().over(wdoc))
        .withColumn("sz", F.count(F.lit(1)).over(W.partitionBy("doc_id")))
    )
    L = F.col("sz") - F.ceil(F.round(F.lit(threshold) * F.col("sz"), 9)) + 1
    pref = pos.filter(F.col("pos") <= L).select("doc_id", "h", "sz")
    # the prefix-selected subset (a (1-t) fraction of the stream)
    # feeds the density estimate and BOTH candidate-join sides —
    # persisting it runs the df-agg + position-window chain once
    pref = persist(pref)
    pref.count()
    if pair_density_limit is not None and bucket_cap is None:
        est = (
            pref.groupBy("h")
            .agg(F.count(F.lit(1)).alias("k"))
            .agg(F.sum(F.col("k") * (F.col("k") - 1) / 2).alias("pairs"))
            .collect()[0]["pairs"]
        )
        est = int(est or 0)
        if est > pair_density_limit:
            raise PairBudgetExceeded(
                f"prefix_jaccard_pairs: exact candidate enumeration would "
                f"emit ~{est} pairs (> pair_density_limit="
                f"{pair_density_limit}). This corpus is past the exact "
                f"tier's pair budget — use minhash_lsh_pairs (the scale "
                f"path) or pass bucket_cap= to opt into the hot-bucket "
                f"representative collapse."
            )
    if bucket_cap is not None:
        # carry leads with doc_id: the split keys the bucket
        # representative on carry[0] (latent in the never-exercised
        # capped branch until the r13 density-contract test)
        small, collapsed = _split_by_bucket_size(
            pref, ["h"], ["doc_id", "sz"], bucket_cap, op="prefix_jaccard"
        )
    else:
        small, collapsed = pref, None
    a, b = small.alias("a"), small.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("a.sz") >= threshold * F.col("b.sz"))
            & (F.col("b.sz") >= threshold * F.col("a.sz")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
    )
    if collapsed is not None:
        cand = cand.unionByName(
            collapsed.select(
                F.col("bkt_rep.doc_id").alias("doc_a"),
                F.col("doc_id").alias("doc_b"),
            )
        )
    cand = cand.dropDuplicates(["doc_a", "doc_b"])
    toksets = ex.groupBy("doc_id").agg(F.collect_set("h").alias("toks"))
    toksets = persist(toksets)
    # same-job lazy persist populates too late for the two re-attach
    # consumers: materialize in a separate job
    toksets.count()
    ta = toksets.select(F.col("doc_id").alias("doc_a"), F.col("toks").alias("toks_a"))
    tb = toksets.select(F.col("doc_id").alias("doc_b"), F.col("toks").alias("toks_b"))
    # Hash repartition, not round-robin — see the minhash verify comment
    # (keyless repartition pays sortBeforeRepartition; measured on THIS
    # operator's verify stage in scripts/reattach_repart_probe.py). In
    # the capped tier hot-doc_a skew is bounded (a doc pairs with <=
    # bucket_cap members per prefix token), so doc_a alone is safe and
    # pre-satisfies a sort-merge re-attach. The EXACT tier (bucket_cap
    # None, the default) has NO per-key bound — only the TOTAL pair
    # count is bounded by pair_density_limit, so a low-id doc sharing
    # prefix tokens with many docs can concentrate an unbounded share
    # of CPU-dense verify pairs on one partition; salt with doc_b
    # (ADVICE r14) so hot keys spread while placement stays
    # deterministic.
    repart_cols = (
        [F.col("doc_a")]
        if bucket_cap is not None
        else [F.col("doc_a"), F.col("doc_b")]
    )
    out = (
        cand.repartition(CPU_PARTITIONS, *repart_cols)
        .join(ta, "doc_a")
        .join(tb, "doc_b")
        .withColumn(
            "jaccard_micro",
            _eval_once(TX.jaccard_micro(F.col("toks_a"), F.col("toks_b"))),
        )
        .filter(F.col("jaccard_micro") >= _micro_threshold(threshold))
        .select("doc_a", "doc_b", "jaccard_micro")
    )
    return out
