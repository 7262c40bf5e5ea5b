"""Plan-shape regression tests: the physical plans we tuned for must
stay tuned (broadcasts stay broadcasts, pushdowns stay pushed) — and
bucketed tables must join without an exchange."""

from __future__ import annotations

import contextlib
import io
import re

import pytest
from pyspark.sql import functions as F

from conftest import SF_DIR
from jonesy_spark.caching import cache_scope
from jonesy_spark.catalog import Catalog
from jonesy_spark.plans import all_queries


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_skew_salted_join_plan_shows_salted_sort_merge(spark):
    """The skew-stress row's plan must actually exercise the salting
    path (r10 verdict #7): a sort-merge join (merge hint — the 100 TB
    case where the dim is too big to broadcast) whose join keys carry
    the __salt column, so the planted hot key spreads over 16 shuffle
    partitions instead of one straggler."""
    plan = plan_of(all_queries()["skew_salted_join"](spark, SF_DIR))
    assert "SortMergeJoin" in plan
    assert "__salt" in plan
    assert "BroadcastHashJoin" not in plan
    assert "CartesianProduct" not in plan


def test_skew_salted_join_equals_plain_join(spark):
    """Salting never changes semantics: the salted row's frame equals
    the plain unsalted join + aggregate built inline."""
    cat = Catalog(spark, SF_DIR)
    ev = cat.events.select(
        F.when(F.col("user_id") % 3 < 2, F.lit(7))
        .otherwise(F.col("user_id"))
        .cast("long")
        .alias("c_custkey"),
        "value",
    )
    plain = (
        ev.join(cat.customer.select("c_custkey", "c_mktsegment"), "c_custkey")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.coalesce(
                (
                    F.sum(F.col("value").cast("decimal(18,2)")) * 1_000_000
                ).cast("long"),
                F.lit(0).cast("long"),
            ).alias("sum_value_micro"),
        )
    )
    got = sorted(
        all_queries()["skew_salted_join"](spark, SF_DIR).collect(),
        key=lambda r: r["segment"],
    )
    want = sorted(plain.collect(), key=lambda r: r["segment"])
    assert [r.asDict() for r in got] == [r.asDict() for r in want]
    # the planted key is a real heavy hitter at the driver's sf0.01
    # tier: >= 50x the median key (sf0.001 has too few distinct users
    # for the ratio to develop — 150 at sf0.01 vs ~15 here)
    ev001 = Catalog(spark, "/root/testdata/sf0.01").events.select(
        F.when(F.col("user_id") % 3 < 2, F.lit(7))
        .otherwise(F.col("user_id"))
        .cast("long")
        .alias("c_custkey")
    )
    counts = sorted(
        r["n"]
        for r in ev001.groupBy("c_custkey")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    assert counts[-1] >= 50 * counts[len(counts) // 2]


def test_aqe_skew_join_splits_planted_hot_partition(spark):
    """The OTHER skew strategy the engine relies on (skew_salted_join
    witnesses explicit salting): AQE's runtime skew split, which the
    shipped session enables but nothing previously PROVED engages.
    Plant two thirds of a 300k-row incompressible-payload fact on one
    key, forbid broadcast, lower the skew thresholds to fixture scale,
    and the FINAL adaptive plan must show the split —
    SortMergeJoin(skew=true) over a skewed AQEShuffleRead. Runtime
    confs are restored in finally (session is shared)."""
    keys = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
    )
    saved = {k: spark.conf.get(k) for k in keys}
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "262144",
        )
        spark.conf.set(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes", "262144"
        )
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2"
        )
        fact = spark.range(0, 300_000).select(
            F.when(F.col("id") % 3 < 2, F.lit(0))
            .otherwise(F.col("id"))
            .alias("k"),
            # md5-derived padding: incompressible, so the shuffle
            # stats AQE reads see the hot partition's true weight
            # (constant padding compresses to nothing and the skew
            # detector correctly sees a small partition)
            F.repeat(F.md5(F.col("id").cast("string")), 8).alias("pad"),
        )
        dim = spark.range(0, 2000).select(
            F.col("id").alias("k"), F.lit("d").alias("attr")
        )
        j = fact.join(dim, "k")
        n = j.count()
        # hot key 0 matches once; cold keys are ids with id % 3 == 2
        # that fall inside the dim's [0, 2000) range
        n_hot = 200_000
        n_cold = sum(1 for i in range(2000) if i % 3 == 2)
        assert n == n_hot + n_cold
        j.collect()  # materialize j's own adaptive execution
        plan = plan_of_executed(j)
        assert "isFinalPlan=true" in plan
        assert "SortMergeJoin(skew=true)" in plan
        assert "skewed" in plan  # the AQEShuffleRead split marker
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def plan_of_executed(df) -> str:
    """explain() AFTER an action on df: for AQE plans this renders the
    FINAL adaptive plan (isFinalPlan=true), which is where runtime
    decisions like skew splits become visible."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain()
    return buf.getvalue()


def test_term_courses_all_dims_broadcast(spark):
    plan = plan_of(all_queries()["term_courses"](spark, SF_DIR))
    # formatted explain lists each node twice (tree + detail): count the
    # numbered detail entries.
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) == 5
    assert "SortMergeJoin" not in plan


def test_pricing_summary_filter_pushed(spark):
    plan = plan_of(all_queries()["pricing_summary_agg"](spark, SF_DIR))
    m = re.search(r"PushedFilters: \[(.*?)\]", plan)
    assert m and "l_shipdate" in m.group(1)


def test_omit_drops_lookup_broadcast(spark):
    """The decorrelated primary lookup must broadcast — the fact side
    never shuffles."""
    plan = plan_of(all_queries()["omit_drops_withdrawals"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan


def test_scalar_suite_single_stage_no_exchange(spark):
    """A pure projection must stay map-only (no shuffle at any scale)."""
    plan = plan_of(all_queries()["scalar_functions_suite"](spark, SF_DIR))
    assert "Exchange" not in plan


def test_bucketed_join_skips_shuffle(spark, tmp_path):
    """Bucketing both join sides on the key co-locates them: the join
    plan has no shuffle exchange on either input (SURVEY.md §1.4 /
    guide's bucketing pattern — at 100 TB this removes the dominant
    shuffle of repeated fact-fact joins)."""
    cat = Catalog(spark, SF_DIR)
    threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # disable broadcast so the planner actually uses the buckets
        # (these fixture tables are small enough to broadcast otherwise)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        (
            cat.lineitem.select("l_orderkey", "l_quantity")
            .write.mode("overwrite")
            .option("path", str(tmp_path / "li"))
            .bucketBy(8, "l_orderkey")
            .sortBy("l_orderkey")
            .saveAsTable("bkt_lineitem")
        )
        (
            cat.orders.select("o_orderkey", "o_custkey")
            .write.mode("overwrite")
            .option("path", str(tmp_path / "ord"))
            .bucketBy(8, "o_orderkey")
            .sortBy("o_orderkey")
            .saveAsTable("bkt_orders")
        )
        joined = spark.table("bkt_lineitem").join(
            spark.table("bkt_orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = plan_of(joined)
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        # no shuffle exchange feeding the join (bucket co-location)
        assert "Exchange hashpartitioning" not in plan
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
        spark.sql("DROP TABLE IF EXISTS bkt_lineitem")
        spark.sql("DROP TABLE IF EXISTS bkt_orders")


def test_near_dup_ops_never_cross_join(spark):
    """Every near-dup/ANN self-join must be an equi-join on a bucket
    key — a BroadcastNestedLoopJoin/CartesianProduct in any of these
    plans means blocking regressed to all-pairs."""
    q = all_queries()
    for name in ["dedup_minhash_lsh", "dedup_simhash", "dedup_ngram_jaccard", "ann_bucketed_topk"]:
        plan = plan_of(q[name](spark, SF_DIR))
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "CartesianProduct" not in plan, name
    # embedding_near_dup legitimately broadcast-cross-joins ONE row (the
    # collapsed centroid array) for map-side cell assignment — that
    # subtree appears once per side of the self-join, so at most two
    # BNLJ nodes; the pair join itself must be a hash equi-join on cid.
    plan = plan_of(q["embedding_near_dup"](spark, SF_DIR))
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)) <= 2
    assert "CartesianProduct" not in plan
    assert re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", plan)


def test_train_order_range_partitions(spark):
    from jonesy_spark.operators.corpus import train_order

    plan = plan_of(train_order(Catalog(spark, SF_DIR).documents, n_files=8))
    assert "rangepartitioning" in plan.lower()  # quantile-sampled balance
    assert "SinglePartition" not in plan


def test_incremental_dedup_digest_anti_join(spark):
    from jonesy_spark.operators.hygiene import incremental_dedup

    docs = Catalog(spark, SF_DIR).documents
    seen = spark.createDataFrame([], "content_hash string")
    novel, _ = incremental_dedup(docs, seen)
    plan = plan_of(novel)
    assert "LeftAnti" in plan  # digest probe, not a collect-and-filter


def test_mixture_sample_rate_table_local(spark):
    """The literal rate table must plan as a LocalRelation (JVM-side),
    not a Python RDD scan."""
    from jonesy_spark.operators.corpus import mixture_sample

    plan = plan_of(mixture_sample(Catalog(spark, SF_DIR).documents, {"src0": 0.5}))
    assert "ExistingRDD" not in plan


def test_mixture_upsample_map_side_only(spark):
    """The upsample explode must stay map-side: the only exchange in
    the plan is the broadcast of the rate table — a corpus-sized
    shuffle here would be a pure waste (every decision is per-row)."""
    plan = plan_of(all_queries()["mixture_upsample"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "Generate" in plan  # the sequence() explode
    assert "Exchange hashpartitioning" not in plan
    assert "Exchange rangepartitioning" not in plan


def test_budget_prune_offsets_broadcast_no_smj(spark):
    """The prune's offset join must broadcast (the offsets frame is
    n_ranges rows) and the plan must contain the range exchange that
    gives the cross-partition total order — never a sort-merge join."""
    from jonesy_spark.operators.corpus import token_budget_prune

    docs = Catalog(spark, SF_DIR).documents
    with cache_scope():
        out = token_budget_prune(docs, 8_000, F.round(F.length("text") / 1000.0, 6))
        plan = plan_of(out)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "rangepartitioning" in plan


def test_bigram_model_tables_all_broadcast(spark):
    """Both model tables (bigram counts, context counts) and the vocab
    collapse join are broadcast-sized by construction — the scoring
    pass must not sort-merge anything."""
    plan = plan_of(all_queries()["bigram_logprob"](spark, SF_DIR))
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) >= 3
    assert "SortMergeJoin" not in plan


def test_snapshot_diff_shuffles_digests_not_text(spark):
    """The reverse-CDC diff digests map-side: the full-outer join's
    exchanges carry (id, digest) only — document bytes never shuffle."""
    plan = plan_of(all_queries()["snapshot_cdc"](spark, SF_DIR))
    assert "FullOuter" in plan
    # every hash-exchange detail block's Input must be digest-width
    blocks = re.findall(
        r"\(\d+\) Exchange\nInput \[\d+\]: \[([^\]]*)\]", plan
    )
    assert blocks, "no exchange detail blocks parsed"
    for cols in blocks:
        assert "text#" not in cols, cols


def test_micro_units_contracts(spark):
    """The fixed-point helper every hashed computed-double goes
    through: NULL passthrough, away-from-zero ties, loud non-finite
    failure (ANSI overflow, never a silent 0)."""
    import pytest
    from pyspark.sql import functions as F

    from jonesy_spark.functions.scalars import micro_units

    rows = spark.createDataFrame(
        [(-2.5e-6,), (2.5e-6,), (None,), (1.25,)], "x double"
    )
    got = [
        r["m"]
        for r in rows.select(micro_units(F.col("x")).alias("m")).collect()
    ]
    assert got == [-3, 3, None, 1_250_000]
    bad = spark.createDataFrame([(float("nan"),)], "x double")
    with pytest.raises(Exception, match="CAST_OVERFLOW|overflow"):
        bad.select(micro_units(F.col("x")).alias("m")).collect()


def test_query_catalog_in_sync():
    """QUERIES.md is how a user finds an operator, so it must be
    regenerated whenever the registry changes (the r8 staleness rule):
    every registered query has a catalog row, no ghost rows linger,
    and the header count matches the live registry."""
    import pathlib

    catalog = (
        pathlib.Path(__file__).resolve().parent.parent / "QUERIES.md"
    ).read_text()
    rows = set(re.findall(r"^\| `([a-z0-9_]+)` \|", catalog, flags=re.M))
    registered = set(all_queries())
    assert rows == registered, (
        f"QUERIES.md is stale — run scripts/gen_query_catalog.py "
        f"(missing: {sorted(registered - rows)}; "
        f"ghost: {sorted(rows - registered)})"
    )
    assert f"{len(registered)} queries;" in catalog


def test_bnlj_boundedness_rule(spark):
    """The plan audit's r9 BNLJ rule closes the one gap a regression
    could slip through: a sanctioned 1-row scalar-subquery cross join
    passes (grouping-free aggregate build side), while a deliberate
    broadcast cross join against an unbounded parquet scan trips it."""
    import importlib.util
    import pathlib

    spec = importlib.util.spec_from_file_location(
        "plan_audit",
        pathlib.Path(__file__).resolve().parents[1]
        / "scripts"
        / "plan_audit.py",
    )
    plan_audit = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(plan_audit)

    lineitem = Catalog(spark, SF_DIR).lineitem
    total = lineitem.agg(F.sum("l_quantity").alias("t"))
    sanctioned = lineitem.crossJoin(F.broadcast(total))
    assert plan_audit.bnlj_violations(sanctioned) == []

    orders = Catalog(spark, SF_DIR).orders
    unbounded = lineitem.crossJoin(F.broadcast(orders.select("o_orderkey")))
    assert plan_audit.bnlj_violations(unbounded), (
        "broadcasting an unbounded scan into a cross join must be "
        "flagged"
    )

    # the SAME bounded aggregate broadcast twice: Catalyst replaces the
    # second BroadcastExchange with ReusedExchange, which the rule must
    # descend (the review finding: it previously fell through to False)
    reused = lineitem.crossJoin(F.broadcast(total)).crossJoin(
        F.broadcast(total.select(F.col("t").alias("t2")))
    )
    assert plan_audit.bnlj_violations(reused) == []


def test_funnel_plan_is_single_exchange(spark):
    """The r12 funnel rewrite's scale claim, pinned in the plan: the
    chained conditional-min windows and the final per-key aggregate
    all ride ONE hash partitioning — exactly one shuffle Exchange at
    any step count (the r11 stage-chain form carried one per step)."""
    import re

    from jonesy_spark.plans import all_queries

    df = all_queries()["funnel_steps"](spark, "/root/testdata/sf0.001")
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    shuffles = re.findall(r"\(\d+\) Exchange\b", plan)
    assert len(shuffles) == 1, plan
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 3


def test_scd2_history_plan_is_single_exchange(spark):
    """The SCD2 builder's scale claim, pinned in the plan: the
    change-compress lag window, the interval lead window and the
    version row_number all share one (key, order) spec, so the whole
    history build rides ONE hash partitioning — one Exchange, one Sort
    (the second Window sits directly on the Filter, no re-sort), and
    the scan reads only the five referenced columns."""
    import contextlib
    import io
    import re

    from jonesy_spark.plans import all_queries

    df = all_queries()["scd2_history"](spark, "/root/testdata/sf0.001")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 1, plan
    assert len(re.findall(r"\(\d+\) Sort\b", plan)) == 1, plan
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 2, plan


def test_crawl_gate_composed_plan_is_map_only(spark):
    """The composed crawl gate's scale claim, pinned in the plan
    (VERDICT r11 #6, amended r14): html synthesis -> strip_html -> C4
    array-filter line gate -> Gopher document gate is scan plus
    codegen'd projections — no joins, no aggregates, no Python, and no
    KEYED shuffle. r14's `catalog.spread()` may add AT MOST ONE
    round-robin Exchange (the scale-adaptive parallelism floor for
    1-split fixture scans, guide §2.5); round-robin moves no keys and
    leaves the map-only semantics intact, so the pin now forbids any
    hash/range partitioning and allows <= 1 RoundRobinPartitioning."""
    import contextlib
    import io
    import re

    from jonesy_spark.plans import all_queries

    df = all_queries()["crawl_gate_composed"](spark, "/root/testdata/sf0.001")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    for node in ("BroadcastExchange", "SortMergeJoin",
                 "HashAggregate", "BatchEvalPython", "ArrowEvalPython"):
        assert not re.findall(rf"\(\d+\) {node}\b", plan), node
    assert not re.findall(r"hashpartitioning|rangepartitioning", plan), plan
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) <= 1, plan
    assert len(re.findall(r"RoundRobinPartitioning", plan)) == len(
        re.findall(r"\(\d+\) Exchange\b", plan)
    ), plan


def test_spread_probes_file_metadata_not_rdd(spark, tmp_path):
    """r15 (VERDICT r14 #8): spread()'s planned-layout probe is a file
    metadata estimate — no DataFrame→RDD conversion in the hot path. A
    1-split fixture scan still gets the parallelism floor; a scan whose
    file count already covers the cores is returned UNCHANGED (same
    plan object, so provably no Exchange added)."""
    from jonesy_spark.catalog import spread

    target = spark.sparkContext.defaultParallelism

    small = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    spread_small = spread(small)
    assert spread_small is not small  # floor fired on the 1-file scan
    plan = plan_of(spread_small)
    assert "RoundRobinPartitioning" in plan

    many_path = str(tmp_path / "many")
    spark.range(0, 10_000).repartition(target).write.parquet(many_path)
    many = spark.read.parquet(many_path)
    assert len(many.inputFiles()) >= target
    assert spread(many) is many  # already planned at >= target partitions


def test_spread_packs_small_files_like_spark(spark, tmp_path):
    """Spark bin-packs small files into shared partitions, so a scan of
    fewer small files than cores plans fewer partitions than files
    times splits: spread() must count the packed partitions (the count
    Spark reports) and add the parallelism floor."""
    from jonesy_spark.catalog import spread

    target = spark.sparkContext.defaultParallelism
    if target < 2:
        pytest.skip("needs >= 2 cores to have fewer files than cores")
    path = str(tmp_path / "few")
    spark.range(0, 1_000).repartition(target - 1).write.parquet(path)
    few = spark.read.parquet(path)
    assert len(few.inputFiles()) == target - 1
    assert few.rdd.getNumPartitions() < target
    # two-letter size suffixes, as a user would write them, must parse
    spark.conf.set("spark.sql.files.maxPartitionBytes", "128mb")
    spark.conf.set("spark.sql.files.openCostInBytes", "4mb")
    try:
        spread_few = spread(few)
    finally:
        spark.conf.unset("spark.sql.files.maxPartitionBytes")
        spark.conf.unset("spark.sql.files.openCostInBytes")
    assert spread_few is not few
    assert "RoundRobinPartitioning" in plan_of(spread_few)


def test_spread_falls_back_when_file_status_fails(spark, tmp_path):
    """A file listed by the scan but gone from the store makes the
    getFileStatus bridge call raise; spread() falls back to Spark's own
    planned partition count (1 here) and still adds the floor."""
    import shutil

    from jonesy_spark.catalog import spread

    if spark.sparkContext.defaultParallelism < 2:
        pytest.skip("needs >= 2 cores for the floor to fire")
    path = str(tmp_path / "one")
    spark.range(0, 100).coalesce(1).write.parquet(path)
    one = spark.read.parquet(path)
    assert len(one.inputFiles()) == 1
    shutil.rmtree(path)
    spread_one = spread(one)
    assert spread_one is not one
    assert "RoundRobinPartitioning" in plan_of(spread_one)


def test_planned_file_partitions_matches_spark_packing():
    """FilePartition arithmetic on known layouts (4 cores, default
    128 MB max partition, 4 MB open cost): small files share
    partitions, a large file splits."""
    from jonesy_spark.catalog import planned_file_partitions

    mb = 1024**2
    # 3 x 1 MB: each file is its own partition, not 2 splits each
    assert planned_file_partitions([mb] * 3, 4, 128 * mb, 4 * mb) == 3
    # 6 tiny files pack two to a partition: fewer partitions than cores
    assert planned_file_partitions([1000] * 6, 4, 128 * mb, 4 * mb) == 3
    # one 12 MB file splits into max_split = 4 MB chunks
    assert planned_file_partitions([12 * mb], 4, 128 * mb, 4 * mb) == 3
    assert planned_file_partitions([], 4, 128 * mb, 4 * mb) == 0
    assert planned_file_partitions([0], 4, 128 * mb, 0) == 0


def test_conf_bytes_parses_spark_size_suffixes():
    """Spark accepts one- and two-letter binary suffixes on byte-size
    confs; '128mb' used to match the 'b' suffix first and crash."""
    from jonesy_spark.catalog import _conf_bytes

    assert _conf_bytes("128mb") == 128 * 1024**2
    assert _conf_bytes("128m") == 128 * 1024**2
    assert _conf_bytes("64kb") == 64 * 1024
    assert _conf_bytes("1GB") == 1024**3
    assert _conf_bytes("134217728b") == 134217728
    assert _conf_bytes(" 4194304 ") == 4194304
    with pytest.raises(ValueError):
        _conf_bytes("1.5g")


def test_verify_guard_keeps_expensive_expr_out_of_join_conditions(spark):
    """r14 verify-stage single-evaluation guard (dedup._eval_once):
    each pair operator's threshold filter used to be pushed into the
    candidate/re-attach join as a residual condition, DUPLICATING the
    expensive verify expression (array_intersect jaccard, interpreted
    estimated_jaccard fold, dot-product cosine) — once per candidate in
    the condition plus once in the surviving row's projection. The
    guard (isolated verify stage med 1.80 -> 1.60 s at sf0.1) pins ONE
    evaluation, so no Join node may carry the expression as a
    condition."""
    q = all_queries()
    for name in [
        "dedup_minhash_lsh",
        "dedup_ngram_jaccard",
        "prefix_jaccard_join",
        "embedding_near_dup",
        "incremental_near_dup",
    ]:
        plan = plan_of(q[name](spark, SF_DIR))
        for m in re.finditer(r"Join condition: (.+)", plan):
            cond = m.group(1)
            for marker in ("array_intersect", "zip_with", "aggregate("):
                assert marker not in cond, (name, cond)
        # ADVICE r14: absence-from-joins alone would pass if a future
        # optimizer rule simplified the always-true guard and restored
        # the duplicated evaluation into a Filter or second Project —
        # additionally pin the expensive expression to EXACTLY ONE
        # occurrence anywhere in the formatted plan. array_intersect
        # appears twice per evaluation site by construction (the
        # jaccard numerator + union denominator both call it), so one
        # evaluation = exactly 2 hits; the fold markers appear once.
        n_intersect = plan.count("array_intersect")
        if n_intersect:
            assert n_intersect == 2, (name, n_intersect)


def test_verify_guard_values_identical(spark, monkeypatch):
    """The guard is an always-true predicate: the unguarded plan (the
    guard patched to the identity) must not change a single output row
    (the guard only pins the evaluation count). Checked on the row
    whose verify expression is array_intersect Jaccard under the
    pushed-down filter — the most duplication-sensitive shape."""
    import jonesy_spark.operators.dedup as dd

    q = all_queries()
    with cache_scope():
        on = sorted(map(tuple, q["dedup_minhash_lsh"](spark, SF_DIR).collect()))
    monkeypatch.setattr(dd, "_eval_once", lambda col: col)
    with cache_scope():
        off_df = q["dedup_minhash_lsh"](spark, SF_DIR)
        assert "monotonically_increasing_id" not in plan_of(off_df)
        off = sorted(map(tuple, off_df.collect()))
    assert on == off and len(on) > 0
