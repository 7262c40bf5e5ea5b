"""Extension surface: aggregation / window / set-op / streaming-shaped
operators the reference doesn't use but a complete engine must provide
(SURVEY.md §2.4 note, §2.7, §2.10).

The reference has zero GROUP BY/COUNT/SUM/AVG, no set operations and no
windows analytics (all its relational work is projections, joins,
correlated-MAX dedup and sorts); these queries supply that missing
surface, each with a DuckDB oracle.

Determinism rules for the driver hash: sums go through DECIMAL then cast
to DOUBLE (exact, associativity-proof); averages divide two exact
numbers in double; every computed column aliased identically on both
sides.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import Catalog
from ..functions.scalars import micro_units
from ..functions import text as TX
from ..operators.windows import topk_per_group
from .seeded import seeded_dir

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        return fn

    return deco


def _dsum_micro(col: str | F.Column, alias: str):
    """Deterministic fixed-point sum: exact decimal accumulation scaled
    to integer micro-units (hash-stable under any float normalization —
    see scalars.micro_units)."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        (F.sum(c.cast("decimal(18,2)")) * 1_000_000).cast("long").alias(alias)
    )


@query(
    "pricing_summary_agg",
    oracle="""
    SELECT
        l_returnflag AS returnflag,
        l_linestatus AS linestatus,
        CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) * 1000000 AS BIGINT)
            AS sum_qty_micro,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 1000000 AS BIGINT)
            AS sum_base_price_micro,
        CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)))
             * 1000000 AS BIGINT)
            AS sum_disc_price_micro,
        CAST(round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                   / count(*) * 1000000) AS BIGINT) AS avg_qty_micro,
        count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def pricing_summary_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary: multi-aggregate GROUP BY.

    Scale: partial (map-side) aggregation shrinks the shuffle to
    #groups × #partitions rows; the l_shipdate filter pushes to the
    parquet scan. The DECIMAL accumulation isn't just for the oracle —
    at 100 TB a double sum drifts by accumulation order run-to-run;
    decimal is exact and still codegen'd.
    """
    li = Catalog(spark, sf_dir).lineitem
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy(
            F.col("l_returnflag").alias("returnflag"),
            F.col("l_linestatus").alias("linestatus"),
        )
        .agg(
            _dsum_micro("l_quantity", "sum_qty_micro"),
            _dsum_micro("l_extendedprice", "sum_base_price_micro"),
            (F.sum(disc_price.cast("decimal(18,6)")) * 1_000_000)
            .cast("long")
            .alias("sum_disc_price_micro"),
            micro_units(
                F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double")
                / F.count("*")
            ).alias("avg_qty_micro"),
            F.count("*").alias("count_order"),
        )
    )


@query(
    "topk_per_group_price",
    oracle="""
    SELECT returnflag, orderkey, linenumber, price_micro
    FROM (
        SELECT l_returnflag AS returnflag, l_orderkey AS orderkey,
               l_linenumber AS linenumber,
               CAST(round(l_extendedprice * 1000000) AS BIGINT) AS price_micro,
               row_number() OVER (
                   PARTITION BY l_returnflag
                   ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
               ) AS rn
        FROM lineitem
    )
    WHERE rn <= 5
    """,
)
def topk_per_group_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group via ranked window (total order incl. unique
    tiebreak keys so ties are deterministic).

    Scale: rank-within-partition shuffles once on the group key —
    never a global sort. Skewed groups split under AQE.
    """
    li = Catalog(spark, sf_dir).lineitem
    top = topk_per_group(
        li,
        ["l_returnflag"],
        [F.col("l_extendedprice").desc(), F.col("l_orderkey"), F.col("l_linenumber")],
        k=5,
    )
    return top.select(
        F.col("l_returnflag").alias("returnflag"),
        F.col("l_orderkey").alias("orderkey"),
        F.col("l_linenumber").alias("linenumber"),
        micro_units(F.col("l_extendedprice")).alias("price_micro"),
    )


@query(
    "rollup_agg",
    oracle="""
    SELECT
        l_returnflag AS returnflag,
        l_linestatus AS linestatus,
        count(*) AS n_rows,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 1000000 AS BIGINT)
            AS revenue_micro
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (group, subtotal, grand total) in one pass.

    Scale: Catalyst expands rollup into a single Expand + hash
    aggregate — one shuffle for all grouping sets, not one per level.
    """
    li = Catalog(spark, sf_dir).lineitem
    return (
        li.rollup(
            F.col("l_returnflag").alias("returnflag"),
            F.col("l_linestatus").alias("linestatus"),
        )
        .agg(
        F.count("*").alias("n_rows"),
        _dsum_micro("l_extendedprice", "revenue_micro"),
    )
    )


@query(
    "set_operations",
    oracle="""
    (
        SELECT DISTINCT o_custkey AS custkey FROM orders
        WHERE year(o_orderdate) = 1995
        INTERSECT
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    )
    UNION
    (
        SELECT c_custkey FROM customer WHERE c_acctbal < 0
        EXCEPT
        SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1995
    )
    """,
)
def set_operations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION / INTERSECT / EXCEPT composition (distinct set semantics).

    Absent from the reference (SURVEY.md §2.7); Spark plans each as a
    hash-partitioned semi/anti-style exchange on the full row.
    """
    cat = Catalog(spark, sf_dir)
    o95 = (
        cat.orders.filter(F.year("o_orderdate") == 1995)
        .select(F.col("o_custkey").alias("custkey"))
        .distinct()
    )
    building = cat.customer.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("custkey")
    )
    negative = cat.customer.filter(F.col("c_acctbal") < 0).select(
        F.col("c_custkey").alias("custkey")
    )
    return o95.intersect(building).union(negative.exceptAll(o95).distinct()).distinct()


@query(
    "pivot_event_counts",
    oracle="""
    SELECT
        user_id,
        count(*) FILTER (WHERE event_type = 'click')    AS click,
        count(*) FILTER (WHERE event_type = 'view')     AS view,
        count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        count(*) FILTER (WHERE event_type = 'signup')   AS signup,
        count(*) FILTER (WHERE event_type = 'error')    AS error
    FROM events
    GROUP BY user_id
    """,
)
def pivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long→wide conditional aggregation) of event counts per user.

    Explicit pivot values keep the schema static — mandatory at scale
    (dynamic pivot needs an extra pass to discover values).
    """
    ev = Catalog(spark, sf_dir).events
    kinds = ["click", "view", "purchase", "signup", "error"]
    return (
        ev.groupBy("user_id")
        .pivot("event_type", kinds)
        .agg(F.count(F.lit(1)))
        .na.fill(0, kinds)
    )


@query(
    "running_total",
    oracle="""
    SELECT
        o_custkey  AS custkey,
        o_orderkey AS orderkey,
        o_orderdate AS orderdate,
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
            PARTITION BY o_custkey
            ORDER BY o_orderdate, o_orderkey
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) * 1000000 AS BIGINT) AS cumulative_spend_micro,
        coalesce(lag(o_orderkey) OVER w, CAST(-1 AS BIGINT))
            AS prev_orderkey,
        coalesce(lead(o_orderkey) OVER w, CAST(-1 AS BIGINT))
            AS next_orderkey,
        CAST(ntile(4) OVER w AS BIGINT) AS recency_quartile
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered analytic windows over one shuffle: running (cumulative)
    aggregate plus lag/lead offset neighbors and ntile bucketing per key
    (absorbs the former ``lag_lead_analytics`` query — identical window
    spec, so one driver row verifies all four §2.5 analytic patterns).

    The frame order includes the unique orderkey so ties are total;
    decimal accumulation keeps the running values exact at any prefix.
    All four functions share the same (partition, order) so Catalyst
    plans a single exchange + sort. The boundary lag/lead NULLs are
    coalesced to -1 (orderkeys are positive): a nullable BIGINT
    becomes float64 in pandas on both engines, which the driver's
    canonicalizer hashes asymmetrically one NULL-skew away (the
    r07 dtype-gate rule: roster rows are non-null integer/string
    scalars only).
    """
    orders = Catalog(spark, sf_dir).orders
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return orders.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("orderkey"),
        F.col("o_orderdate").alias("orderdate"),
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)")).over(wcum) * 1_000_000)
        .cast("long")
        .alias("cumulative_spend_micro"),
        F.coalesce(F.lag("o_orderkey").over(w), F.lit(-1).cast("long")).alias(
            "prev_orderkey"
        ),
        F.coalesce(
            F.lead("o_orderkey").over(w), F.lit(-1).cast("long")
        ).alias("next_orderkey"),
        F.ntile(4).over(w).cast("long").alias("recency_quartile"),
    )


@query(
    "unpivot_event_counts",
    oracle="""
    WITH wide AS (
        SELECT user_id,
            count(*) FILTER (WHERE event_type = 'click')    AS click,
            count(*) FILTER (WHERE event_type = 'purchase') AS purchase
        FROM events GROUP BY user_id
    )
    SELECT user_id, 'click' AS kind, click AS n FROM wide
    UNION ALL
    SELECT user_id, 'purchase' AS kind, purchase AS n FROM wide
    """,
)
def unpivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide→long via stack) — the inverse of pivot_event_counts;
    round-trips the columnar layout back to rows without a shuffle
    beyond the underlying aggregate."""
    ev = Catalog(spark, sf_dir).events
    wide = (
        ev.groupBy("user_id")
        .pivot("event_type", ["click", "purchase"])
        .agg(F.count(F.lit(1)))
        .na.fill(0, ["click", "purchase"])
    )
    return wide.select(
        "user_id",
        F.expr("stack(2, 'click', click, 'purchase', purchase) AS (kind, n)"),
    )


@query(
    "events_tumbling_window",
    oracle="""
    SELECT
        time_bucket(INTERVAL '6 hours', CAST(ts AS TIMESTAMP)) AS window_start,
        event_type,
        count(*) AS n_events,
        CAST(sum(CAST(value AS DECIMAL(18,2))) * 1000000 AS BIGINT)
            AS total_value_micro
    FROM events
    GROUP BY 1, 2
    """,
)
def events_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling time-window aggregation (§2.10 streaming-shaped op, batch
    form; the streaming twin in jonesy_spark.streaming shares semantics).

    Spark's `window()` aligns buckets to the epoch; 6-hour buckets land
    on the same boundaries as DuckDB's time_bucket. Scale: windowed agg
    is an ordinary hash aggregate on (bucket, type).
    """
    ev = Catalog(spark, sf_dir).events
    return (
        ev.groupBy(F.window("ts", "6 hours").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            _dsum_micro("value", "total_value_micro"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value_micro",
        )
    )


@query(
    "events_sessionization",
    oracle="""
    WITH ev AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events
    ), flagged AS (
        SELECT user_id, ts, value,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         > INTERVAL 30 MINUTE
                    OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                    THEN 1 ELSE 0 END AS is_new
        FROM ev
    ), sessions AS (
        SELECT user_id, ts, value,
               CAST(sum(is_new) OVER (
                   PARTITION BY user_id ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS session_nbr
        FROM flagged
    )
    SELECT user_id, session_nbr, min(ts) AS session_start,
           max(ts) AS session_end, CAST(count(*) AS BIGINT) AS n_events
    FROM sessions
    GROUP BY user_id, session_nbr
    """,
)
def events_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization (gaps-and-islands): sessions break on >30 min
    silence per user.

    Batch form of `session_window` built from lag + running sum — the
    classic two-window pattern; both shuffles share the user_id
    partitioning so Catalyst plans one exchange. The streaming twin
    uses session_window() state (jonesy_spark.streaming).
    """
    ev = Catalog(spark, sf_dir).events
    by_user = Window.partitionBy("user_id").orderBy("ts")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(by_user)
    flagged = ev.withColumn(
        "is_new",
        F.when(gap.isNull() | (gap > 30 * 60), 1).otherwise(0),
    )
    sessions = flagged.withColumn(
        "session_nbr",
        F.sum("is_new")
        .over(by_user.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long"),
    )
    return sessions.groupBy("user_id", "session_nbr").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count("*").alias("n_events"),
    )


@query(
    "events_session_native",
    oracle="""
    WITH ev AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
    ), flagged AS (
        SELECT user_id, ts,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         > INTERVAL 30 MINUTE
                    OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                    THEN 1 ELSE 0 END AS is_new
        FROM ev
    ), sessions AS (
        SELECT user_id, ts,
               sum(is_new) OVER (
                   PARTITION BY user_id ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS session_nbr
        FROM flagged
    )
    SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
           count(*) AS n_events
    FROM sessions
    GROUP BY user_id, session_nbr
    """,
)
def events_session_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native `session_window` (30-min gap) in batch mode — Spark's
    built-in sessionizer, cross-checked against the gaps-and-islands
    oracle (session_window.end = last event + gap, so subtracting the
    gap recovers max(ts)).

    Scale: unlike the two-window gaps-and-islands form, session_window
    is a single aggregation operator — one shuffle, and it is the SAME
    operator the streaming engine runs stateful (operators compose
    across batch and streaming unchanged).
    """
    ev = Catalog(spark, sf_dir).events
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"), F.min("ts").alias("session_start"))
        .select(
            "user_id",
            "session_start",
            (F.col("w.end") - F.expr("INTERVAL 30 MINUTES")).alias("session_end"),
            "n_events",
        )
    )


@query(
    "asof_join_last_click",
    oracle="""
    WITH ev AS (
        SELECT event_id, user_id, event_type, value,
               CAST(ts AS TIMESTAMP) AS ts FROM events
    ), purchases AS (
        SELECT event_id, user_id, ts, value FROM ev WHERE event_type = 'purchase'
    ), clicks AS (
        SELECT user_id, ts, value FROM ev WHERE event_type = 'click'
    )
    SELECT
        p.event_id AS purchase_id,
        p.user_id  AS user_id,
        p.ts       AS purchase_ts,
        c.ts       AS click_ts
    FROM purchases p
    ASOF JOIN clicks c ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def asof_join_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the latest click at-or-before
    it per user (Spark lacks a native as-of join — SURVEY.md §2.3 note).

    Spark-first composition: union both streams, one window pass per
    user ordered by (ts, click-first tiebreak) carrying the last click
    ts forward, then keep purchases with a match. One shuffle on
    user_id — no per-row range probe, no pandas merge_asof needed.
    """
    ev = Catalog(spark, sf_dir).events
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.lit(1).alias("is_click"), F.lit(None).cast("long").alias("event_id")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.lit(0).alias("is_click"), "event_id"
    )
    unioned = clicks.unionByName(purchases)
    # clicks sort before purchases at equal ts so `p.ts >= c.ts` includes
    # same-instant clicks, matching ASOF semantics.
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts"), F.col("is_click").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = unioned.withColumn(
        "click_ts",
        F.last(F.when(F.col("is_click") == 1, F.col("ts")), ignorenulls=True).over(w),
    )
    return (
        carried.filter((F.col("is_click") == 0) & F.col("click_ts").isNotNull())
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("click_ts"),
        )
    )


@query(
    "semi_anti_joins",
    oracle="""
    SELECT c_custkey AS custkey, c_mktsegment AS segment,
           CAST(round(c_acctbal * 1000000) AS BIGINT) AS acctbal_micro
    FROM customer c
    WHERE EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND year(o.o_orderdate) = 1996
    )
    AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F'
    )
    """,
)
def semi_anti_joins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS / NOT EXISTS as left-semi + left-anti joins.

    The reference's correlated subqueries are its stand-in for
    semi-join logic (SURVEY.md §2.3 note); Spark has the real operators:
    semi/anti never materialize the probe side's payload, so the shuffle
    carries keys only.
    """
    cat = Catalog(spark, sf_dir)
    cust = cat.customer
    o96 = cat.orders.filter(F.year("o_orderdate") == 1996).select("o_custkey")
    of = cat.orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return (
        cust.join(o96, cust.c_custkey == o96.o_custkey, "left_semi")
        .join(of, cust.c_custkey == of.o_custkey, "left_anti")
        .select(
            F.col("c_custkey").alias("custkey"),
            F.col("c_mktsegment").alias("segment"),
            micro_units(F.col("c_acctbal")).alias("acctbal_micro"),
        )
    )


@query(
    "cube_agg",
    oracle="""
    SELECT
        l_returnflag AS returnflag,
        l_linestatus AS linestatus,
        count(*) AS n_rows,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 1000000 AS BIGINT)
            AS revenue_micro
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two dimensions (all 4 grouping sets in one pass —
    Catalyst Expand + single shuffle, same plan shape as rollup_agg)."""
    li = Catalog(spark, sf_dir).lineitem
    return li.cube(
        F.col("l_returnflag").alias("returnflag"),
        F.col("l_linestatus").alias("linestatus"),
    ).agg(
        F.count("*").alias("n_rows"),
        _dsum_micro("l_extendedprice", "revenue_micro"),
    )


@query(
    "quantile_stats",
    oracle="""
    SELECT
        l_returnflag AS returnflag,
        CAST(round(median(l_quantity) * 1000000) AS BIGINT) AS median_qty_micro,
        CAST(round(quantile_cont(l_extendedprice, 0.9) * 1000000) AS BIGINT)
            AS p90_price_micro,
        CAST(round(quantile_cont(l_discount, 0.5) * 1000000) AS BIGINT)
            AS median_discount_micro
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def quantile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated quantiles per group (median / p90).

    Spark's `median`/`percentile` interpolate identically to DuckDB's
    quantile_cont (verified bit-equal). Scale note: exact quantiles
    shuffle the full column per group; prefer `percentile_approx`
    (t-digest sketch, one pass, mergeable) for 100 TB dashboards —
    covered by the approx-bounds test in tests/test_operators.py.
    """
    li = Catalog(spark, sf_dir).lineitem
    return li.groupBy(F.col("l_returnflag").alias("returnflag")).agg(
        micro_units(F.median("l_quantity")).alias("median_qty_micro"),
        micro_units(F.percentile("l_extendedprice", F.lit(0.9))).alias(
            "p90_price_micro"
        ),
        micro_units(F.percentile("l_discount", F.lit(0.5))).alias(
            "median_discount_micro"
        ),
    )


@query(
    "cdc_upsert",
    oracle="""
    WITH ev AS (
        SELECT event_id, user_id, event_type, value,
               CAST(ts AS TIMESTAMP) AS ts FROM events
    ),
    base AS (
        SELECT * FROM ev WHERE ts < TIMESTAMP '2024-01-20 00:00:00'
        QUALIFY row_number() OVER (PARTITION BY user_id, event_type
                                   ORDER BY ts DESC, event_id DESC) = 1
    ),
    updates AS (
        SELECT * FROM ev WHERE ts >= TIMESTAMP '2024-01-20 00:00:00'
    ),
    merged AS (
        SELECT * FROM base UNION ALL SELECT * FROM updates
    )
    SELECT user_id, event_type,
           CAST(round(value * 1000000) AS BIGINT) AS current_value_micro,
           ts AS current_ts
    FROM merged
    QUALIFY row_number() OVER (PARTITION BY user_id, event_type
                               ORDER BY ts DESC, event_id DESC) = 1
    """,
)
def cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC merge (upsert) emulation without Delta: snapshot state ∪
    change feed → latest row per key wins (anti-join+union+window — the
    guide's MERGE INTO emulation; deterministic tiebreak on event_id).

    Scale: both the base dedup and the final dedup hash-partition on
    the merge key; with the base bucketed on (user_id, event_type) the
    merge is shuffle-free on the base side.
    """
    ev = Catalog(spark, sf_dir).events
    cutoff = F.lit("2024-01-20 00:00:00").cast("timestamp")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    base = (
        ev.filter(F.col("ts") < cutoff)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    updates = ev.filter(F.col("ts") >= cutoff)
    merged = base.unionByName(updates.select(*base.columns))
    return (
        merged.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "user_id",
            "event_type",
            micro_units(F.col("value")).alias("current_value_micro"),
            F.col("ts").alias("current_ts"),
        )
    )


@query(
    "scd2_history",
    oracle="""
    WITH base AS (
        SELECT user_id, event_type,
               CAST(round(value * 1000000) AS BIGINT) AS value_micro,
               CAST(ts AS TIMESTAMP) AS ts, event_id
        FROM events
    ),
    marked AS (
        SELECT *,
               lag(value_micro) OVER w AS prev_value,
               lag(event_id) OVER w AS prev_id
        FROM base
        WINDOW w AS (PARTITION BY user_id, event_type
                     ORDER BY ts, event_id)
    ),
    changes AS (
        SELECT * FROM marked
        WHERE prev_id IS NULL OR value_micro IS DISTINCT FROM prev_value
    )
    SELECT user_id, event_type, value_micro,
           ts AS valid_from,
           lead(ts) OVER w2 AS valid_to,
           row_number() OVER w2 AS version,
           (lead(ts) OVER w2 IS NULL) AS is_current
    FROM changes
    WINDOW w2 AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
    """,
)
def scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing-dimension history built from a change
    log: per (user_id, event_type) key, change-only compression drops
    rows whose value repeats the previous observation (null-safe), then
    each survivor becomes a validity interval ``[valid_from, valid_to)``
    via ``lead`` with an open-ended current row — the interval-ized
    complement of cdc_upsert (latest-wins MERGE) and snapshot_cdc
    (snapshot diff), and the producer side of the range_join_calendar /
    J9 validity-interval consumers (reference jonesy/queries.py keeps
    only current rows; a warehouse needs the full history too).

    Determinism: values are compared and emitted as micro-unit BIGINTs
    (both engines round the same IEEE double product), ordering ties
    break on event_id, and version is a dense per-key sequence.

    Scale: one hash partition by the dimension key; the lag-compress
    and lead/row_number windows share the same partitioning + ordering,
    so Catalyst plans a single Exchange with sorts reused — no second
    shuffle for the interval build. History length per key is bounded
    by the key's churn, not corpus size; skewed keys cost one
    partition-local sort, never a cross-key shuffle.
    """
    ev = Catalog(spark, sf_dir).events
    w = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    base = ev.select(
        "user_id",
        "event_type",
        micro_units(F.col("value")).alias("value_micro"),
        F.col("ts").cast("timestamp").alias("ts"),
        "event_id",
    )
    marked = base.withColumn(
        "prev_value", F.lag("value_micro").over(w)
    ).withColumn("prev_id", F.lag("event_id").over(w))
    changes = marked.filter(
        F.col("prev_id").isNull()
        | ~F.col("value_micro").eqNullSafe(F.col("prev_value"))
    )
    return changes.select(
        "user_id",
        "event_type",
        "value_micro",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
        F.row_number().over(w).alias("version"),
    ).withColumn("is_current", F.col("valid_to").isNull())


@query(
    "local_supplier_volume",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                         * (1 + l.l_tax) AS DECIMAL(18,6))) * 1000000
                AS BIGINT) AS revenue_with_tax_micro,
           CAST(round(CAST(sum(CAST(s.s_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                      / count(*) * 1000000) AS BIGINT) AS avg_supp_acctbal_micro,
           count(*) AS n_lineitems
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped local-supplier volume: revenue (tax-inclusive —
    the one lineitem column no other query touched) per nation where
    customer and supplier share the nation, with the mean supplier
    balance. Dims (nation, supplier, customer) broadcast under
    Catalyst's thresholds; the fact joins hash-partition on their
    keys; sums accumulate in DECIMAL then cast (the house
    associativity-proof float rule)."""
    cat = Catalog(spark, sf_dir)
    rev = (
        F.col("l_extendedprice")
        * (1 - F.col("l_discount"))
        * (1 + F.col("l_tax"))
    )
    joined = (
        cat.lineitem.join(
            cat.orders, F.col("l_orderkey") == F.col("o_orderkey")
        )
        .join(cat.customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            cat.supplier,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(cat.nation, F.col("s_nationkey") == F.col("n_nationkey"))
    )
    return joined.groupBy(F.col("n_name").alias("nation")).agg(
        (F.sum(rev.cast("decimal(18,6)")) * 1_000_000)
        .cast("long")
        .alias("revenue_with_tax_micro"),
        micro_units(
            F.sum(F.col("s_acctbal").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_supp_acctbal_micro"),
        F.count(F.lit(1)).alias("n_lineitems"),
    )


@query(
    "variant_props_extract",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           CAST(sum(CAST(json_extract(props, '$.k') AS INT)) AS BIGINT)
               AS sum_k,
           max(CAST(json_extract(props, '$.k') AS INT)) AS max_k
    FROM events
    GROUP BY event_type
    """,
)
def variant_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The VARIANT-typed twin of json_props_extract (Spark 4 semi-
    structured tier: parse_json once into the binary variant encoding,
    then typed variant_get path access — the schema-on-read shape for
    payloads too heterogeneous for one declared struct; same oracle
    semantics, so the two rows pin from_json and VARIANT against the
    same truth). Parse and path-extract are map-side; only the
    extracted INT shuffles."""
    ev = Catalog(spark, sf_dir).events
    k = F.variant_get(F.parse_json(F.col("props")), "$.k", "int")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(k).cast("bigint").alias("sum_k"),
        F.max(k).alias("max_k"),
    )


@query(
    "json_props_extract",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           CAST(sum(CAST(json_extract(props, '$.k') AS INT)) AS BIGINT)
               AS sum_k,
           CAST(round(avg(CAST(json_extract(props, '$.k') AS INT)) * 1000000)
                AS BIGINT) AS avg_k_micro,
           max(CAST(json_extract(props, '$.k') AS INT)) AS max_k,
           count(*) FILTER (
               WHERE CAST(json_extract(props, '$.k') AS INT) IS NULL
           ) AS n_unparsed
    FROM events
    GROUP BY event_type
    """,
)
def json_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: parse the events table's JSON
    ``props`` payload under a DECLARED schema (``from_json`` — the
    house no-inference rule: schema inference over a 100 TB JSON
    column is a second full scan with unstable types) and aggregate
    the extracted field per event type, counting unparsed rows instead
    of dropping them (the quarantine philosophy at expression level).
    Map-side parse + one grouped aggregation; the JSON never shuffles
    — only the extracted INT does."""
    ev = Catalog(spark, sf_dir).events
    k = F.from_json(F.col("props"), "k INT")["k"]
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(k).cast("bigint").alias("sum_k"),
        micro_units(F.avg(k)).alias("avg_k_micro"),
        F.max(k).alias("max_k"),
        F.count(F.when(k.isNull(), 1)).alias("n_unparsed"),
    )


@query(
    "retention_cohorts",
    oracle="""
    WITH ev AS (
        SELECT user_id AS k, event_type AS et,
               (CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) // 604800)
                   * 604800 AS b
        FROM events
    ),
    cohorts AS (
        SELECT k, min(b) AS cohort_epoch FROM ev
        WHERE et = 'signup' GROUP BY k
    ),
    sizes AS (
        SELECT cohort_epoch, count(*) AS cohort_size
        FROM cohorts GROUP BY cohort_epoch
    ),
    active AS (
        SELECT c.cohort_epoch,
               CAST((e.b - c.cohort_epoch) // 604800 AS INT) AS week_offset,
               count(DISTINCT e.k) AS n_active
        FROM ev e JOIN cohorts c ON e.k = c.k
        WHERE e.b >= c.cohort_epoch
        GROUP BY c.cohort_epoch, week_offset
    )
    SELECT a.cohort_epoch, a.week_offset, a.n_active, s.cohort_size,
           CAST(round(a.n_active / s.cohort_size * 1000000) AS BIGINT)
               AS retention_micro
    FROM active a JOIN sizes s USING (cohort_epoch)
    """,
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly signup-cohort retention matrix over the events stream —
    cohort by first signup bucket, distinct-active per offset
    (operators.windows.retention_cohorts)."""
    from ..operators.windows import retention_cohorts as RC

    return RC(Catalog(spark, sf_dir).events)


@query(
    "funnel_steps",
    oracle="""
    WITH ev AS (
        SELECT user_id AS k, event_type AS et,
               CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS es
        FROM events
    ),
    s1 AS (
        SELECT k, min(es) AS step1_epoch FROM ev WHERE et = 'view' GROUP BY k
    ),
    s2 AS (
        SELECT e.k, s1.step1_epoch, min(e.es) AS step2_epoch
        FROM ev e JOIN s1 ON e.k = s1.k
        WHERE e.et = 'click' AND e.es > s1.step1_epoch
        GROUP BY e.k, s1.step1_epoch
    ),
    s3 AS (
        SELECT e.k, s2.step1_epoch, s2.step2_epoch, min(e.es) AS step3_epoch
        FROM ev e JOIN s2 ON e.k = s2.k
        WHERE e.et = 'purchase' AND e.es > s2.step2_epoch
        GROUP BY e.k, s2.step1_epoch, s2.step2_epoch
    )
    SELECT s1.k AS user_id, s1.step1_epoch, s2.step2_epoch, s3.step3_epoch,
           CAST(CASE WHEN s3.step3_epoch IS NOT NULL THEN 3
                     WHEN s2.step2_epoch IS NOT NULL THEN 2
                     ELSE 1 END AS INT) AS furthest_step
    FROM s1
    LEFT JOIN s2 ON s1.k = s2.k
    LEFT JOIN s3 ON s1.k = s3.k
    """,
)
def funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """view → click → purchase funnel per user: earliest strictly-
    ordered completion times with NULLs past the drop-off — the
    stage-dependent-filter family no plain groupBy expresses
    (operators.windows.funnel_conversion)."""
    from ..operators.windows import funnel_conversion

    return funnel_conversion(
        Catalog(spark, sf_dir).events, steps=["view", "click", "purchase"]
    )


@query(
    "resample_interpolate",
    oracle="""
    WITH ev AS (
        SELECT user_id,
               (CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) // 21600)
                   * 21600 AS bucket,
               CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS es,
               value, event_id
        FROM events
    ),
    slots AS (
        SELECT user_id, bucket, value AS v,
               count(*) OVER (PARTITION BY user_id, bucket) AS n_events
        FROM ev
        QUALIFY row_number() OVER (PARTITION BY user_id, bucket
                                   ORDER BY es DESC, event_id DESC) = 1
    ),
    stats AS (
        SELECT user_id, min(bucket) AS b0, max(bucket) AS b1
        FROM ev GROUP BY user_id
    ),
    grid AS (
        SELECT user_id, u.g AS bucket
        FROM stats, unnest(generate_series(b0, b1, 21600)) AS u(g)
    ),
    j AS (
        SELECT g.user_id, g.bucket, s.v, s.n_events,
               last_value(s.v IGNORE NULLS) OVER wp AS prev_v,
               last_value(CASE WHEN s.v IS NOT NULL THEN g.bucket END
                          IGNORE NULLS) OVER wp AS prev_b,
               first_value(s.v IGNORE NULLS) OVER wn AS next_v,
               first_value(CASE WHEN s.v IS NOT NULL THEN g.bucket END
                           IGNORE NULLS) OVER wn AS next_b
        FROM grid g LEFT JOIN slots s USING (user_id, bucket)
        WINDOW wp AS (PARTITION BY g.user_id ORDER BY g.bucket
                      ROWS UNBOUNDED PRECEDING),
               wn AS (PARTITION BY g.user_id ORDER BY g.bucket
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id, bucket AS grid_epoch,
           CAST(coalesce(n_events, 0) AS INT) AS n_events,
           CAST(round(CASE WHEN v IS NOT NULL THEN v
                 ELSE prev_v + (next_v - prev_v)
                      * (bucket - prev_b) / (next_b - prev_b) END
                 * 1000000) AS BIGINT)
               AS value_interp_micro,
           CASE WHEN n_events IS NULL THEN 1 ELSE 0 END AS is_gap
    FROM j
    """,
)
def resample_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-interpolation resampling over the events stream — the
    interpolate() gapfill twin of resample_gapfill: gap slots take the
    straight-line value between their anchor slots.
    operators.windows.resample_interpolate."""
    from ..operators.windows import resample_interpolate as RI

    return RI(Catalog(spark, sf_dir).events, step_seconds=21_600)


@query(
    "trailing_range_stats",
    oracle="""
    WITH ev AS (
        SELECT event_id, user_id,
               CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS es, value
        FROM events
    )
    SELECT event_id, user_id, es,
           CAST(count(*) OVER w AS INT) AS n_trailing,
           CAST(round(avg(value) OVER w * 1000000) AS BIGINT)
               AS mean_trailing_micro,
           CAST(round(max(value) OVER w * 1000000) AS BIGINT)
               AS max_trailing_micro
    FROM ev
    WINDOW w AS (PARTITION BY user_id ORDER BY es
                 RANGE BETWEEN 86400 PRECEDING AND CURRENT ROW)
    """,
)
def trailing_range_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 24h per-event aggregates via a RANGE frame over event
    time — the time-horizon window family (rangeBetween on epoch
    seconds), previously unwitnessed: every other window here uses ROWS
    frames. operators.windows.trailing_range_stats."""
    from ..operators.windows import trailing_range_stats as TRS

    return TRS(Catalog(spark, sf_dir).events, window_seconds=86_400)


@query(
    "resample_gapfill",
    oracle="""
    WITH ev AS (
        SELECT user_id,
               (CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) // 21600) * 21600
                   AS bucket,
               CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS es,
               value, event_id
        FROM events
    ),
    slots AS (
        SELECT user_id, bucket, value AS v,
               count(*) OVER (PARTITION BY user_id, bucket) AS n_events
        FROM ev
        QUALIFY row_number() OVER (PARTITION BY user_id, bucket
                                   ORDER BY es DESC, event_id DESC) = 1
    ),
    stats AS (
        SELECT user_id, min(bucket) AS b0, max(bucket) AS b1
        FROM ev GROUP BY user_id
    ),
    grid AS (
        SELECT user_id, u.g AS bucket
        FROM stats, unnest(generate_series(b0, b1, 21600)) AS u(g)
    )
    SELECT g.user_id,
           g.bucket AS grid_epoch,
           CAST(coalesce(s.n_events, 0) AS INT) AS n_events,
           CAST(round(last_value(s.v IGNORE NULLS)
                 OVER (PARTITION BY g.user_id ORDER BY g.bucket
                       ROWS UNBOUNDED PRECEDING) * 1000000) AS BIGINT)
               AS last_value_micro,
           CASE WHEN s.n_events IS NULL THEN 1 ELSE 0 END AS is_gap
    FROM grid g LEFT JOIN slots s USING (user_id, bucket)
    """,
)
def resample_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user 6-hour resampling with gap fill + forward-filled last
    value over the events stream — the hypertable/time_bucket_gapfill
    shape (operators.windows.resample_ffill has the grid-generation
    and carry-forward scale notes). Epochs stay BIGINT seconds so no
    timezone rendering enters the hash."""
    from ..operators.windows import resample_ffill

    return resample_ffill(Catalog(spark, sf_dir).events, step_seconds=21_600)


@query(
    "snapshot_cdc",
    oracle="""
    WITH oldsnap AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 0
    ),
    newsnap AS (
        SELECT doc_id,
               CASE WHEN doc_id % 3 = 0 THEN text || ' v2' ELSE text END AS text
        FROM documents WHERE doc_id % 5 <> 0
    ),
    o AS (SELECT doc_id, md5(coalesce(text, chr(0))) AS old_digest FROM oldsnap),
    n AS (SELECT doc_id, md5(coalesce(text, chr(0))) AS new_digest FROM newsnap)
    SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
           CASE WHEN o.doc_id IS NULL THEN 'added'
                WHEN n.doc_id IS NULL THEN 'removed'
                WHEN old_digest <> new_digest THEN 'changed'
                ELSE 'unchanged' END AS status,
           old_digest, new_digest
    FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
    """,
)
def snapshot_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reverse CDC: derive the change feed from two full nightly
    snapshots (stats.snapshot_diff) — the complement of cdc_upsert,
    and the shape the reference's snapshot-only pipeline implies
    (reference jonesy/jobs.py:124-131 re-ships the full table nightly;
    consumers diff generations to get increments). Fixture derivation:
    old = doc_id % 7 != 0, new = doc_id % 5 != 0 with ' v2' appended
    for doc_id % 3 == 0 — covers all four statuses. Digests are
    computed map-side so only (id, digest) enters the full-outer join.
    """
    from ..operators import stats as ST

    docs = Catalog(spark, sf_dir).documents
    old = docs.filter(F.col("doc_id") % 7 != 0)
    new = docs.filter(F.col("doc_id") % 5 != 0).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 3 == 0, F.concat(F.col("text"), F.lit(" v2"))
        ).otherwise(F.col("text")),
    )
    return ST.snapshot_diff(old, new)


@query(
    "quality_psi",
    oracle="""
    WITH m AS (
        SELECT doc_id,
               len(string_split(trim(text), ' ')) AS n_tokens,
               CAST((length(lower(text))
                     - length(replace(lower(text), 'the', ''))) / 3
                    AS INTEGER) AS c_stop
        FROM documents
    ),
    q AS (
        SELECT doc_id,
               CAST(round(least(1.0, n_tokens / 100.0)
                          * (1.0 - least(1.0, c_stop::DOUBLE / n_tokens))
                          * 1000000) AS BIGINT)
                   AS quality_micro
        FROM m
    ),
    b AS (
        SELECT CAST(least(floor(quality_micro * 10 / 1000000), 9) AS INTEGER)
                   AS bin,
               count(*) AS n
        FROM q WHERE doc_id % 2 = 0 GROUP BY 1
    ),
    c AS (
        SELECT CAST(least(floor(quality_micro * 10 / 1000000), 9) AS INTEGER)
                   AS bin,
               count(*) AS n
        FROM q WHERE doc_id % 2 = 1 GROUP BY 1
    ),
    bins AS (SELECT CAST(range AS INTEGER) AS bin FROM range(10)),
    j AS (
        SELECT bin, coalesce(b.n, 0) AS n_base, coalesce(c.n, 0) AS n_cur
        FROM bins LEFT JOIN b USING (bin) LEFT JOIN c USING (bin)
    ),
    t AS (SELECT sum(n_base) AS tb, sum(n_cur) AS tc FROM j),
    s AS (
        SELECT bin,
               greatest(n_base / tb, 1e-6) AS sb,
               greatest(n_cur / tc, 1e-6) AS sc
        FROM j, t
    ),
    terms AS (
        SELECT bin, sb, sc,
               round((sc - sb) * round(ln(sc / sb), 9), 9) AS term9
        FROM s
    )
    SELECT bin,
           CAST(round(sb * 1000000) AS BIGINT) AS share_base_micro,
           CAST(round(sc * 1000000) AS BIGINT) AS share_cur_micro,
           CAST(round(term9 * 1000000) AS BIGINT) AS psi_term_micro,
           CAST(round(sum(term9) OVER () * 1000000) AS BIGINT) AS psi_micro
    FROM terms
    """,
)
def quality_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between two corpus halves (even vs
    odd doc_ids) over the quality composite — the distributional-drift
    monitor (stats.psi_report): fixed-width bins over the integer
    micro-unit score (exact binning on both engines), eps-floored
    shares, 9-then-micro log rounding so libm ulp drift never reaches
    the hash. One map-side bin + one tiny aggregation per side; nothing
    corpus-sized shuffles."""
    from ..operators import stats as ST

    docs = Catalog(spark, sf_dir).documents
    n_tokens = TX.whitespace_token_count(F.col("text"))
    c_stop = TX.occurrences(F.lower(F.col("text")), "the")
    quality = micro_units(
        F.least(F.lit(1.0), n_tokens / 100.0)
        * (1.0 - F.least(F.lit(1.0), c_stop / n_tokens))
    )
    scored = docs.select("doc_id", quality.alias("quality_micro"))
    return ST.psi_report(
        scored.filter(F.col("doc_id") % 2 == 0),
        scored.filter(F.col("doc_id") % 2 == 1),
        F.col("quality_micro"),
        micro=True,
    )


@query(
    "profile_table",
    oracle="""
    SELECT 'l_quantity' AS col_name, count(*) AS n_rows,
           count(*) - count(l_quantity) AS n_nulls,
           count(DISTINCT l_quantity) AS n_distinct
    FROM lineitem
    UNION ALL
    SELECT 'l_returnflag', count(*), count(*) - count(l_returnflag),
           count(DISTINCT l_returnflag)
    FROM lineitem
    UNION ALL
    SELECT 'l_partkey', count(*), count(*) - count(l_partkey),
           count(DISTINCT l_partkey)
    FROM lineitem
    """,
)
def profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-profiling operator: per-column row/null/distinct counts in
    one unioned aggregation pass (the ANALYZE-style quality gate a
    training-data pipeline runs before ingest)."""
    li = Catalog(spark, sf_dir).lineitem
    parts = []
    for col in ["l_quantity", "l_returnflag", "l_partkey"]:
        parts.append(
            li.agg(
                F.lit(col).alias("col_name"),
                F.count("*").alias("n_rows"),
                (F.count("*") - F.count(col)).alias("n_nulls"),
                F.countDistinct(col).alias("n_distinct"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@query(
    "distinct_counts",
    oracle="""
    SELECT
        l_returnflag AS returnflag,
        count(DISTINCT l_partkey) AS n_parts,
        count(DISTINCT l_suppkey) AS n_supps,
        count(*) AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact multi-column COUNT DISTINCT per group.

    Scale: two distinct columns → Catalyst Expand (one row per distinct
    aggregate) + two-phase aggregate; for 100 TB dashboards prefer
    approx_count_distinct (HLL, one pass, no expand) — exposed in
    text_analysis ops; exact kept here for the oracle.
    """
    li = Catalog(spark, sf_dir).lineitem
    return li.groupBy(F.col("l_returnflag").alias("returnflag")).agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.count("*").alias("n_rows"),
    )


@query(
    "events_key_skew",
    oracle="""
    WITH counts AS (
        SELECT CAST(user_id AS VARCHAR) AS key, count(*) AS n_rows
        FROM events GROUP BY 1
    ),
    s AS (SELECT sum(n_rows) AS total, median(n_rows) AS med FROM counts)
    SELECT key, n_rows,
           CAST(round(n_rows / total * 1000000) AS BIGINT) AS share_micro,
           CAST(round(n_rows / med * 1000000) AS BIGINT)
               AS ratio_to_median_micro
    FROM counts CROSS JOIN s
    ORDER BY n_rows DESC, key
    LIMIT 10
    """,
)
def events_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter diagnosis over the events join key (user_id): the
    pre-shuffle measurement that decides salting vs AQE skew handling.
    operators.stats.key_skew_report — keyed count + 1-row broadcast
    median/total + partial top-N, nothing corpus-sized leaves the
    aggregation."""
    from ..operators.stats import key_skew_report

    return key_skew_report(Catalog(spark, sf_dir).events, "user_id", top_n=10)


@query(
    "skew_salted_join",
    oracle="""
    WITH ev AS (
        SELECT CASE WHEN user_id % 3 < 2 THEN 7 ELSE user_id END AS uid,
               value
        FROM events
    )
    SELECT c.c_mktsegment AS segment,
           count(*) AS n_events,
           coalesce(CAST(sum(CAST(ev.value AS DECIMAL(18,2))) * 1000000
                         AS BIGINT), 0) AS sum_value_micro
    FROM ev JOIN customer c ON c.c_custkey = ev.uid
    GROUP BY 1
    """,
)
def skew_salted_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join THROUGH a pathologically hot key and aggregate — the
    end-to-end witness for the explicit-salt skew strategy that
    events_key_skew only diagnoses.

    Two thirds of events are remapped onto one customer key (a planted
    ~100x heavy hitter relative to the median key), then joined to the
    customer dimension via operators.joins.salted_join: the fact side
    gets salt = pmod(hash(id), 16), the dimension is exploded 16 ways,
    and the join key becomes (key, salt) — so the hot key's rows spread
    over 16 shuffle partitions instead of one straggler. The dimension
    carries a merge hint: at 100 TB the interesting case is the dim too
    big to broadcast (a broadcast join has no skew problem), and the
    hint pins the sort-merge path so the salted plan is what the test
    asserts on. Salting never changes semantics, so the oracle is the
    plain unsalted join + aggregate.
    """
    from ..operators.joins import salted_join

    cat = Catalog(spark, sf_dir)
    ev = cat.events.select(
        F.when(F.col("user_id") % 3 < 2, F.lit(7))
        .otherwise(F.col("user_id"))
        .cast("long")
        .alias("c_custkey"),
        "value",
    )
    dim = cat.customer.select("c_custkey", "c_mktsegment").hint("merge")
    joined = salted_join(ev, dim, on="c_custkey", salt_buckets=16)
    return (
        joined.groupBy(F.col("c_mktsegment").alias("segment"))
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


@query(
    "event_transitions",
    oracle="""
    WITH paired AS (
        SELECT user_id, event_type AS to_type,
               lag(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_type
               ) AS from_type
        FROM events
    ),
    counts AS (
        SELECT from_type, to_type, count(*) AS n_transitions
        FROM paired WHERE from_type IS NOT NULL
        GROUP BY 1, 2
    ),
    tot AS (SELECT sum(n_transitions) AS total FROM counts)
    SELECT from_type, to_type, n_transitions,
           CAST(round(n_transitions / total * 1000000) AS BIGINT)
               AS share_micro
    FROM counts CROSS JOIN tot
    ORDER BY n_transitions DESC, from_type, to_type
    LIMIT 20
    """,
)
def event_transitions_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top event-type transitions (path analysis): per-user lag window
    over the time order, |types|^2-cardinality count, share against
    the 1-row broadcast total, partial top-N.
    operators.windows.event_transitions."""
    from ..operators.windows import event_transitions

    return event_transitions(Catalog(spark, sf_dir).events, top_n=20)


@query(
    "anomaly_flags",
    oracle="""
    WITH ev AS (
        SELECT event_id, user_id,
               CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS es, value
        FROM events
    ),
    stats AS (
        SELECT event_id, user_id, es, value,
               CAST(count(*) OVER w AS INT) AS n_baseline,
               CAST(round(avg(value) OVER w * 1000000) AS BIGINT)
                   AS mean_baseline_micro,
               avg(value) OVER w AS raw_mean,
               stddev_samp(value) OVER w AS sd
        FROM ev
        WINDOW w AS (PARTITION BY user_id ORDER BY es
                     RANGE BETWEEN 86400 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_id, user_id, es,
           CAST(round(value * 1000000) AS BIGINT) AS value_micro,
           n_baseline,
           coalesce(mean_baseline_micro, CAST(0 AS BIGINT))
               AS mean_baseline_micro,
           coalesce(CASE WHEN n_baseline >= 5 AND sd > 0
                         THEN CAST(round((value - raw_mean) / sd * 1000000)
                                   AS BIGINT) END,
                    CAST(0 AS BIGINT)) AS z_score_micro,
           (n_baseline >= 5 AND coalesce(sd > 0, false)) AS has_z,
           coalesce(abs(CASE WHEN n_baseline >= 5 AND sd > 0
                             THEN CAST(round((value - raw_mean) / sd * 1000000)
                                       AS BIGINT) END) > 3000000,
                    false) AS is_anomaly
    FROM stats
    """,
)
def anomaly_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event outlier flags against the key's own trailing 24h
    baseline (frame excludes the current row; thin or zero-variance
    baselines yield NULL z and no flag).

    The DRIVER row coalesces the two nullable micro columns to 0 and
    carries an explicit ``has_z`` flag instead: a nullable BIGINT
    becomes float64 in pandas on BOTH engines (NULL promotion), which
    was symmetric-but-fragile under the driver's pandas canonicalizer
    (r07 verdict #4) — one NULL asymmetry away from a hash-red. The
    operator itself keeps semantic NULLs
    (operators.windows.trailing_anomaly_flags); n_baseline=0
    disambiguates the coalesced mean, has_z the coalesced z."""
    from ..operators.windows import trailing_anomaly_flags

    out = trailing_anomaly_flags(
        Catalog(spark, sf_dir).events, window_seconds=86_400, z=3.0
    )
    return out.select(
        "event_id",
        "user_id",
        "es",
        "value_micro",
        "n_baseline",
        F.coalesce(F.col("mean_baseline_micro"), F.lit(0).cast("long")).alias(
            "mean_baseline_micro"
        ),
        F.coalesce(F.col("z_score_micro"), F.lit(0).cast("long")).alias(
            "z_score_micro"
        ),
        F.col("z_score_micro").isNotNull().alias("has_z"),
        "is_anomaly",
    )


def _rollup_ledger_dir(spark: SparkSession, sf_dir: str) -> str:
    """The session's seeded rollup ledger — shared by events_rollup
    and the cross-ledger dashboard row, so the two-batch seed is paid
    once per session however many rows read it."""
    from ..operators import stats as ST

    def seed(d: str) -> None:
        events = Catalog(spark, sf_dir).events
        for rid, parity in (("even", 0), ("odd", 1)):
            ST.write_rollup_index(
                ST.rollup_batch(events.filter(F.col("event_id") % 2 == parity)),
                d,
                mode="overwrite",
                run_id=rid,
            )

    return seeded_dir(spark, sf_dir, "jonesy_rollup_", seed)


@query(
    "events_rollup",
    # The ledger fold collapses to pure relational algebra: partials
    # from ANY batch split sum/min/max to the single-pass aggregate
    # (per-row micro-units make every merge integer-exact), so the
    # oracle is simply the DIRECT rollup over events — fold == direct
    # IS the row's mergeability claim, checked as a hash match.
    oracle="""
    WITH ev AS (
        SELECT event_type AS key,
               CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS es,
               CAST(round(value * 1000000) AS BIGINT) AS vm
        FROM events
    )
    SELECT key, es - ((es % 3600) + 3600) % 3600 AS bucket_es,
           count(*) AS n_events,
           CAST(sum(vm) AS BIGINT) AS sum_value_micro,
           min(vm) AS min_value_micro,
           max(vm) AS max_value_micro
    FROM ev GROUP BY 1, 2
    """,
)
def events_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized hypertable rollup, round-tripped through the
    persisted ledger (the incremental_near_dup witness pattern): the
    events table lands as TWO rollup-partial batches (even/odd
    event_id) under a session-memoized ledger, and the driver row is
    the FOLD of that ledger (operators.stats.rollup_report). The
    oracle computes the rollup DIRECTLY from events, so the hash match
    proves the partials' exact mergeability — count/sum/min/max over
    per-row micro-units fold associatively with zero drift, whatever
    the batch cut. The events table is read once per batch forever;
    every later windowed question is a fold of the metadata-sized
    ledger."""
    from ..operators import stats as ST

    return ST.rollup_report(spark, _rollup_ledger_dir(spark, sf_dir))


def _kmv_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (event_id, key, day-bucket, user_id) projection the KMV
    rows sketch — shared so the ledger and its readers can never
    disagree on the bucket floor."""
    es = F.unix_timestamp(F.col("ts").cast("timestamp"))
    return (
        Catalog(spark, sf_dir)
        .events.filter(F.col("user_id").isNotNull())
        .select(
            "event_id",
            F.col("event_type").alias("key"),
            (es - F.pmod(es, F.lit(86_400))).alias("bucket_es"),
            "user_id",
        )
    )


def _kll_dash_ledger_dir(spark: SparkSession, sf_dir: str) -> str:
    """The session's seeded per-(event_type, day) KLL value ledger —
    the dashboard's rank-quantile column (VERDICT r13 #5): same
    two-batch even/odd seed and day-bucket floor as the KMV ledger
    beside it, over the value column in micro-units."""
    from ..operators import stats as ST

    def seed(d: str) -> None:
        es = F.unix_timestamp(F.col("ts").cast("timestamp"))
        ev = (
            Catalog(spark, sf_dir)
            .events.filter(
                F.col("event_id").isNotNull() & F.col("value").isNotNull()
            )
            .select(
                "event_id",
                F.col("event_type").alias("key"),
                (es - F.pmod(es, F.lit(86_400))).alias("bucket_es"),
                "value",
            )
        )
        for rid, parity in (("even", 0), ("odd", 1)):
            ST.write_kll_index(
                ST.kll_sketch_batch(
                    ev.filter(F.col("event_id") % 2 == parity),
                    ["key", "bucket_es"],
                    "value",
                    k=128,
                ),
                d,
                mode="overwrite",
                run_id=rid,
            )

    return seeded_dir(spark, sf_dir, "jonesy_kll_dash_", seed)


def _kmv_ledger_dir(spark: SparkSession, sf_dir: str) -> str:
    """The session's seeded per-(event_type, day) KMV user ledger —
    shared by kmv_distinct_users and the cross-ledger dashboard row."""
    from ..operators import stats as ST

    def seed(d: str) -> None:
        ev = _kmv_daily_events(spark, sf_dir)
        for rid, parity in (("even", 0), ("odd", 1)):
            ST.write_kmv_index(
                ST.kmv_sketch_batch(
                    ev.filter(F.col("event_id") % 2 == parity),
                    ["key", "bucket_es"],
                    "user_id",
                ),
                d,
                mode="overwrite",
                run_id=rid,
            )

    return seeded_dir(spark, sf_dir, "jonesy_kmv_", seed)


@query(
    "kmv_distinct_users",
    # COUNT DISTINCT is the aggregate the rollup ledger CANNOT fold —
    # per-batch distinct counts don't add. The KMV sketch (k smallest
    # distinct 48-bit hashes per group) does fold exactly: min-k of a
    # union of per-batch min-k sets IS the union's min-k. The oracle
    # computes the sketch DIRECTLY from events in one pass — fold ==
    # direct is the mergeability claim, checked as a hash match — and
    # carries the exact distinct count beside the estimate so the
    # estimator's integer arithmetic is witnessed too.
    oracle="""
    WITH ev AS (
        SELECT event_type AS key,
               CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS es,
               user_id
        FROM events
        WHERE user_id IS NOT NULL
    ), bucketed AS (
        SELECT key, es - ((es % 86400) + 86400) % 86400 AS bucket_es, user_id
        FROM ev
    ), dh AS (
        SELECT DISTINCT key, bucket_es,
               ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12))::BIGINT AS h
        FROM bucketed
    ), rk AS (
        SELECT key, bucket_es, h,
               row_number() OVER (PARTITION BY key, bucket_es ORDER BY h) AS rk
        FROM dh
    ), sk AS (
        SELECT key, bucket_es,
               CAST(count(*) AS BIGINT) AS n_kept,
               max(h) AS kth_hash
        FROM rk WHERE rk <= 64 GROUP BY 1, 2
    ), ex AS (
        SELECT key, bucket_es,
               CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct
        FROM bucketed GROUP BY 1, 2
    ), est AS (
        SELECT s.key, s.bucket_es, s.n_kept, s.kth_hash,
               CASE WHEN s.n_kept < 64 THEN s.n_kept
                    ELSE CAST(63 * 281474976710656 // s.kth_hash AS BIGINT)
               END AS est_distinct,
               e.exact_distinct
        FROM sk s JOIN ex e ON s.key = e.key AND s.bucket_es = e.bucket_es
    )
    SELECT key, bucket_es, n_kept, kth_hash, est_distinct, exact_distinct,
           CAST(abs(est_distinct - exact_distinct) * 1000000
                // exact_distinct AS BIGINT) AS err_ppm
    FROM est
    """,
)
def kmv_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per (event_type, day), answered from the KMV
    sketch LEDGER (operators.stats.kmv_*) — an index family member, the
    oracle-able twin of the HLL profile tier. The events table lands
    as TWO sketch-partial batches (even/odd event_id) under a
    session-memoized ledger; the driver row folds the ledger,
    estimates, and joins the exact distinct count for an error report
    in integer ppm. Groups under k=64 distinct users are in the EXACT
    regime (n_kept < k, err_ppm = 0 by construction); larger groups
    witness the Bar-Yossef estimator's ~13 % band. Everything — hash,
    rank, estimator — is integer SQL both engines run bit-identically."""
    from ..operators import stats as ST

    ev = _kmv_daily_events(spark, sf_dir)
    sketch = ST.kmv_fold(
        spark, _kmv_ledger_dir(spark, sf_dir), ["key", "bucket_es"]
    )
    est = ST.kmv_estimate(sketch, ["key", "bucket_es"])
    exact = ev.groupBy("key", "bucket_es").agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    return est.join(exact, ["key", "bucket_es"]).withColumn(
        "err_ppm",
        F.expr(
            "CAST(abs(est_distinct - exact_distinct) * 1000000"
            " DIV exact_distinct AS BIGINT)"
        ),
    )


@query(
    "sketch_dashboard",
    # THREE ledger families read in ONE query — the monitoring
    # dashboard's actual access pattern (VERDICT r8 #8; KLL column
    # VERDICT r13 #5). The oracle computes every answer DIRECTLY from
    # events: the day-level volume aggregate (what the hourly rollup
    # ledger re-folds to), the one-pass daily KMV user sketch (what
    # the KMV ledger folds to), and the per-day KLL p50 (the two-batch
    # decimation + weighted-sweep fold the KLL ledger reproduces),
    # joined. A hash match therefore witnesses the rollup partials'
    # exact mergeability, their exact HIERARCHICAL re-aggregation
    # (hour buckets re-fold to day buckets with zero drift), the KMV
    # fold == direct-sketch theorem, and the KLL fold's deterministic
    # rank pick, all through the shared ingest_batch= layout.
    oracle="""
    WITH ev AS (
        SELECT event_type AS key,
               CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS es,
               CAST(round(value * 1000000) AS BIGINT) AS vm,
               user_id
        FROM events
    ), day AS (
        SELECT key, es - ((es % 86400) + 86400) % 86400 AS bucket_es,
               vm, user_id
        FROM ev
    ), agg AS (
        SELECT key, bucket_es,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(vm) AS BIGINT) AS sum_value_micro,
               min(vm) AS min_value_micro,
               max(vm) AS max_value_micro
        FROM day GROUP BY 1, 2
    ), dh AS (
        SELECT DISTINCT key, bucket_es,
               ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12))::BIGINT AS h
        FROM day WHERE user_id IS NOT NULL
    ), rk AS (
        SELECT key, bucket_es, h,
               row_number() OVER (PARTITION BY key, bucket_es ORDER BY h) AS rk
        FROM dh
    ), sk AS (
        SELECT key, bucket_es,
               CAST(count(*) AS BIGINT) AS n_kept,
               max(h) AS kth_hash
        FROM rk WHERE rk <= 64 GROUP BY 1, 2
    ), est AS (
        SELECT key, bucket_es,
               CASE WHEN n_kept < 64 THEN n_kept
                    ELSE CAST(63 * 281474976710656 // kth_hash AS BIGINT)
               END AS est_distinct_users
        FROM sk
    ), kev AS (
        SELECT event_type AS key,
               (CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT)
                - ((CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT)
                    % 86400) + 86400) % 86400) AS bucket_es,
               CAST(event_id % 2 AS BIGINT) AS parity,
               CAST(round(value * 1000000) AS BIGINT) AS v
        FROM events
        WHERE event_id IS NOT NULL AND value IS NOT NULL
    ), kranked AS (
        SELECT key, bucket_es, parity, v,
               row_number() OVER (PARTITION BY key, bucket_es, parity
                                  ORDER BY v) AS rk,
               CAST(count(*) OVER (PARTITION BY key, bucket_es, parity)
                    AS BIGINT) AS n
        FROM kev
    ), kpart AS (
        SELECT key, bucket_es, v,
               least((n + 127) // 128, n - (rk - 1)) AS w
        FROM kranked WHERE (rk - 1) % ((n + 127) // 128) = 0
    ), kswept AS (
        SELECT key, bucket_es, v, w,
               row_number() OVER (PARTITION BY key, bucket_es
                                  ORDER BY v, w) AS rk,
               CAST(sum(w) OVER (PARTITION BY key, bucket_es
                                 ORDER BY v, w
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cw,
               count(*) OVER (PARTITION BY key, bucket_es) AS n_rows,
               CAST(sum(w) OVER (PARTITION BY key, bucket_es)
                    AS BIGINT) AS tw
        FROM kpart
    ), kkept AS (
        SELECT key, bucket_es, v, cw FROM kswept
        WHERE rk = n_rows
           OR (cw // ((tw + 127) // 128)) > ((cw - w) // ((tw + 127) // 128))
    ), kfolded AS (
        SELECT key, bucket_es, v, cw,
               cw - coalesce(lag(cw) OVER (PARTITION BY key, bucket_es
                                           ORDER BY cw), 0) AS w,
               max(cw) OVER (PARTITION BY key, bucket_es) AS n_weight
        FROM kkept
    ), p50 AS (
        SELECT key, bucket_es, v AS p50_value_micro
        FROM kfolded
        WHERE cw >= (50 * n_weight + 99) // 100
          AND cw - w < (50 * n_weight + 99) // 100
    )
    SELECT a.key, a.bucket_es, a.n_events, a.sum_value_micro,
           a.min_value_micro, a.max_value_micro, e.est_distinct_users,
           p.p50_value_micro,
           CAST(a.n_events * 1000000 // e.est_distinct_users AS BIGINT)
               AS events_per_user_micro
    FROM agg a JOIN est e
      ON a.key = e.key AND a.bucket_es = e.bucket_es
    JOIN p50 p ON a.key = p.key AND a.bucket_es = p.bucket_es
    """,
)
def sketch_dashboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cross-ledger monitoring panel: per (event_type, day), event
    volume/value from the ROLLUP ledger re-folded from its hour
    buckets to day buckets (hierarchical re-aggregation — the
    hypertable property that makes one hourly ledger answer every
    coarser question), joined with estimated distinct users from the
    KMV ledger and the median event value from the KLL quantile
    ledger (p50_value_micro — VERDICT r13 #5), plus an
    events-per-user rate in integer micro-units. All three ledgers
    are session-memoized two-batch seeds shared with the
    single-family rows (one ``ingest_batch=`` layout, seeded once);
    events itself is never rescanned — the whole dashboard reads
    metadata-sized ledgers, which is the point at 100 TB."""
    from ..operators import stats as ST

    hour = ST.rollup_report(spark, _rollup_ledger_dir(spark, sf_dir))
    day = (
        hour.groupBy(
            "key",
            (
                F.col("bucket_es") - F.pmod(F.col("bucket_es"), F.lit(86_400))
            ).alias("bucket_es"),
        )
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_value_micro").alias("sum_value_micro"),
            F.min("min_value_micro").alias("min_value_micro"),
            F.max("max_value_micro").alias("max_value_micro"),
        )
    )
    sketch = ST.kmv_fold(
        spark, _kmv_ledger_dir(spark, sf_dir), ["key", "bucket_es"]
    )
    users = ST.kmv_estimate(sketch, ["key", "bucket_es"]).select(
        "key",
        "bucket_es",
        F.col("est_distinct").alias("est_distinct_users"),
    )
    p50 = ST.kll_quantiles(
        ST.kll_fold(
            spark, _kll_dash_ledger_dir(spark, sf_dir),
            ["key", "bucket_es"], k=128,
        ),
        ["key", "bucket_es"],
        (50,),
    ).select(
        "key", "bucket_es", F.col("q_value_micro").alias("p50_value_micro")
    )
    return (
        day.join(users, ["key", "bucket_es"])
        .join(p50, ["key", "bucket_es"])
        .withColumn(
            "events_per_user_micro",
            F.expr(
                "CAST(n_events * 1000000 DIV est_distinct_users AS BIGINT)"
            ),
        )
    )


@query(
    "events_sliding_window",
    # Catalyst's native hopping-window lowering (F.window with a slide
    # = one Expand into W/S hops + one keyed aggregation) pinned
    # against the closed form an ANSI engine can compute: an event at
    # epoch es lands in the windows starting at floor_S(es) - k*S for
    # k in 0..W/S-1 (pmod flooring so pre-epoch events hop correctly —
    # verified equal to Spark's own alignment). Counts and micro-unit
    # sums make the comparison exact.
    oracle="""
    WITH ev AS (
        SELECT event_type AS key,
               CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS es,
               CAST(round(value * 1000000) AS BIGINT) AS vm
        FROM events
    ), hopped AS (
        SELECT key,
               (es - ((es % 900) + 900) % 900) - h.k * 900 AS window_es,
               vm
        FROM ev CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k) h
    )
    SELECT key, window_es,
           count(*) AS n_events,
           CAST(sum(vm) AS BIGINT) AS sum_value_micro
    FROM hopped GROUP BY 1, 2
    """,
)
def events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping-window aggregates over events — 1-hour windows sliding
    every 15 minutes, each event counted in its 4 overlapping windows
    (operators.windows.sliding_window_rollup): the SLIDING complement
    of the tumbling events_rollup, via Spark's NATIVE window(ts, size,
    slide) lowering rather than a hand explode. The oracle reproduces
    the hop set from the closed form, so the hash match pins
    Catalyst's window alignment (including its pre-epoch flooring)
    against ANSI SQL."""
    from ..operators.windows import sliding_window_rollup

    return sliding_window_rollup(
        Catalog(spark, sf_dir).events,
        window_seconds=3600,
        slide_seconds=900,
    )


@query(
    "cms_frequencies",
    # Count-min partials FOLD BY SUM (counter addition is associative)
    # and the md5-salted row hashes are deterministic integer SQL, so
    # the ledger fold's point estimates are reproducible bit-for-bit:
    # the oracle rebuilds the d x w sketch in one pass, reads the same
    # min-of-d counters, and joins exact counts — the overcount column
    # witnesses the upper-bound property (never negative) as data.
    oracle="""
    WITH vals AS (
        SELECT CAST(user_id AS VARCHAR) AS v
        FROM events WHERE user_id IS NOT NULL
    ), hops AS (
        SELECT CAST(unnest([0, 1, 2, 3]) AS BIGINT) AS r
    ), sketch AS (
        SELECT h.r,
               (('0x' || substr(md5(CAST(h.r AS VARCHAR) || ':' || v),
                               1, 12))::BIGINT) % 1024 AS c,
               CAST(count(*) AS BIGINT) AS cnt
        FROM vals CROSS JOIN hops h
        GROUP BY 1, 2
    ), q AS (
        SELECT DISTINCT v FROM vals
    ), qrc AS (
        SELECT q.v, h.r,
               (('0x' || substr(md5(CAST(h.r AS VARCHAR) || ':' || q.v),
                               1, 12))::BIGINT) % 1024 AS c
        FROM q CROSS JOIN hops h
    ), est AS (
        SELECT qrc.v AS value,
               CAST(min(coalesce(s.cnt, 0)) AS BIGINT) AS est_count
        FROM qrc LEFT JOIN sketch s ON qrc.r = s.r AND qrc.c = s.c
        GROUP BY 1
    ), ex AS (
        SELECT v AS value, CAST(count(*) AS BIGINT) AS exact_count
        FROM vals GROUP BY 1
    )
    SELECT e.value, e.est_count, x.exact_count,
           e.est_count - x.exact_count AS overcount
    FROM est e JOIN ex x ON e.value = x.value
    """,
)
def cms_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event frequencies answered from the count-min LEDGER
    (operators.stats.cms_*) — the FREQUENCY member of the sketch tier:
    events land as TWO d x w counter partials (even/odd event_id)
    under a session-memoized ledger; the driver row folds them by SUM
    (exactly the single-pass sketch), reads every user's min-of-d
    counters, and joins the exact counts so the CMS upper-bound
    property is witnessed as a non-negative overcount column. At 100
    TB the sketch answers frequency questions over cardinalities too
    large to materialize in d*w integers; here w=1024 >> 150 users
    keeps most estimates exact and the collisions visible."""
    from ..operators import stats as ST

    cat = Catalog(spark, sf_dir)
    ev = cat.events.filter(F.col("user_id").isNotNull()).select(
        "event_id", "user_id"
    )

    def seed(d: str) -> None:
        for rid, parity in (("even", 0), ("odd", 1)):
            ST.write_kmv_index(
                ST.cms_sketch_batch(
                    ev.filter(F.col("event_id") % 2 == parity), "user_id"
                ),
                d,
                mode="overwrite",
                run_id=rid,
            )

    sketch = ST.cms_fold(spark, seeded_dir(spark, sf_dir, "jonesy_cms_", seed))
    est = ST.cms_point_estimates(sketch, ev, "user_id")
    exact = ev.groupBy(F.col("user_id").cast("string").alias("value")).agg(
        F.count(F.lit(1)).alias("exact_count")
    )
    return est.join(exact, "value").withColumn(
        "overcount", F.col("est_count") - F.col("exact_count")
    )


@query(
    "kmv_overlap_users",
    # The sketch-algebra payoff: pairwise distinct-set intersections
    # from the per-group KMV sketches ALONE (Beyer 2007 coincidence
    # method) — membership of a union-top-k hash in a side's stored
    # sketch is EXACT (h <= kth(union) <= kth(side)), so n_common is
    # deterministic and the whole estimate chain is integer SQL. The
    # oracle recomputes sketches, union ranks, membership and the
    # exact intersections in one pass.
    oracle="""
    WITH ev AS (
        SELECT event_type AS key, user_id
        FROM events WHERE user_id IS NOT NULL
    ), dh AS (
        SELECT DISTINCT key,
               ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12))::BIGINT AS h
        FROM ev
    ), sk AS (
        SELECT key, h FROM (
            SELECT key, h,
                   row_number() OVER (PARTITION BY key ORDER BY h) AS rk
            FROM dh
        ) WHERE rk <= 64
    ), keys AS (
        SELECT DISTINCT key FROM sk
    ), pairs AS (
        SELECT x.key AS a, y.key AS b FROM keys x JOIN keys y ON x.key < y.key
    ), per AS (
        SELECT p.a, p.b, s.h,
               max(CASE WHEN s.key = p.a THEN 1 ELSE 0 END) AS in_a,
               max(CASE WHEN s.key = p.b THEN 1 ELSE 0 END) AS in_b
        FROM pairs p JOIN sk s ON s.key = p.a OR s.key = p.b
        GROUP BY 1, 2, 3
    ), kept AS (
        SELECT * FROM (
            SELECT a, b, h, in_a, in_b,
                   row_number() OVER (PARTITION BY a, b ORDER BY h) AS rk
            FROM per
        ) WHERE rk <= 64
    ), agg AS (
        SELECT a, b, CAST(count(*) AS BIGINT) AS n_kept,
               max(h) AS kth_hash,
               CAST(sum(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_common
        FROM kept GROUP BY 1, 2
    ), est AS (
        SELECT a, b, n_kept, kth_hash, n_common,
               CASE WHEN n_kept < 64 THEN n_kept
                    ELSE CAST(63 * 281474976710656 // kth_hash AS BIGINT)
               END AS est_union
        FROM agg
    ), est2 AS (
        SELECT a, b, n_kept, kth_hash, n_common, est_union,
               CASE WHEN n_kept < 64 THEN n_common
                    ELSE CAST(est_union * n_common // 64 AS BIGINT)
               END AS est_intersection
        FROM est
    ), du AS (
        SELECT DISTINCT key, user_id FROM ev
    ), exact AS (
        SELECT ua.key AS a, ub.key AS b,
               CAST(count(*) AS BIGINT) AS exact_intersection
        FROM du ua JOIN du ub
          ON ua.user_id = ub.user_id AND ua.key < ub.key
        GROUP BY 1, 2
    )
    SELECT e.a, e.b, e.n_kept, e.kth_hash, e.n_common, e.est_union,
           e.est_intersection,
           coalesce(x.exact_intersection, 0) AS exact_intersection
    FROM est2 e LEFT JOIN exact x ON e.a = x.a AND e.b = x.b
    """,
)
def kmv_overlap_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared-audience report between every pair of event types,
    answered from per-type KMV sketches alone
    (operators.stats.kmv_overlap_report): the union's min-k plus the
    exact-membership coincidence trick estimate |A ∩ B| without
    touching the raw events again — the corpus-slice overlap /
    decontamination question at ledger cost. Exact intersections are
    joined so the estimate's error is visible; the exact regime
    (union under k) reproduces them identically."""
    from ..operators import stats as ST

    cat = Catalog(spark, sf_dir)
    ev = cat.events.filter(F.col("user_id").isNotNull()).select(
        F.col("event_type").alias("key"), "user_id"
    )
    sketches = ST.kmv_sketch_batch(ev, ["key"], "user_id", k=64)
    report = ST.kmv_overlap_report(sketches, k=64)
    du = ev.distinct()
    exact = (
        du.alias("ua")
        .join(
            du.alias("ub"),
            (F.col("ua.user_id") == F.col("ub.user_id"))
            & (F.col("ua.key") < F.col("ub.key")),
        )
        .groupBy(F.col("ua.key").alias("a"), F.col("ub.key").alias("b"))
        .agg(F.count(F.lit(1)).alias("exact_intersection"))
    )
    return report.join(exact, ["a", "b"], "left").withColumn(
        "exact_intersection",
        F.coalesce(F.col("exact_intersection"), F.lit(0).cast("long")),
    )


@query(
    "bloom_membership",
    # Bloom bits are md5-salted integer positions (the cms_hash
    # construction), so false positives are DETERMINISTIC — the same
    # values collide in both engines — and the whole filter is
    # reproducible SQL: the oracle rebuilds the even-docs filter,
    # probes the odd docs, and joins exact membership so the
    # no-false-negatives guarantee and the (deterministic) false
    # positives are both visible as data.
    oracle="""
    WITH docs AS (
        SELECT doc_id,
               md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS dg
        FROM documents
    ), hops AS (
        SELECT CAST(unnest([0, 1, 2, 3]) AS BIGINT) AS r
    ), evens AS (
        SELECT DISTINCT dg FROM docs WHERE doc_id % 2 = 0
    ), bits AS (
        SELECT DISTINCT
               (('0x' || substr(md5(CAST(h.r AS VARCHAR) || ':' || dg),
                               1, 12))::BIGINT) % 8192 AS bit
        FROM evens CROSS JOIN hops h
    ), odds AS (
        SELECT DISTINCT dg AS value FROM docs WHERE doc_id % 2 = 1
    ), qb AS (
        SELECT value,
               (('0x' || substr(md5(CAST(h.r AS VARCHAR) || ':' || value),
                               1, 12))::BIGINT) % 8192 AS bit
        FROM odds CROSS JOIN hops h
    ), nn AS (
        SELECT q.value, count(b.bit) AS n
        FROM qb q LEFT JOIN bits b ON q.bit = b.bit
        GROUP BY 1
    )
    SELECT n.value, n.n = 4 AS maybe_present,
           n.value IN (SELECT dg FROM evens) AS actually_present
    FROM nn n
    """,
)
def bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Membership pre-filter over content digests
    (operators.stats.bloom_batch / bloom_probe, m=8192, d=4): the
    even docs' digests seed the filter, the odd docs probe it — the
    100 TB ingest shape where "definitely new" skips the exact
    anti-join entirely and only "probably seen" pays it. Exact
    membership is joined so the Bloom contract shows as data: no row
    has actually_present true with maybe_present false (false
    negatives impossible), and any maybe-without-actually rows are
    the deterministic false positives both engines agree on
    bit-for-bit. The planted duplicate pairs in the documents
    fixture make actually_present genuinely non-empty."""
    from ..operators import hygiene as H
    from ..operators import stats as ST

    docs = Catalog(spark, sf_dir).documents.select(
        "doc_id", H.content_digest(F.col("text")).alias("dg")
    )
    evens = docs.filter(F.col("doc_id") % 2 == 0).select("dg")
    odds = docs.filter(F.col("doc_id") % 2 == 1).select("dg")
    filt = ST.bloom_batch(evens, "dg")
    probed = ST.bloom_probe(filt, odds, "dg")
    exact = evens.distinct().select(F.col("dg").alias("value")).withColumn(
        "actually_present", F.lit(True)
    )
    return probed.join(exact, "value", "left").withColumn(
        "actually_present", F.coalesce(F.col("actually_present"), F.lit(False))
    )


@query(
    "mg_heavy_hitters",
    # Misra-Gries summaries are NOT cut-invariant (unlike KMV/CMS),
    # so the oracle replicates the exact two-batch structure — per-
    # parity summary (top k+1 counts, subtract the (k+1)-th, keep
    # positive) then the Agarwal merge (sum ests, truncate again) —
    # witnessing the merge rule itself as a hash match, with exact
    # counts joined so the additive guarantee (0 <= undercount <=
    # N/(k+1)) is visible as data. Deterministic tiebreak everywhere:
    # (count DESC, value ASC).
    oracle="""
    WITH ev AS (
        SELECT event_id, CAST(user_id AS VARCHAR) AS value
        FROM events WHERE user_id IS NOT NULL
    ), bc AS (
        SELECT event_id % 2 AS parity, value, CAST(count(*) AS BIGINT) AS cnt
        FROM ev GROUP BY 1, 2
    ), br AS (
        SELECT parity, value, cnt,
               row_number() OVER (
                   PARTITION BY parity ORDER BY cnt DESC, value
               ) AS rk
        FROM bc
    ), btop AS (
        SELECT parity, value, cnt FROM br WHERE rk <= 17
    ), boff AS (
        SELECT parity,
               CASE WHEN count(*) > 16 THEN min(cnt) ELSE 0 END AS off
        FROM btop GROUP BY 1
    ), bsum AS (
        SELECT t.value, t.cnt - o.off AS est
        FROM btop t JOIN boff o ON t.parity = o.parity
        WHERE t.cnt - o.off > 0
    ), summed AS (
        SELECT value, CAST(sum(est) AS BIGINT) AS cnt FROM bsum GROUP BY 1
    ), mr AS (
        SELECT value, cnt,
               row_number() OVER (ORDER BY cnt DESC, value) AS rk
        FROM summed
    ), mtop AS (
        SELECT value, cnt FROM mr WHERE rk <= 17
    ), moff AS (
        SELECT CASE WHEN count(*) > 16 THEN min(cnt) ELSE 0 END AS off
        FROM mtop
    ), mg AS (
        SELECT value, cnt - (SELECT off FROM moff) AS est_count
        FROM mtop WHERE cnt - (SELECT off FROM moff) > 0
    ), ex AS (
        SELECT value, CAST(count(*) AS BIGINT) AS exact_count
        FROM ev GROUP BY 1
    )
    SELECT m.value, CAST(m.est_count AS BIGINT) AS est_count,
           e.exact_count, e.exact_count - m.est_count AS undercount
    FROM mg m JOIN ex e ON m.value = e.value
    """,
)
def mg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent users from the Misra-Gries LEDGER
    (operators.stats.mg_summary_batch / mg_fold, k=16) — the TOP-KEYS
    member of the sketch tier: events land as TWO k-row summaries
    (even/odd event_id) under a session-memoized ledger; the driver
    row merges them (sum ests, re-truncate — the Agarwal-2012 rule,
    which preserves est <= true <= est + N/(k+1) across any merge
    tree) and joins exact counts so the guarantee shows as a
    non-negative bounded undercount column. k=16 < the 150 distinct
    users, so the truncation path is genuinely exercised. The ledger
    stores k rows per batch whatever the key cardinality — the
    100 TB point of the summary."""
    from ..operators import stats as ST

    cat = Catalog(spark, sf_dir)
    ev = cat.events.filter(F.col("user_id").isNotNull()).select(
        "event_id", "user_id"
    )

    def seed(d: str) -> None:
        for rid, parity in (("even", 0), ("odd", 1)):
            ST.write_kmv_index(
                ST.mg_summary_batch(
                    ev.filter(F.col("event_id") % 2 == parity), "user_id", k=16
                ),
                d,
                mode="overwrite",
                run_id=rid,
            )

    mg = ST.mg_fold(
        spark, seeded_dir(spark, sf_dir, "jonesy_mg_", seed), k=16
    ).withColumnRenamed("est", "est_count")
    exact = ev.groupBy(F.col("user_id").cast("string").alias("value")).agg(
        F.count(F.lit(1)).alias("exact_count")
    )
    return mg.join(exact, "value").withColumn(
        "undercount", F.col("exact_count") - F.col("est_count")
    )


@query(
    "sampled_quantiles",
    # Quantiles answered from the PERSISTED bottom-k sample ledger —
    # the value-carrying KMV variant: the k rows with smallest ID
    # hashes per group union exactly across any batch cut (min-k by
    # (h, v) is a total order), so the ledger fold is bit-identical to
    # the one-pass sample and nearest-rank quantiles over it are
    # deterministic integer picks both engines reproduce. The oracle
    # recomputes sample AND exact population quantiles directly; the
    # row joins them with the absolute error in micro-units. Ties in
    # (v, h) cannot perturb the output: tied rows share v, and v is
    # what the quantile emits.
    oracle="""
    WITH ev AS (
        SELECT event_type AS key,
               ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 12))::BIGINT AS h,
               CAST(round(value * 1000000) AS BIGINT) AS v
        FROM events
        WHERE event_id IS NOT NULL AND value IS NOT NULL
    ), smp AS (
        SELECT key, h, v FROM (
            SELECT key, h, v,
                   row_number() OVER (PARTITION BY key ORDER BY h, v) AS rk
            FROM (SELECT DISTINCT key, h, v FROM ev)
        ) WHERE rk <= 128
    ), ranked AS (
        SELECT key, v, h,
               row_number() OVER (PARTITION BY key ORDER BY v, h) AS rk,
               CAST(count(*) OVER (PARTITION BY key) AS BIGINT) AS n_sample
        FROM smp
    ), qq AS (
        SELECT CAST(unnest([25, 50, 75, 90, 99]) AS BIGINT) AS q_pct
    ), sq AS (
        SELECT r.key, q.q_pct, r.n_sample, r.v AS q_value_micro
        FROM ranked r CROSS JOIN qq q
        WHERE r.rk = (q.q_pct * r.n_sample + 99) // 100
    ), full_ranked AS (
        SELECT key, v, h,
               row_number() OVER (PARTITION BY key ORDER BY v, h) AS rk,
               CAST(count(*) OVER (PARTITION BY key) AS BIGINT) AS n_group
        FROM ev
    ), exq AS (
        SELECT r.key, q.q_pct, r.n_group, r.v AS exact_q_micro
        FROM full_ranked r CROSS JOIN qq q
        WHERE r.rk = (q.q_pct * r.n_group + 99) // 100
    )
    SELECT s.key, s.q_pct, s.n_sample, s.q_value_micro,
           e.n_group, e.exact_q_micro,
           abs(s.q_value_micro - e.exact_q_micro) AS err_micro
    FROM sq s JOIN exq e ON s.key = e.key AND s.q_pct = e.q_pct
    """,
)
def sampled_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type value quantiles (p25/50/75/90/99) answered from
    the persisted bottom-k SAMPLE ledger (operators.stats.
    bottomk_sample_batch / sample_fold / sample_quantiles) — the
    value-carrying variant of the KMV family: events land as TWO
    sample-partial batches (even/odd event_id) under a
    session-memoized ledger, the driver row folds the ledger
    (bit-identical to the one-pass sample, the min-k union theorem)
    and reads nearest-rank quantiles off it with exact integer
    arithmetic, then joins the TRUE population quantiles for an error
    report in value micro-units. Groups under k=128 sampled rows are
    exhaustive — err_micro 0 by construction; larger groups witness
    the O(1/sqrt(k)) rank-error band. The events table is read once
    per batch forever; every later quantile question folds the
    metadata-sized ledger."""
    from ..operators import stats as ST

    cat = Catalog(spark, sf_dir)
    ev = cat.events.filter(
        F.col("event_id").isNotNull() & F.col("value").isNotNull()
    ).select("event_id", F.col("event_type").alias("key"), "value")

    def seed(d: str) -> None:
        for rid, parity in (("even", 0), ("odd", 1)):
            ST.write_kmv_index(
                ST.bottomk_sample_batch(
                    ev.filter(F.col("event_id") % 2 == parity),
                    ["key"],
                    "event_id",
                    "value",
                    k=128,
                ),
                d,
                mode="overwrite",
                run_id=rid,
            )

    sample = ST.sample_fold(
        spark, seeded_dir(spark, sf_dir, "jonesy_sample_", seed), ["key"], k=128
    )
    sq = ST.sample_quantiles(sample, ["key"], (25, 50, 75, 90, 99))

    evh = ev.select(
        "key",
        ST.kmv_hash(F.col("event_id")).alias("h"),
        micro_units(F.col("value")).alias("v"),
    )
    w = Window.partitionBy("key").orderBy("v", "h")
    wn = Window.partitionBy("key")
    ranked = evh.withColumn("rk", F.row_number().over(w)).withColumn(
        "n_group", F.count(F.lit(1)).over(wn)
    )
    qs = F.explode(
        F.array(*[F.lit(q).cast("long") for q in (25, 50, 75, 90, 99)])
    ).alias("q_pct")
    exact = (
        ranked.select("key", "rk", "n_group", "v", qs)
        .filter(F.col("rk") == F.expr("(q_pct * n_group + 99) DIV 100"))
        .select("key", "q_pct", "n_group", F.col("v").alias("exact_q_micro"))
    )
    return sq.join(exact, ["key", "q_pct"]).withColumn(
        "err_micro", F.expr("abs(q_value_micro - exact_q_micro)")
    )


@query(
    "kll_quantiles",
    # The KLL-family compactor sketch (VERDICT r13 #5) folded from a
    # two-batch ledger and rank-queried — all exact integer SQL, so
    # the oracle reproduces the ENTIRE pipeline from events: per-batch
    # evenly-spaced decimation of the sorted micro-values (step
    # ceil(n/k), weights conserving to exactly n), the weighted
    # cumulative-sweep recompaction of the batch union (keep rows
    # crossing a multiple of ceil(W/k) plus the max row, re-derive
    # weights as cw - lag(cw)), and the ceil(q*W/100) rank pick —
    # then joins the exact population quantiles for the error report.
    # A hash match witnesses weight conservation (n_weight == n_group
    # column-for-column), the deterministic fold, and the rank query
    # at once.
    oracle="""
    WITH ev AS (
        SELECT event_type AS key, CAST(event_id % 2 AS BIGINT) AS parity,
               CAST(round(value * 1000000) AS BIGINT) AS v
        FROM events
        WHERE event_id IS NOT NULL AND value IS NOT NULL
    ), ranked AS (
        SELECT key, parity, v,
               row_number() OVER (PARTITION BY key, parity ORDER BY v) AS rk,
               CAST(count(*) OVER (PARTITION BY key, parity) AS BIGINT) AS n
        FROM ev
    ), part AS (
        SELECT key, v,
               least((n + 127) // 128, n - (rk - 1)) AS w
        FROM ranked WHERE (rk - 1) % ((n + 127) // 128) = 0
    ), swept AS (
        SELECT key, v, w,
               row_number() OVER (PARTITION BY key ORDER BY v, w) AS rk,
               CAST(sum(w) OVER (PARTITION BY key ORDER BY v, w
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cw,
               count(*) OVER (PARTITION BY key) AS n_rows,
               CAST(sum(w) OVER (PARTITION BY key) AS BIGINT) AS tw
        FROM part
    ), kept AS (
        SELECT key, v, cw FROM swept
        WHERE rk = n_rows
           OR (cw // ((tw + 127) // 128)) > ((cw - w) // ((tw + 127) // 128))
    ), folded AS (
        SELECT key, v, cw,
               cw - coalesce(lag(cw) OVER (PARTITION BY key ORDER BY cw),
                             0) AS w,
               max(cw) OVER (PARTITION BY key) AS n_weight
        FROM kept
    ), qq AS (
        SELECT CAST(unnest([25, 50, 75, 90, 99]) AS BIGINT) AS q_pct
    ), kq AS (
        SELECT f.key, q.q_pct, f.n_weight, f.v AS q_value_micro
        FROM folded f CROSS JOIN qq q
        WHERE f.cw >= (q.q_pct * f.n_weight + 99) // 100
          AND f.cw - f.w < (q.q_pct * f.n_weight + 99) // 100
    ), full_ranked AS (
        SELECT key, v,
               row_number() OVER (PARTITION BY key ORDER BY v) AS rk,
               CAST(count(*) OVER (PARTITION BY key) AS BIGINT) AS n_group
        FROM ev
    ), exq AS (
        SELECT r.key, q.q_pct, r.n_group, r.v AS exact_q_micro
        FROM full_ranked r CROSS JOIN qq q
        WHERE r.rk = (q.q_pct * r.n_group + 99) // 100
    )
    SELECT s.key, s.q_pct, s.n_weight, s.q_value_micro,
           e.n_group, e.exact_q_micro,
           abs(s.q_value_micro - e.exact_q_micro) AS err_micro
    FROM kq s JOIN exq e ON s.key = e.key AND s.q_pct = e.q_pct
    """,
)
def kll_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type value quantiles (p25/50/75/90/99) from the
    KLL-family compactor ledger (operators.stats.kll_sketch_batch /
    kll_fold / kll_quantiles — Munro-Paterson/MRL/KLL lineage with
    deterministic evenly-spaced selection instead of KLL's coin, the
    cross-engine ledger contract): events land as TWO sketch-partial
    batches (even/odd event_id) of <= k=128 (v, w) rows per group
    whose weights sum to exactly the batch size, the driver row folds
    the ledger with the weighted cumulative sweep (<= k+1 surviving
    rows, weights still summing to the exact total — n_weight ==
    n_group is part of the hash), rank-queries it with integer
    arithmetic, and joins the TRUE population quantiles for an error
    report in value micro-units. Versus sampled_quantiles (the
    bottom-k uniform sample): rank error here is DETERMINISTICALLY
    bounded (<= 2n/k + batches + 1 ranks) instead of probabilistic
    O(1/sqrt(k)), and state stays <= k+1 rows per group under any
    number of batch merges. Events is read once per batch forever;
    every later quantile question folds the metadata-sized ledger."""
    from ..operators import stats as ST

    cat = Catalog(spark, sf_dir)
    ev = cat.events.filter(
        F.col("event_id").isNotNull() & F.col("value").isNotNull()
    ).select("event_id", F.col("event_type").alias("key"), "value")

    def seed(d: str) -> None:
        for rid, parity in (("even", 0), ("odd", 1)):
            ST.write_kll_index(
                ST.kll_sketch_batch(
                    ev.filter(F.col("event_id") % 2 == parity),
                    ["key"],
                    "value",
                    k=128,
                ),
                d,
                mode="overwrite",
                run_id=rid,
            )

    folded = ST.kll_fold(
        spark, seeded_dir(spark, sf_dir, "jonesy_kll_", seed), ["key"], k=128
    )
    kq = ST.kll_quantiles(folded, ["key"], (25, 50, 75, 90, 99))

    evm = ev.select("key", micro_units(F.col("value")).alias("v"))
    w = Window.partitionBy("key").orderBy("v")
    wn = Window.partitionBy("key")
    ranked = evm.withColumn("rk", F.row_number().over(w)).withColumn(
        "n_group", F.count(F.lit(1)).over(wn)
    )
    qs = F.explode(
        F.array(*[F.lit(q).cast("long") for q in (25, 50, 75, 90, 99)])
    ).alias("q_pct")
    exact = (
        ranked.select("key", "rk", "n_group", "v", qs)
        .filter(F.col("rk") == F.expr("(q_pct * n_group + 99) DIV 100"))
        .select("key", "q_pct", "n_group", F.col("v").alias("exact_q_micro"))
    )
    return kq.join(exact, ["key", "q_pct"]).withColumn(
        "err_micro", F.expr("abs(q_value_micro - exact_q_micro)")
    )
