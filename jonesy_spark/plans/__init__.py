"""Named query builders + matching DuckDB oracle SQL.

Each submodule exposes ``QUERIES`` (name -> (spark, sf_dir) -> DataFrame)
and ``ORACLE`` (name -> ANSI SQL over the driver-registered DuckDB views
``region nation customer supplier part orders lineitem events documents
embeddings``). The driver hash-compares the two at sf0.01
(order-insensitive), so every computed column is aliased identically on
both sides and floating-point results are made deterministic (decimal
sums cast back to double; cosines rounded).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from . import reference_queries


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    merged: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for mod in _modules():
        merged.update(mod.QUERIES)
    return merged


def all_oracle_sql() -> dict[str, str]:
    merged: dict[str, str] = {}
    for mod in _modules():
        merged.update(mod.ORACLE)
    return merged


# The driver checks at most 50 queries() entries (round 1 checked exactly
# the first 50 of 52, silently dropping the tail), so the driver-facing
# dict is a fixed subset of the full registry. The roster is plain data
# and does not rotate: tests/test_queries.py checks EVERY registry row
# that has an oracle against DuckDB on each run, so which 50 rows the
# driver also sees adds no correctness coverage.
DRIVER_QUERY_CAP = 50
DRIVER_ROSTER: tuple[str, ...] = (
    "latest_order_per_customer",
    "term_courses",
    "recent_instructor_updates",
    "composite_key_join",
    "latest_event_version",
    "scalar_functions_suite",
    "timestamp_formats",
    "priority_ordered_extract",
    "scalar_subquery_filter",
    "range_join_calendar",
    "watermark_incremental",
    "catalog_number_parsing",
    "active_day_codes",
    "pagination_window",
    "set_operations",
    "running_total",
    "events_sessionization",
    "scd2_history",
    "retention_cohorts",
    "trailing_range_stats",
    "quality_psi",
    "events_key_skew",
    "anomaly_flags",
    "events_rollup",
    "kmv_distinct_users",
    "sketch_dashboard",
    "events_sliding_window",
    "kll_quantiles",
    "dedup_exact",
    "dedup_minhash_lsh",
    "tokenizer_family_fold",
    "image_near_dup",
    "audio_near_dup",
    "video_near_dup",
    "pack_sequences",
    "contamination",
    "quality_filter",
    "corpus_card",
    "pii_stats",
    "quality_classifier",
    "incremental_near_dup",
    "bm25_search",
    "hybrid_search",
    "bm25_index_probe",
    "media_index_probe",
    "link_authority_converged",
    "crawl_gate_composed",
    "temperature_mixture",
    "ann_int8_rerank",
    "ann_pq_rerank",
)


def driver_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    registry = all_queries()
    out = {n: registry[n] for n in DRIVER_ROSTER}
    assert len(out) <= DRIVER_QUERY_CAP, (
        f"{len(out)} driver-facing queries exceed the driver's "
        f"{DRIVER_QUERY_CAP}-query cap; drop a row before adding more"
    )
    return out


def driver_oracle_sql() -> dict[str, str]:
    return {k: v for k, v in all_oracle_sql().items() if k in DRIVER_ROSTER}


def _modules():
    mods = [reference_queries]
    for name in ("extension_queries", "llm_queries"):
        try:
            mods.append(__import__(f"{__name__}.{name}", fromlist=[name]))
        except ImportError:
            pass
    return mods
