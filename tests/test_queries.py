"""Differential tests: every registered query vs its DuckDB oracle at
sf0.001 — the same check the driver runs at sf0.01."""

from __future__ import annotations

import pytest

from jonesy_spark.caching import cache_scope
from jonesy_spark.plans import all_oracle_sql, all_queries
from jonesy_spark.plans.llm_queries import _shared_minhash_pairs

from conftest import SF_DIR, assert_matches_oracle

QUERIES = all_queries()
ORACLE = all_oracle_sql()


def test_every_query_has_oracle_or_is_flagged():
    missing = set(QUERIES) - set(ORACLE)
    # Non-SQL-expressible ops are allowed to omit an oracle, but must be
    # deliberate: list them here when added.
    allowed_missing: set[str] = {
        # int8 rounding boundary is engine-ulp-sensitive; pinned by
        # pytest equalities instead (see plans/llm_queries.py)
        "ann_quantized_topk",
        # iterative per-subspace k-means codebooks (the same class);
        # pinned by ADC rerank exact-equality + recall floor + code
        # determinism (test_operators.py)
        "ann_pq_topk",
        # iterative BPE merge induction is not SQL-expressible; pinned
        # by the test_tokenize differentials (naive reference, trainer
        # equivalence, sequential-replay encode, concat round-trip)
        "bpe_token_stats",
        # unigram-LM lattice EM is the same class; pinned by the
        # exhaustive-enumeration Viterbi oracle, EM monotonicity,
        # singles retention, and the concat round-trip (test_tokenize)
        "unigram_token_stats",
        # trains BOTH families above on one frame, so it inherits their
        # non-SQL-expressibility; the fold is pinned equal to
        # independently aggregating the two pinned per-family stats
        # frames (test_tokenize) AND oracle-checked on the roster as
        # tokenizer_family_fold over the pinned stats fixture (r10
        # verdict #6) — the driver roster carries zero rows-only
        # rows (test_roster_is_exactly_at_cap_with_oracles below)
        "tokenizer_family_compare",
    }
    assert missing <= allowed_missing, f"queries without oracle: {missing}"


def test_oracles_reference_known_queries():
    assert set(ORACLE) <= set(QUERIES)


def _persistent_rdd_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


@pytest.mark.parametrize("name", sorted(ORACLE))
def test_query_matches_oracle(spark, duck, name):
    """The row matches its oracle inside its own cache scope, and no
    persisted frame or checkpoint it created survives the scope. The
    session's minhash pair-graph memo is built before the snapshot: its
    one checkpoint is deliberate cross-row state."""
    _shared_minhash_pairs(spark, SF_DIR)
    spark.catalog.clearCache()
    before = _persistent_rdd_ids(spark)
    with cache_scope():
        df = QUERIES[name](spark, SF_DIR)
        assert_matches_oracle(df, duck, ORACLE[name])
    leaked = _persistent_rdd_ids(spark) - before
    assert not leaked, f"{name} left persistent RDDs {sorted(leaked)}"
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), name


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert len(df.schema) > 0


def test_roster_is_exactly_at_cap_with_oracles():
    """The fixed driver roster fills the driver's cap with distinct
    registry rows, every one of them oracle-checked (no rows-only
    driver rows)."""
    from jonesy_spark.plans import DRIVER_QUERY_CAP, DRIVER_ROSTER, driver_queries

    assert len(set(DRIVER_ROSTER)) == len(DRIVER_ROSTER) == DRIVER_QUERY_CAP
    assert list(driver_queries()) == list(DRIVER_ROSTER)
    rows_only = sorted(set(DRIVER_ROSTER) - set(ORACLE))
    assert rows_only == [], rows_only


def test_survey_map_is_generated_and_cites_live_registry_rows():
    """PARITY.md's committed survey-map block equals the render of
    plans/survey_map.py, the frozen REGISTRY_REFS set equals the set
    recomputed from the tables' text, and every cited row exists in the
    live registry (a rename fails here, not in stranded prose)."""
    from jonesy_spark.plans import survey_map

    stranded = sorted(survey_map.REGISTRY_REFS - set(QUERIES))
    assert not stranded, f"survey map cites rows not in the registry: {stranded}"
    assert survey_map.survey_refs_from_tables() == survey_map.REGISTRY_REFS, (
        "REGISTRY_REFS drifted from the TABLES text"
    )
    committed = survey_map.committed_survey_table()
    assert committed is not None, "PARITY.md lacks SURVEY-MAP markers"
    assert committed == survey_map.survey_table(), (
        "PARITY.md survey map drifted; regenerate with: "
        "python -m jonesy_spark.plans.survey_map"
    )
