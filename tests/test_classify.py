"""Classifier tests: discrimination on constructed signal, the
unseen-bucket fallback, zero-token scoring, the one-class guard, and
the broadcast-model plan shape. The full train+score math also has a
DuckDB differential via the quality_classifier registry row."""

from __future__ import annotations

import contextlib
import io
import math

import pytest
from pyspark.sql import functions as F

from jonesy_spark.operators import classify as C


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_discriminates_constructed_signal(spark):
    """Disjoint vocabularies per class: every doc must be classified
    correctly, with positive scores strictly above negative ones."""
    pos_text = "alpha beta gamma delta alpha beta"
    neg_text = "omega sigma tau rho omega sigma"
    rows = [(i, pos_text, "en") for i in range(10)] + [
        (i + 10, neg_text, "de") for i in range(10)
    ]
    docs = _docs(spark, rows)
    model = C.train_log_odds(docs, F.col("lang") == "en", n_buckets=256)
    out = C.score_log_odds(docs, model, n_buckets=256).collect()
    by_id = {r["doc_id"]: r for r in out}
    pos_scores = [by_id[i]["score_micro"] for i in range(10)]
    neg_scores = [by_id[i + 10]["score_micro"] for i in range(10)]
    assert all(by_id[i]["pred"] for i in range(10))
    assert not any(by_id[i + 10]["pred"] for i in range(10))
    assert min(pos_scores) > max(neg_scores)


def test_unseen_buckets_take_sentinel_weight(spark):
    """A scored doc whose tokens never occurred in training must get
    exactly bias + n_tokens * unseen_weight — the fallback a NEW
    batch's novel vocabulary hits."""
    train = _docs(spark, [(0, "alpha beta", "en"), (1, "omega sigma", "de")])
    model = C.train_log_odds(train, F.col("lang") == "en", n_buckets=64)
    weights = {r["bucket"]: r["weight"] for r in model.collect()}
    bias = weights[C.BIAS_BUCKET]
    unseen = weights[C.UNSEEN_BUCKET]
    new = _docs(spark, [(7, "zzznovel qqqnovel zzznovel", "en")])
    row = C.score_log_odds(new, model, n_buckets=64).collect()[0]
    assert row["n_tokens"] == 3
    assert row["score_micro"] == round(round(bias + 3 * unseen, 6) * 1e6)


def test_zero_token_doc_scores_bias(spark):
    """No evidence -> the prior: score == bias, n_tokens == 0."""
    train = _docs(
        spark, [(0, "alpha beta", "en"), (1, "omega sigma", "de"), (2, "", "en")]
    )
    model = C.train_log_odds(train, F.col("lang") == "en", n_buckets=64)
    bias = {r["bucket"]: r["weight"] for r in model.collect()}[C.BIAS_BUCKET]
    row = (
        C.score_log_odds(train, model, n_buckets=64)
        .filter(F.col("doc_id") == 2)
        .collect()[0]
    )
    assert row["n_tokens"] == 0
    assert row["score_micro"] == round(round(bias, 6) * 1e6)
    assert row["pred"] == (row["score_micro"] > 0)


def test_one_class_training_raises(spark):
    docs = _docs(spark, [(0, "alpha", "en"), (1, "beta", "en")])
    # the guard rides the bias expression (no eager validation scan),
    # so it fires at action time
    with pytest.raises(Exception, match="both classes"):
        C.train_log_odds(docs, F.col("lang") == "en").collect()


def test_model_bounded_and_scoring_broadcasts(spark):
    """The model must stay within n_buckets + 2 rows (the hashing
    trick's parameter bound) and the scoring join must be a broadcast,
    never a sort-merge — the property that keeps scoring one tf
    shuffle at any corpus size."""
    rows = [(i, f"tok{i} tok{i+1} tok{i+2}", "en" if i % 2 else "de") for i in range(40)]
    docs = _docs(spark, rows)
    trained = C.train_log_odds(docs, F.col("lang") == "en", n_buckets=32)
    # Materialize the model as a stored table would be (bounded by
    # construction, so the driver round-trip is metadata-sized) — the
    # deployment shape: score against a model TABLE, not against the
    # live training lineage.
    model_rows = trained.collect()
    assert len(model_rows) <= 32 + 2
    model = spark.createDataFrame(model_rows, "bucket long, weight double")
    scored = C.score_log_odds(docs, model, n_buckets=32)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        scored.explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastHashJoin" in plan
    # The only permissible non-broadcast join is the doc-grain
    # join-back that restores zero-token documents — doc_id-keyed,
    # scale-safe. The WEIGHTS join must never appear as a sort-merge:
    # a bucket-keyed SMJ would shuffle the tf stream against the model.
    import re

    assert len(re.findall(r"\(\d+\) SortMergeJoin", plan)) <= 1
    assert "bucket" not in "".join(
        line for line in plan.splitlines() if "SortMergeJoin" in line
    )


def test_model_store_round_trip_and_version_bump(spark, tmp_path):
    """write_model freezes (weights, n_buckets) together; a retrain
    publishes the next version and read_model serves it."""
    path = str(tmp_path / "model")
    docs = _docs(spark, [(0, "alpha beta", "en"), (1, "omega sigma", "de")])
    m0 = C.train_log_odds(docs, F.col("lang") == "en", n_buckets=64)
    assert C.write_model(m0, path, n_buckets=64) == 0
    model, n_buckets, ngrams, v = C.read_model(spark, path)
    assert (n_buckets, ngrams, v) == (64, 1, 0)
    assert "n_buckets" not in model.columns
    got = {r["bucket"]: r["weight"] for r in model.collect()}
    want = {r["bucket"]: r["weight"] for r in m0.collect()}
    assert got == want
    m1 = C.train_log_odds(docs, F.col("lang") == "de", n_buckets=128)
    assert C.write_model(m1, path, n_buckets=128) == 1
    _, n_buckets, _, v = C.read_model(spark, path)
    assert (n_buckets, v) == (128, 1)


def test_train_classifier_job_publishes_versioned_model(
    spark, tmp_path, monkeypatch
):
    """The nightly retrain job: one run publishes model version 0 under
    the job's out_root with the configured feature-space size frozen in."""
    from conftest import SF_DIR
    from jonesy_spark.pipeline.jobs import JobContext, run_job

    monkeypatch.setenv("CLASSIFIER_N_BUCKETS", "4096")
    ctx = JobContext(
        spark=spark,
        sf_dir=SF_DIR,
        out_root=str(tmp_path),
        targets=[str(tmp_path / "t0")],
    )
    run_job("train_classifier", ctx)
    assert any(w.startswith("quality_model/version=0") for w in ctx.written)
    model, n_buckets, ngrams, v = C.read_model(spark, f"{tmp_path}/quality_model")
    assert (n_buckets, ngrams, v) == (4096, 1, 0)
    assert model.count() <= 4096 + 2
    assert {r["bucket"] for r in model.filter(F.col("bucket") < 0).collect()} == {
        C.BIAS_BUCKET,
        C.UNSEEN_BUCKET,
    }


def test_eval_report_confusion_and_ratios(spark):
    """Hand-built confusion matrix: 2 TP, 1 FP, 1 FN, 2 TN."""
    scored = spark.createDataFrame(
        [(i, p == 1) for i, p in enumerate([1, 1, 1, 0, 0, 0])],
        "doc_id long, pred boolean",
    )
    labels = spark.createDataFrame(
        [(i, y == 1) for i, y in enumerate([1, 1, 0, 1, 0, 0])],
        "doc_id long, label boolean",
    )
    row = C.eval_report(scored, labels).collect()[0]
    assert (row["tp"], row["fp"], row["fn"], row["tn"]) == (2, 1, 1, 2)
    assert row["precision_micro"] == round(2 / 3 * 1e6)
    assert row["recall_micro"] == round(2 / 3 * 1e6)
    assert row["f1_micro"] == round(2 / 3 * 1e6)
    assert row["accuracy_micro"] == round(4 / 6 * 1e6)


def test_eval_report_degenerate_all_negative(spark):
    """No positives anywhere: ratios report 0.0, never NULL."""
    scored = spark.createDataFrame(
        [(0, False), (1, False)], "doc_id long, pred boolean"
    )
    labels = spark.createDataFrame(
        [(0, False), (1, False)], "doc_id long, label boolean"
    )
    row = C.eval_report(scored, labels).collect()[0]
    assert (row["precision_micro"], row["recall_micro"], row["f1_micro"]) == (0, 0, 0)
    assert row["accuracy_micro"] == 1_000_000


@pytest.mark.slow
def test_pipeline_classifier_gate_drops_off_target_docs(spark, tmp_path):
    """CorpusConfig.classifier_model_path: publish a model trained to
    accept one subpopulation; the pipeline's clean output keeps that
    population and drops the other. An unset path leaves both."""
    from jonesy_spark.pipeline.corpus_job import (
        CorpusConfig,
        prepare_training_corpus,
    )

    model_path = str(tmp_path / "model")
    pop_a = "alpha beta gamma delta epsilon zeta"
    pop_b = "omega sigma tau rho phi chi"
    docs = spark.createDataFrame(
        [(i, pop_a + f" uniq{i}", "en", "srcA") for i in range(8)]
        + [(i + 8, pop_b + f" uniq{i+8}", "de", "srcB") for i in range(8)],
        "doc_id long, text string, lang string, source string",
    )
    model = C.train_log_odds(docs, F.col("lang") == "en", n_buckets=512)
    C.write_model(model, model_path, n_buckets=512)

    gated = prepare_training_corpus(
        docs, CorpusConfig(classifier_model_path=model_path)
    )["clean"]
    kept = {r["doc_id"] for r in gated.select("doc_id").collect()}
    assert kept == set(range(8))

    ungated = prepare_training_corpus(docs, CorpusConfig())["clean"]
    assert ungated.count() == 16


def test_pipeline_classifier_gate_requires_published_model(spark, tmp_path):
    from jonesy_spark.pipeline.corpus_job import (
        CorpusConfig,
        prepare_training_corpus,
    )

    docs = _docs(spark, [(0, "alpha", "en")])
    with pytest.raises(ValueError, match="no committed classifier model"):
        prepare_training_corpus(
            docs, CorpusConfig(classifier_model_path=str(tmp_path / "nope"))
        )


def test_scores_invariant_to_partitioning(spark):
    """The decimal-accumulated score must be EXACTLY equal however the
    corpus is partitioned — the regression guard for the double-sum
    partition-order drift found at sf0.1."""
    rows = [
        (i, " ".join(f"tok{(i * 7 + j) % 13}" for j in range(40)),
         "en" if i % 3 else "de")
        for i in range(60)
    ]
    docs = _docs(spark, rows)
    model_rows = C.train_log_odds(
        docs, F.col("lang") == "en", n_buckets=128
    ).collect()
    model = spark.createDataFrame(model_rows, "bucket long, weight double")
    one = {
        r["doc_id"]: r["score_micro"]
        for r in C.score_log_odds(docs.repartition(1), model, n_buckets=128).collect()
    }
    many = {
        r["doc_id"]: r["score_micro"]
        for r in C.score_log_odds(docs.repartition(16), model, n_buckets=128).collect()
    }
    assert one == many


def test_bigram_features_separate_reordered_texts(spark):
    """ngrams=2: two classes with IDENTICAL unigram bags but different
    word order are separable only with bigram features."""
    fwd = "alpha beta gamma delta " * 5
    rev = "delta gamma beta alpha " * 5
    rows = [(i, fwd, "en") for i in range(8)] + [
        (i + 8, rev, "de") for i in range(8)
    ]
    docs = _docs(spark, rows)
    uni = C.train_log_odds(docs, F.col("lang") == "en", n_buckets=512)
    uni_out = C.score_log_odds(docs, uni, n_buckets=512).collect()
    # unigram model: identical bags -> identical scores, no separation
    assert len({r["score_micro"] for r in uni_out}) == 1
    bi = C.train_log_odds(docs, F.col("lang") == "en", n_buckets=512, ngrams=2)
    bi_out = {
        r["doc_id"]: r
        for r in C.score_log_odds(docs, bi, n_buckets=512, ngrams=2).collect()
    }
    assert all(bi_out[i]["pred"] for i in range(8))
    assert not any(bi_out[i + 8]["pred"] for i in range(8))


def test_ngrams_freeze_with_model_store(spark, tmp_path):
    path = str(tmp_path / "m")
    docs = _docs(spark, [(0, "a b", "en"), (1, "c d", "de")])
    m = C.train_log_odds(docs, F.col("lang") == "en", n_buckets=64, ngrams=2)
    C.write_model(m, path, n_buckets=64, ngrams=2)
    _, n_buckets, ngrams, v = C.read_model(spark, path)
    assert (n_buckets, ngrams, v) == (64, 2, 0)


def test_count_ledger_fold_equals_monolithic_training(spark, tmp_path):
    """Two batches landed separately then folded must produce EXACTLY
    the model a monolithic train over the union produces — integer
    sufficient statistics merge losslessly."""
    path = str(tmp_path / "counts")
    b1 = _docs(
        spark, [(0, "alpha beta alpha", "en"), (1, "omega sigma", "de")]
    )
    b2 = _docs(
        spark, [(2, "alpha gamma", "en"), (3, "tau rho omega", "de")]
    )
    C.write_classifier_counts(b1, F.col("lang") == "en", path, n_buckets=64)
    C.write_classifier_counts(b2, F.col("lang") == "en", path, n_buckets=64)
    model, n_buckets, ngrams = C.train_from_counts(spark, path)
    assert (n_buckets, ngrams) == (64, 1)
    got = {r["bucket"]: r["weight"] for r in model.collect()}
    mono = C.train_log_odds(
        b1.unionByName(b2), F.col("lang") == "en", n_buckets=64
    )
    want = {r["bucket"]: r["weight"] for r in mono.collect()}
    assert got == want


def test_count_ledger_guards(spark, tmp_path):
    """Absent ledger raises; mixed feature-space parameters refuse to
    fold; a replaying writer's own epoch is excluded."""
    path = str(tmp_path / "counts")
    with pytest.raises(ValueError, match="no classifier count ledger"):
        C.train_from_counts(spark, str(tmp_path / "missing"))
    docs = _docs(spark, [(0, "alpha", "en"), (1, "omega", "de")])
    C.write_classifier_counts(docs, F.col("lang") == "en", path, n_buckets=64)
    C.write_classifier_counts(docs, F.col("lang") == "en", path, n_buckets=128)
    with pytest.raises(ValueError, match="mixes feature-space"):
        C.train_from_counts(spark, path)

    path2 = str(tmp_path / "counts2")
    C.write_classifier_counts(
        docs, F.col("lang") == "en", path2, n_buckets=64, run_id="epoch-7"
    )
    with pytest.raises(ValueError, match="empty after exclusions"):
        # excluding the only batch leaves an empty fold -> loud error
        C.train_from_counts(spark, path2, exclude_run_id="epoch-7")
