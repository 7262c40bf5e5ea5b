"""Golden-output tests for the pipeline layer: the serialization details
(headerless gzip CSV, lowercase columns, Pacific timestamp coercion,
date-hashed prefixes, multi-target isolation) ARE the reference's real
contract (SURVEY.md §5 item 2)."""

from __future__ import annotations

import csv
import gzip
import hashlib
import io
import os
from datetime import date

import pytest
from pyspark.sql import functions as F

from conftest import SF_DIR
from jonesy_spark.catalog import Catalog
from jonesy_spark.pipeline.jobs import JobContext, layered_config, run_job
from jonesy_spark.pipeline.sinks import (
    MultiTargetSink,
    coerce_timestamp_pacific,
    daily_prefix,
    serialize_for_csv,
    write_gzip_csv,
)


def _read_gzip_csv(path):
    with gzip.open(path, "rt", newline="") as fh:
        return list(csv.reader(fh))


def test_daily_prefix_contract():
    d = date(2026, 8, 13)
    assert daily_prefix(d) == (
        "daily/" + hashlib.md5(b"2026-08-13").hexdigest() + "-2026-08-13"
    )


def test_layered_config_precedence():
    merged = layered_config(
        shared={"A": "shared", "B": "shared"},
        secret={"B": "secret", "C": "secret"},
        env={"C": "env"},
    )
    assert (merged["A"], merged["B"], merged["C"]) == ("shared", "secret", "env")


def test_pacific_coercion_renders_offset(spark):
    df = spark.createDataFrame(
        [("2024-01-05 13:14:15",), ("2024-07-05 13:14:15",)], ["s"]
    ).select(F.col("s").cast("timestamp").alias("ts"))
    rows = df.select(coerce_timestamp_pacific(F.col("ts")).alias("p")).collect()
    # winter: PST (-0800); summer: PDT (-0700) — DST-aware offsets.
    assert rows[0]["p"] == "2024-01-05 05:14:15 -0800"
    assert rows[1]["p"] == "2024-07-05 06:14:15 -0700"


def test_serialize_lowercases_and_formats(spark):
    """Golden-byte check of the reference _coerce contract
    (jonesy/jobs.py:164-173): Pacific rendering ONLY for last_updated;
    every other datetime gets the '%Y-%m-%d %H:%M:%S UTC' label; DATE
    columns render as midnight UTC datetimes (Oracle DATEs arrive as
    datetimes)."""
    df = (
        spark.createDataFrame([(1, "x")], ["ID", "NaMe"])
        .withColumn("LAST_UPDATED", F.lit("2024-01-05 13:14:15").cast("timestamp"))
        .withColumn("EFFDT", F.lit("2024-03-09 08:30:00").cast("timestamp"))
        .withColumn("START_DT", F.lit("2024-03-09").cast("date"))
    )
    out = serialize_for_csv(df)
    assert out.columns == ["id", "name", "last_updated", "effdt", "start_dt"]
    row = out.first()
    assert row["last_updated"] == "2024-01-05 05:14:15 -0800"
    assert row["effdt"] == "2024-03-09 08:30:00 UTC"
    assert row["start_dt"] == "2024-03-09 00:00:00 UTC"


def test_serialize_renders_timestamp_ntz_by_contract(spark):
    """TIMESTAMP_NTZ columns (what a parquet writer without a zone
    produces) follow the same contract as TIMESTAMP: Pacific rendering
    for last_updated, the UTC label everywhere else — never Spark's
    ISO default text."""
    df = spark.createDataFrame([(1,)], ["id"]).select(
        "id",
        F.lit("2024-01-05 13:14:15").cast("timestamp_ntz").alias("last_updated"),
        F.lit("1998-12-25 00:00:00").cast("timestamp_ntz").alias("effective_date"),
    )
    row = serialize_for_csv(df).first()
    assert row["last_updated"] == "2024-01-05 05:14:15 -0800"
    assert row["effective_date"] == "1998-12-25 00:00:00 UTC"


def test_write_gzip_csv_headerless_ordered(spark, tmp_path):
    df = Catalog(spark, SF_DIR).customer.select(
        F.col("c_custkey").alias("CUSTKEY"), F.col("c_name").alias("NAME")
    )
    path = write_gzip_csv(
        df, str(tmp_path), "extract.csv.gz", order_by=[F.col("custkey")]
    )
    rows = _read_gzip_csv(path)
    assert len(rows) == df.count()
    # headerless: first row is data, not column names
    assert rows[0][0] != "custkey"
    keys = [int(r[0]) for r in rows]
    assert keys == sorted(keys)


def test_write_gzip_csv_partitioned(spark, tmp_path):
    df = Catalog(spark, SF_DIR).lineitem.select("l_orderkey", "l_linenumber")
    out = write_gzip_csv(df, str(tmp_path), "parts", single_file=False)
    assert os.path.isdir(out)
    import glob as g

    assert g.glob(f"{out}/part-*.csv.gz")


def test_multi_target_isolation(tmp_path):
    src = tmp_path / "src.txt"
    src.write_text("payload")
    good = tmp_path / "bucket-a"
    bad = "/proc/definitely-not-writable/bucket-b"
    sink = MultiTargetSink([str(good), bad])
    results = sink.upload(str(src), "k/src.txt")
    assert results[str(good)] is True
    assert results[bad] is False
    assert (good / "k" / "src.txt").read_text() == "payload"
    assert bad in sink.errors  # error captured, not raised


@pytest.mark.parametrize("job", ["upload_advisors", "upload_recent_refresh"])
def test_jobs_end_to_end(spark, tmp_path, job):
    targets = [str(tmp_path / "bucket-a"), str(tmp_path / "bucket-b")]
    ctx = JobContext(
        spark=spark,
        sf_dir=SF_DIR,
        out_root=str(tmp_path / "out"),
        targets=targets,
        run_date=date(2026, 8, 13),
    )
    run_job(job, ctx)
    assert ctx.written
    prefix = daily_prefix(date(2026, 8, 13))
    for key in ctx.written:
        for t in targets:
            obj = os.path.join(t, prefix, key)
            assert os.path.isfile(obj), obj
            assert _read_gzip_csv(obj)  # non-empty, parseable


def test_snapshot_job_fans_out_terms(spark, tmp_path):
    ctx = JobContext(
        spark=spark,
        sf_dir=SF_DIR,
        out_root=str(tmp_path / "out"),
        targets=[str(tmp_path / "bucket")],
        run_date=date(2026, 8, 13),
    )
    run_job("upload_snapshot", ctx)
    term_files = [k for k in ctx.written if "enrollments-" in k]
    assert len(term_files) == 3  # top-3 current terms (O3 contract)


def test_csv_extract_round_trip(spark, tmp_path):
    """Write an extract, read it back positionally with a declared
    schema, and recover the original rows — the consumer-side half of
    the serialization contract."""
    from jonesy_spark.catalog import read_csv_extract

    src = Catalog(spark, SF_DIR).customer.select(
        F.col("c_custkey").alias("custkey"),
        F.trim("c_name").alias("name"),
        F.col("c_acctbal").alias("acctbal"),
    )
    path = write_gzip_csv(src, str(tmp_path), "rt.csv.gz", order_by=[F.col("custkey")])
    back = read_csv_extract(
        spark, path, "custkey long, name string, acctbal double"
    )
    a = sorted(map(tuple, src.collect()))
    b = sorted(map(tuple, back.collect()))
    assert a == b


def test_partitioned_parquet_lake_sink(spark, tmp_path):
    """Data-lake sink: hive-partitioned layout + partition pruning on
    read-back."""
    from jonesy_spark.pipeline.sinks import write_partitioned_parquet

    orders = Catalog(spark, SF_DIR).orders.withColumn(
        "order_year", F.year("o_orderdate")
    )
    out = write_partitioned_parquet(
        orders, str(tmp_path / "lake" / "orders"), ["order_year"]
    )
    years = [d for d in os.listdir(out) if d.startswith("order_year=")]
    assert len(years) >= 5  # hive-style partition dirs
    back = spark.read.parquet(out)
    one_year = back.filter(F.col("order_year") == 1995)
    # partition pruning: only the matching directory is scanned
    assert one_year.count() == orders.filter(F.col("order_year") == 1995).count()
    import io as _io
    import contextlib as _ctx

    buf = _io.StringIO()
    with _ctx.redirect_stdout(buf):
        one_year.explain("formatted")
    assert "PartitionFilters" in buf.getvalue()


@pytest.mark.parametrize("fmt", ["parquet", "orc", "json"])
def test_multi_format_round_trip(spark, tmp_path, fmt):
    """Every supported lake format round-trips the same rows (JSON with
    a declared schema — no inference)."""
    from jonesy_spark.catalog import read_format, write_format

    src = Catalog(spark, SF_DIR).nation
    path = write_format(src, str(tmp_path / f"t.{fmt}"), fmt)
    schema = src.schema if fmt == "json" else None
    back = read_format(spark, path, fmt, schema=schema)
    assert sorted(map(tuple, src.collect())) == sorted(map(tuple, back.collect()))


def test_unknown_job_aborts(spark, tmp_path):
    ctx = JobContext(spark, SF_DIR, str(tmp_path), [])
    with pytest.raises(SystemExit, match="unknown"):
        run_job("nope", ctx)


def test_jdbc_read_options_contract():
    """The JDBC seam must emit Spark's partitioned-scan options — this
    is the contract the production read binds to (no driver jar in the
    container, so the option map IS the testable surface)."""
    from jonesy_spark.catalog import jdbc_read_options

    opts = jdbc_read_options(
        "jdbc:oracle:thin:@db:1521/SISEDO",
        "SISEDO.SOME_VIEW",
        partition_column="CLASS_NBR",
        num_partitions=16,
        lower_bound=100,
        upper_bound=99999,
        sessionInitStatement="ALTER SESSION SET TIME_ZONE='UTC'",
    )
    assert opts["url"].startswith("jdbc:oracle:")
    assert opts["dbtable"] == "SISEDO.SOME_VIEW"
    assert opts["partitionColumn"] == "CLASS_NBR"
    assert opts["numPartitions"] == "16"
    assert (opts["lowerBound"], opts["upperBound"]) == ("100", "99999")
    assert int(opts["fetchsize"]) > 0
    assert opts["sessionInitStatement"].startswith("ALTER SESSION")
    # unpartitioned read omits the partitioning trio entirely
    plain = jdbc_read_options("jdbc:h2:mem:x", "T")
    assert "partitionColumn" not in plain and "numPartitions" not in plain


def test_s3a_credentials_conf_branches():
    """S7: role ARN present -> AssumedRoleCredentialProvider with the
    reference's session name/duration; absent -> static keys. SSE-AES256
    always rides along (jonesy/jobs.py:76-97,128)."""
    from jonesy_spark.pipeline.credentials import (
        ASSUMED_ROLE_PROVIDER,
        SIMPLE_PROVIDER,
        s3a_credentials_conf,
    )

    role = s3a_credentials_conf(
        {
            "AWS_ROLE_ARN": "arn:aws:iam::123:role/extract",
            "AWS_ACCESS_KEY_ID": "AKIA",
            "AWS_SECRET_ACCESS_KEY": "shh",
        }
    )
    assert role["fs.s3a.aws.credentials.provider"] == ASSUMED_ROLE_PROVIDER
    assert role["fs.s3a.assumed.role.arn"].endswith("role/extract")
    assert role["fs.s3a.assumed.role.session.name"] == "AssumeAppRoleSession"
    assert role["fs.s3a.assumed.role.session.duration"] == "3600s"
    assert role["fs.s3a.server-side-encryption-algorithm"] == "AES256"

    static = s3a_credentials_conf(
        {"AWS_ACCESS_KEY_ID": "AKIA", "AWS_SECRET_ACCESS_KEY": "shh"}
    )
    assert static["fs.s3a.aws.credentials.provider"] == SIMPLE_PROVIDER
    assert static["fs.s3a.access.key"] == "AKIA"
    assert "fs.s3a.assumed.role.arn" not in static


def test_apply_s3a_conf_sets_hadoop_conf(spark):
    from jonesy_spark.pipeline.credentials import apply_s3a_conf

    applied = apply_s3a_conf(
        spark, {"AWS_ACCESS_KEY_ID": "AKIA", "AWS_SECRET_ACCESS_KEY": "shh"}
    )
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    for k, v in applied.items():
        assert hconf.get(k) == v


def test_env_dispatch_main(spark, tmp_path):
    """D8 spine: JOB env var -> python -m jonesy_spark -> extracts on
    disk (reference scripts/data-loch-*.sh:20 + jonesy.py:13-16).
    get_spark() inside main() returns this session's active singleton,
    so the run stays in-process."""
    from jonesy_spark.__main__ import main

    env = {
        "JOB": "upload_advisors",
        "SF_DIR": SF_DIR,
        "OUT_ROOT": str(tmp_path / "out"),
        "TARGETS": str(tmp_path / "loch"),
    }
    ctx = main(env=env)
    assert ctx.written
    for key in ctx.written:
        assert os.path.isfile(
            os.path.join(str(tmp_path / "loch"), daily_prefix(ctx.run_date), key)
        )


def test_env_dispatch_rejects_unknown_job():
    from jonesy_spark.__main__ import main

    with pytest.raises(SystemExit, match="unknown or missing job"):
        main(env={"JOB": "nope"})
    with pytest.raises(SystemExit, match="unknown or missing job"):
        main(env={})


def test_cron_wrappers_reference_shape():
    """The three wrappers exist, are executable, and dispatch the right
    JOB through the shared spine."""
    root = os.path.join(os.path.dirname(__file__), "..", "scripts", "cron")
    for name, job in [
        ("data-loch-advisors.sh", "upload_advisors"),
        ("data-loch-snapshot.sh", "upload_snapshot"),
        ("data-loch-recent-refresh.sh", "upload_recent_refresh"),
    ]:
        path = os.path.join(root, name)
        assert os.access(path, os.X_OK), path
        assert job in open(path).read()
    spine = open(os.path.join(root, "run-job.sh")).read()
    assert "python -m jonesy_spark" in spine and "tee -a" in spine


def test_validate_schema_gate(spark):
    from jonesy_spark.catalog import validate_schema

    df = spark.createDataFrame([(1, "x", 2.0)], ["doc_id", "text", "extra"])
    out = validate_schema(df, "doc_id bigint, text string")
    assert out.columns == ["doc_id", "text"]  # projected to the contract

    with pytest.raises(ValueError, match="missing column 'absent'"):
        validate_schema(df, "absent int")
    with pytest.raises(ValueError, match="expected int, got bigint"):
        validate_schema(df, "doc_id int")
    with pytest.raises(ValueError, match="unexpected column 'extra'"):
        validate_schema(df, "doc_id bigint, text string", strict=True)


@pytest.mark.slow
def test_prepare_corpus_end_to_end(spark, tmp_path):
    """The assembled training-corpus pipeline: gates compose, counts
    only shrink, outputs are deterministic, and the job writes the
    split manifest + packed sequences."""
    from jonesy_spark.catalog import Catalog
    from jonesy_spark.pipeline.corpus_job import prepare_training_corpus
    from jonesy_spark.pipeline.jobs import run_job

    docs = Catalog(spark, SF_DIR).documents
    out = prepare_training_corpus(docs)
    n_docs, n_clean = docs.count(), out["clean"].count()
    assert 0 < n_clean <= n_docs
    assert out["split"].count() == n_clean
    # every packed doc is a train-split doc, each exactly once
    train_ids = {
        r["doc_id"]
        for r in out["split"].filter("split = 'train'").collect()
    }
    packed_ids = [r["doc_id"] for r in out["packed"].select("doc_id").collect()]
    assert set(packed_ids) <= train_ids and len(packed_ids) == len(set(packed_ids))
    assert out["sequences"].count() > 0
    # deterministic: a rerun reproduces identical sequences
    again = prepare_training_corpus(docs)
    a = sorted(r["seq_text"] for r in out["sequences"].collect())
    b = sorted(r["seq_text"] for r in again["sequences"].collect())
    assert a == b
    # PII/near-dup gates actually ran: no raw emails survive
    assert out["clean"].filter(F.col("text").rlike("@[A-Za-z0-9.-]+\\.")).count() == 0

    ctx = JobContext(
        spark=spark,
        sf_dir=SF_DIR,
        out_root=str(tmp_path / "out"),
        targets=[str(tmp_path / "loch")],
    )
    run_job("prepare_corpus", ctx)
    assert sorted(ctx.written) == ["corpus/sequences", "corpus/split"]
    assert spark.read.parquet(str(tmp_path / "out" / "corpus" / "sequences")).count() > 0


@pytest.mark.slow
def test_prepare_corpus_quality_gate(spark):
    """The optional per-domain quality percentile shrinks the corpus to
    ~keep_frac per source and stays deterministic."""
    from jonesy_spark.catalog import Catalog
    from jonesy_spark.pipeline.corpus_job import CorpusConfig, prepare_training_corpus

    docs = Catalog(spark, SF_DIR).documents
    base = prepare_training_corpus(docs)["clean"].count()
    gated = prepare_training_corpus(
        docs, CorpusConfig(quality_keep_frac=0.5)
    )["clean"]
    n1, n2 = gated.count(), gated.count()
    assert n1 == n2  # deterministic under recompute
    assert 0 < n1 < base
    # ~half survives the gate; downstream near-dup dedup then removes
    # its own share, so the bound is loose on the low side.
    assert 0.2 <= n1 / base <= 0.65


def test_catalog_rejects_malformed_events_ts(spark, tmp_path):
    """ADVICE r4: a malformed fixture (e.g. string ts) must fail loudly
    at the catalog seam — a blind cast would produce nulls that silently
    corrupt every downstream window/watermark computation."""
    import pandas as pd
    import pytest

    from jonesy_spark.catalog import Catalog

    pd.DataFrame(
        {"event_id": [1], "ts": ["2026-01-01 00:00:00"], "user_id": [1],
         "event_type": ["click"], "value": [1.0], "props": ["{}"]}
    ).to_parquet(tmp_path / "events.parquet")
    with pytest.raises(TypeError, match="events.ts"):
        Catalog(spark, str(tmp_path)).events


def test_corpus_job_runs_lsh_once_and_releases_caches(spark):
    """r4 verdict #4/#3 follow-through: the pipeline's near-dup stage
    computes the LSH pair graph exactly once (the star forest is
    checkpointed; no returned frame's plan re-derives the minhash
    sketch) and leaves no persisted sketch residue behind."""
    from conftest import SF_DIR

    from jonesy_spark.catalog import Catalog
    from jonesy_spark.pipeline.corpus_job import prepare_training_corpus

    spark.catalog.clearCache()
    docs = Catalog(spark, SF_DIR).documents
    out = prepare_training_corpus(docs)

    # no sketch caches survive the build
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()

    # every returned frame reads the checkpointed forest, not the LSH
    # subtree: minhash's permutation columns must not appear in any plan
    for key, df in out.items():
        plan = df._jdf.queryExecution().analyzed().toString()
        assert "mh0" not in plan, key
    clean_plan = out["clean"]._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" in clean_plan  # the checkpointed component labels


@pytest.mark.slow
def test_prepare_corpus_r6_policies(spark):
    """The r6 pipeline knobs compose: line-level boilerplate removal
    scrubs injected banners before any text-derived stage, the quality
    survivor policy keeps the best cluster member instead of the min
    id, and the cluster-keyed split never straddles a near-dup cluster
    at the split threshold — all deterministic under rerun."""
    from jonesy_spark.caching import cache_scope
    from jonesy_spark.catalog import Catalog
    from jonesy_spark.operators import dedup as DD
    from jonesy_spark.operators import graph as G
    from jonesy_spark.pipeline.corpus_job import CorpusConfig, prepare_training_corpus

    banner = "Subscribe to our newsletter"
    docs = Catalog(spark, SF_DIR).documents.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(F.col("text"), F.lit("\n" + banner)),
        ).otherwise(F.col("text")),
    )
    cfg = CorpusConfig(
        line_df_cap=32,
        survivor_policy="quality",
        split_cluster_threshold=0.8,
    )
    out = prepare_training_corpus(docs, cfg)
    clean = out["clean"]
    # the injected banner (df ~ half the corpus) is gone from every doc
    assert clean.filter(F.col("text").contains(banner)).count() == 0
    assert clean.count() > 0

    # leakage property at the SPLIT threshold: re-derive the 0.8 pair
    # graph over the clean docs; no component may straddle splits
    with cache_scope(keep_checkpoints=True):
        pairs = DD.minhash_lsh_pairs(clean, threshold=0.8)
        comps = G.connected_components(pairs).select(
            F.col("node").alias("doc_id"), F.col("component").alias("cid")
        )
    straddle = (
        out["split"]
        .join(comps, "doc_id")
        .groupBy("cid")
        .agg(F.countDistinct("split").alias("n"))
        .filter(F.col("n") > 1)
    )
    assert straddle.count() == 0

    # deterministic under rerun
    again = prepare_training_corpus(docs, cfg)
    a = sorted(r["doc_id"] for r in out["clean"].select("doc_id").collect())
    b = sorted(r["doc_id"] for r in again["clean"].select("doc_id").collect())
    assert a == b


def test_prepare_corpus_rejects_unknown_survivor_policy(spark):
    import pytest

    from jonesy_spark.catalog import Catalog
    from jonesy_spark.pipeline.corpus_job import CorpusConfig, prepare_training_corpus

    with pytest.raises(ValueError, match="survivor_policy"):
        prepare_training_corpus(
            Catalog(spark, SF_DIR).documents,
            CorpusConfig(survivor_policy="newest"),
        )


def test_prepare_corpus_from_jsonl_end_to_end(spark, tmp_path):
    """Raw JSONL in, training corpus + quarantine + stats index out —
    the full front-door composition, with row conservation across
    ingest and a stats report that matches the ingested table."""
    import json

    from pyspark.sql import functions as F

    from jonesy_spark.operators.stats import corpus_stats_report
    from jonesy_spark.pipeline.corpus_job import prepare_corpus_from_jsonl

    raw = tmp_path / "raw"
    raw.mkdir()
    fixture = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    lines = [json.dumps(r.asDict()) for r in fixture.limit(60).collect()]
    lines.insert(10, "{broken json")
    lines.insert(20, json.dumps({"text": "no id", "lang": "en", "source": "s", "n_chars": 5}))
    (raw / "crawl-0.jsonl").write_text("\n".join(lines) + "\n")

    workdir = str(tmp_path / "work")
    result = prepare_corpus_from_jsonl(spark, str(raw), workdir)

    report = result["ingest"]
    assert report.rows_clean == 60
    assert report.rows_malformed == 1 and report.rows_missing_required == 1

    # ingested table == clean jsonl rows, quarantine holds the rest
    docs = spark.read.parquet(f"{workdir}/documents")
    assert docs.count() == 60
    assert spark.read.parquet(f"{workdir}/documents/_quarantine").count() == 2

    # pipeline outputs exist and the split covers every surviving doc
    split = spark.read.parquet(result["paths"]["split"])
    assert split.select("doc_id").distinct().count() == split.count()
    assert split.count() <= 60
    assert spark.read.parquet(result["paths"]["sequences"]).count() > 0

    # the stats index records exactly what landed
    stats = corpus_stats_report(spark, f"{workdir}/stats_index")
    assert stats.agg(F.sum("n_docs")).first()[0] == 60

    # the manifest pins the whole run: config, accounting, counts
    import json

    with open(result["manifest"]) as f:
        manifest = json.load(f)
    assert manifest["ingest"]["rows_clean"] == 60
    assert manifest["config"]["salt"] == "corpus-v1"
    assert manifest["output_counts"]["split"] == split.count()
    assert manifest["stats_run_id"] == result["stats_run_id"]


@pytest.mark.slow
def test_prepare_corpus_temperature_mix_policy(spark):
    """The tau knob rebalances domains with upsampled copies: copies
    carry copy-unique packing ids, every copy of a doc lands in ONE
    split, and the whole run is rerun-deterministic."""
    from pyspark.sql import functions as F

    from jonesy_spark.pipeline.corpus_job import CorpusConfig, prepare_training_corpus

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    cfg = CorpusConfig(mixture_tau=0.3)
    out = prepare_training_corpus(docs, cfg)

    clean = out["clean"]
    assert "copy_nbr" in clean.columns and "doc_copy_id" in clean.columns
    # tau<1 upsamples at least one tail domain -> copies exist
    assert clean.filter(F.col("copy_nbr") > 0).count() > 0

    # split is one row per DOCUMENT (not per copy)
    split = out["split"]
    assert split.count() == split.select("doc_id").distinct().count()

    # packing ids are copy-unique: every packed row is a distinct copy
    packed = out["packed"]
    assert packed.count() == packed.select("doc_copy_id").distinct().count()

    # all copies of any doc share the doc's split: train-packed copies
    # may only come from train docs
    train_ids = {r["doc_id"] for r in split.filter(F.col("split") == "train").collect()}
    packed_docs = {
        int(r["doc_copy_id"].split("#")[0]) for r in packed.select("doc_copy_id").collect()
    }
    assert packed_docs <= train_ids

    # determinism across reruns
    again = prepare_training_corpus(docs, cfg)
    a = sorted(map(tuple, out["sequences"].select("seq_id", "seq_tokens").collect()))
    b = sorted(map(tuple, again["sequences"].select("seq_id", "seq_tokens").collect()))
    assert a == b


def test_prepare_corpus_span_dedup_policy(spark):
    """The span_dedup_k knob cuts cross-document repeated spans before
    the text-derived stages: the lifted paragraph survives only in its
    keeper document's pipeline output."""
    from pyspark.sql import functions as F

    from jonesy_spark.pipeline.corpus_job import CorpusConfig, prepare_training_corpus

    shared = " ".join(f"lifted{i}" for i in range(20))
    docs = spark.createDataFrame(
        [
            (1, f"keeper head {shared} keeper tail", "en", "src0", 10),
            (6, f"otherlead opening {shared} closing othertail", "en", "src0", 10),
            (9, "independent filler text with its own tokens entirely", "en", "src1", 10),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = prepare_training_corpus(docs, CorpusConfig(span_dedup_k=13))
    clean = {r["doc_id"]: r["text"] for r in out["clean"].collect()}
    assert "lifted0" in clean[1]
    assert "lifted0" not in clean[6]
    assert clean[6] == "otherlead opening closing othertail"
    assert clean[9].startswith("independent")


def test_ingest_corpus_job_end_to_end(spark, tmp_path):
    """JOB=ingest_corpus: with no CORPUS_SRC configured the job
    self-materializes the fixture documents as JSONL and runs the full
    raw-bytes path — documents, split, sequences, stats index and
    manifest all land under the job's output root."""
    import json
    import os

    from jonesy_spark.pipeline.jobs import JobContext, run_job

    assert "CORPUS_SRC" not in os.environ
    ctx = JobContext(spark, SF_DIR, str(tmp_path), [])
    run_job("ingest_corpus", ctx)
    assert "corpus_run/_MANIFEST.json" in ctx.written

    root = f"{tmp_path}/corpus_run"
    docs = spark.read.parquet(f"{root}/documents")
    assert docs.count() == 500  # whole fixture corpus round-trips
    assert spark.read.parquet(f"{root}/corpus/split").count() > 0
    with open(f"{root}/_MANIFEST.json") as f:
        manifest = json.load(f)
    assert manifest["ingest"]["rows_clean"] == 500
    assert manifest["ingest"]["rows_malformed"] == 0


@pytest.mark.slow
def test_prepare_corpus_tokenizer_stage(spark):
    """Opt-in tokenize stage: vocab trains on the train split only,
    every train doc encodes to ids with zero OOV, and ids decode back
    to the document text through the vocab."""
    from jonesy_spark.catalog import Catalog
    from jonesy_spark.pipeline.corpus_job import CorpusConfig, prepare_training_corpus

    docs = Catalog(spark, SF_DIR).documents.limit(120)
    out = prepare_training_corpus(
        docs, CorpusConfig(tokenizer_merges=16)
    )
    assert {"merges", "vocab", "tokenized", "id_sequences"} <= set(out)
    assert out["merges"].count() == 16
    n_train = out["split"].filter("split = 'train'").count()
    tok = out["tokenized"]
    assert tok.count() == n_train
    # vocab trained on the same docs -> no OOV ids anywhere
    assert tok.filter(F.array_contains("token_ids", -1)).count() == 0
    # ids decode back to the exact document text
    id2tok = {r["token_id"]: r["token"] for r in out["vocab"].collect()}
    texts = {r["doc_id"]: r["text"] for r in out["clean"].collect()}
    for r in tok.limit(10).collect():
        assert "".join(id2tok[i] for i in r["token_ids"]) == texts[r["doc_id"]]
    # id shards: every non-final sequence per shard is exactly the
    # budget, and total sequence tokens == total document tokens
    seqs = out["id_sequences"].collect()
    assert seqs
    budget = 512  # CorpusConfig default
    by_shard = {}
    for r in seqs:
        by_shard.setdefault(r["shard"], []).append(r)
    for rows in by_shard.values():
        rows.sort(key=lambda r: r["seq_nbr"])
        assert all(r["n_tokens"] == budget for r in rows[:-1])
    assert sum(r["n_tokens"] for r in seqs) == tok.agg(
        F.sum("n_bpe_tokens")
    ).first()[0]


@pytest.mark.slow
def test_prepare_corpus_token_budget_cap(spark):
    """The hard token-budget knob caps the clean corpus: kept docs'
    token total fits the budget, and loosening the budget only grows
    the kept set (prefix monotonicity)."""
    from jonesy_spark.catalog import Catalog
    from jonesy_spark.pipeline.corpus_job import CorpusConfig, prepare_training_corpus

    docs = Catalog(spark, SF_DIR).documents
    tight = prepare_training_corpus(docs, CorpusConfig(token_budget=5_000))
    loose = prepare_training_corpus(docs, CorpusConfig(token_budget=20_000))
    base = prepare_training_corpus(docs)

    n_tight, n_loose, n_base = (
        tight["clean"].count(),
        loose["clean"].count(),
        base["clean"].count(),
    )
    assert 0 < n_tight < n_loose <= n_base
    def total_tokens(frame):
        return frame.select(
            F.sum(F.size(F.split(F.trim("text"), " "))).alias("t")
        ).first()["t"]

    assert total_tokens(tight["clean"]) <= 5_000
    assert total_tokens(loose["clean"]) <= 20_000
    # NOTE: tight ⊆ loose does NOT hold through the FULL pipeline —
    # the near-dup stage keeps min-id survivors, and pruning a
    # cluster's min-id member changes which doc survives downstream.
    # Prefix monotonicity is asserted at the operator level
    # (test_corpus.test_token_budget_prune_partitioning_invariant).


def test_token_budget_stage_releases_caches(spark):
    from jonesy_spark.catalog import Catalog
    from jonesy_spark.pipeline.corpus_job import CorpusConfig, prepare_training_corpus

    docs = Catalog(spark, SF_DIR).documents
    spark.catalog.clearCache()
    out = prepare_training_corpus(docs, CorpusConfig(token_budget=8_000))
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert out["clean"].count() > 0


def test_backfill_overwrites_only_touched_partitions(spark, tmp_path):
    """backfill_partitions replaces exactly the day being re-run; the
    static-overwrite writer would have truncated the other day too.
    The session conf is restored afterwards."""
    from jonesy_spark.pipeline.sinks import backfill_partitions

    path = str(tmp_path / "t")
    full = spark.createDataFrame(
        [("2024-01-01", 1, "old-a"), ("2024-01-02", 2, "old-b")],
        ["day", "id", "v"],
    )
    full.write.partitionBy("day").parquet(path)

    redo = spark.createDataFrame([("2024-01-02", 2, "new-b")], ["day", "id", "v"])
    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key, "STATIC")
    backfill_partitions(redo, path, ["day"])
    assert spark.conf.get(key, "STATIC") == before

    # partition discovery types `day` as DATE; compare as strings
    got = {
        (str(r["day"]), r["v"]) for r in spark.read.parquet(path).collect()
    }
    assert got == {("2024-01-01", "old-a"), ("2024-01-02", "new-b")}


@pytest.mark.slow
def test_maintain_indexes_job_compacts_and_preserves_probes(spark, tmp_path, monkeypatch):
    """VERDICT r6 #7: the maintenance job on the operational rails —
    two-batch digest AND minhash indexes collapse to one ingest_batch
    subtree each, probes are unchanged, absent families are skipped."""
    import glob

    from jonesy_spark.operators import hygiene as H
    from jonesy_spark.pipeline.jobs import JOBS, JobContext, run_job

    out_root = str(tmp_path)
    didx = f"{out_root}/digest_index"
    midx = f"{out_root}/minhash_index"

    def seed(batch_rows, run_id):
        df = spark.createDataFrame(batch_rows, ["doc_id", "text"])
        novel, _ = H.incremental_dedup(df, H.read_digest_index(spark, didx))
        H.write_novel_digests(novel, didx, run_id=run_id)
        # appends the novel docs' signatures to the minhash index itself
        H.incremental_near_dup(df, spark, midx, run_id=run_id)

    seed([(1, "alpha beta gamma"), (2, "delta epsilon")], "b1")
    seed([(3, "zeta eta theta")], "b2")
    assert len(glob.glob(f"{didx}/ingest_batch=*")) == 2
    assert len(glob.glob(f"{midx}/ingest_batch=*")) == 2
    digests_before = sorted(
        r["content_hash"] for r in H.read_digest_index(spark, didx).collect()
    )
    probe = spark.createDataFrame([(9, "alpha beta gamma")], ["doc_id", "text"])
    sigs = __import__(
        "jonesy_spark.operators.dedup", fromlist=["minhash_banded_sigs"]
    ).minhash_banded_sigs(probe)
    matches_before = sorted(
        map(tuple, H.probe_minhash_index(sigs, spark, midx).collect())
    )

    assert "maintain_indexes" in JOBS
    ctx = run_job(
        "maintain_indexes",
        JobContext(spark=spark, sf_dir="unused", out_root=out_root, targets=[]),
    )
    # both families collapsed to ONE consolidated subtree
    assert len(glob.glob(f"{didx}/ingest_batch=*")) == 1
    assert len(glob.glob(f"{midx}/ingest_batch=*")) == 1
    assert any("digest_index" in w for w in ctx.written)
    assert any("minhash_index" in w for w in ctx.written)
    # probes read identically through the compacted layout
    assert sorted(
        r["content_hash"] for r in H.read_digest_index(spark, didx).collect()
    ) == digests_before
    assert sorted(
        map(tuple, H.probe_minhash_index(sigs, spark, midx).collect())
    ) == matches_before
    # absent families (search/classifier/IVF) were skipped, not fatal
    assert not any("search_index" in w for w in ctx.written)


def test_maintain_indexes_flat_family_via_config(spark, tmp_path, monkeypatch):
    """The ':flat' partition-spec parsing end to end (ADVICE r7): a
    classifier count ledger compacts through the job WITHOUT bucket=
    shatter, and train_from_counts folds identically after."""
    import glob

    from pyspark.sql import functions as F

    from jonesy_spark.catalog import Catalog
    from jonesy_spark.operators import classify as C
    from jonesy_spark.pipeline.jobs import JobContext, run_job

    out_root = str(tmp_path)
    path = f"{out_root}/classifier_counts"
    docs = Catalog(spark, "/root/testdata/sf0.001").documents.limit(40)
    C.write_classifier_counts(
        docs, F.col("lang") == "en", path, run_id="e1", n_buckets=64
    )
    C.write_classifier_counts(
        docs, F.col("lang") == "fr", path, run_id="e2", n_buckets=64
    )
    model_before = sorted(
        map(tuple, C.train_from_counts(spark, path)[0].collect())
    )

    monkeypatch.setenv("MAINTAIN_INDEX_PATHS", "classifier_counts:flat")
    ctx = run_job(
        "maintain_indexes",
        JobContext(spark=spark, sf_dir="unused", out_root=out_root, targets=[]),
    )
    trees = glob.glob(f"{path}/ingest_batch=*")
    assert len(trees) == 1
    assert not glob.glob(f"{path}/ingest_batch=*/bucket=*")
    assert any("classifier_counts" in w for w in ctx.written)
    assert (
        sorted(map(tuple, C.train_from_counts(spark, path)[0].collect()))
        == model_before
    )

    # a second pass is a no-op and must not log a false compaction
    ctx2 = run_job(
        "maintain_indexes",
        JobContext(spark=spark, sf_dir="unused", out_root=out_root, targets=[]),
    )
    assert not any("classifier_counts" in w for w in ctx2.written)


def test_maintain_indexes_kmv_ledger_via_config(spark, tmp_path, monkeypatch):
    """Family member #8 rides the same maintenance rails: a KMV
    distinct-sketch ledger configured as a ':flat' family compacts
    through the job and folds identically after — the mergeability
    theorem surviving the cron path, not just the operator test."""
    import glob

    from pyspark.sql import functions as F

    from jonesy_spark.catalog import Catalog
    from jonesy_spark.operators import stats as ST
    from jonesy_spark.pipeline.jobs import JobContext, run_job

    out_root = str(tmp_path)
    path = f"{out_root}/kmv_distinct"
    ev = (
        Catalog(spark, "/root/testdata/sf0.001")
        .events.filter(F.col("user_id").isNotNull())
        .select("event_id", F.col("event_type").alias("key"), "user_id")
    )
    for rid, parity in (("e1", 0), ("e2", 1)):
        ST.write_kmv_index(
            ST.kmv_sketch_batch(
                ev.filter(F.col("event_id") % 2 == parity),
                ["key"],
                "user_id",
                k=16,
            ),
            path,
            run_id=rid,
        )
    fold_before = sorted(
        map(tuple, ST.kmv_fold(spark, path, ["key"], k=16).collect())
    )

    monkeypatch.setenv("MAINTAIN_INDEX_PATHS", "kmv_distinct:flat")
    ctx = run_job(
        "maintain_indexes",
        JobContext(spark=spark, sf_dir="unused", out_root=out_root, targets=[]),
    )
    assert len(glob.glob(f"{path}/ingest_batch=*")) == 1
    assert any("kmv_distinct" in w for w in ctx.written)
    assert (
        sorted(map(tuple, ST.kmv_fold(spark, path, ["key"], k=16).collect()))
        == fold_before
    )


def test_cron_wrapper_set_matches_job_registries():
    """Wrappers and registries can't drift (r9 verdict #6): every name
    in JOBS (∪ SIS_JOBS — the SIS trio is registered in both) has
    exactly one executable cron wrapper dispatching it through
    run-job.sh, and every wrapper dispatches a registered name."""
    import re

    from jonesy_spark.pipeline.jobs import JOBS
    from jonesy_spark.pipeline.sis_jobs import SIS_JOBS

    registered = set(JOBS) | set(SIS_JOBS)
    root = os.path.join(os.path.dirname(__file__), "..", "scripts", "cron")
    dispatched = set()
    for name in sorted(os.listdir(root)):
        if not name.endswith(".sh") or name == "run-job.sh":
            continue
        path = os.path.join(root, name)
        assert os.access(path, os.X_OK), path
        m = re.search(r"run-job\.sh\"?\s+(\S+)", open(path).read())
        assert m, f"{name} does not dispatch through run-job.sh"
        job = m.group(1).strip('"')
        assert job in registered, f"{name} dispatches unregistered {job!r}"
        assert job not in dispatched, f"{job!r} dispatched by two wrappers"
        dispatched.add(job)
    assert dispatched == set(JOBS), (
        f"wrapperless jobs: {sorted(set(JOBS) - dispatched)}; "
        f"extra wrappers: {sorted(dispatched - set(JOBS))}"
    )
    assert set(SIS_JOBS) <= set(JOBS)
