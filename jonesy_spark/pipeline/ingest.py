"""Raw-corpus ingest: JSONL -> validated parquet with corrupt-record
quarantine.

The reference engine only ever reads database tables (reference
``jonesy/queries.py:28-264`` — every source is an Oracle view); this
module is part of the training-data extension surface: the front door
that turns crawl-shaped JSONL (the de-facto interchange format of
public text corpora — one JSON object per line) into the ``documents``
parquet contract every downstream operator here consumes.

Design rules, all scale-driven:

* **Schema is DECLARED, never inferred.** Inference is a full extra
  pass over the raw bytes (100 TB read twice) and yields unstable
  types across batches (a day where every ``doc_id`` happens to be
  numeric infers LONG, the next day STRING — breaking the downstream
  contract). The caller states the contract; rows that don't meet it
  are data, not schema.
* **Malformed lines are quarantined, never fatal and never silent.**
  A 1000-executor ingest must not die on one broken line (FAILFAST)
  nor silently drop evidence (DROPMALFORMED). Spark's PERMISSIVE parse
  keeps bad lines as rows with the corrupt-record column set; we split
  the stream into (clean, quarantine) under ONE persisted parse so
  both sinks are written from the same scan of the raw bytes.
* **Semantic validation rides the same split.** A line can be valid
  JSON and still violate the contract (missing ``doc_id``/``text``).
  Those rows quarantine with ``reason='missing_required'`` next to the
  parse failures (``reason='malformed'``), so the quarantine directory
  is the complete account of everything the clean table excludes.
* **Output files are sized, not counted.** ``maxRecordsPerFile``
  bounds file size at any input scale; partition layout is the
  caller's choice (``partition_by=('source',)`` gives downstream
  source-pruned scans).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..caching import cache_scope, persist

#: Name of the PERMISSIVE-mode corrupt-record column. Leading underscore
#: keeps it out of anyone's business schema.
CORRUPT_COL = "_corrupt_record"

#: The canonical documents contract (TESTDATA.md): what every dedup /
#: hygiene / corpus operator in this engine consumes.
DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def _read_schema(schema: T.StructType) -> T.StructType:
    """The declared schema plus the corrupt-record column (Spark
    requires it present in the read schema for PERMISSIVE capture)."""
    if CORRUPT_COL in schema.fieldNames():
        raise ValueError(f"declared schema must not contain {CORRUPT_COL!r}")
    return T.StructType(list(schema.fields) + [T.StructField(CORRUPT_COL, T.StringType())])


def read_jsonl_corpus(
    spark: SparkSession,
    path: str,
    schema: T.StructType = DOCUMENTS_SCHEMA,
) -> DataFrame:
    """Parse JSONL under a declared schema, PERMISSIVE mode.

    Returns the raw parsed frame: declared columns plus ``CORRUPT_COL``
    (null for rows that parsed cleanly, the verbatim line otherwise —
    including lines that parsed as JSON but failed a type conversion,
    which PERMISSIVE records the same way with the offending field
    nulled). ``split_quarantine`` turns this into the (clean, bad)
    pair; use this directly only when you want the undivided stream.

    ``multiLine`` stays False: line-delimited JSON is splittable (each
    executor seeks to a newline boundary), multiLine JSON is one
    unsplittable blob per file — the difference between 1000-way and
    1-way parallelism on a big file.
    """
    return (
        spark.read.schema(_read_schema(schema))
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .option("multiLine", "false")
        .json(path)
    )


def split_quarantine(
    parsed: DataFrame,
    required: tuple[str, ...] = ("doc_id", "text"),
) -> tuple[DataFrame, DataFrame]:
    """Split a ``read_jsonl_corpus`` frame into (clean, quarantine).

    clean: rows that parsed AND carry every ``required`` column
    non-null, corrupt column dropped. quarantine: everything else, all
    parsed columns kept (whatever PERMISSIVE salvaged), plus
    ``reason`` ('malformed' for parse/type failures, 'missing_required'
    for contract violations) and ``src_file`` (lineage back to the
    input object — at 100 TB "which crawl shard produced this" is the
    first triage question).

    Both sides are narrow selections of the same parent — callers that
    consume both should persist the parent once (``ingest_jsonl_corpus``
    does).
    """
    missing = F.lit(False)
    for c in required:
        missing = missing | F.col(c).isNull()
    is_bad = F.col(CORRUPT_COL).isNotNull() | missing
    clean = parsed.filter(~is_bad).drop(CORRUPT_COL)
    quarantine = parsed.filter(is_bad).select(
        "*",
        F.when(F.col(CORRUPT_COL).isNotNull(), F.lit("malformed"))
        .otherwise(F.lit("missing_required"))
        .alias("reason"),
        F.input_file_name().alias("src_file"),
    )
    return clean, quarantine


@dataclass(frozen=True)
class IngestReport:
    """Row accounting for one ingest run — the numbers a nightly job
    alerts on (a malformed-rate step change means the upstream crawler
    changed its serialization, not that the data shrank)."""

    rows_clean: int
    rows_malformed: int
    rows_missing_required: int
    clean_path: str
    quarantine_path: str

    @property
    def rows_total(self) -> int:
        return self.rows_clean + self.rows_malformed + self.rows_missing_required


def ingest_jsonl_corpus(
    spark: SparkSession,
    src_path: str,
    dest_path: str,
    schema: T.StructType = DOCUMENTS_SCHEMA,
    required: tuple[str, ...] = ("doc_id", "text"),
    partition_by: tuple[str, ...] = (),
    max_records_per_file: int = 1_000_000,
    mode: str = "overwrite",
    normalize: bool = False,
) -> IngestReport:
    """JSONL -> parquet ingest job: parse, validate, quarantine, write.

    Writes the clean table to ``dest_path`` (parquet, optionally
    hive-partitioned by ``partition_by``, files capped at
    ``max_records_per_file`` rows) and the full account of excluded
    rows to ``dest_path/_quarantine`` (parquet: salvaged columns +
    reason + source file). Counters ride the writes as observed
    metrics (``CollectMetrics``) — no extra counting jobs over the
    data.

    The parsed frame is persisted for the two writes (quarantine is
    normally a sliver, but the persist guarantees one scan of the raw
    bytes either way), then released.

    ``normalize=True`` canonicalizes the text column on the way in —
    control-char strip (map-only regexp) + Unicode NFC
    (``functions.text.nfc_normalize``): composed and decomposed forms
    of the same text digest identically downstream, so exact dedup
    actually catches them. Normalize at the front door, once; the
    quarantine keeps the raw bytes untouched as evidence.
    """
    with cache_scope():
        parsed = persist(read_jsonl_corpus(spark, src_path, schema))
        clean, quarantine = split_quarantine(parsed, required)
        if normalize:
            from ..functions.text import nfc_normalize, strip_control_chars

            clean = clean.withColumn(
                "text", nfc_normalize(strip_control_chars(F.col("text")))
            )
        clean_obs = Observation("ingest_clean")
        bad_obs = Observation("ingest_quarantine")
        quarantine_path = os.path.join(dest_path, "_quarantine")

        writer = (
            clean.observe(clean_obs, F.count(F.lit(1)).alias("rows"))
            .write.mode(mode)
            .option("maxRecordsPerFile", max_records_per_file)
        )
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(dest_path)

        quarantine.observe(
            bad_obs,
            F.count(F.when(F.col("reason") == "malformed", 1)).alias("malformed"),
            F.count(F.when(F.col("reason") == "missing_required", 1)).alias(
                "missing_required"
            ),
        ).write.mode(mode).parquet(quarantine_path)

        return IngestReport(
            rows_clean=clean_obs.get["rows"],
            rows_malformed=bad_obs.get["malformed"],
            rows_missing_required=bad_obs.get["missing_required"],
            clean_path=dest_path,
            quarantine_path=quarantine_path,
        )
