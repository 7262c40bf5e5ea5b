"""Sinks: headerless gzip CSV extracts with the reference's exact
serialization contract, date-hashed prefixes, multi-target fan-out.

Contract being reproduced (reference ``jonesy/jobs.py``):
  * headerless CSV, lowercase column names (``jobs.py:175-179``: header
    row never written; ``column_names = [c[0].lower() ...]`` at ``:177``)
  * timestamps re-rendered as America/Los_Angeles wall time with UTC
    offset (``jobs.py:166-171`` — load-bearing byte-level behavior)
  * gzip compression (``jobs.py:100-102,135-140``) — here the codec is
    a writer option, not a tempfile pipeline
  * output prefix ``daily/{md5(YYYY-MM-DD)}-{YYYY-MM-DD}``
    (``jobs.py:145-148``)
  * one object uploaded to N targets with per-target error isolation
    (``jobs.py:116-132``) — write once, copy driver-side, errors contained

Scale notes: every extract is ONE gzip object, the reference's
one-object-per-extract contract — a deliberate serial tail for
byte-compat extracts. An ordered extract is sorted inside its single
partition (``repartition(1).sortWithinPartitions``), an unordered one
is ``coalesce(1)``; a per-term fan-out is one partitioned pass
(``write_gzip_csv_by``) whose part files become the per-term objects.
Lake-scale outputs go through ``write_partitioned_parquet`` instead.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import tempfile
from collections.abc import Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field
from datetime import date

from pyspark.sql import Column, DataFrame, DataFrameWriter
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import scalars as SC


def coerce_timestamp_pacific(col: Column) -> Column:
    """Render a (mislabeled-)UTC timestamp as America/Los_Angeles wall
    time with its UTC offset — `2024-01-05 05:14:15 -0800`.

    Port of the reference's per-row Python coercion
    (``jonesy/jobs.py:166-171``) as pure built-in expressions: the
    offset is derived from the DST-aware shift `from_utc_timestamp`
    applies, so it flips -0800/-0700 correctly without any Python.

    The epoch-cast subtraction makes the OFFSET session-tz independent,
    but `date_format` renders in the session timezone, so the rendered
    wall time is only correct under a UTC session — asserted by
    serialize_for_csv at the sink boundary.
    """
    pacific = F.from_utc_timestamp(col, "America/Los_Angeles")
    offset_hours = (
        (pacific.cast("long") - col.cast("long")) / 3600
    ).cast("int")
    offset_str = F.concat(
        F.when(offset_hours < 0, "-").otherwise("+"),
        F.lpad(F.abs(offset_hours).cast("string"), 2, "0"),
        F.lit("00"),
    )
    return F.concat(
        F.date_format(pacific, "yyyy-MM-dd HH:mm:ss"), F.lit(" "), offset_str
    )


def serialize_for_csv(df: DataFrame) -> DataFrame:
    """Apply the CSV contract (``jonesy/jobs.py:164-173``): lowercase
    column names; the Pacific wall-time rendering (F19) applies ONLY to
    the column named ``last_updated`` — every other datetime value is
    rendered ``%Y-%m-%d %H:%M:%S UTC`` (F18), TIMESTAMP_NTZ columns
    included (read as UTC wall time). DateType columns render
    as midnight UTC datetimes because Oracle has no DATE-without-time:
    oracledb returns every DATE as a Python datetime, which the
    reference's _coerce then labels UTC.
    """
    tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
    assert tz == "UTC", (
        f"CSV serialization contract requires a UTC session (got {tz!r}): "
        "date_format renders in the session timezone"
    )
    out = df.toDF(*[c.lower() for c in df.columns])
    for f_ in out.schema.fields:
        if isinstance(f_.dataType, (T.TimestampType, T.TimestampNTZType)):
            # NTZ wall time casts exactly to TIMESTAMP under the UTC
            # session asserted above (a no-op cast for TimestampType)
            ts = F.col(f_.name).cast("timestamp")
            render = (
                coerce_timestamp_pacific(ts)
                if f_.name == "last_updated"
                else SC.utc_label(ts)
            )
            out = out.withColumn(f_.name, render)
        elif isinstance(f_.dataType, T.DateType):
            out = out.withColumn(
                f_.name,
                F.concat(
                    F.date_format(F.col(f_.name), "yyyy-MM-dd"),
                    F.lit(" 00:00:00 UTC"),
                ),
            )
    return out


def daily_prefix(day: date) -> str:
    """`daily/{md5(YYYY-MM-DD)}-{YYYY-MM-DD}` (``jonesy/jobs.py:145-148``)."""
    iso = day.strftime("%Y-%m-%d")
    return f"daily/{hashlib.md5(iso.encode()).hexdigest()}-{iso}"


#: the 20-byte empty gzip member Spark's CSV writer lands for an empty
#: extract: Hadoop's header (mtime 0, no flags, OS byte 0), an empty
#: deflate block, a zero CRC and a zero length
_EMPTY_GZIP = bytes.fromhex("1f8b0800000000000000" "0300" "00000000" "00000000")


@contextmanager
def _staging(out_dir: str) -> Iterator[str]:
    """A fresh directory under ``out_dir`` for Spark's write; it is
    removed afterwards with everything the write left in it."""
    os.makedirs(out_dir, exist_ok=True)
    root = tempfile.mkdtemp(prefix="__stage__", dir=out_dir)
    try:
        yield f"{root}/csv"
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _write_csv(writer: DataFrameWriter, staged: str) -> None:
    (
        writer.mode("overwrite")
        .option("header", "false")
        .option("compression", "gzip")
        .option("emptyValue", "")
        .csv(staged)
    )


def _land(part_dir: str, out_dir: str, name: str) -> str:
    """Move the one part file under ``part_dir`` to ``out_dir/name``;
    with no part file (no rows) land an empty gzip object instead."""
    final = os.path.join(out_dir, name)
    os.makedirs(os.path.dirname(final), exist_ok=True)
    parts = glob.glob(f"{part_dir}/part-*.csv.gz")
    if parts:
        shutil.move(parts[0], final)
    else:
        with open(final, "wb") as fh:
            fh.write(_EMPTY_GZIP)
    return final


def write_gzip_csv(
    df: DataFrame,
    out_dir: str,
    name: str,
    order_by: list[Column | str] | None = None,
) -> str:
    """Write a headerless gzip CSV extract as one object, the
    reference's one-object contract (with file-wide ordering, O1/O4
    semantics); returns the object path.

    An ordered extract is sorted inside its single partition
    (``repartition(1).sortWithinPartitions``): a global ``orderBy``
    would pay a range-sampling job and a range exchange only to send
    every row to one task. An unordered one is ``coalesce(1)``.
    """
    to_write = serialize_for_csv(df)
    if order_by is None:
        to_write = to_write.coalesce(1)
    else:
        to_write = to_write.repartition(1).sortWithinPartitions(*order_by)
    with _staging(out_dir) as staged:
        _write_csv(to_write.write, staged)
        return _land(staged, out_dir, name)


def write_gzip_csv_by(
    df: DataFrame,
    out_dir: str,
    by: str,
    names: dict[str, str],
    order_by: list[Column | str],
) -> dict[str, str]:
    """Write one headerless gzip CSV extract per value of column ``by``
    in one partitioned pass (SURVEY.md §1.4's ``partitionBy("term_id")``
    mapping), ``by`` itself left out of the rows; returns value ->
    object path.

    ``names`` maps each wanted value to its object name. Each value's
    rows go to one task (``repartition(by)``), sorted there by
    ``order_by``, so its directory holds one part file, moved to its
    name. A value with no rows (it writes no directory) lands an empty
    gzip object, so every name in ``names`` gets one. Values must be
    strings that Spark writes unescaped into a directory name (such as
    ``2001-06``).
    """
    to_write = (
        serialize_for_csv(df)
        .repartition(by)
        .sortWithinPartitions(by, *order_by)
    )
    with _staging(out_dir) as staged:
        _write_csv(to_write.write.partitionBy(by), staged)
        return {
            value: _land(f"{staged}/{by}={value}", out_dir, name)
            for value, name in names.items()
        }


def write_partitioned_parquet(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    mode: str = "overwrite",
) -> str:
    """Data-lake sink: hive-partitioned parquet (the scale default,
    replacing per-term single objects — SURVEY.md §1.4's
    `partitionBy("term_id")` mapping).

    Partition columns become directory keys, so downstream readers get
    partition pruning for free; at 100 TB choose low-cardinality keys
    (date/term), never high-cardinality ids (small-files explosion).
    """
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)
    return path


@dataclass
class MultiTargetSink:
    """Upload one object to N targets (dirs standing in for buckets),
    isolating failures per target (``jonesy/jobs.py:116-132``).

    In production the targets are `s3a://` buckets (SSE-AES256 +
    assumed-role creds are fs.s3a confs — SURVEY.md §4.3); the fan-out
    loop and its error isolation are identical.
    """

    targets: list[str]
    errors: dict[str, str] = field(default_factory=dict)

    def upload(self, src_path: str, key: str) -> dict[str, bool]:
        results: dict[str, bool] = {}
        for target in self.targets:
            try:
                dest = os.path.join(target, key)
                os.makedirs(os.path.dirname(dest), exist_ok=True)
                shutil.copyfile(src_path, dest)
                results[target] = True
            except OSError as exc:
                self.errors[target] = str(exc)
                results[target] = False
        return results


def backfill_partitions(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
) -> str:
    """Idempotent partition BACKFILL: overwrite only the partitions
    present in ``df`` (``spark.sql.sources.partitionOverwriteMode=
    dynamic``), leaving every other partition untouched — the
    re-run-one-day shape a nightly pipeline needs. The plain
    ``mode="overwrite"`` of :func:`write_partitioned_parquet` is
    STATIC: it truncates the whole table root first, so re-running a
    single day's extract would silently delete the year — exactly the
    class of operational accident a backfill entry point must make
    impossible. The session conf is flipped only for this write and
    restored after (other writers in the same session keep their
    semantics)."""
    spark = df.sparkSession
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key, "STATIC")
    spark.conf.set(key, "dynamic")
    try:
        df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)
    finally:
        spark.conf.set(key, prev)
    return path
