"""WARC ingest: the web-crawl archive format as a first-class source.

Public corpora at the 100 TB scale overwhelmingly arrive as WARC
(ISO 28500 — the Common Crawl interchange format): a stream of
length-prefixed records, each a ``WARC/1.0`` header block (CRLF-framed
name:value fields ending in an empty line) followed by exactly
``Content-Length`` payload bytes, then CRLF CRLF. Archives are usually
per-record-gzipped (concatenated gzip members), which is what keeps
them streamable.

This module vendors a dependency-free reader/writer pair plus the
Spark boundary:

* :func:`encode_warc` / :func:`parse_warc` — exactly-specified bytes
  in, records out; malformed framing raises (the quarantine rule —
  a mis-framed archive silently corrupts every later record, so the
  parse fails the PAYLOAD loudly rather than resynchronizing).
* gzip transparency: a payload whose magic is ``1f 8b`` is
  decompressed as concatenated members via stdlib zlib before the
  record walk — the Common Crawl layout, no library needed.
* :func:`warc_text_records` — the Spark seam: ``mapInPandas`` over
  ``(archive_id, payload)`` rows (e.g. ``spark.read.format
  ("binaryFile")`` over a WARC directory), one Arrow hop per batch,
  exploding each archive into its ``response`` records ``(archive_id,
  record_url, record_ts, text, n_bytes)``.

Scale shape: WARC archives are NOT splittable mid-file (records are
length-prefixed with no sync markers), so the unit of parallelism is
the ARCHIVE — exactly how Common Crawl ships (tens of thousands of
~1 GB files), and exactly what ``binaryFile`` + ``mapInPandas``
parallelize over: one archive per task, no driver involvement, Python
touching only the codec boundary. Downstream of this seam the rows
are ordinary ``documents``-shaped text for the ingest pipeline's
declared-schema/quarantine contract.

Reference note: the reference engine reads only database views
(``jonesy/queries.py:28-264``); this module is part of the
training-data extension surface, like the JSONL front door in
``pipeline/ingest.py``.
"""

from __future__ import annotations

import zlib
from collections.abc import Iterator
from dataclasses import dataclass

CRLF = b"\r\n"


def encode_warc(
    records: list[tuple[str, str, bytes]], gzip_members: bool = False
) -> bytes:
    """Serialize ``(url, iso_ts, body)`` triples as a WARC/1.0 stream
    of ``response`` records; ``gzip_members=True`` compresses each
    record as its own gzip member (the Common Crawl layout)."""
    out = []
    for url, ts, body in records:
        header = (
            b"WARC/1.0" + CRLF
            + b"WARC-Type: response" + CRLF
            + b"WARC-Target-URI: " + url.encode() + CRLF
            + b"WARC-Date: " + ts.encode() + CRLF
            + b"Content-Length: " + str(len(body)).encode() + CRLF
            + CRLF
        )
        rec = header + body + CRLF + CRLF
        if gzip_members:
            co = zlib.compressobj(9, zlib.DEFLATED, 16 + zlib.MAX_WBITS)
            rec = co.compress(rec) + co.flush()
        out.append(rec)
    return b"".join(out)


def _gunzip_members(payload: bytes) -> bytes:
    """Decompress concatenated gzip members (each WARC record its own
    member in the Common Crawl layout) into one plain stream."""
    out = []
    pos = 0
    while pos < len(payload):
        d = zlib.decompressobj(16 + zlib.MAX_WBITS)
        try:
            out.append(d.decompress(payload[pos:]))
            out.append(d.flush())
        except zlib.error as exc:
            raise ValueError(
                f"corrupt gzip member at offset {pos}: {exc}"
            ) from exc
        consumed = len(payload) - pos - len(d.unused_data)
        if consumed <= 0:
            raise ValueError(f"corrupt gzip member at offset {pos}")
        pos += consumed
    return b"".join(out)


def parse_warc(payload: bytes) -> list[dict]:
    """Walk a (possibly per-record-gzipped) WARC stream into records:
    ``{"type", "url", "ts", "body"}`` dicts, in archive order.

    Framing violations raise ``ValueError``: a record without the
    mandatory version line, ``Content-Length``, or its trailing
    CRLF CRLF desynchronizes every subsequent record, so the whole
    payload is quarantined loudly rather than half-read."""
    if payload[:2] == b"\x1f\x8b":
        payload = _gunzip_members(payload)
    records = []
    pos, end = 0, len(payload)
    while pos < end:
        # tolerate stray inter-record CRLFs (some writers pad)
        while payload[pos : pos + 2] == CRLF:
            pos += 2
        if pos >= end:
            break
        head_end = payload.find(CRLF + CRLF, pos)
        if head_end < 0:
            raise ValueError(
                f"record {len(records)}: unterminated header at {pos}"
            )
        head = payload[pos:head_end].decode("utf-8", "replace")
        lines = head.split("\r\n")
        if not lines[0].startswith("WARC/"):
            raise ValueError(
                f"record {len(records)}: bad version line {lines[0]!r}"
            )
        fields = {}
        for line in lines[1:]:
            k, _, v = line.partition(":")
            fields[k.strip().lower()] = v.strip()
        if "content-length" not in fields:
            raise ValueError(f"record {len(records)}: missing Content-Length")
        n = int(fields["content-length"])
        body_start = head_end + 4
        body = payload[body_start : body_start + n]
        if len(body) < n:
            raise ValueError(
                f"record {len(records)}: truncated body ({len(body)} < {n})"
            )
        if payload[body_start + n : body_start + n + 4] != CRLF + CRLF:
            raise ValueError(
                f"record {len(records)}: missing record terminator"
            )
        records.append(
            {
                "type": fields.get("warc-type", ""),
                "url": fields.get("warc-target-uri", ""),
                "ts": fields.get("warc-date", ""),
                "body": body,
            }
        )
        pos = body_start + n + 4
    return records


def warc_text_records(df):
    """The Spark seam: explode ``(archive_id, payload)`` rows into
    their ``response`` records' text — ``(archive_id, record_url,
    record_ts, text, n_bytes)``. One Arrow-batched Python hop per
    batch of archives; parallelism = archive count (the format's
    natural split unit — see the module docstring)."""
    import pandas as pd

    schema = (
        "archive_id string, record_url string, record_ts string, "
        "text string, n_bytes long"
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            aids, urls, tss, texts, sizes = [], [], [], [], []
            for aid, p in zip(pdf["archive_id"], pdf["payload"]):
                for rec in parse_warc(bytes(p)):
                    if rec["type"] != "response":
                        continue
                    aids.append(aid)
                    urls.append(rec["url"])
                    tss.append(rec["ts"])
                    texts.append(rec["body"].decode("utf-8", "replace"))
                    sizes.append(len(rec["body"]))
            yield pd.DataFrame(
                {
                    "archive_id": aids,
                    "record_url": urls,
                    "record_ts": tss,
                    "text": texts,
                    "n_bytes": sizes,
                }
            )

    return df.mapInPandas(run, schema=schema)


def warc_records_quarantined(df):
    """:func:`warc_text_records` with PER-ARCHIVE error isolation —
    the job-grade walker. A mis-framed archive yields ONE row with
    ``error`` set (and null record fields) instead of failing the
    whole stage: at 100 TB one corrupt shard among tens of thousands
    must quarantine, not kill the nightly run (the D7 per-sink
    isolation rule applied to the source side). Clean archives
    explode exactly as :func:`warc_text_records` does; rows with
    ``error IS NULL`` are records, rows with it set are archive-level
    parse failures carrying the framing diagnosis."""
    import pandas as pd

    schema = (
        "archive_id string, record_url string, record_ts string, "
        "text string, n_bytes long, error string"
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for aid, p in zip(pdf["archive_id"], pdf["payload"]):
                try:
                    recs = parse_warc(bytes(p))
                except ValueError as exc:
                    rows.append((aid, None, None, None, None, str(exc)))
                    continue
                for rec in recs:
                    if rec["type"] != "response":
                        continue
                    rows.append(
                        (
                            aid,
                            rec["url"],
                            rec["ts"],
                            rec["body"].decode("utf-8", "replace"),
                            len(rec["body"]),
                            None,
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "archive_id",
                    "record_url",
                    "record_ts",
                    "text",
                    "n_bytes",
                    "error",
                ],
            )

    return df.mapInPandas(run, schema=schema)


def write_fixture_archives(
    docs, dest_dir: str, n_archives: int = 8
) -> list[str]:
    """Seed a directory of REAL ``.warc.gz`` files from the documents
    fixture — the no-external-input path of the ``ingest_warc`` job
    (the ``_ingest_corpus`` pattern: same e2e pipeline, runnable from
    cron and tests without a crawl feed).

    Archives are packed DISTRIBUTED (one applyInPandas group per
    archive, exactly the round-trip query's layout); only the finished
    payloads come back to the driver — ``n_archives`` rows, bounded at
    16 by contract — and land as files through the Hadoop FileSystem
    API so the destination scheme (local/hdfs/s3a) resolves the same
    way as every other artifact. Real deployments set ``WARC_SRC`` to
    an existing archive tree and never run this."""
    import pandas as pd
    from pyspark.sql import functions as F

    if n_archives > 16:
        raise ValueError(
            f"n_archives={n_archives} exceeds the fixture writer's "
            "16-archive driver-collect bound; point WARC_SRC at a real "
            "archive tree instead of scaling the seed path"
        )

    def pack(key, pdf: pd.DataFrame) -> pd.DataFrame:
        recs = [
            (
                f"https://fixture.invalid/doc/{int(d)}",
                "2024-01-01T00:00:00Z",
                t.encode("utf-8"),
            )
            for d, t in sorted(zip(pdf["doc_id"], pdf["text"]))
        ]
        return pd.DataFrame(
            {
                "archive_nbr": [int(key[0])],
                "payload": [encode_warc(recs, gzip_members=True)],
            }
        )

    packed = (
        docs.select(
            (F.col("doc_id") % n_archives).alias("archive_nbr"),
            "doc_id",
            "text",
        )
        .groupBy("archive_nbr")
        .applyInPandas(pack, schema="archive_nbr long, payload binary")
        .collect()  # bounded: exactly n_archives rows (<= 16)
    )

    sc = docs.sparkSession.sparkContext
    Path = sc._jvm.org.apache.hadoop.fs.Path
    written = []
    for row in packed:
        path = Path(f"{dest_dir}/fixture-{row['archive_nbr']:05d}.warc.gz")
        fs = path.getFileSystem(sc._jsc.hadoopConfiguration())
        stream = fs.create(path, True)
        try:
            stream.write(bytes(row["payload"]))
        finally:
            stream.close()
        written.append(str(path))
    return written


def split_warc_records(recs, normalize: bool = True):
    """Split :func:`warc_records_quarantined` output into the
    ``(clean, quarantine)`` pair under the documents contract — the
    shared projection of the batch job and the streaming bridge so
    the two front doors can never drift. ``clean``: content-hash
    ``doc_id`` (deterministic across reruns; byte-identical crawl
    duplicates collapse, which exact-dedup would do anyway),
    control-stripped NFC text when ``normalize``, archive-name
    ``source``, provenance columns. ``quarantine``: one diagnosed row
    per mis-framed archive."""
    from pyspark.sql import functions as F

    text = F.col("text")
    if normalize:
        from ..functions.text import nfc_normalize, strip_control_chars

        text = nfc_normalize(strip_control_chars(text))
    clean = recs.filter(F.col("error").isNull()).select(
        # hash the NORMALIZED text expression, not the raw column:
        # doc_id is a content hash of the STORED document, so records
        # differing only in Unicode form collapse to one id and
        # toggling ``normalize`` cannot silently change content under
        # an unchanged id
        F.xxhash64("archive_id", "record_url", "record_ts", text).alias(
            "doc_id"
        ),
        text.alias("text"),
        F.lit(None).cast("string").alias("lang"),
        F.element_at(F.split(F.col("archive_id"), "/"), -1).alias("source"),
        F.length(text).cast("long").alias("n_chars"),
        "archive_id",
        "record_url",
        "record_ts",
    )
    quarantine = recs.filter(F.col("error").isNotNull()).select(
        "archive_id",
        "error",
        F.lit("archive_parse_error").alias("reason"),
    )
    return clean, quarantine


@dataclass(frozen=True)
class WarcIngestReport:
    """Row accounting for one WARC ingest run — the source-side twin
    of ``ingest.IngestReport``: a step change in ``archives_failed``
    means the upstream crawler changed its framing, not that the web
    shrank."""

    rows_clean: int
    archives_failed: int
    clean_path: str
    quarantine_path: str


def ingest_warc_corpus(
    spark,
    src_path: str,
    dest_path: str,
    pattern: str = "*.warc.gz",
    normalize: bool = True,
    max_records_per_file: int = 1_000_000,
) -> WarcIngestReport:
    """WARC archive tree -> validated ``documents`` parquet, under the
    same quarantine/NFC contract as the JSONL front door
    (``ingest.ingest_jsonl_corpus``):

    * ``binaryFile`` scan over ``src_path`` — one task per archive
      (the format's split unit; Common Crawl ships tens of thousands
      of ~1 GB files, so parallelism is the archive count).
    * per-archive error isolation: mis-framed archives land in
      ``dest_path/_quarantine`` with the framing diagnosis; clean
      archives explode into response records.
    * the documents contract: ``doc_id`` is the 64-bit content hash of
      (archive, url, ts, text) — deterministic across reruns, and
      byte-identical crawl duplicates collapse to one id, which is
      exactly what exact-dedup downstream would do anyway; ``source``
      is the archive file name; provenance columns (``archive_id``,
      ``record_url``, ``record_ts``) ride along for lineage.
    * ``normalize=True`` applies the same control-strip + Unicode NFC
      as the JSONL door — composed/decomposed forms digest identically
      downstream; quarantined payloads stay raw as evidence.

    Counters ride the writes as observed metrics — no extra pass."""
    import os

    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from ..caching import cache_scope, persist

    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", pattern)
        .load(src_path)
        .select(
            F.col("path").alias("archive_id"),
            F.col("content").alias("payload"),
        )
    )
    with cache_scope():
        recs = persist(warc_records_quarantined(raw))
        quarantine_path = os.path.join(dest_path, "_quarantine")
        clean, quarantine = split_warc_records(recs, normalize=normalize)

        clean_obs = Observation("warc_clean")
        bad_obs = Observation("warc_quarantine")
        (
            clean.observe(clean_obs, F.count(F.lit(1)).alias("rows"))
            .write.mode("overwrite")
            .option("maxRecordsPerFile", max_records_per_file)
            .parquet(dest_path)
        )
        (
            quarantine.observe(
                bad_obs, F.count(F.lit(1)).alias("archives")
            )
            .write.mode("overwrite")
            .parquet(quarantine_path)
        )
        return WarcIngestReport(
            rows_clean=clean_obs.get["rows"],
            archives_failed=bad_obs.get["archives"],
            clean_path=dest_path,
            quarantine_path=quarantine_path,
        )
