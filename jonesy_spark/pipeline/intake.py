"""The crawl-intake composition — ONE function shared by the nightly
``crawl_intake`` job and the ``run_crawl_intake_stream`` bridge, so the
two front doors run literally the same code, not merely the same
operators: WARC quarantine parse → ``strip_html`` extraction → Gopher
document gate → digest dedup against the persisted index → novel gated
documents, with the full intake accounting returned to the caller (the
stream writes it as a per-epoch report row, the job as the manifest).

Scale shape: extraction and the gate are map-only expressions; dedup
probes the index map-side under ``small_batch=True`` (micro-batches) or
shuffles the index once under ``False`` (nightly, index-comparable
batches); the accounting is one tiny aggregate over the gate frame plus
two metadata-sized counts. The parse output is persisted for the span
of the call — the novel write, the quarantine write, and the
accounting all hang off it, and re-decompressing every archive per
sink would triple the most expensive stage.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..caching import cache_scope, persist
from ..operators.hygiene import GOPHER_GATE_RULES

#: The gate's rule columns, in report order — re-exported from the
#: gate's own module (operators.hygiene) so a rule ADDED to the gate
#: automatically appears in the intake accounting; the report schema
#: tracks the gate definition by construction.
GATE_RULES = GOPHER_GATE_RULES

_PROVENANCE = ("text", "source", "archive_id", "record_url", "record_ts")


def intake_batch(
    spark: SparkSession,
    raw,
    docs_root: str,
    quarantine_root: str,
    index_path: str,
    run_id: str,
    small_batch: bool = False,
) -> dict[str, int]:
    """Run one intake batch (``raw``: ``(archive_id, payload)`` rows)
    end to end and land ``ingest_batch={run_id}`` subtrees under
    ``docs_root`` / ``quarantine_root`` plus the digest-index
    partition. All writes are run-id-overwrite idempotent and the
    ``seen`` read EXCLUDES the running id's own subtree (ADVICE r5
    #1 — a retry must not see its own digests). Returns the intake
    accounting: ``n_quarantined`` (mis-framed ARCHIVES — records
    inside them are unparseable, so there is no record count for
    them), ``n_extracted``, ``n_kept``, ``rej_<rule>`` per gate
    rule, ``n_novel``."""
    from ..functions import text as TX
    from ..operators import hygiene as H
    from . import warc as W

    with cache_scope():
        recs = persist(W.warc_records_quarantined(raw))
        clean, quarantine = W.split_warc_records(recs, normalize=True)
        extracted = clean.select(
            "doc_id",
            TX.strip_html(F.col("text")).alias("text"),
            *_PROVENANCE[1:],
        )
        gated = persist(H.gopher_quality_gate(extracted, passthrough=_PROVENANCE))
        kept = gated.filter(F.col("keep")).select("doc_id", *_PROVENANCE)
        seen = H.read_digest_index(spark, index_path, exclude_run_id=run_id)
        novel, _ = H.incremental_dedup(kept, seen, small_batch=small_batch)
        novel = persist(novel)
        novel.write.mode("overwrite").parquet(f"{docs_root}/ingest_batch={run_id}")
        H.write_novel_digests(novel, index_path, mode="overwrite", run_id=run_id)
        quarantine = persist(quarantine)
        quarantine.write.mode("overwrite").parquet(
            f"{quarantine_root}/ingest_batch={run_id}"
        )
        n_quarantined = quarantine.count()
        stats = gated.agg(
            F.count(F.lit(1)).alias("n_extracted"),
            F.coalesce(F.sum(F.col("keep").cast("long")), F.lit(0)).alias("n_kept"),
            *[
                F.coalesce(F.sum((~F.col(r)).cast("long")), F.lit(0)).alias(f"rej_{r}")
                for r in GATE_RULES
            ],
        ).collect()[0]
        return {
            "n_quarantined": int(n_quarantined),
            "n_extracted": int(stats["n_extracted"]),
            "n_kept": int(stats["n_kept"]),
            **{f"rej_{r}": int(stats[f"rej_{r}"]) for r in GATE_RULES},
            "n_novel": int(novel.count()),
        }
