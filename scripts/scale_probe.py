#!/usr/bin/env python
"""Decade scale probe: time registry queries at an arbitrary SF dir
(default the synthesized /tmp/jonesy_sf1 from gen_sf1.py) with the
bench harness's own row timer and calibration probe (`bench.time_row`,
`bench.calibrate`; min-of-RUNS steady state) and print one JSON line
per query plus a summary — the measured-scaling record SCALE.md
cites (VERDICT r8 #6).

``--suite decade`` (VERDICT r10 #4) puts the accumulated decade set on
rails: it replays EVERY row that holds a measured sf1 decade — both
tiers in the same session so the ratio is machine-consistent — and
emits one machine-readable markdown table (row, sf0.1, sf1, ratio,
round); ``--append-scale-md --round rN`` appends it to SCALE.md, so
refreshing the whole decade record is one command instead of
hand-run sessions that silently stale as plans evolve.

Usage:
    python scripts/gen_sf1.py
    python scripts/scale_probe.py [--sf-dir /tmp/jonesy_sf1]
        [--runs 2] [name ...]
    python scripts/scale_probe.py --suite decade --round r11
        [--append-scale-md]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from bench import calibrate, time_row

#: Default probe set: the most expensive bench rows (the banded
#: self-joins whose candidate sets could grow superlinearly on skew,
#: the PQ tier, the heaviest Arrow codec boundary, the persisted-index
#: probe) plus the corpus-pipeline rows (global budget cut, classifier
#: train+score).
DEFAULT_PROBE = [
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "dedup_minhash_lsh",
    "prefix_jaccard_join",
    "dedup_clusters",
    "ann_pq_topk",
    "multimodal_video_codec",
    "incremental_near_dup",
    "token_budget_prune",
    "quality_classifier",
]

#: The accumulated decade set: every registry row with a measured sf1
#: decade on record (r9's sixteen, r10's additions, r11's skew row).
#: --suite decade replays ALL of them; grow this list when a new row
#: earns its first decade measurement. tokenizer_family_fold is
#: deliberately absent (fixture-bound, sf-independent by contract).
DECADE_SUITE = DEFAULT_PROBE + [
    # sketch-ledger tier (r9): folds must stay metadata-bound at 10x
    "events_rollup",
    "events_sliding_window",
    "kmv_distinct_users",
    "sketch_dashboard",
    "cms_frequencies",
    "mg_heavy_hitters",
    # r10 new rows
    "corpus_card",
    "tokenizer_family_compare",
    # r10 late extension: retrieval/selection/quality/window families
    "bm25_search",
    "hash_embeddings",
    "dsir_select",
    "contamination",
    "hybrid_search",
    "events_sessionization",
    "quality_filter",
    "pii_stats",
    "retention_cohorts",
    "trailing_range_stats",
    # r11: the salted skew join — the directive's sub-linear witness
    "skew_salted_join",
    # r11 (late): SemDeDup-style within-cell semantic pruning
    "semantic_dedup",
    # r11 (late): fixed-iteration PageRank over the events graph — the
    # iterative join/agg loop; node count is capped (499) so the 10x
    # cost is the edge-distinct scan, exactly the 100 TB shape (host
    # graph is metadata-sized next to the corpus)
    "link_authority",
    # r11 (late): the REFERENCE-family batch — the decade suite was
    # LLM-tier-heavy, so the §2 plan families (multi-join decimal agg,
    # window dedup, composite keys, range join, semi/anti, distinct
    # Expand, cumulative windows, as-of, CDC merge, funnels, native
    # sessionization) now hold their own measured sf1 decades too
    "pricing_summary_agg",
    "local_supplier_volume",
    "latest_order_per_customer",
    "composite_key_join",
    "range_join_calendar",
    "semi_anti_joins",
    "distinct_counts",
    "running_total",
    "asof_join_last_click",
    "cdc_upsert",
    "funnel_steps",
    "events_session_native",
    # r11 (late): the crawl front door — map-only regexp extraction,
    # the shape that must scale exactly linearly (no shuffle at all)
    "html_extract",
    # r11 (late): C4 line gate — explode + one keyed shuffle
    "c4_line_filter",
    # r11 (late): CCNet terciles + the Gopher document gate
    "perplexity_buckets",
    "gopher_quality_gate",
    # r12: convergence-mode PageRank (the delta-job loop) and the
    # composed zero-exchange crawl gate
    "link_authority_converged",
    "crawl_gate_composed",
    # r13 (VERDICT r12 #6): five more distinct plan shapes — the
    # bucket-pruned persisted BM25 index probe, the archive-split WARC
    # round trip, span-level exact-substring dedup (gram-df + anti-join
    # rebuild), and the two new r13 rows (corpus-scale gram membership
    # join; totals-agg + broadcast-explode mix design)
    "bm25_index_probe",
    "warc_ingest_roundtrip",
    "repeated_span_removal",
    "ngram_novelty",
    "temperature_mixture",
    # r13 (late): the two newest rows — bucketed margin mining (four
    # ranking windows over one candidate frame) and the two-LM excess
    # selection (both broadcast-table scorers + partial top-k)
    "bitext_mining_margin",
    "excess_loss_select",
    # r14 (VERDICT r13 #4): the heaviest previously-unmeasured distinct
    # plan shapes — the whole vendored-codec mapInPandas family (all
    # overhead-dominated: vectorized decode runs at us/doc, so 10x
    # docs lands flat at these SFs) and the BNLJ-bounded centroid
    # near-dup (3.6x at 10x data while its OUTPUT pair mass grows
    # ~100x — the sf1 replicas keep float values, planting 10-cliques)
    "multimodal_real_codec",
    "multimodal_audio_codec",
    # (multimodal_video_codec is already in DEFAULT_PROBE above)
    "multimodal_features",
    "embedding_near_dup",
    # r14 (late): ten more distinct shapes — the banded media near-dup
    # trio (merge-hint-pinned after the first sf1 run OOMed video's
    # broadcast build; see SCALE.md r14), the phash index probe, the
    # new KLL fold, the salted skew join, df/idf ranking, first-fit
    # packing, positional phrase search, and the exact-dedup hash agg.
    # lsh_recall is deliberately absent: its registry row runs
    # sample_frac=1.0 (exact all-pairs truth, sized for the sf0.01
    # driver tier) and its max_truth_pairs budget refuses at sf0.1 BY
    # CONTRACT — the sampled path is the scale tier, pytest-pinned.
    "image_near_dup",
    "audio_near_dup",
    "video_near_dup",
    "media_index_probe",
    "kll_quantiles",
    "events_key_skew",
    "tfidf_top_terms",
    "pack_sequences",
    "phrase_search",
    "dedup_exact",
    # r14 (second extension): EVERY remaining measurable registry row —
    # the decade record now covers the full registry minus six
    # documented absences: tokenizer_family_fold + ann_int8_rerank +
    # ann_pq_rerank (fixture-bound by contract — their input is the
    # committed store, not a per-SF table, so a "decade" would time
    # the same bytes twice), bpe_token_stats + unigram_token_stats
    # (iterative trainers, pytest-only by design), and lsh_recall
    # (exact all-pairs truth tier sized for sf0.01; its budget refuses
    # past sf0.1 by contract — the sampled path is pytest-pinned).
    "active_day_codes",
    "ann_bucketed_topk",
    "ann_cosine_topk",
    "ann_quantized_topk",
    "anomaly_flags",
    "assemble_sequences",
    "basic_attributes",
    "bigram_logprob",
    "bloom_membership",
    "catalog_number_parsing",
    "classifier_eval",
    "corpus_split",
    "cube_agg",
    "current_terms_topk",
    "dedup_survivors_quality",
    "diversity_sample",
    "doc_chunking",
    "doc_fingerprints",
    "doc_logprob",
    "event_transitions",
    "events_tumbling_window",
    "incremental_classifier",
    "json_props_extract",
    "kmv_overlap_users",
    "lang_id_heuristic",
    "latest_event_version",
    "leakage_safe_split",
    "line_dedup",
    "mixture_sample",
    "mixture_upsample",
    "near_dup_contamination",
    "ngram_containment",
    "omit_drops_withdrawals",
    "pagination_window",
    "pivot_event_counts",
    "priority_ordered_extract",
    "profile_table",
    "quality_psi",
    "quantile_stats",
    "quota_sample",
    "recent_instructor_updates",
    "repetition_stats",
    "resample_gapfill",
    "resample_interpolate",
    "rollup_agg",
    "sampled_quantiles",
    "scalar_functions_suite",
    "scalar_subquery_filter",
    "set_operations",
    "snapshot_cdc",
    "term_courses",
    "term_enrollments",
    "text_quality_score",
    "timestamp_formats",
    "token_counts",
    "top_tokens_per_lang",
    "topk_per_group_price",
    "train_order",
    "unpivot_event_counts",
    "url_dedup",
    "variant_props_extract",
    "watermark_incremental",
    # r14 (late) new row: SCD2 interval history (events-only input, so
    # it also qualifies for the sf10 two-decade tier)
    "scd2_history",
]


def _timed_set(spark, queries, names, sf_dir, runs):
    from jonesy_spark.caching import cache_scope
    from jonesy_spark.operators.dedup import PairBudgetExceeded

    spark.read.parquet(f"{sf_dir}/lineitem.parquet").limit(1).count()
    cal = calibrate(spark, sf_dir)
    results = {}
    for name in names:
        try:
            run_ts = [time_row(spark, queries, name, sf_dir) for _ in range(runs)]
            with cache_scope():
                rows = queries[name](spark, sf_dir).count()
        except PairBudgetExceeded as e:
            # a bounded-tier contract refusing at this SF is a RESULT,
            # not a probe crash (r13: prefix_jaccard_join's
            # pair_density_limit refuses at sf1 by design — the LSH
            # row is the scale path). Only the dedicated refusal type
            # is caught (ADVICE r13): an unrelated ValueError from
            # parameter validation or plan construction FAILS the
            # probe instead of masquerading as a contract refusal.
            results[name] = {"refused": str(e).split(".")[0]}
            print(json.dumps({"query": name, "sf_dir": sf_dir,
                              "refused": results[name]["refused"]}),
                  flush=True)
            continue
        results[name] = {
            "cold": round(run_ts[0], 2),
            "steady": round(min(run_ts), 2),
            "rows": rows,
        }
        print(json.dumps({"query": name, "sf_dir": sf_dir,
                          **results[name]}), flush=True)
    return cal, results


def decade_suite(args) -> None:
    """Both tiers in ONE session, small tier first (machine-consistent
    comparators); emits the SCALE.md decade table."""
    from jonesy_spark.plans import all_queries
    from jonesy_spark.session import get_spark

    spark = get_spark(app_name="scale_probe_decade")
    queries = all_queries()
    names = args.names or DECADE_SUITE

    cal_base, base = _timed_set(
        spark, queries, names, args.baseline_dir, args.runs
    )
    cal_sf1, sf1 = _timed_set(spark, queries, names, args.sf_dir, args.runs)

    # provenance must name the EXACT replaying command: a name-restricted
    # run recorded as the bare suite command would not reproduce
    # (r11 review finding)
    cmd = f"scale_probe.py --suite decade --round {args.round}"
    if args.baseline_dir != "/root/testdata/sf0.1":
        cmd += f" --baseline-dir {args.baseline_dir}"
    if args.sf_dir != "/tmp/jonesy_sf1":
        cmd += f" --sf-dir {args.sf_dir}"
    if args.names:
        cmd += " " + " ".join(args.names)
    base_tag = os.path.basename(args.baseline_dir.rstrip("/")).removeprefix(
        "jonesy_"
    )
    sf_tag = os.path.basename(args.sf_dir.rstrip("/")).removeprefix("jonesy_")
    lines = [
        f"Decade table (generated by `{cmd}`; calibration "
        f"{cal_base}/{cal_sf1}, min-of-{args.runs} steady, both tiers "
        "same session):",
        "",
        f"| row | {base_tag} s | {sf_tag} s (10x data) | ratio | round |",
        "|---|---|---|---|---|",
    ]
    worst = 0.0
    for name in names:
        if "refused" in base[name] or "refused" in sf1[name]:
            b = base[name].get("steady", "refused")
            s = "REFUSED by contract" if "refused" in sf1[name] else sf1[name]["steady"]
            lines.append(f"| {name} | {b} | {s} | — | {args.round} |")
            continue
        b, s = base[name]["steady"], sf1[name]["steady"]
        ratio = round(s / max(b, 1e-9), 1)
        worst = max(worst, ratio)
        lines.append(f"| {name} | {b} | {s} | {ratio}x | {args.round} |")
    lines.append("")
    lines.append(
        f"{len(names)} rows; worst ratio {worst}x at 10x data "
        f"(linear = 10x)."
    )
    table = "\n".join(lines)
    print(table)
    if args.append_scale_md:
        with open(ROOT / "SCALE.md", "a") as f:
            f.write(
                f"\n### Decade-suite replay ({args.round}, generated)\n\n"
                + table
                + "\n"
            )
        print("appended to SCALE.md")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/tmp/jonesy_sf1")
    ap.add_argument("--baseline-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--suite", choices=["decade"], default=None)
    ap.add_argument("--round", default="rX")
    ap.add_argument("--append-scale-md", action="store_true")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    if args.suite == "decade":
        decade_suite(args)
        return

    from jonesy_spark.plans import all_queries
    from jonesy_spark.session import get_spark

    spark = get_spark(app_name="scale_probe")
    queries = all_queries()
    names = args.names or DEFAULT_PROBE

    cal, results = _timed_set(spark, queries, names, args.sf_dir, args.runs)
    print(
        json.dumps(
            {
                "sf_dir": args.sf_dir,
                "calibration": cal,
                "steady_total": round(
                    sum(r["steady"] for r in results.values()), 2
                ),
            }
        )
    )


if __name__ == "__main__":
    main()
