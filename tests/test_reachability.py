"""Every top-level def under jonesy_spark/ is reached from a system entry
point, or UNREACHED below says why it stays.

Pure AST, no Spark. Roots: the registry builders (defs decorated with
``@query``), every module-level statement of the package (it runs at
import: the ``JOBS`` table, the ``QUERIES`` registries, ``__main__``),
and every name that ``bench.py``, ``__spark_entry__.py``,
``scripts/*.py`` and the non-test ``perfbench/*.py`` reference. Edges:
the ``Name`` and ``Attribute`` references, and the ``from ... import``
names, inside a reached top-level def. Matching is by bare name, so two
same-named defs share their reach.
"""

from __future__ import annotations

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PENDING = "decision pending (ROADMAP item 8)"
SEAM = "reference production seam; no fixture-backed job exercises it"
SURVEY = "cited by the generated survey map in PARITY.md; " + PENDING
TOKENIZER_STORE = "reader of the store JOB=train_tokenizer publishes"
TEST_REFERENCE = "tests use it as the reference for a live path"

#: name -> why the def stays although no entry point reaches it. This
#: list is the standing record of the package's test-only surface.
UNREACHED: dict[str, str] = {
    # reference seams (catalog, credentials)
    "jdbc_source": SEAM,
    "jdbc_read_options": SEAM,
    "read_csv_extract": SEAM,
    "read_format": SEAM,
    "write_format": SEAM,
    "s3a_credentials_conf": SEAM,
    "apply_s3a_conf": SEAM,
    # the literal SIS replica (ROADMAP "Not now": merging the trios)
    "term_courses_normalized": "literal replica of the reference's deprecated term-courses extract",
    "run_sis_job": "entry of the literal SIS trio; JOB= runs the proxy trio",
    # kept by decision
    "validate_schema": "kept by ROADMAP decision: the ingestion-edge schema check",
    "backfill_partitions": "kept by ROADMAP decision: the conf-restore pattern item 3 cites",
    "write_partitioned_parquet": SURVEY,
    "read_stats_index": "corpus_stats_report reads through it (kept with it)",
    "corpus_stats_report": "kept: the survey map cites it",
    # references the tests check live paths against
    "bpe_encode": TEST_REFERENCE + " (bpe_encode_ids, bpe_token_stats)",
    "unigram_encode": TEST_REFERENCE + " (unigram_token_stats)",
    "ann_recall": TEST_REFERENCE + " (quantized_topk's recall)",
    "survey_refs_from_tables": "the survey-map drift test recomputes the registry refs with it",
    # the train_tokenizer store's consumers
    "read_bpe_tokenizer": TOKENIZER_STORE,
    "read_unigram_tokenizer": TOKENIZER_STORE,
    "unigram_vocab": "id table for the unigram store; " + PENDING,
    "unigram_encode_ids": "encoder under the unigram store; " + PENDING,
    # streaming twins
    "events_stream": PENDING,
    "windowed_counts": SURVEY,
    "latest_state_dedup": SURVEY,
    "purchases_with_recent_clicks": SURVEY,
    "session_aggregates": SURVEY,
    "content_dedup_stream": SURVEY,
    "run_to_memory": PENDING,
    "run_file_sink": SURVEY,
    "run_foreach_batch_fanout": SURVEY,
    "run_jsonl_ingest_stream": SURVEY,
    "run_incremental_near_dup_stream": SURVEY,
    "run_crawl_intake_stream": PENDING,
    # multimodal stubs and codecs
    "attach_binary_payload": PENDING,
    "decode_stub": SURVEY,
    "resize_stub": SURVEY,
    "incremental_media_dedup": PENDING,
    "encode_ppm": PENDING,
    "decode_ppm_stream": PENDING,
    "nearest_resize": PENDING,
    # operator and function helpers
    "kmeans_centroids": SURVEY,
    "embedding_health": SURVEY,
    "merge_profiles": SURVEY,
    "profile_report": PENDING,
    "stats_drift": SURVEY,
    "mixture_rates_from_targets": SURVEY,
    "sequence_fill_stats": SURVEY,
    "cosine": SURVEY,
    "jaccard": SURVEY,
    "pretoken_count": SURVEY,
    "script_counts": SURVEY,
    "dominant_script": SURVEY,
    "registered_domain": SURVEY,
    "strip_newlines": SURVEY,
}


def _refs(node: ast.AST) -> set[str]:
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.ImportFrom):
            out.update(a.name for a in n.names)
    return out


def _is_registry_builder(node: ast.AST) -> bool:
    return any(
        isinstance(d, ast.Call) and isinstance(d.func, ast.Name) and d.func.id == "query"
        for d in node.decorator_list
    )


def _entry_files(repo: str) -> list[str]:
    files = [os.path.join(repo, "bench.py"), os.path.join(repo, "__spark_entry__.py")]
    for sub in ("scripts", "perfbench"):
        for f in sorted(os.listdir(os.path.join(repo, sub))):
            if f.endswith(".py") and not f.startswith("test_"):
                files.append(os.path.join(repo, sub, f))
    return files


def unreached_defs(repo: str = REPO) -> dict[str, str]:
    """name -> ``path:line`` of every top-level def under jonesy_spark/
    that no entry point reaches."""
    defs: dict[str, list[tuple[str, set[str]]]] = {}
    roots: set[str] = set()
    for d, dirs, files in os.walk(os.path.join(repo, "jonesy_spark")):
        dirs[:] = [x for x in dirs if x != "__pycache__"]
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(d, f)
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read())
            where = os.path.relpath(path, repo)
            for node in tree.body:
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                    defs.setdefault(node.name, []).append(
                        (f"{where}:{node.lineno}", _refs(node))
                    )
                    if _is_registry_builder(node):
                        roots.add(node.name)
                else:
                    roots |= _refs(node)
    for path in _entry_files(repo):
        with open(path, encoding="utf-8") as fh:
            roots |= _refs(ast.parse(fh.read()))
    reached: set[str] = set()
    todo = [n for n in roots if n in defs]
    while todo:
        name = todo.pop()
        if name in reached:
            continue
        reached.add(name)
        for _, refs in defs[name]:
            todo.extend(r for r in refs if r in defs and r not in reached)
    return {
        name: ", ".join(loc for loc, _ in sites)
        for name, sites in sorted(defs.items())
        if name not in reached
    }


def test_every_package_def_is_reached_or_listed():
    unreached = unreached_defs()
    unlisted = {n: loc for n, loc in unreached.items() if n not in UNREACHED}
    assert not unlisted, (
        "top-level defs no entry point reaches: wire them to a registry "
        f"row, job or script, delete them, or list them with a reason: {unlisted}"
    )
    stale = sorted(n for n in UNREACHED if n not in unreached)
    assert not stale, (
        f"UNREACHED lists names that are now reached or gone: {stale}"
    )
