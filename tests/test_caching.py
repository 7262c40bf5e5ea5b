"""The one cache lifetime (jonesy_spark.caching): scopes release what
was registered inside them, checkpoints are freed at the RDD level, the
session-lifetime pair-graph memo outlives row scopes, and no package
code caches around the helpers."""

from __future__ import annotations

import ast
import io
import os
import re
import tokenize

from pyspark import StorageLevel

from conftest import SF_DIR
from jonesy_spark.caching import (
    cache_scope,
    checkpoint,
    persist,
    release,
    release_caches,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(REPO, "jonesy_spark")


def _persistent_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def _stored_ids(spark) -> set[int]:
    return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def _cached(df) -> bool:
    return df.storageLevel != StorageLevel.NONE


def test_nested_scopes_release_only_their_own(spark):
    base = spark.range(200)
    with cache_scope():
        outer = persist(base.selectExpr("id * 2 AS x"))
        assert outer.count() == 200
        with cache_scope():
            inner = persist(base.selectExpr("id * 3 AS y"))
            assert inner.count() == 200
        assert not _cached(inner)
        assert _cached(outer)
    assert not _cached(outer)


def test_checkpoint_blocks_are_gone_after_the_scope(spark):
    before = _persistent_ids(spark)
    with cache_scope():
        cp = checkpoint(spark.range(500).selectExpr("id % 7 AS k"))
        ids = _persistent_ids(spark) - before
        assert ids and ids <= _stored_ids(spark)  # the blocks exist
        assert cp.count() == 500
    assert not ids & _persistent_ids(spark)
    assert not ids & _stored_ids(spark)


def test_release_is_idempotent(spark):
    with cache_scope():
        df = persist(spark.range(50).selectExpr("id + 1 AS v"))
        df.count()
        release(df)
        assert not _cached(df)
        release(df)  # already released: a no-op
        before = _persistent_ids(spark)
        cp = checkpoint(spark.range(50))
        ids = _persistent_ids(spark) - before
        release(cp)
        release(cp)
        assert ids and not ids & _persistent_ids(spark)


def test_keep_checkpoints_hands_checkpoints_to_the_enclosing_scope(spark):
    with cache_scope():
        before = _persistent_ids(spark)
        with cache_scope(keep_checkpoints=True):
            shared = persist(spark.range(100).selectExpr("id * 2 AS x"))
            cp = checkpoint(shared.filter("x % 4 = 0"))
        assert not _cached(shared)
        assert cp.count() == 50  # still readable: the enclosing scope owns it
        ids = _persistent_ids(spark) - before
        assert ids
    assert not ids & _persistent_ids(spark)


def test_release_caches_empties_the_innermost_scope(spark):
    """The harness-level release: outside any scope it empties the
    process-wide root scope (what the benchmark calls after each
    collect); inside one it empties that scope only."""
    root_df = persist(spark.range(30).selectExpr("id * 5 AS r"))
    root_df.count()
    with cache_scope():
        inner = persist(spark.range(30).selectExpr("id * 7 AS i"))
        inner.count()
        assert release_caches(inner) == 1
        assert not _cached(inner)
        assert _cached(root_df)
    assert release_caches(root_df) >= 1  # earlier unscoped callers' too
    assert not _cached(root_df)


def test_pair_graph_memo_survives_a_row_scope(spark):
    """The minhash pair-graph memo is session state: a row scope that
    built it must not release its checkpoint, or the next consumer row
    fails with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND."""
    from jonesy_spark.plans import all_queries
    from jonesy_spark.plans import llm_queries as LQ

    q = all_queries()
    with cache_scope():
        first = sorted(map(tuple, q["dedup_clusters"](spark, SF_DIR).collect()))
    memo = LQ._PAIR_GRAPH_MEMO[(spark.sparkContext.applicationId, SF_DIR)]
    assert memo.count() > 0
    with cache_scope():
        again = sorted(map(tuple, q["leakage_safe_split"](spark, SF_DIR).collect()))
        clusters = sorted(map(tuple, q["dedup_clusters"](spark, SF_DIR).collect()))
    assert again and clusters == first


def test_seeded_dir_seeds_once_and_is_removed_at_exit(tmp_path):
    """The index round-trip rows' seeded directories: one seed per
    (application, fixture, prefix), and each directory is gone once the
    interpreter that made it exits, so test, driver and bench runs leave
    no ledger behind in the temp directory."""
    import subprocess
    import sys

    child = """
import types
from jonesy_spark.plans.seeded import seeded_dir

spark = types.SimpleNamespace(
    sparkContext=types.SimpleNamespace(applicationId="app-1")
)
calls = []

def seed(d):
    calls.append(d)
    with open(d + "/part", "w") as f:
        f.write("x")

a = seeded_dir(spark, "sf", "jonesy_probe_", seed)
b = seeded_dir(spark, "sf", "jonesy_probe_", seed)
c = seeded_dir(spark, "sf", "jonesy_other_", seed)
assert a == b != c and calls == [a, c], calls
print(a)
print(c)
"""
    out = subprocess.run(
        [sys.executable, "-c", child],
        cwd=REPO,
        env={**os.environ, "TMPDIR": str(tmp_path)},
        capture_output=True,
        text=True,
    )
    assert out.returncode == 0, out.stderr
    made = out.stdout.split()
    assert len(made) == 2
    assert all(p.startswith(str(tmp_path)) for p in made)
    assert not any(os.path.exists(p) for p in made)


def _calls(path: str) -> list[tuple[int, str]]:
    """(line, attribute) for every ``.<attr>(`` call in a file's code
    (comments and strings excluded)."""
    with open(path, encoding="utf-8") as f:
        toks = [
            t
            for t in tokenize.generate_tokens(io.StringIO(f.read()).readline)
            if t.type not in (tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE)
        ]
    return [
        (b.start[0], b.string)
        for a, b, c in zip(toks, toks[1:], toks[2:])
        if a.string == "." and b.type == tokenize.NAME and c.string == "("
    ]


def _py_files(root: str):
    skip = {".git", "__pycache__", "spark-warehouse", "metastore_db", ".perfbench_cache"}
    for d, dirs, files in os.walk(root):
        dirs[:] = [x for x in dirs if x not in skip]
        for f in files:
            if f.endswith(".py"):
                yield os.path.join(d, f)


def test_package_caches_only_through_the_helpers():
    """Every persist/checkpoint in the package goes through caching.py;
    the one allowed raw ``localCheckpoint()`` is the session-lifetime
    pair-graph memo. No operator calls the harness-level
    ``release_caches``."""
    raw = []
    for path in _py_files(PACKAGE):
        if path.endswith(os.path.join("jonesy_spark", "caching.py")):
            continue
        for line, attr in _calls(path):
            if attr in ("persist", "cache", "localCheckpoint"):
                raw.append((os.path.relpath(path, REPO), line, attr))
    memo_file = os.path.join("jonesy_spark", "plans", "llm_queries.py")
    assert [(p, a) for p, _, a in raw] == [(memo_file, "localCheckpoint")], raw
    with open(os.path.join(REPO, memo_file), encoding="utf-8") as f:
        assert "_PAIR_GRAPH_MEMO[key] = " in f.read().splitlines()[raw[0][1] - 1]

    callers = []
    for path in _py_files(PACKAGE):
        with open(path, encoding="utf-8") as f:
            code = io.StringIO(f.read())
        toks = list(tokenize.generate_tokens(code.readline))
        for a, b, c in zip(toks, toks[1:], toks[2:]):
            if b.string == "release_caches" and c.string == "(" and a.string != "def":
                callers.append((os.path.relpath(path, REPO), b.start[0]))
    assert callers == []


def test_no_source_names_the_removed_cache_machinery():
    """No ``.py`` names the removed cache machinery, the removed bench
    bookkeeping or the deleted one-off probes, and none outside
    tests hardcodes a checkout path: a script run from another checkout
    (a parent/change A/B) must import that checkout's package."""
    removed = [
        "_jonesy_cached_deps",
        "_track_caches",
        "carry_caches",
        "_cache_strategy",
        "VERIFY_ONCE",
        "_tracked_checkpoint",
        "_release_rdds",
        "spiky_stretches",
        "R5_COMPARABLE",
        "subtotal_r5",
        "pq_phase_probe",
        "reattach_repart_probe",
        "intake_probe",
    ]
    me = os.path.abspath(__file__)
    hits = []
    for path in _py_files(REPO):
        if os.path.abspath(path) == me:
            continue
        with open(path, encoding="utf-8") as f:
            text = f.read()
        hits += [(os.path.relpath(path, REPO), n) for n in removed if n in text]
        if os.path.relpath(path, REPO).split(os.sep)[0] != "tests" and (
            os.path.abspath(REPO) in text
            or re.search(r"sys\.path\.insert\(\s*0\s*,\s*[\"']/", text)
        ):
            hits.append((os.path.relpath(path, REPO), "hardcoded checkout path"))
    assert hits == []


def test_no_operator_partition_count_is_a_literal():
    """No operator repartitions or coalesces to an integer literal, and
    no ``*partitions`` parameter defaults to one: a partition count
    tuned to one machine's cores (the old ``_prepared`` 64) must come
    from ``dedup.CPU_PARTITIONS`` or the caller. ``coalesce(1)``, the
    single-file write funnel, is a layout choice and is allowed."""
    hits = []
    for path in _py_files(os.path.join(PACKAGE, "operators")):
        with open(path, encoding="utf-8") as f:
            tree = ast.parse(f.read())
        where = os.path.relpath(path, REPO)
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("repartition", "coalesce")
            ):
                args = node.args + [k.value for k in node.keywords]
                hits += [
                    (where, node.lineno, node.func.attr, a.value)
                    for a in args
                    if isinstance(a, ast.Constant)
                    and type(a.value) is int
                    and not (node.func.attr == "coalesce" and a.value == 1)
                ]
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                a = node.args
                pos = a.posonlyargs + a.args
                defaults = list(zip(pos[len(pos) - len(a.defaults):], a.defaults))
                defaults += zip(a.kwonlyargs, a.kw_defaults)
                hits += [
                    (where, node.lineno, arg.arg, d.value)
                    for arg, d in defaults
                    if arg.arg.endswith("partitions")
                    and isinstance(d, ast.Constant)
                    and type(d.value) is int
                ]
    assert hits == []
