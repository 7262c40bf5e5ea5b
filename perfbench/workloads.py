"""The benchmark's three workloads: one timed pass each, plus the
untimed output check and digest that follow every pass.

A pass returns a list of :class:`Op` records, one per job or registry
row it ran. An op fails when it raises or when its output fails the
check; ``error_rate`` is failed ops over attempted ops. On top of the
checks below, the worker fails a pass whose output digest differs from
the run's first pass.

Checks, per workload:

* ``sis_extract`` — every extract is compared, as a multiset of lines
  (order-insensitive), with the same rows computed independently in
  DuckDB from the same input parquet, using the registry's
  ``oracle_sql()`` twins where the extract is a registry row. Extracts
  the job promises in order are checked for that order too, and every
  target copy must be byte-identical to the staged file.
* ``crawl_to_corpus`` — the manifest's boundary counts must equal the
  rows landed, every archive must parse (nothing quarantined), every
  input document must be extracted, and the landed documents'
  content-hash ids must be unique.
* ``graph_ann`` — on the first pass, ``link_authority_converged`` must
  equal its DuckDB oracle row for row, and every score ``ann_pq_topk``
  reports must equal the brute-force cosine score (to one micro-unit),
  the exactness check its unit test uses, since it has no oracle. Its
  recall@10 against brute force is reported, not gated: the unit
  test's 0.5 floor holds on the 500-vector sf0.001 fixture, and on
  sf0.1's 2,000 isotropic vectors it is 0.31-0.50 (median 0.38).
"""

from __future__ import annotations

import glob
import gzip
import hashlib
import json
import os
import re
import shutil
import sys
from dataclasses import dataclass
from datetime import date, datetime

RUN_DATE = date(2024, 2, 1)
SIS_JOBS = ("upload_advisors", "upload_snapshot", "upload_recent_refresh")
GRAPH_ROWS = {"link_authority_converged": "graph", "ann_pq_topk": "similarity"}


@dataclass
class Op:
    name: str
    ok: bool = True
    error: str = ""


def _fail(op: Op, why: str) -> None:
    if op.ok:
        op.ok, op.error = False, why


def _render(v) -> str:
    """A DuckDB value as the program's CSV contract renders it."""
    if v is None:
        return ""
    if isinstance(v, datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S UTC")
    if isinstance(v, date):
        return v.strftime("%Y-%m-%d 00:00:00 UTC")
    return str(v)


_TS = re.compile(r"^(\d{4}-\d\d-\d\d)[ T](\d\d:\d\d:\d\d)(?:\.\d+)?(?: UTC)?$")


def _canon(field: str) -> str:
    """A timestamp field as ``YYYY-MM-DD HH:MM:SS``, whichever way it is
    rendered: the sink labels session timestamps ``... UTC`` but writes
    TIMESTAMP_NTZ columns (the fixture's ``o_orderdate``) in ISO form.
    Other fields pass through."""
    m = _TS.match(field)
    return f"{m.group(1)} {m.group(2)}" if m else field


def _digest(items) -> str:
    h = hashlib.sha256()
    for it in items:
        h.update(repr(it).encode())
        h.update(b"\n")
    return h.hexdigest()


def _tree_bytes(root: str) -> int:
    return sum(os.path.getsize(p) for p in glob.glob(f"{root}/**/*", recursive=True)
               if os.path.isfile(p))


def _duck(input_dir: str, tables):
    import duckdb

    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{input_dir}/{t}.parquet'")
    return con


# ---------------------------------------------------------------- sis_extract


class SisExtract:
    """``run_job`` for the three reference cron jobs, back to back, into
    two local targets."""

    name = "sis_extract"
    #: warm passes per untraced run; warm_s is always the last of these
    #: (pass index ``warm_passes``), whatever passes follow. Passes are
    #: bound by per-job overhead, not data, so the count is what the
    #: benchmark's time budget allows. The first warm pass here still
    #: compiles (about 1.5x the later passes' CPU time, 10-20% more
    #: wall time); a second costs about 9.5 s a run, which 22 runs per
    #: workload cannot afford.
    warm_passes = 1

    def __init__(self, spark, input_dir: str):
        self.spark = spark
        self.input_dir = input_dir
        self.expected = self._expected()

    def _expected(self) -> dict[str, tuple[tuple[int, ...] | None, list[tuple]]]:
        """key -> (compared column indexes or None for all, sorted rows)."""
        from jonesy_spark.plans import all_oracle_sql

        oracle = all_oracle_sql()
        con = _duck(self.input_dir, ("customer", "orders", "lineitem", "events"))

        def rows(sql: str, cols=None) -> list[tuple]:
            out = []
            for r in con.execute(sql).fetchall():
                r = [_canon(_render(v)) for v in r]
                out.append(tuple(r[i] for i in cols) if cols else tuple(r))
            return sorted(out)

        attrs = rows(oracle["basic_attributes"])
        exp = {
            "advisors/advisor-note-permissions.csv.gz": (None, attrs),
            "advisors/instructor-advisor-map.csv.gz": (None, rows(oracle["latest_order_per_customer"])),
            "sis-data/basic-attributes.csv.gz": (None, attrs),
            "sis-data/recent-enrollment-updates.csv.gz": (None, rows(oracle["watermark_incremental"])),
            # last_updated renders as Pacific wall time: compare the rest
            "sis-data/recent-instructor-updates.csv.gz": (
                (0, 1, 2, 3, 4, 6), rows(oracle["recent_instructor_updates"], (0, 1, 2, 3, 4, 6))),
        }
        for (term,) in con.execute(oracle["current_terms_topk"]).fetchall():
            month = term.strftime("%Y-%m")
            # the job's enrollment extract: DISTINCT over the full row;
            # units_taken (double) and last_updated (Pacific) are left out
            exp[f"sis-data/enrollments-{month}.csv.gz"] = ((0, 1, 3), rows(f"""
                SELECT DISTINCT l_orderkey, o_custkey, l_quantity, l_returnflag, l_shipdate
                FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                WHERE strftime(o_orderdate, '%Y-%m') = '{month}'""", (0, 1, 3)))
        # change_id -> ts to the second: the instructor-updates extract is
        # ordered by last_updated DESC, which its Pacific rendering hides
        # and keeps to the second (ties within a second come in any order)
        self.change_ts = {
            str(cid): ts for cid, ts in con.execute(
                "SELECT event_id, date_trunc('second', ts) FROM events").fetchall()}
        con.close()
        return exp

    def run(self, out_root: str, wrap) -> list[Op]:
        from jonesy_spark.pipeline.jobs import JobContext, run_job

        ctx = JobContext(
            spark=self.spark, sf_dir=self.input_dir, out_root=f"{out_root}/stage",
            targets=[f"{out_root}/loch_a", f"{out_root}/loch_b"], run_date=RUN_DATE)
        ops = []
        for job in SIS_JOBS:
            op = Op(job)
            try:
                wrap(f"jobs.{job}", run_job)(job, ctx)
            except Exception as exc:  # noqa: BLE001 - a raising job is a failed op
                _fail(op, f"raised {type(exc).__name__}: {exc}")
            ops.append(op)
        self.extracts = len(ctx.written)
        return ops

    def check(self, out_root: str, ops: list[Op], first_pass: bool) -> tuple[str, int]:
        from jonesy_spark.pipeline.sinks import daily_prefix

        by_job = {o.name: o for o in ops}
        owner = {k: by_job["upload_advisors" if k.startswith("advisors/") else
                            "upload_recent_refresh" if "/recent-" in k else "upload_snapshot"]
                 for k in self.expected}
        parts = []
        for key, (cols, want) in sorted(self.expected.items()):
            op = owner[key]
            staged = f"{out_root}/stage/{key}"
            if not os.path.isfile(staged):
                _fail(op, f"{key}: not written")
                continue
            with open(staged, "rb") as fh:
                raw = fh.read()
            for t in ("loch_a", "loch_b"):
                copy = f"{out_root}/{t}/{daily_prefix(RUN_DATE)}/{key}"
                if not os.path.isfile(copy) or open(copy, "rb").read() != raw:
                    _fail(op, f"{key}: target {t} copy differs from the staged file")
            lines = gzip.decompress(raw).decode().splitlines()
            fields = [ln.split(",") for ln in lines]
            canon = [[_canon(x) for x in f] for f in fields]
            got = sorted(tuple(f[i] for i in cols) if cols else tuple(f) for f in canon)
            if got != want:
                extra, missing = sorted(set(got) - set(want)), sorted(set(want) - set(got))
                _fail(op, f"{key}: {len(got)} rows differ from the DuckDB reference "
                          f"({len(want)} rows); first unexpected {extra[:1]}, first missing {missing[:1]}")
            if "attributes" in key or "permissions" in key:
                keys = [int(f[0]) for f in fields]
                if keys != sorted(keys):
                    _fail(op, f"{key}: not ordered by custkey")
            elif "enrollments-" in key:
                keys = [(int(f[0]), int(f[1])) for f in fields]
                if keys != sorted(keys):
                    _fail(op, f"{key}: not ordered by (section_id, ldap_uid)")
            elif key.endswith("instructor-updates.csv.gz"):
                ts = [self.change_ts[f[0]] for f in fields]
                if ts != sorted(ts, reverse=True):
                    _fail(op, f"{key}: not ordered by last_updated descending")
            parts.append((key, _digest(sorted(lines))))
        return _digest(parts), _tree_bytes(out_root)


# ----------------------------------------------------------- crawl_to_corpus


class CrawlToCorpus:
    """The ``crawl_to_corpus`` job over the seed's WARC archives."""

    name = "crawl_to_corpus"
    warm_passes = 1

    def __init__(self, spark, input_dir: str):
        import pyarrow.parquet as pq

        self.spark = spark
        self.input_dir = input_dir
        self.n_docs = pq.read_metadata(f"{input_dir}/documents.parquet").num_rows
        os.environ["WARC_SRC"] = f"{input_dir}/warc"

    def run(self, out_root: str, wrap) -> list[Op]:
        from jonesy_spark.pipeline.jobs import JobContext, run_job

        ctx = JobContext(spark=self.spark, sf_dir=self.input_dir, out_root=out_root,
                         targets=[f"{out_root}/loch"], run_date=RUN_DATE)
        op = Op("crawl_to_corpus")
        try:
            wrap(f"jobs.{op.name}", run_job)(op.name, ctx)
        except Exception as exc:  # noqa: BLE001
            _fail(op, f"raised {type(exc).__name__}: {exc}")
        self.extracts = len(ctx.written)
        return [op]

    def check(self, out_root: str, ops: list[Op], first_pass: bool) -> tuple[str, int]:
        import pyarrow.parquet as pq

        (op,) = ops
        root = f"{out_root}/crawl_corpus"
        if not op.ok:
            return "", _tree_bytes(root) if os.path.isdir(root) else 0

        def rows(path: str) -> list[tuple]:
            t = pq.read_table(path)
            cols = [t.column(c).to_pylist() for c in sorted(t.column_names)]
            return sorted(zip(*cols), key=repr)

        manifest = json.load(open(f"{root}/_MANIFEST.json"))
        tables = {k: rows(f"{root}/{p}") for k, p in (
            ("documents", "documents"), ("split", "corpus/split"),
            ("sequences", "corpus/sequences"), ("digest_index", "digest_index"))}
        b, intake = manifest["boundaries"], manifest["intake"]
        for k in ("documents", "split", "sequences"):
            if b[f"n_{k}"] != len(tables[k]):
                _fail(op, f"manifest n_{k}={b[f'n_{k}']} but {len(tables[k])} rows landed")
        if intake["n_quarantined"] != 0:
            _fail(op, f"{intake['n_quarantined']} archives quarantined")
        if intake["n_extracted"] != self.n_docs:
            _fail(op, f"extracted {intake['n_extracted']} of {self.n_docs} documents")
        doc_ids = pq.read_table(f"{root}/documents", columns=["doc_id"]).column("doc_id").to_pylist()
        if len(set(doc_ids)) != len(doc_ids):
            _fail(op, "documents carry duplicate doc_ids")
        digest = _digest([manifest["boundaries"], manifest["intake"],
                          *((k, _digest(v)) for k, v in sorted(tables.items()))])
        return digest, _tree_bytes(root)


# ------------------------------------------------------------------ graph_ann


def _pq_check(input_dir: str, got: list[tuple], k: int = 10) -> tuple[int, float]:
    """(scores that differ from brute force, recall@k) for ann_pq_topk's
    ``(query_id, vec_id, cosine_micro)`` rows. Brute force is float64
    NumPy over the same vectors; its sums run in another order than
    Spark's, so a score may differ by one micro-unit at a rounding
    boundary and still count as equal."""
    import numpy as np
    import pyarrow.parquet as pq

    t = pq.read_table(f"{input_dir}/embeddings.parquet")
    ids = t.column("vec_id").to_numpy()
    x = t.column("embedding").combine_chunks().flatten().to_numpy().astype("float64")
    x = x.reshape(len(ids), -1)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    row = {int(v): i for i, v in enumerate(ids)}
    queries = sorted({q for q, _, _ in got})
    micro = {q: np.floor((x @ x[row[q]]) * 1e6 + 0.5).astype("int64") for q in queries}
    wrong = sum(1 for q, v, s in got if abs(int(micro[q][row[v]]) - s) > 1)
    hits = 0
    for q in queries:
        order = sorted((-int(m), int(v)) for v, m in zip(ids, micro[q]) if v != q)
        top = {v for _, v in order[:k]}
        hits += len(top & {v for qq, v, _ in got if qq == q})
    return wrong, hits / (k * len(queries))


class GraphAnn:
    """Registry rows ``link_authority_converged`` and ``ann_pq_topk``,
    built through ``plans.all_queries()`` and forced through the noop
    sink. The rows are collected after the timed pass for the digest."""

    name = "graph_ann"
    warm_passes = 1

    def __init__(self, spark, input_dir: str):
        self.spark = spark
        self.input_dir = input_dir
        self.frames: dict = {}
        self.extracts = 0
        #: ann_pq_topk's recall@10 against brute force (first pass)
        self.recall = 0.0

    def run(self, out_root: str, wrap) -> list[Op]:
        from jonesy_spark.plans import all_queries

        builders = all_queries()
        ops = []
        self.frames = {}
        for row, layer in GRAPH_ROWS.items():
            op = Op(row)

            def force(name=row):
                df = builders[name](self.spark, self.input_dir)
                df.write.format("noop").mode("overwrite").save()
                return df

            try:
                self.frames[row] = wrap(layer, force)()
            except Exception as exc:  # noqa: BLE001
                _fail(op, f"raised {type(exc).__name__}: {exc}")
            ops.append(op)
        return ops

    def _check_first(self, rows: dict[str, list[tuple]], ops: dict[str, Op]) -> None:
        from jonesy_spark.plans import all_oracle_sql

        name = "link_authority_converged"
        if name in rows:
            con = _duck(self.input_dir, ("events",))
            want = sorted(tuple(r) for r in con.execute(all_oracle_sql()[name]).fetchall())
            con.close()
            if rows[name] != want:
                _fail(ops[name], f"{len(rows[name])} rows differ from the DuckDB oracle ({len(want)} rows)")
        name = "ann_pq_topk"
        if name in rows:
            wrong, self.recall = _pq_check(self.input_dir, rows[name])
            print(f"perfbench: ann_pq_topk recall@10 {self.recall:.3f}", file=sys.stderr)
            if wrong:
                _fail(ops[name], f"{wrong} reported scores differ from brute force")

    def check(self, out_root: str, ops: list[Op], first_pass: bool) -> tuple[str, int]:
        from jonesy_spark.operators.dedup import release_caches

        by_name = {o.name: o for o in ops}
        rows: dict[str, list[tuple]] = {}
        for name, df in self.frames.items():
            cols = df.columns
            if name == "ann_pq_topk":
                cols = ["query_id", "vec_id", "cosine_micro"]
            rows[name] = sorted(tuple(r) for r in df.select(*cols).collect())
            release_caches(df)
        self.frames = {}
        if first_pass:
            self._check_first(rows, by_name)
        size = sum(len(",".join(map(str, r))) + 1 for v in rows.values() for r in v)
        return _digest(sorted(rows.items())), size


WORKLOADS = {w.name: w for w in (SisExtract, CrawlToCorpus, GraphAnn)}


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path
