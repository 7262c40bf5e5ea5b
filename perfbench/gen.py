"""Seeded inputs for the benchmark's workloads.

Each workload reads a small star schema shaped like the repo's sf0.1
fixture tier (same tables, columns, types and value domains), drawn
from ``numpy.random.default_rng(seed)``: the same seed writes
byte-identical parquet, another seed draws another sample of the same
size. ``crawl_to_corpus`` additionally gets its documents packed into
gzip-member ``.warc.gz`` archives, the layout the job reads from
``WARC_SRC``.

Inputs are written once per (workload, seed, version of this file)
under the cache root and reused; nothing here runs inside a timed
window.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Row counts per workload. sis_extract keeps sf0.1's fact sizes and
#: graph_ann its 2,000 x 64 embeddings; the events and the crawl corpus
#: are cut so that one run (set-up, a cold pass and its warm passes)
#: fits the benchmark's time budget. The crawl job's time is nearly all
#: per-stage overhead: 300 documents took 33 s cold, 2,500 took 52-66 s.
SCALES = {
    "sis_extract": {"customers": 15_000, "orders": 150_000, "lineitems": 600_000,
                    "events": 100_000, "users": 1_500},
    "crawl_to_corpus": {"documents": 300, "archives": 2},
    "graph_ann": {"events": 20_000, "users": 1_500, "vectors": 2_000, "dim": 64},
}

SEGMENTS = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
EVENT_TYPES = np.array(["signup", "click", "error", "view", "purchase"])
LANGS = np.array(["en", "zh", "de", "fr", "es"])
LANG_P = np.array([0.41, 0.15, 0.14, 0.15, 0.15])
WORDS = np.array(
    "batch part spark line column order small sort fast value scan a hash slow "
    "group agg filter query big key window row table stream merge data vector "
    "customer join the".split()
)

_US = 1_000_000
_EPOCH = datetime(1970, 1, 1)


def _us(dt: datetime) -> int:
    return int((dt - _EPOCH).total_seconds()) * _US


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _customers(rng, n: int) -> pa.Table:
    keys = np.arange(n, dtype="int64")
    return pa.table({
        "c_custkey": keys,
        "c_name": [f"Customer#{k:09d}" for k in keys],
        "c_nationkey": rng.integers(0, 25, n).astype("int32"),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
        "c_mktsegment": SEGMENTS[rng.integers(0, len(SEGMENTS), n)],
    })


def _orders(rng, n: int, n_cust: int) -> pa.Table:
    lo, hi = _us(datetime(1995, 1, 1)) // (86_400 * _US), _us(datetime(2001, 8, 1)) // (86_400 * _US)
    days = rng.integers(lo, hi + 1, n)
    return pa.table({
        "o_orderkey": np.arange(n, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n).astype("int64"),
        "o_orderstatus": np.array(["O", "P", "F"])[rng.integers(0, 3, n)],
        "o_totalprice": np.round(rng.uniform(900.0, 500_000.0, n), 2),
        "o_orderdate": _ts(days * 86_400 * _US),
        "o_orderpriority": PRIORITIES[rng.integers(0, len(PRIORITIES), n)],
    })


def _lineitems(rng, n: int, orders: pa.Table) -> pa.Table:
    okeys = rng.integers(0, orders.num_rows, n)
    odate = orders.column("o_orderdate").cast(pa.int64()).to_numpy()[okeys]
    qty = rng.integers(1, 51, n).astype("float64")
    return pa.table({
        "l_orderkey": okeys.astype("int64"),
        "l_partkey": rng.integers(0, 20_000, n).astype("int64"),
        "l_suppkey": rng.integers(0, 1_000, n).astype("int64"),
        "l_linenumber": rng.integers(1, 8, n).astype("int32"),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2_000.0, n), 2),
        "l_discount": np.round(rng.integers(0, 11, n) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n)],
        "l_shipdate": _ts(odate + rng.integers(1, 122, n) * 86_400 * _US),
    })


def _events(rng, n: int, n_users: int) -> pa.Table:
    start = _us(datetime(2024, 1, 1))
    span = 30 * 86_400 * _US
    ts = np.sort(start + rng.integers(0, span, n))
    return pa.table({
        "event_id": np.arange(n, dtype="int64"),
        "ts": _ts(ts),
        "user_id": rng.integers(0, n_users, n).astype("int64"),
        "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def _documents(rng, n: int) -> pa.Table:
    """Bag-of-words documents over a 31-word vocabulary, 10-100 words
    each, with about 2% exact copies and 4% one-word edits of earlier
    documents so the digest dedup and the near-dup stage have work."""
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.02:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.06:
            words = texts[int(rng.integers(0, i))].split(" ")
            words[int(rng.integers(0, len(words)))] = str(WORDS[rng.integers(0, len(WORDS))])
            texts.append(" ".join(words))
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(WORDS[rng.integers(0, len(WORDS), k)]))
    return pa.table({
        "doc_id": np.arange(n, dtype="int64"),
        "text": texts,
        "lang": LANGS[rng.choice(len(LANGS), n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })


def _embeddings(rng, n: int, dim: int) -> pa.Table:
    """Isotropic unit vectors with ten uniform labels, like the sf0.1
    fixture (per-coordinate std 1/sqrt(dim), mean nearest-neighbour
    cosine about 0.4)."""
    vecs = rng.normal(size=(n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype("float32").ravel())
    return pa.table({
        "vec_id": np.arange(n, dtype="int64"),
        "embedding": pa.ListArray.from_arrays(np.arange(0, n * dim + 1, dim, dtype="int32"), flat),
        "label": rng.integers(0, 10, n).astype("int32"),
    })


def fixture_html(text: str) -> str:
    """The markup crawl_to_corpus's own fixture seeding wraps around a
    document (two stop words so the quality gate passes real text)."""
    return f"<html><body><p>{text} the of</p></body></html>"


def _archives(docs: pa.Table, dest: str, n_archives: int) -> None:
    from jonesy_spark.pipeline.warc import encode_warc

    ids = docs.column("doc_id").to_pylist()
    texts = docs.column("text").to_pylist()
    os.makedirs(dest)
    for a in range(n_archives):
        recs = [
            (f"https://fixture.invalid/doc/{d}", "2024-01-01T00:00:00Z",
             fixture_html(t).encode("utf-8"))
            for d, t in zip(ids, texts) if d % n_archives == a
        ]
        with open(f"{dest}/fixture-{a:05d}.warc.gz", "wb") as fh:
            fh.write(encode_warc(recs, gzip_members=True))


def write_inputs(workload: str, seed: int, dest: str) -> None:
    """Write ``workload``'s input tables for ``seed`` into ``dest``."""
    # numpy seeds must be non-negative; any integer --seed maps to one
    rng = np.random.default_rng([seed % 2**63, sorted(SCALES).index(workload)])
    s = SCALES[workload]
    os.makedirs(dest)
    if workload == "sis_extract":
        orders = _orders(rng, s["orders"], s["customers"])
        _write(_customers(rng, s["customers"]), f"{dest}/customer.parquet")
        _write(orders, f"{dest}/orders.parquet")
        _write(_lineitems(rng, s["lineitems"], orders), f"{dest}/lineitem.parquet")
        _write(_events(rng, s["events"], s["users"]), f"{dest}/events.parquet")
    elif workload == "crawl_to_corpus":
        docs = _documents(rng, s["documents"])
        _write(docs, f"{dest}/documents.parquet")
        _archives(docs, f"{dest}/warc", s["archives"])
    elif workload == "graph_ann":
        _write(_events(rng, s["events"], s["users"]), f"{dest}/events.parquet")
        _write(_embeddings(rng, s["vectors"], s["dim"]), f"{dest}/embeddings.parquet")
    else:
        raise ValueError(f"unknown workload {workload!r}")


def ensure_inputs(workload: str, seed: int, cache_root: str) -> str:
    """Return the input directory for (workload, seed), writing it on
    first use. The directory name carries a hash of this file, so inputs
    an earlier generator wrote are never read. The directory is renamed
    into place only when complete, so an interrupted write is redone
    rather than read."""
    with open(__file__, "rb") as fh:
        version = hashlib.sha256(fh.read()).hexdigest()[:12]
    final = os.path.join(cache_root, "inputs", workload, f"seed-{seed}-{version}")
    if not os.path.isdir(final):
        tmp = f"{final}.tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        write_inputs(workload, seed, tmp)
        os.replace(tmp, final)
    return final
