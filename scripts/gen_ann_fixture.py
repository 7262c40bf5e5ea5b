#!/usr/bin/env python
"""Regenerate the pinned ANN store fixture (VERDICT r13 #6).

``ann_int8_rerank`` and ``ann_pq_rerank`` are the driver-roster,
oracle-checked halves of the quantized / product-quantized ANN tiers —
the ``tokenizer_family_fold`` split applied to vectors: the parts a
DuckDB oracle CANNOT replay deterministically are frozen into a
committed parquet fixture, and both engines run the deterministic
scan + exact re-rank over the same bytes.

What freezes and why:
  * ``q``/``scale`` (int8 quantization): the one hazard is
    ``round(x / scale)`` landing on an exact half-integer, where
    engine ulp differences could flip a code. Frozen, the boundary
    leaves the cross-engine surface entirely.
  * ``codes`` + the codebooks table (PQ): per-subspace k-means is
    iterative (numpy Lloyd on a bounded sample) — not SQL. Applying a
    FROZEN codebook is the production shape anyway: train once,
    encode everything.
The float scan + micro-rounded ranking + exact re-rank that remain
are the same cross-engine-proven math as ``ann_cosine_topk``.

Corpus: the sf0.001 ``embeddings`` table (500 x dim-64 float32 —
committed-fixture sized); quantization/codebook params mirror the
live ``ann_quantized_topk`` / ``ann_pq_topk`` rows (m=8, 16 codes).
The trainers are deterministic for a fixed corpus, so this script is
reproducible: ``tests/test_operators.py`` regenerates both frames
through the same library calls and asserts content equality with the
committed fixtures — a drifted fixture fails the suite, it cannot
silently rot.

Usage: python scripts/gen_ann_fixture.py
"""

from __future__ import annotations

import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

SF_DIR = "/root/testdata/sf0.001"
PQ_M = 8
PQ_CODES = 16


def build_frames(spark, sf_dir: str = SF_DIR):
    """(store_pdf, codebooks_pdf) — the two fixture frames, sorted for
    stable bytes. store: one row per vector with the original float32
    embedding, its frozen int8 quantization, and its frozen PQ codes;
    codebooks: the m x k PQ codebook."""
    from pyspark.sql import functions as F

    from jonesy_spark.operators import similarity as SIM

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qstore = SIM.quantize_embeddings(emb).select(
        "vec_id", F.col("qv.q").alias("q"), F.col("qv.scale").alias("scale")
    )
    codebooks = SIM.pq_codebooks(emb, m=PQ_M, k=PQ_CODES)
    codes = SIM.pq_encode(emb, codebooks).select("vec_id", "codes")

    store = (
        emb.join(qstore, "vec_id")
        .join(codes, "vec_id")
        .select("vec_id", "embedding", "label", "q", "scale", "codes")
    )
    store_pdf = (
        store.toPandas().sort_values("vec_id").reset_index(drop=True)
    )
    cb_pdf = (
        codebooks.toPandas()
        .sort_values(["sub", "code"])
        .reset_index(drop=True)
    )
    return store_pdf, cb_pdf


def _store_schema():
    import pyarrow as pa

    return pa.schema(
        [
            ("vec_id", pa.int64()),
            ("embedding", pa.list_(pa.float32())),
            ("label", pa.int32()),
            ("q", pa.list_(pa.int8())),
            ("scale", pa.float32()),
            ("codes", pa.list_(pa.int32())),
        ]
    )


def _codebooks_schema():
    import pyarrow as pa

    return pa.schema(
        [
            ("sub", pa.int32()),
            ("code", pa.int32()),
            ("sv", pa.list_(pa.float64())),
        ]
    )


def main() -> int:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from jonesy_spark.plans.llm_queries import (
        ANN_CODEBOOKS_FIXTURE,
        ANN_STORE_FIXTURE,
    )
    from jonesy_spark.session import get_spark

    spark = get_spark(app_name="gen_ann_fixture")
    store_pdf, cb_pdf = build_frames(spark)
    pq.write_table(
        pa.Table.from_pandas(
            store_pdf, schema=_store_schema(), preserve_index=False
        ),
        ANN_STORE_FIXTURE,
    )
    pq.write_table(
        pa.Table.from_pandas(
            cb_pdf, schema=_codebooks_schema(), preserve_index=False
        ),
        ANN_CODEBOOKS_FIXTURE,
    )
    print(f"wrote {len(store_pdf)} vectors -> {ANN_STORE_FIXTURE}")
    print(f"wrote {len(cb_pdf)} codebook rows -> {ANN_CODEBOOKS_FIXTURE}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
