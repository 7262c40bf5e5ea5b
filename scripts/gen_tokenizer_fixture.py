#!/usr/bin/env python
"""Regenerate the pinned tokenizer-family stats fixture.

``tokenizer_family_fold`` is the driver-roster, oracle-checked half of
the tokenizer-family comparison (VERDICT r10 #6): training (BPE merge
induction, unigram-LM EM) is iterative and stays pytest-pinned, but the
FOLD of the two per-document stats frames is plain SQL — so the frames
themselves are pinned as a parquet fixture and both engines aggregate
the same bytes. The trainers are deterministic for a fixed corpus, so
this script is reproducible: ``tests/test_tokenize.py`` regenerates the
frame through the same library calls and asserts content equality with
the committed fixture — a drifted fixture fails the suite, it cannot
silently rot.

Corpus: the sf0.001 ``documents`` table (500 docs — committed-fixture
sized); params mirror ``tokenizer_family_compare`` defaults.

Usage: python scripts/gen_tokenizer_fixture.py
"""

from __future__ import annotations

import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

SF_DIR = "/root/testdata/sf0.001"
N_MERGES = 64
VOCAB_SIZE = 256
SEED_SIZE = 2048


def build_stats_frame(spark, sf_dir: str = SF_DIR):
    """The family-tagged per-document stats frame the fold consumes:
    ``(family, vocab_rows, doc_id, n_tokens, n_chars)`` — BPE and
    unigram rows unioned, one row per (family, doc)."""
    from pyspark.sql import functions as F

    import jonesy_spark.operators.tokenize as T

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    merges = T.bpe_train(docs, n_merges=N_MERGES)
    pieces = T.unigram_train(
        docs, vocab_size=VOCAB_SIZE, seed_size=SEED_SIZE
    )

    def tag(stats, tok_col, family, vocab_rows):
        return stats.select(
            F.lit(family).alias("family"),
            F.lit(vocab_rows).cast("long").alias("vocab_rows"),
            "doc_id",
            F.col(tok_col).cast("long").alias("n_tokens"),
            F.col("n_chars").cast("long").alias("n_chars"),
        )

    bpe = tag(
        T.bpe_token_stats(docs, merges), "n_bpe_tokens", "bpe",
        merges.count(),
    )
    uni = tag(
        T.unigram_token_stats(docs, pieces), "n_unigram_tokens",
        "unigram", pieces.count(),
    )
    return bpe.unionByName(uni)


def main() -> int:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from jonesy_spark.plans.llm_queries import TOKENIZER_STATS_FIXTURE
    from jonesy_spark.session import get_spark

    spark = get_spark(app_name="gen_tokenizer_fixture")
    pdf = (
        build_stats_frame(spark)
        .toPandas()
        .sort_values(["family", "doc_id"])
        .reset_index(drop=True)
    )
    pq.write_table(
        pa.Table.from_pandas(pdf, preserve_index=False),
        TOKENIZER_STATS_FIXTURE,
    )
    print(f"wrote {len(pdf)} rows -> {TOKENIZER_STATS_FIXTURE}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
