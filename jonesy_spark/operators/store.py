"""Versioned-immutable artifact store: the one publish/resolve
contract behind every frozen model artifact in the engine — the BPE
(merges, vocab) pairs and unigram piece tables (``operators.tokenize``)
and classifier models (``operators.classify``).

Contract:
  * an artifact version is a ``{path}/version=N`` subtree, written
    fully durable FIRST;
  * it becomes live only when its ``version=N/_COMMITTED`` marker
    exists — the marker is a single file create, so publishing is
    atomic: a reader resolving mid-publish keeps the previous version,
    and a crashed partial write is invisible forever (no marker);
  * versions are immutable — retraining publishes N+1, it never
    mutates N, so artifacts encoded under version N stay comparable
    to each other for as long as the subtree exists;
  * version numbering skips past crashed (uncommitted) attempts so a
    retry can never collide with debris.

All filesystem access goes through Hadoop's FileSystem API, so the
same code runs on local disk, HDFS, or s3a — the store is the piece
of the pipeline that must behave identically on the laptop and the
1000-executor cluster, because two writers racing a publish is an
OPERATIONAL event (overlapping nightly crons), not a test scenario.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def _fs(spark: SparkSession, path: str):
    sc = spark.sparkContext
    Path = sc._jvm.org.apache.hadoop.fs.Path
    return Path, Path(path).getFileSystem(sc._jsc.hadoopConfiguration())


def live_version(spark: SparkSession, path: str) -> int | None:
    """The highest COMMITTED version under ``path``, or None when
    nothing is published. Only ``version=N/_COMMITTED`` markers count:
    in-flight and crashed writes are structurally invisible."""
    Path, fs = _fs(spark, path)
    best = None
    for st in fs.globStatus(Path(f"{path}/version=*/_COMMITTED")) or []:
        n = int(st.getPath().getParent().getName().split("=", 1)[1])
        if best is None or n > best:
            best = n
    return best


def publish_version(tables: DataFrame | dict[str, DataFrame], path: str) -> int:
    """Publish the next version: write the artifact fully durable,
    then flip it live with one ``_COMMITTED`` create. Returns the
    version number published.

    ``tables`` is either one DataFrame (published at the version root
    — the bare-table layout of the merges store) or a dict of
    ``{name: DataFrame}`` subtrees that must freeze TOGETHER (the
    tokenizer's (merges, vocab) pair) — one marker covers all entries,
    so a reader can never observe a torn combination. Every table is
    ``coalesce(1)``: versioned artifacts are driver-sized by contract
    (merge tables, bounded models, centroid tables); corpus-sized data
    belongs in the ``ingest_batch=`` incremental indexes, not here."""
    if isinstance(tables, DataFrame):
        tables = {"": tables}
    if not tables:
        raise ValueError("publish_version needs at least one table")
    spark = next(iter(tables.values())).sparkSession
    Path, fs = _fs(spark, path)
    taken = [
        int(st.getPath().getName().split("=", 1)[1])
        for st in fs.globStatus(Path(f"{path}/version=*")) or []
    ]
    n = 1 + max(taken, default=-1)
    for name, df in tables.items():
        sub = f"{path}/version={n}/{name}" if name else f"{path}/version={n}"
        df.coalesce(1).write.mode("error").parquet(sub)
    fs.create(Path(f"{path}/version={n}/_COMMITTED"), False).close()
    return n


def read_live(
    spark: SparkSession, path: str, names: tuple[str, ...] = ("",)
) -> tuple[list[DataFrame], int] | None:
    """The live version's tables (in ``names`` order, ``""`` meaning
    the bare-table root) plus its version number, or None when nothing
    is committed. The version number should travel with any derived
    output as lineage — downstream artifacts are only comparable
    within one version."""
    n = live_version(spark, path)
    if n is None:
        return None
    out = []
    for name in names:
        sub = f"{path}/version={n}/{name}" if name else f"{path}/version={n}"
        out.append(spark.read.parquet(sub))
    return out, n
