"""Table registry: named sources behind one seam.

The reference scans 13 Oracle views via hand-written SQL (SURVEY.md §1.1,
``reference jonesy/queries.py:28,43,57,86,107,135-136,143,203,247-264``).
Here every relation is a named entry resolved to a DataFrame; tests and
the driver use parquet fixtures, production would swap in the JDBC
reader (``jdbc_source``) without touching any query builder — query
code only ever calls ``Catalog.table(name)``.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

#: The fixture tables materialized by the driver (TESTDATA.md).
FIXTURE_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


@dataclass
class Catalog:
    """Resolves table names to DataFrames from a parquet directory.

    Scale note: parquet scans get predicate pushdown + column pruning
    from Catalyst for free; we never cache here (100 TB does not fit),
    callers opt in per-query for small dims.
    """

    spark: SparkSession
    sf_dir: str = DEFAULT_SF_DIR
    _cache: dict[str, DataFrame] = field(default_factory=dict)

    def table(self, name: str) -> DataFrame:
        if name not in FIXTURE_TABLES:
            raise KeyError(f"unknown table {name!r}; known: {FIXTURE_TABLES}")
        if name not in self._cache:
            if name == "events":
                # events.parquet has shipped ts as INT64 TIMESTAMP(NANOS)
                # in some fixture generations (which the vectorized reader
                # rejects without nanosAsLong) and as µs TIMESTAMP in
                # others. Normalize both to session-zone TIMESTAMP: nanos
                # via exact integer division (double division would lose
                # precision at 1e18), NTZ via a cast that is exact under
                # the pinned UTC session zone. Oracle SQL casts ts to µs
                # TIMESTAMP to match.
                from pyspark.sql import functions as F
                from pyspark.sql import types as T

                self.spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
                df = self.spark.read.parquet(f"{self.sf_dir}/{name}.parquet")
                ts_type = df.schema["ts"].dataType
                if isinstance(ts_type, T.LongType):
                    df = df.withColumn(
                        "ts", F.timestamp_micros(F.expr("ts div 1000"))
                    )
                elif isinstance(ts_type, T.TimestampNTZType):
                    # NTZ -> TIMESTAMP is exact only when the session
                    # zone matches the zone the naive values were
                    # written in; the engine pins UTC (session.get_spark),
                    # so assert rather than assume — a non-UTC session
                    # would silently shift every event timestamp (same
                    # enforcement as streaming.incremental.events_stream).
                    tz = self.spark.conf.get("spark.sql.session.timeZone")
                    assert tz == "UTC", (
                        f"events.ts NTZ cast requires UTC session zone, got {tz}"
                    )
                    df = df.withColumn("ts", F.col("ts").cast("timestamp"))
                elif not isinstance(ts_type, T.TimestampType):
                    # A malformed fixture (string/int32/double ts) must
                    # fail HERE, loudly: a blind cast would yield nulls
                    # that silently corrupt every downstream window,
                    # watermark, and incremental cutoff (ADVICE r4).
                    raise TypeError(
                        f"events.ts: expected INT64-nanos, TIMESTAMP, or "
                        f"TIMESTAMP_NTZ, got {ts_type.simpleString()}"
                    )
            else:
                df = self.spark.read.parquet(f"{self.sf_dir}/{name}.parquet")
            self._cache[name] = df
        return self._cache[name]

    def __getattr__(self, name: str) -> DataFrame:
        if name in FIXTURE_TABLES:
            return self.table(name)
        raise AttributeError(name)

    def register_views(self) -> None:
        """Register every fixture table as a temp view for spark.sql use."""
        for name in FIXTURE_TABLES:
            self.table(name).createOrReplaceTempView(name)


_BYTE_UNIT_POWERS = {"": 0, "b": 0, "k": 1, "kb": 1, "m": 2, "mb": 2,
                     "g": 3, "gb": 3, "t": 4, "tb": 4, "p": 5, "pb": 5}


def _conf_bytes(raw: str) -> int:
    """Parse a Spark byte-size conf value (``134217728``, ``128m``,
    ``64kb``, ``1gb``) the way Spark's ``byteStringAsBytes`` does:
    an integer with an optional binary unit suffix, bytes if none."""
    m = re.fullmatch(r"(\d+)([a-z]*)", raw.strip().lower())
    if m is None or m.group(2) not in _BYTE_UNIT_POWERS:
        raise ValueError(f"not a byte size: {raw!r}")
    return int(m.group(1)) * 1024 ** _BYTE_UNIT_POWERS[m.group(2)]


def planned_file_partitions(
    sizes: list[int], min_partitions: int, max_partition_bytes: int, open_cost: int
) -> int:
    """Partitions Spark plans for a scan of splittable files of these
    byte sizes (``FilePartition.maxSplitBytes`` + ``getFilePartitions``):
    cut each file into chunks of at most ``max_split``, then pack the
    chunks, largest first, next-fit into partitions that close once the
    next chunk would push them past ``max_split`` — each chunk costs its
    length plus ``open_cost``. Small files therefore share partitions:
    three 1 MB files on 4 cores plan 3 partitions, not 3 splits x 2."""
    total = sum(sizes) + open_cost * len(sizes)
    max_split = max(
        1, min(max_partition_bytes, max(open_cost, total // max(min_partitions, 1)))
    )
    chunks = sorted(
        (min(max_split, size - off) for size in sizes for off in range(0, size, max_split)),
        reverse=True,
    )
    partitions = current = 0
    for length in chunks:
        if partitions == 0 or current + length > max_split:
            partitions += 1
            current = 0
        current += length + open_cost
    return partitions


def spread(df: DataFrame, *key_cols) -> DataFrame:
    """Scale-adaptive parallelism floor for heavy per-row compute over a
    narrow source (guide §2.5 "input skew → repartition after the read"):
    repartition up to the session's default parallelism ONLY when the
    frame's planned partitioning is below it.

    Why: a map-heavy stage (regex chains, array lambdas, codec hops)
    over a source whose scan yields fewer splits than the cluster has
    cores runs serially however many cores exist — a single-row-group
    parquet file (the local fixtures), one gzip member, or a small
    cold-tier dimension all plan 1-2 tasks. At 100 TB the same scan
    plans thousands of splits, the guard is a no-op, and NO shuffle is
    added — the repartition is conditioned on the actual planned
    layout, never a local-mode constant.

    With ``key_cols`` the spread is a hash repartition (deterministic
    row placement, reusable by a downstream groupBy on the same key);
    without, round-robin.

    The planned-layout probe is a FILE-METADATA estimate (r15, VERDICT
    r14 #8): the old ``df.rdd.getNumPartitions()`` forced a
    DataFrame→RDD conversion plan per call and read the pre-AQE
    layout. Every call site feeds a file-source scan, whose partition
    count Spark derives from file sizes alone, so
    :func:`planned_file_partitions` over ``df.inputFiles()`` + HDFS
    file status reproduces it without touching the RDD API (one
    metadata call per input file). A frame with NO file source (not a
    current call site) falls back to the RDD probe.
    """
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    files = df.inputFiles()
    if files:
        jvm = spark._jvm
        hconf = spark._jsc.hadoopConfiguration()
        sizes = []
        for f in files:
            p = jvm.org.apache.hadoop.fs.Path(f)
            sizes.append(p.getFileSystem(hconf).getFileStatus(p).getLen())
        planned = planned_file_partitions(
            sizes,
            target,
            _conf_bytes(spark.conf.get("spark.sql.files.maxPartitionBytes", "128m")),
            _conf_bytes(spark.conf.get("spark.sql.files.openCostInBytes", "4m")),
        )
    else:
        planned = df.rdd.getNumPartitions()
    if planned >= target:
        return df
    return df.repartition(target, *key_cols)


def write_format(df: DataFrame, path: str, fmt: str = "parquet") -> str:
    """Write a table in any supported lake format (parquet/orc/json/csv).

    Parquet is the default interchange format (columnar, pushdown); ORC
    is its peer for Hive-ecosystem consumers; JSON/CSV are row formats
    for interoperability — schema must be re-declared on read (use
    ``read_format``). Delta/Iceberg need jars absent from this
    environment and stay behind this same seam.
    """
    df.write.mode("overwrite").format(fmt).save(path)
    return path


def read_format(spark: SparkSession, path: str, fmt: str, schema=None) -> DataFrame:
    """Read a table written by ``write_format``; pass the declared
    schema for row formats (JSON/CSV) — inference is never used (slow
    extra pass, unstable types at scale)."""
    reader = spark.read.format(fmt)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(path)


def read_csv_extract(
    spark: SparkSession,
    path: str,
    schema,
) -> DataFrame:
    """Read back a headerless gzip CSV extract written by
    ``pipeline.sinks.write_gzip_csv`` with a declared schema.

    The extracts carry no header row (reference contract,
    ``jonesy/jobs.py:175-179``), so the consumer supplies the schema —
    exactly how downstream consumers of the reference bind columns by
    position. Used to round-trip-test the serialization contract.
    """
    return (
        spark.read.schema(schema)
        .option("header", "false")
        .option("emptyValue", "")
        .csv(path)
    )


def jdbc_read_options(
    url: str,
    dbtable: str,
    partition_column: str | None = None,
    num_partitions: int = 32,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    fetchsize: int = 10_000,
    **options: str,
) -> dict[str, str]:
    """Build the option map for a partitioned JDBC scan (pure function —
    the contract-testable half of :func:`jdbc_source`).

    Replaces the reference's client-side ROWNUM pagination loop
    (reference ``jonesy/jobs.py:99-111``, ``BATCH_SIZE=120000`` at
    ``jobs.py:18``): with partitionColumn/bounds, N executors each pull
    a key-range slice concurrently; no driver-side paging, no
    spill-to-tempfile. ``fetchsize`` plays the reference's cursor
    ``arraysize`` role (rows per network round trip within a slice).
    """
    opts: dict[str, str] = {
        "url": url,
        "dbtable": dbtable,
        "fetchsize": str(fetchsize),
    }
    if partition_column is not None:
        opts.update(
            partitionColumn=partition_column,
            numPartitions=str(num_partitions),
            lowerBound=str(lower_bound or 0),
            upperBound=str(upper_bound or 1_000_000),
        )
    opts.update(options)
    return opts


def jdbc_source(
    spark: SparkSession,
    url: str,
    dbtable: str,
    **kwargs,
) -> DataFrame:
    """Production seam: parallel JDBC scan of a remote view (see
    :func:`jdbc_read_options` for the partitioning contract). The
    ``.load()`` needs a JDBC driver jar on the classpath; tests
    round-trip through Spark's bundled embedded Derby (write, then a
    4-slice partitioned read with filter pushdown) and additionally pin
    the generated option map for the Oracle-shaped production case."""
    return (
        spark.read.format("jdbc")
        .options(**jdbc_read_options(url, dbtable, **kwargs))
        .load()
    )


def validate_schema(df: DataFrame, expected: str, strict: bool = False) -> DataFrame:
    """Schema-drift gate for the ingestion edge: assert ``df`` carries
    the ``expected`` columns/types (DDL string, e.g. ``"doc_id bigint,
    text string"``) before a pipeline consumes it.

    Non-strict (default) permits extra columns — upstream producers add
    fields without breaking consumers (the reference's positional CSV
    contract breaks on ANY drift; declared-schema reads make additions
    benign, so only require what we use). ``strict=True`` also rejects
    extras. Raises ``ValueError`` naming every mismatch; returns ``df``
    projected to the expected columns on success, so downstream plans
    never silently bind to drifted types.
    """
    from pyspark.sql.types import StructType

    want = StructType.fromDDL(expected)
    have = {f.name.lower(): f for f in df.schema.fields}
    problems = []
    for f in want.fields:
        got = have.get(f.name.lower())
        if got is None:
            problems.append(f"missing column {f.name!r} ({f.dataType.simpleString()})")
        elif got.dataType != f.dataType:
            problems.append(
                f"column {f.name!r}: expected {f.dataType.simpleString()}, "
                f"got {got.dataType.simpleString()}"
            )
    if strict:
        extras = set(have) - {f.name.lower() for f in want.fields}
        problems += [f"unexpected column {e!r}" for e in sorted(extras)]
    if problems:
        raise ValueError("schema drift: " + "; ".join(problems))
    return df.select(*[f.name for f in want.fields])
