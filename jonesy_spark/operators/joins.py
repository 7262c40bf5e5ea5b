"""Join strategy helpers for scale: broadcast dims, skew salting.

The reference hand-orders its joins and lets Oracle's CBO cope
(SURVEY.md §4.1); Spark-first we pick strategies explicitly where the
optimizer can't know better:

  * ``broadcast`` hints for dimension sides (already used throughout
    ``plans``),
  * AQE skew-join handling is on by default (``session.get_spark``),
  * ``salted_join`` for the case AQE can't fix: a shuffle join where ONE
    side's key distribution is pathologically hot (e.g. a null-heavy or
    default-valued FK). The hot side gets a random salt in [0, S); the
    other side is exploded S ways; the join key becomes (key, salt).
    Same rows out, S-way parallelism on the hot key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    skewed: DataFrame,
    other: DataFrame,
    on: str,
    how: str = "inner",
    salt_buckets: int = 16,
) -> DataFrame:
    """Equi-join where ``skewed`` has hot values in column ``on``.

    ``skewed`` rows get `salt = pmod(hash(monotonic id), S)`; ``other``
    is replicated S ways (explode over the salt range) — correct for
    any ``how`` whose null-extension side is the skewed side ('inner',
    'left' with skewed on the left). The replication factor S trades
    shuffle volume for parallelism on the hot key; keep the replicated
    side the *smaller* one.
    """
    salted = skewed.withColumn(
        "__salt",
        F.pmod(F.hash(F.monotonically_increasing_id()), F.lit(salt_buckets)),
    )
    replicated = other.withColumn(
        "__salt",
        F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1))),
    )
    return salted.join(replicated, on=[on, "__salt"], how=how).drop("__salt")
