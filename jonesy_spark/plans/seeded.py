"""Session-scoped seeded directories for the index round-trip rows.

Several registry rows witness a persisted index or ledger: the corpus
(or the events table) lands in it once, then the row probes or folds
it. :func:`seeded_dir` is that lifecycle, shared by every such row: one
temporary directory per ``(applicationId, sf_dir, prefix)``, seeded
once, and removed when the interpreter exits. Seeds write under fixed
run ids in overwrite mode, so a re-seed in a later application
replaces its subtree and never duplicates it.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import SparkSession

_SEEDED: dict[tuple[str, str, str], str] = {}


def seeded_dir(
    spark: SparkSession, sf_dir: str, prefix: str, seed: Callable[[str], None]
) -> str:
    """The directory ``seed(d)`` filled for this Spark application and
    fixture directory. The first call per key makes the directory,
    registers it for removal at interpreter exit and runs ``seed``;
    later calls return the same path without seeding again."""
    key = (spark.sparkContext.applicationId, sf_dir, prefix)
    if key not in _SEEDED:
        d = tempfile.mkdtemp(prefix=prefix)
        atexit.register(shutil.rmtree, d, ignore_errors=True)
        seed(d)
        _SEEDED[key] = d
    return _SEEDED[key]
