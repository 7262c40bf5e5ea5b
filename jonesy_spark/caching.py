"""The one cache lifetime of the package.

Every frame an operator persists or checkpoints goes through
:func:`persist` / :func:`checkpoint`, which register it in the
innermost open :func:`cache_scope`; leaving the scope releases
everything registered inside it. The OWNER of a unit of work opens
the scope — ``pipeline.jobs.run_job`` one per job, each streaming
``foreachBatch`` handler one per micro-batch, bench.py /
scripts/driver_sim.py / the tests one per registry row — so operators
never thread release handles through the frames they return.

Frames registered outside any scope land in a process-wide root scope,
which :func:`release_caches` empties. Operators that need a frame gone
before their owner's scope ends call :func:`release` on it (PageRank's
superseded rank generation) or open an inner scope around a
sub-computation whose caches nothing downstream reads — or only its
checkpoints (``cache_scope(keep_checkpoints=True)``).

Contexts: scopes live in a ``ContextVar``. py4j callback threads (the
``foreachBatch`` handlers) start with a fresh context, so a handler
sees only the root scope until it opens its own.
"""

from __future__ import annotations

from contextlib import contextmanager
from contextvars import ContextVar
from typing import Iterator

from pyspark.sql import DataFrame

#: (frame, checkpoint RDD ids) — ids is None for a persisted frame
_Entry = tuple[DataFrame, "list[int] | None"]

_ROOT: list[_Entry] = []
#: the open scopes, innermost last
_SCOPES: ContextVar[tuple[list[_Entry], ...]] = ContextVar(
    "jonesy_cache_scopes", default=(_ROOT,)
)


def persist(df: DataFrame) -> DataFrame:
    """``df.persist()`` (MEMORY_AND_DISK), released with the innermost
    scope. Persist, not checkpoint, wherever lineage must survive a
    lost executor."""
    out = df.persist()
    _SCOPES.get()[-1].append((out, None))
    return out


def checkpoint(df: DataFrame) -> DataFrame:
    """Eager ``localCheckpoint()``, released with the innermost scope.

    ``DataFrame.unpersist()`` only clears CacheManager entries; a
    checkpoint's blocks live in RDD block storage and survive it, so
    the release has to unpersist the underlying RDD, which is only
    reachable by diffing the context's persistent-RDD map around the
    call. A concurrent persist in another thread during the call would
    be misattributed to this checkpoint."""
    jsc = df.sparkSession.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet().toArray())
    out = df.localCheckpoint()
    ids = [i for i in jsc.getPersistentRDDs().keySet().toArray() if i not in before]
    _SCOPES.get()[-1].append((out, ids))
    return out


def _drop(entry: _Entry) -> None:
    df, ids = entry
    sc = df.sparkSession.sparkContext
    if sc._jsc is None:  # the session was stopped; its storage went with it
        return
    if ids is None:
        df.unpersist()
        return
    jmap = sc._jsc.getPersistentRDDs()
    for i in ids:
        if jmap.containsKey(i):
            jmap.get(i).unpersist(False)


def _release_all(scope: list[_Entry]) -> int:
    n = len(scope)
    while scope:
        _drop(scope.pop())
    return n


def release(df: DataFrame) -> None:
    """Release one registered frame now, before its scope ends; its
    scope forgets it (both registrations of a frame that was
    checkpointed and then persisted). A frame that is not registered,
    or was already released, is left alone."""
    for scope in _SCOPES.get():
        mine = [e for e in scope if e[0] is df]
        if mine:
            scope[:] = [e for e in scope if e[0] is not df]
            for entry in mine:
                _drop(entry)


@contextmanager
def cache_scope(keep_checkpoints: bool = False) -> Iterator[None]:
    """Open a scope; on exit release every frame registered inside it
    (and not released earlier). Scopes nest: an inner scope releases
    only its own registrations.

    With ``keep_checkpoints`` the scope releases only its persisted
    frames and hands its checkpoints to the enclosing scope: for a
    sub-computation whose shared intermediates are dead once its
    result is checkpointed (an LSH pass feeding connected
    components)."""
    outer = _SCOPES.get()
    scope: list[_Entry] = []
    token = _SCOPES.set(outer + (scope,))
    try:
        yield
    finally:
        _SCOPES.reset(token)
        if keep_checkpoints:
            outer[-1].extend(e for e in scope if e[1] is not None)
            scope[:] = [e for e in scope if e[1] is None]
        _release_all(scope)


def release_caches(df: DataFrame | None = None) -> int:
    """Release the innermost open scope — the process-wide root scope
    outside any — and return how many frames it held. ``df`` is
    accepted for callers that pass the frame they just consumed; it
    does not narrow the release. Harness-level only: inside an
    operator a root-scope release could drop a checkpoint the caller
    still reads, so operators use :func:`release` or an inner scope."""
    return _release_all(_SCOPES.get()[-1])
