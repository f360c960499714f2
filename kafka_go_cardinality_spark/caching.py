"""Two lifetimes of engine-owned intermediates.

**Query-scoped persisted frames.**  Several operators persist a mid-plan
frame that feeds multiple plan branches (LSH signature tables, IVF/PQ
codebooks, contamination buckets).  ``DataFrame.persist`` has no scope —
without explicit release, every such frame stays pinned in executor
storage memory for the life of the session, and a 192-query sweep
accumulates dozens of dead cached tables.

The operators cannot unpersist themselves: they return a LAZY DataFrame
whose action happens in the caller, after which the cache is garbage.
So the registry here scopes a cache to "its query, until the next query
starts": operators persist through :func:`tracked_persist`, and the
query registry (queries.py) calls :func:`release_tracked` on entry to
every query — by which point the previous query's action has completed
and its caches are dead weight.  Unpersisting is always
correctness-safe (Spark recomputes), so a caller that interleaves two
queries loses only cache hits, never results.

Callers OUTSIDE the registry (tests, direct library consumers) should
scope their calls with :func:`scoped_caches`::

    with scoped_caches():
        op_result = lsh_pairs(docs, ...)
        op_result.count()
    # the operator's persisted intermediates are released here

or call :func:`release_tracked` in a teardown — the repo's test suite
does so via an autouse fixture.  The registry is guarded by a lock so
concurrent query execution (two threads driving one session) can't
corrupt the list; release ordering across threads remains the caller's
concern, as with any shared cache pool.

**Process-scoped scratch datasets.**  Some queries read a derived
dataset that is storage prep, not query cost: a wire dump standing in
for a retained topic, an LSH index, a partitioned / bucketed / z-ordered
layout, a format round-trip, a stored sketch table.  :func:`materialized`
writes each one once per process into a fresh dir under one scratch
root and memoizes the build's result by a key that must name every
input the write reads; it rebuilds when the dir has gone.
:func:`scratch_dir` hands out uncached dirs under the same root for
per-call writes.  The root is created on first use and removed when
the process exits, so nothing outlives the process — like the
reference pipeline, which keeps no on-disk state of its own and
replays the topic on restart.
"""

from __future__ import annotations

import atexit
import contextlib
import os
import shutil
import tempfile
import threading
from typing import Callable, Hashable, TypeVar

from pyspark.sql import DataFrame

_TRACKED: list[DataFrame] = []
_LOCK = threading.Lock()

_T = TypeVar("_T")
_SCRATCH_ROOT: str | None = None
# key -> (dir, build result)
_MATERIALIZED: dict[Hashable, tuple[str, object]] = {}


def tracked_persist(df: DataFrame) -> DataFrame:
    """persist() + register for release when the next query starts."""
    df = df.persist()
    with _LOCK:
        _TRACKED.append(df)
    return df


def release_tracked() -> int:
    """Unpersist every tracked frame; returns how many were released."""
    with _LOCK:
        drained, _TRACKED[:] = _TRACKED[:], []
    n = 0
    for df in drained:
        try:
            df.unpersist()
            n += 1
        except Exception:
            # A stopped/replaced SparkSession makes unpersist moot.
            pass
    return n


@contextlib.contextmanager
def scoped_caches():
    """Release any caches tracked inside the block on exit — the scope a
    direct operator caller (no registry entry/exit to piggyback on)
    should wrap around each logical unit of work."""
    try:
        yield
    finally:
        release_tracked()


def scratch_dir() -> str:
    """A fresh, uncached dir under the process scratch root, which is
    created on first use and removed at interpreter exit."""
    global _SCRATCH_ROOT
    with _LOCK:
        if _SCRATCH_ROOT is None:
            _SCRATCH_ROOT = tempfile.mkdtemp(prefix="kgc_")
            atexit.register(shutil.rmtree, _SCRATCH_ROOT, True)
        root = _SCRATCH_ROOT
    return tempfile.mkdtemp(dir=root)


def materialized(key: Hashable, build: Callable[[str], _T]) -> _T:
    """Run ``build(dir)`` once per ``key`` into a fresh scratch dir and
    return its memoized result while that dir exists; rebuild if it has
    been removed.  ``key`` must name every input the build reads.  The
    build runs outside any lock: two threads missing on one key both
    build, and the last result is kept."""
    hit = _MATERIALIZED.get(key)
    if hit is not None and os.path.isdir(hit[0]):
        return hit[1]
    path = scratch_dir()
    result = build(path)
    _MATERIALIZED[key] = (path, result)
    return result
