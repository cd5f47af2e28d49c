"""Generation-scoped persist: flat storage for repeated operator calls.

Operators like ``lookup_batch_relational`` / ``lookup_compound_batch``
persist an intermediate relation that feeds several joins of ONE
logical result (a diamond). A bare ``persist()`` leaks: the CacheManager holds the
relation until explicit unpersist, so a long-lived driver accretes one
cached relation per call. ``localCheckpoint()`` is no better here — its
blocks are only context-cleaned on JVM GC of the RDD, which in practice
never fires for these plans (measured: entries survive repeated
``System.gc()``), and an unpersisted checkpoint cannot recompute.

``persist_scoped`` keeps the last ``keep`` generations per (session,
scope) and unpersists older ones (non-blocking). Unpersisting a
persisted-but-still-referenced DataFrame is SAFE: it silently falls
back to lineage recomputation, so a caller that held an old result and
materializes it late gets correct (just uncached) results. Storage
therefore stays O(keep), not O(calls).
"""

from __future__ import annotations

from collections import deque

from pyspark.sql import DataFrame

__all__ = [
    "persist_scoped",
    "release_scope",
    "release_all",
    "release_worker_state",
]

_LIVE: dict[tuple[int, str], deque[DataFrame]] = {}


def persist_scoped(df: DataFrame, scope: str, keep: int = 2) -> DataFrame:
    """Persist ``df``; unpersist generations older than ``keep`` calls
    in the same (session, scope)."""
    key = (id(df.sparkSession), scope)
    out = df.persist()
    q = _LIVE.setdefault(key, deque())
    q.append(out)
    while len(q) > keep:
        old = q.popleft()
        try:
            old.unpersist(False)
        except Exception:
            pass  # session already stopped
    return out


def release_scope(scope: str) -> None:
    """Unpersist every generation of ``scope`` across sessions."""
    for key in [k for k in _LIVE if k[1] == scope]:
        q = _LIVE.pop(key)
        for df in q:
            try:
                df.unpersist(False)
            except Exception:
                pass


def release_all() -> None:
    for scope in {k[1] for k in list(_LIVE)}:
        release_scope(scope)


def _clear_worker_side(_) -> None:
    """Runs INSIDE a python worker: drop every dictionary-scoped module
    cache this engine plants in reused workers, then hand freed pages
    back to the OS (glibc keeps free()d arenas mapped; ``malloc_trim``
    returns them — without it a worker's RSS stays at its high-water
    mark even after the caches are gone)."""
    import gc

    from symspellpy_spark.operators import compound, neighborhood

    neighborhood._WORKER_RESOLVERS.clear()
    compound._WORKER_SPLIT_STATE.clear()
    gc.collect()
    try:
        import ctypes

        ctypes.CDLL("libc.so.6").malloc_trim(0)
    except Exception:
        pass  # non-glibc platform: freed memory stays pooled


def release_worker_state(spark, tasks_per_core: int = 4) -> None:
    """Release ALL dictionary-scoped memory a lookup/compound/
    segmentation workload leaves pinned in a long-lived session, so a
    following memory-hungry stage (e.g. the dedup pipeline's Arrow
    kernels) doesn't fight it for RAM:

    - driver-cached index/bigram broadcasts are UNPERSISTED (not
      destroyed): executor blocks free immediately, but a DataFrame
      plan built BEFORE the release that still closes over one of these
      broadcasts stays executable — Spark lazily re-ships an
      unpersisted broadcast from the driver on next use, whereas a
      destroyed one would fail the plan. The driver-side caches are
      cleared, so NEW plans rebuild fresh broadcasts with fresh tokens;
    - every scoped persist generation is unpersisted;
    - a best-effort fan-out job clears the per-python-worker resolver /
      split caches across the reused worker pool (each of the pool's
      workers holds its own deserialized dictionary + up-to-
      ``_RESOLVER_CACHE_CAP`` resolution caches — at 32 workers that is
      the dominant term) and ``malloc_trim``s the freed arenas back to the
      OS. ``tasks_per_core`` near-instant tasks per core make it
      overwhelmingly likely every pooled worker serves at least one.

    Measured effect (bench.py, 60k-doc pipeline after the EN dictionary
    workloads, 32 cores): the signatures stage returned to its
    pipeline-only cost (see BASELINE.md round-4 section).
    """
    from symspellpy_spark.operators import compound, neighborhood

    for cache in (neighborhood._IDX_CACHE, compound._BIGRAM_CACHE):
        for _ref, value, _token in list(cache.values()):
            # index builds by (d, p); (bigram broadcast, fits)
            items = value.values() if isinstance(value, dict) else value
            for item in items:
                if hasattr(item, "unpersist"):
                    try:
                        item.unpersist(False)
                    except Exception:
                        pass  # already released / session stopped
        cache.clear()

    release_all()

    n = spark.sparkContext.defaultParallelism * tasks_per_core
    spark.sparkContext.parallelize(range(n), n).foreach(_clear_worker_side)
