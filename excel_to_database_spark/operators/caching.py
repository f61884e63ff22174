"""Cache-lifetime registry for operator-internal persists.

Several operators pin intermediates (shingle inverted indexes, banded
LSH signatures, IVF assignments) because the frame feeds 2-3 consumers
inside one query plan. Those persists previously accumulated across a
long session running many queries; this registry makes the lifetime
explicit: operators register what they pin, callers (or a session-level
sweep) call :func:`evict_caches` after the consuming action.

The registry holds STRONG references, deliberately: Spark's JVM-side
CacheManager pins the cached blocks until ``unpersist`` is called —
letting the Python handle be garbage-collected would not free a single
block, it would only make the cache impossible to evict (measured: the
round-6 weakref experiment leaked the JVM cache across bench reps and
inflated the q76 scale slope 4×). So the registry IS the lifetime:
long-lived sessions call :func:`evict_caches` after each query (bench,
scale_slope, and the query sweep all do); the held handles are the
eviction capability, bounded by pins-per-query × queries-since-evict.
The list is lock-guarded for concurrent query threads.
"""

from __future__ import annotations

import contextlib
import threading

from pyspark.sql import DataFrame

_ACTIVE: list[DataFrame] = []
_LOCK = threading.Lock()


def pin(df: DataFrame) -> DataFrame:
    """Persist ``df`` MEMORY_AND_DISK and register it for later
    :func:`evict_caches`. Returns the persisted frame."""
    from pyspark.storagelevel import StorageLevel

    out = df.persist(StorageLevel.MEMORY_AND_DISK)
    with _LOCK:
        _ACTIVE.append(out)
    return out


def unpin(df: DataFrame) -> None:
    """Deregister and unpersist one frame :func:`pin` returned."""
    with _LOCK:
        _ACTIVE[:] = [d for d in _ACTIVE if d is not df]
    df.unpersist()


@contextlib.contextmanager
def pinned(df: DataFrame, keep: bool = False):
    """Pin ``df`` for a multi-pass construction (a descent re-collects
    against it every level; without a persist each pass re-executes
    the upstream projection over the full input — round-12: q183
    re-ran its corpus tokenization ~6×). Yields the pinned frame. A
    frame the caller already cached is yielded as-is and never
    released here. Any error releases the pin, so a failed
    construction leaves no registered pin behind; on success it is
    released too, unless ``keep`` — a lazily returned result still
    reads the pinned blocks, and the session-level evict sweep owns
    the pin from then on."""
    lvl = df.storageLevel
    if lvl.useMemory or lvl.useDisk:
        yield df
        return
    out = pin(df)
    kept = False
    try:
        yield out
        kept = keep
    finally:
        if not kept:
            unpin(out)


def evict_caches() -> int:
    """Unpersist every operator-pinned cache registered since the last
    eviction (blocking=False — Spark frees the blocks asynchronously).
    Returns the number of frames evicted. Safe to call at any time;
    in-flight queries that still reference an evicted frame simply
    recompute it."""
    with _LOCK:
        frames, _ACTIVE[:] = _ACTIVE[:], []
    for df in frames:
        df.unpersist()
    return len(frames)


def deep_evict(spark) -> int:
    """Harness-grade eviction between timed runs: registered pins,
    then the whole SQL cache (anything persisted outside the
    registry), then a driver+JVM GC cycle so the ContextCleaner can
    release localCheckpoint blocks whose handles just died — those
    live in the block manager until the JVM object is collected, and
    they are what accumulated across the round-8 slope suite and
    inflated the q122 measurement. Not for the data plane: operators
    keep using :func:`pin`/:func:`evict_caches`."""
    import gc

    n = evict_caches()
    spark.catalog.clearCache()
    # memory-sink views from streamed queries: the view entry keeps
    # the sink's rows reachable; drop them so the GC below can reclaim
    try:
        from excel_to_database_spark.streaming.ingest import _MEMORY_SINKS

        for name in set(_MEMORY_SINKS):
            try:
                spark.catalog.dropTempView(name)
            except Exception:
                pass
        _MEMORY_SINKS.clear()
    except Exception:
        pass
    # resident state-store providers (RocksDB / HDFS-backed) from
    # FINISHED streaming queries: they survive query termination by
    # design (kept warm for restarts) and pinned the round-9 q146
    # rep curve to a GC-recovery decay whenever the build ran after
    # the streaming headlines. StateStore.stop() unloads them all and
    # halts the maintenance task; both restart lazily on the next
    # streaming query's first store access, so this is safe between
    # (not during) streaming runs.
    try:
        spark.sparkContext._jvm.org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    except Exception:
        pass
    # throwaway tmpfs checkpoints from bounded replays: deleted only
    # HERE, after StateStore.stop(), so no maintenance thread is still
    # uploading a snapshot into the dir (deleting earlier is how the
    # q158-style FileNotFound teardown noise happens)
    try:
        import shutil

        from excel_to_database_spark.streaming.ingest import _EPHEMERAL_CKPTS

        for d in _EPHEMERAL_CKPTS:
            shutil.rmtree(d, ignore_errors=True)
        _EPHEMERAL_CKPTS.clear()
    except Exception:
        pass
    gc.collect()
    try:
        spark.sparkContext._jvm.System.gc()
    except Exception:
        pass
    return n
