"""The one owner of materialized intermediates: every persist and
checkpoint in the package goes through this module, and
:func:`evict_caches` releases them all. Two kinds, one lifetime:

* :func:`pin` persists MEMORY_AND_DISK — the recomputable kind, for a
  frame that feeds 2-3 consumers inside one plan (shingle inverted
  indexes, banded LSH signatures, IVF assignments). Reading a
  released pin recomputes it.
* :func:`checkpoint` local-checkpoints — the lineage cut, for a frame
  computed exactly once (frozen range boundaries, loop iterates, a
  frame outliving the files it was read from). Reading a released
  checkpoint raises ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``.

Both stay registered until their owner releases them: a loop with
:func:`unpin` once the successor iterate has materialized, a
construction through :func:`pinned`, a long-lived session with
:func:`evict_caches` after each query's action (bench, scale_slope,
and the query sweep all do).

The registry holds STRONG references, deliberately: Spark's JVM-side
CacheManager pins the cached blocks until ``unpersist`` is called —
letting the Python handle be garbage-collected would not free a single
block, it would only make the cache impossible to evict (measured: the
round-6 weakref experiment leaked the JVM cache across bench reps and
inflated the q76 scale slope 4×), and an unregistered checkpoint's
blocks wait for a JVM GC that need not come. The list is lock-guarded
for concurrent query threads.
"""

from __future__ import annotations

import contextlib
import threading

from pyspark.sql import DataFrame

# (frame, is_checkpoint) — the kind decides how the frame is released
_ACTIVE: list[tuple[DataFrame, bool]] = []
_LOCK = threading.Lock()


def _register(df: DataFrame, is_checkpoint: bool) -> DataFrame:
    with _LOCK:
        _ACTIVE.append((df, is_checkpoint))
    return df


def _release(df: DataFrame, is_checkpoint: bool) -> None:
    if is_checkpoint:
        # the checkpointed blocks belong to the RDD under the frame's
        # LogicalRDD leaf, not to the SQL cache (blocking=False)
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    else:
        df.unpersist()


def pin(df: DataFrame) -> DataFrame:
    """Persist ``df`` MEMORY_AND_DISK and register it for later
    :func:`evict_caches`. Returns the persisted frame."""
    from pyspark.storagelevel import StorageLevel

    return _register(df.persist(StorageLevel.MEMORY_AND_DISK), False)


def checkpoint(df: DataFrame, eager: bool) -> DataFrame:
    """``df.localCheckpoint(eager)``, registered for :func:`unpin` and
    :func:`evict_caches`. ``eager=False`` defers materialization to the
    first job over the frame. Returns the checkpointed frame."""
    return _register(df.localCheckpoint(eager=eager), True)


def unpin(df: DataFrame) -> None:
    """Deregister and release one frame :func:`pin` or
    :func:`checkpoint` returned."""
    with _LOCK:
        kinds = [k for d, k in _ACTIVE if d is df]
        _ACTIVE[:] = [e for e in _ACTIVE if e[0] is not df]
    _release(df, any(kinds))


@contextlib.contextmanager
def pinned(df: DataFrame, keep: bool = False):
    """Pin ``df`` for a multi-pass construction (a descent re-collects
    against it every level; without a persist each pass re-executes
    the upstream projection over the full input — round-12: q183
    re-ran its corpus tokenization ~6×). Yields the pinned frame. A
    frame that is already materialized — cached by the caller, or a
    registered checkpoint — is yielded as-is and never released here.
    Any error releases the pin, so a failed construction leaves no
    registered pin behind; on success it is released too, unless
    ``keep`` — a lazily returned result still reads the pinned blocks,
    and the session-level evict sweep owns the pin from then on."""
    lvl = df.storageLevel
    with _LOCK:
        registered = any(d is df for d, _ in _ACTIVE)
    if lvl.useMemory or lvl.useDisk or registered:
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
    """Release every pin and checkpoint registered since the last
    eviction (blocking=False — Spark frees the blocks asynchronously).
    Returns the number of frames released. Call it after the consuming
    action: an in-flight query that still references an evicted pin
    simply recomputes it, but one that reads an evicted checkpoint
    fails."""
    with _LOCK:
        frames, _ACTIVE[:] = _ACTIVE[:], []
    for df, is_checkpoint in frames:
        _release(df, is_checkpoint)
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
