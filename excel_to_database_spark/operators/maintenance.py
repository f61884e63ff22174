"""Small-file maintenance for append-maintained parquet state.

Every incremental lifecycle in the engine appends one parquet file (or
few) per batch — the IVF-PQ ``corpus``, the text-LSH ``bands``
index, the dedup-cluster ``labels`` table. At streaming cadence that is
thousands of tiny files per day: list/open overhead starts to dominate
probe latency long before data volume does (the classic small-files
problem). These helpers rewrite a directory into a bounded number of
files with CONTENT IDENTICAL to the pre-compaction read — probes,
labels, and health statistics are unchanged by construction, which the
tests assert.

The rewrite is write-new → rename-swap via the Hadoop FileSystem API
(works for local paths and HDFS/S3A URIs alike — never a Python ``os``
call on what may be a remote URI). The swap is two renames — live →
``__compact_old``, then ``__compact_tmp`` → live — so the window where
a concurrent reader can see a missing directory is ONE metadata rename
(not a recursive delete), and a crash anywhere leaves the data
recoverable: if the live directory is absent after a crash, the rows
exist intact in ``__compact_old`` (pre-swap) or ``__compact_tmp``
(post-write); rename either back into place. Directory rename is not
atomic on object stores without a consistency layer — there the same
two-rename discipline still bounds the loss window to a listing race,
but readers should retry on transient absence.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from excel_to_database_spark.operators.caching import checkpoint, unpin


def _fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath, jvm


def _n_files(spark: SparkSession, path: str) -> int:
    """Data-file count via the filesystem listing — NOT
    ``input_file_name()``: if any live plan has the directory cached,
    the cache manager serves the fresh read from the InMemoryRelation,
    where input_file_name is empty and the distinct-count collapses
    to 1."""
    fs, hpath, _ = _fs(spark, path)
    return sum(
        1
        for st in fs.listStatus(hpath)
        if st.getPath().getName().endswith(".parquet")
    )


def compact_parquet_dir(
    spark: SparkSession, path: str, target_files: int = 1
) -> dict:
    """Rewrite one parquet directory into ``target_files`` files.
    Returns {"files_before", "files_after", "rows"}; a directory
    already at or under the target is left untouched (no-op, zero
    writes). A missing directory raises ``ValueError`` naming it."""
    fs, hpath, _ = _fs(spark, path)
    if not fs.exists(hpath):
        raise ValueError(f"nothing to compact: no table at {path}")
    before = _n_files(spark, path)
    rows = spark.read.parquet(path).count()
    if before <= target_files:
        return {"files_before": before, "files_after": before, "rows": rows}
    tmp = f"{path}__compact_tmp"
    spark.read.parquet(path).coalesce(target_files).write.mode(
        "overwrite"
    ).parquet(tmp)
    fs, dst, jvm = _fs(spark, path)
    src = jvm.org.apache.hadoop.fs.Path(tmp)
    old = jvm.org.apache.hadoop.fs.Path(f"{path}__compact_old")
    # two-rename swap (see module docstring): the live data is never
    # deleted before its replacement is in place, and the
    # reader-visible gap is a single rename, not a recursive delete
    fs.delete(old, True)  # leftover from a prior crashed compaction
    # FileSystem.rename reports failure as a boolean, not an exception;
    # an unchecked first rename would leave live in place and make the
    # second rename move tmp INSIDE it (rename-into-existing-dir
    # semantics), silently corrupting the layout
    if not fs.rename(dst, old):
        fs.delete(src, True)
        raise IOError(f"compaction swap failed: cannot move {path} aside")
    if not fs.rename(src, dst):
        # restore the live directory before surfacing the failure
        fs.rename(old, dst)
        raise IOError(f"compaction swap failed: cannot install {tmp}")
    fs.delete(old, True)
    # drop any cached plans still pointing at the replaced files so a
    # later cache-miss recompute can't chase deleted paths
    spark.catalog.refreshByPath(path)
    return {
        "files_before": before,
        "files_after": _n_files(spark, path),
        "rows": rows,
    }


def ivf_pq_index_compact(
    spark: SparkSession, path: str, target_files: int = 1
) -> dict:
    """Fold an IVF-PQ index's append-grown data back to
    ``target_files`` parquet files (the amortized-maintenance sibling
    of ``ivf_pq_index_append``): its one ``corpus`` table. Probe
    results and ``ivf_pq_index_health`` are content-unchanged."""
    return {
        "corpus": compact_parquet_dir(spark, f"{path}/corpus", target_files)
    }


def lsh_text_index_compact(
    spark: SparkSession, path: str, target_files: int = 1
) -> dict:
    """Fold the text-LSH index's append-grown ``bands`` table back to
    ``target_files`` files; probes are content-unchanged."""
    return {
        "bands": compact_parquet_dir(spark, f"{path}/bands", target_files)
    }


def dedup_cluster_compact(
    spark: SparkSession, path: str, target_files: int = 1
) -> dict:
    """Fold the incremental dedup-cluster state: the ``labels`` table
    back to ``target_files`` files, and the append-only ``canon``
    delta log down to one row per label (``min(canon)`` — exactly the
    resolution every reader applies, so ``dedup_cluster_labels``
    output is unchanged by construction)."""
    out = {
        "labels": compact_parquet_dir(spark, f"{path}/labels", target_files)
    }
    from excel_to_database_spark.operators.io_util import maybe_read_parquet

    canon = maybe_read_parquet(spark, f"{path}/canon")
    if canon is None:
        return out
    rows_before = canon.count()
    # cut lineage so the overwrite never reads the files it replaces
    folded = checkpoint(canon.groupBy("label").agg(F.min("canon").alias("canon")), eager=True)
    try:
        rows_after = folded.count()
        if rows_after < rows_before or _n_files(spark, f"{path}/canon") > target_files:
            folded.coalesce(target_files).write.mode("overwrite").parquet(
                f"{path}/canon"
            )
            spark.catalog.refreshByPath(f"{path}/canon")
    finally:
        unpin(folded)
    out["canon"] = {"rows_before": rows_before, "rows_after": rows_after}
    return out
