"""SparkSession factory with scale-oriented defaults.

The engine targets large clusters (100 TB-class inputs); tests run on
``local[N]``. Defaults below are the ones that matter at both scales:
AQE on (runtime re-plan, skew-join splitting, partition coalescing),
Arrow for any pandas interchange, and a shuffle-partition count that the
caller overrides per deployment.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults chosen for the local[32] test harness; a cluster deployment
# overrides via spark-submit --conf. Kept here so every entry point
# (tests, bench, driver) gets the same tuned session.
_DEFAULT_CONFS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.parquet.filterPushdown": "true",
    # let Python DataSources (the xlsx format) receive pushed filters
    "spark.sql.python.filterPushdown.enabled": "true",
    # ungrouped MIN/MAX/COUNT answered from parquet footer statistics —
    # no row scan at all (plan shows PushedAggregation)
    "spark.sql.parquet.aggregatePushdown": "true",
    # runtime bloom filters: the selective side of a join seeds a bloom
    # filter that prunes the probe side's scan (big at fact-fact scale)
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    # local mode runs driver AND all executor threads in ONE JVM —
    # this heap is the whole engine's memory. 8g left a long bench
    # session GC-thrashing once streamed results accumulated; the
    # harness machine has 128 GiB. On a real cluster the executors'
    # memory is configured by the deployment, not this default.
    "spark.driver.memory": "16g",
    "spark.ui.enabled": "false",
    # compiled whole-stage/expression classes kept for reuse. Spark's
    # default of 100 is below the engine's working set: one warm
    # analytics_mix pass (7 queries at local[4]) needs about 178
    # generated classes, q217 alone about 80, so a pass cycling through
    # them evicted every class before its next use and recompiled all
    # ~178 (~1 s of a ~5 s pass). 2000 holds that set with room to
    # spare; JVM metaspace after 5 passes read 172.1 MB at 100 and
    # 172.6 MB at 2000.
    "spark.sql.codegen.cache.maxEntries": "2000",
    # PySpark 4.1 wraps every functions.* and Column call in
    # _with_origin, which records the Python call site in the JVM (about
    # 5 py4j calls each): on a 4-vCPU host F.col("a") cost 535 us and
    # col + 1 425 us against 22 us for a bare py4j round trip, and a
    # warm query builds hundreds of column expressions. Off, an analysis
    # error names the failing expression but no longer the Python line
    # that built it.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}


def _export_pbshim_pythonpath() -> None:
    """If the real protobuf distribution is absent, put the vendored
    minimal runtime (streaming/_pbshim) on PYTHONPATH *before* the JVM
    gateway launches: ``transformWithStateInPandas``'s pre-init driver
    worker and local-mode daemon workers inherit the JVM's environment
    and do NOT process addPyFile includes, so the env var is the only
    channel that reaches them. Appended last — a real protobuf anywhere
    on the path always wins."""
    try:
        import google.protobuf

        # the shim itself may already be importable in THIS process
        # (ensure_protobuf appends it to sys.path); only a real
        # distribution makes the env export unnecessary
        if not getattr(google.protobuf, "__version__", "").endswith("etds-shim"):
            return
    except ImportError:
        pass
    shim = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "streaming", "_pbshim")
    current = os.environ.get("PYTHONPATH", "")
    if shim not in current.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{current}{os.pathsep}{shim}" if current else shim
        )


def get_session(
    app_name: str = "excel_to_database_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32)
    when no cluster master is configured — the same layout the driver's
    bench harness uses.
    """
    _export_pbshim_pythonpath()
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = SparkSession.builder.appName(app_name)
    builder = builder.master(master or f"local[{cpus}]")
    confs = dict(_DEFAULT_CONFS)
    confs["spark.sql.shuffle.partitions"] = str(
        shuffle_partitions if shuffle_partitions is not None else int(cpus)
    )
    if extra_conf:
        confs.update(extra_conf)
    for k, v in confs.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
