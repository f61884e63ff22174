"""Upsert (MERGE INTO) and SCD2 history — emulated with pure DataFrame
ops since transactional formats (Delta/Iceberg) aren't on the
classpath: anti-join + union for merge, window-closed validity
intervals for SCD2. Each apply is one rewrite of the target table —
the classic pre-lakehouse warehouse pattern, and the incremental
counterpart of the reference's truncate/recreate-only sync.

Scale notes: both operations shuffle once on the merge key; the
rewrite is partition-parallel. With a date/tenant-partitioned target
(LocalDestination.partition_by) only touched partitions need
rewriting — dynamic partition overwrite is the natural extension.

The rewrite stages through a temp TABLE (not ``localCheckpoint``):
executor block-storage materialization of the full merged frame does
not survive executor loss and double-buffers the table in memory/disk
of the running job; a temp parquet table is spill-safe,
partition-parallel, and leaves the final ``INSERT OVERWRITE`` reading
from stable storage instead of the table it is replacing."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from excel_to_database_spark.operators.io_util import local_frame


def _rewrite_via_temp(
    spark: SparkSession,
    target_table: str,
    merged: DataFrame,
    dynamic_partitions: bool = False,
) -> None:
    """Overwrite ``target_table`` with ``merged`` without ever reading
    and writing the same files in one job: stage to a temp table, then
    ``insertInto`` from the temp scan. ``dynamic_partitions`` scopes
    partitionOverwriteMode=dynamic to this one write: the session conf
    is snapshot and restored in a ``finally`` (the DataFrameWriter
    option spelling is ignored by ``insertInto``), so concurrent later
    writes in the shared session keep their own semantics."""
    tmp = target_table + "__rewrite_tmp"
    conf_key = "spark.sql.sources.partitionOverwriteMode"
    spark.sql(f"DROP TABLE IF EXISTS {tmp}")
    merged.write.mode("overwrite").saveAsTable(tmp)
    before = spark.conf.get(conf_key)
    try:
        if dynamic_partitions:
            spark.conf.set(conf_key, "dynamic")
        spark.table(tmp).write.mode("overwrite").insertInto(target_table)
    finally:
        spark.conf.set(conf_key, before)
        spark.sql(f"DROP TABLE IF EXISTS {tmp}")


def merge_upsert(
    spark: SparkSession,
    target_table: str,
    updates: DataFrame,
    key: str | list[str],
    partition_col: str | None = None,
) -> None:
    """MERGE semantics: update rows whose key matches, insert the rest.
    ``updates`` must share the target's schema.

    With ``partition_col`` (a hive-partitioned target), only the
    partitions present in ``updates`` are read and rewritten — dynamic
    partition overwrite. At fact-table scale this turns a full-table
    rewrite into one proportional to the touched partitions."""
    keys = [key] if isinstance(key, str) else list(key)
    target = spark.table(target_table)
    if partition_col:
        # bounded driver collect: distinct partition VALUES, not rows
        parts = [r[0] for r in updates.select(partition_col).distinct().collect()]
        target = target.filter(F.col(partition_col).isin(parts))
    kept = target.join(updates.select(*keys), keys, "left_anti")
    merged = kept.unionByName(updates.select(*target.columns))
    _rewrite_via_temp(
        spark, target_table, merged, dynamic_partitions=bool(partition_col)
    )


SCD2_COLS = ("valid_from", "valid_to", "is_current")


def scd2_apply(
    spark: SparkSession,
    target_table: str,
    updates: DataFrame,
    key: str | list[str],
    effective_ts: str,
) -> None:
    """Slowly-changing-dimension type 2: instead of overwriting matched
    rows, close their validity interval (``valid_to`` = the update's
    effective timestamp) and append the new versions as current.

    Target schema = business columns + (valid_from, valid_to,
    is_current); ``scd2_init`` builds it from a plain frame."""
    keys = [key] if isinstance(key, str) else list(key)
    target = spark.table(target_table)
    biz_cols = [c for c in target.columns if c not in SCD2_COLS]

    # the existing current row closes when the FIRST incoming version
    # becomes effective (intervals must not overlap; later versions in
    # the same batch chain among themselves below)
    eff = (
        updates.groupBy(*keys)
        .agg(F.min(F.col(effective_ts)).alias("__eff"))
    )
    closed = (
        target.join(eff, keys, "left")
        .withColumn(
            "valid_to",
            F.when(F.col("is_current") & F.col("__eff").isNotNull(), F.col("__eff"))
            .otherwise(F.col("valid_to")),
        )
        .withColumn(
            "is_current",
            F.when(F.col("__eff").isNotNull(), F.lit(False)).otherwise(
                F.col("is_current")
            ),
        )
        .drop("__eff")
    )
    # a batch may carry several versions of one key: chain them — each
    # version's valid_to is the next version's effective ts, only the
    # last is current
    from pyspark.sql.window import Window

    w = Window.partitionBy(*keys).orderBy(F.col(effective_ts).cast("timestamp"))
    fresh = (
        updates.withColumn("valid_from", F.col(effective_ts).cast("timestamp"))
        .withColumn("valid_to", F.lead("valid_from").over(w))
        .withColumn("is_current", F.col("valid_to").isNull())
        .select(*biz_cols, "valid_from", "valid_to", "is_current")
    )
    out = closed.select(*target.columns).unionByName(fresh.select(*target.columns))
    _rewrite_via_temp(spark, target_table, out)


def scd2_init(df: DataFrame, effective_ts: str) -> DataFrame:
    """Wrap a plain frame as the initial SCD2 state (all rows current)."""
    return df.select(
        "*",
        F.col(effective_ts).cast("timestamp").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )


def compact_table(spark: SparkSession, table: str, target_partitions: int) -> None:
    """Small-files compaction: rewrite ``table`` into
    ``target_partitions`` output files through the same temp-table
    staging as the merge path (never reading and overwriting the same
    files in one job). At warehouse scale this is the maintenance job
    that keeps per-scan task counts proportional to data volume rather
    than to ingest history."""
    _rewrite_via_temp(spark, table, spark.table(table).repartition(target_partitions))


def table_diff(
    old: DataFrame,
    new: DataFrame,
    keys: list[str],
    compare: list[str] | None = None,
) -> DataFrame:
    """Row-level diff between two snapshots of the same table — the
    inspection tool behind every CDC/merge decision ('what actually
    changed between yesterday's load and today's?'): one row per key
    present in either snapshot whose content differs, with
    ``change ∈ {added, removed, changed}`` and the (name-sorted,
    comma-joined) list of changed columns. Unchanged keys are
    filtered out before anything wide is materialized.

    ``compare`` defaults (when None) to the non-key columns present
    in BOTH snapshots (a column added/dropped from the schema is
    schema evolution, not row drift — diff it by name, not here); an
    explicit empty list means a keys-only presence diff
    (added/removed classification, never 'changed'). Value AND key
    comparison are null-safe (NULL↔NULL matches, NULL↔value is a
    change), so composite keys with nullable components classify
    correctly; row presence is tracked by explicit per-side marker
    columns (dunder-named so no ``_o_``-prefixed data column can
    collide) rather than key-null sniffing. Plan: ONE full outer join
    on the key — shuffle-hash / sort-merge on the key columns at
    scale, no windows, no second pass; the changed-columns string is
    a codegen'd concat of CASE marks, so the diff costs exactly one
    join over the two scans."""
    if compare is None:
        compare = sorted(
            (set(old.columns) & set(new.columns)) - set(keys)
        )
    o = old.select(
        *[F.col(k).alias(f"_ko_{k}") for k in keys],
        *[F.col(c).alias(f"_o_{c}") for c in compare],
        F.lit(True).alias("__etds_in_old__"),
    )
    n = new.select(
        *[F.col(k).alias(f"_kn_{k}") for k in keys],
        *[F.col(c).alias(f"_n_{c}") for c in compare],
        F.lit(True).alias("__etds_in_new__"),
    )
    cond = None
    for k in keys:
        eq = F.col(f"_ko_{k}").eqNullSafe(F.col(f"_kn_{k}"))
        cond = eq if cond is None else (cond & eq)
    j = o.join(n, cond, "full_outer")
    in_old = F.col("__etds_in_old__").isNotNull()
    in_new = F.col("__etds_in_new__").isNotNull()
    marks = [
        F.when(
            ~F.col(f"_o_{c}").eqNullSafe(F.col(f"_n_{c}")), F.lit(c)
        )
        for c in compare  # `compare` is sorted -> names join in order
    ]
    changed_cols = F.concat_ws(",", *marks) if marks else F.lit("")
    change = (
        F.when(~in_old, "added")
        .when(~in_new, "removed")
        .when(changed_cols != "", "changed")
    )
    out_keys = [
        F.coalesce(F.col(f"_ko_{k}"), F.col(f"_kn_{k}")).alias(k)
        for k in keys
    ]
    return (
        j.select(
            *out_keys,
            change.alias("change"),
            F.when(in_old & in_new, changed_cols)
            .otherwise(F.lit(""))
            .alias("changed_cols"),
        )
        .filter(F.col("change").isNotNull())
    )


def schema_diff(old: DataFrame, new: DataFrame) -> DataFrame:
    """Schema-evolution companion to :func:`table_diff`: one row per
    column added, removed, or type-changed between two snapshots —
    the check a sync job runs BEFORE attempting a row diff or merge
    (a type change makes row comparison meaningless; the reference's
    truncate-vs-drop policy is exactly a schema-drift decision).
    Driver-side metadata only (no job runs); returned as a DataFrame
    so reports compose with the row-diff output."""
    o = {f.name: f.dataType.simpleString() for f in old.schema.fields}
    n = {f.name: f.dataType.simpleString() for f in new.schema.fields}
    rows = []
    for c in sorted(o.keys() | n.keys()):
        if c not in n:
            rows.append((c, "removed", o[c], None))
        elif c not in o:
            rows.append((c, "added", None, n[c]))
        elif o[c] != n[c]:
            rows.append((c, "type_changed", o[c], n[c]))
    return local_frame(
        old.sparkSession,
        rows,
        "column string, change string, old_type string, new_type string",
    )
