"""Behavioral / event-flow operators: ordered funnels, retention
cohorts, and gaps-and-islands runs over an event stream.

The reference has no event analytics at all (it is an ETL loader —
SURVEY.md §2.3 notes the only aggregations are load-report row counts,
`app/data.py:122,148`); this family is part of the engine's extension
surface over the ``events`` table.

Scale notes (100 TB):

* Every operator here shuffles on the entity key (``user_id``) and only
  on it — the funnel's per-stage joins, the cohort join, and the island
  window all reuse one hash-partitioning of the events table, so AQE
  collapses them onto a single exchange where possible.
* Funnel state per key is O(#stages) timestamps, never the event list;
  retention state is one (cohort, offset) pair per active (user, week);
  islands state is one row per active (user, day). Nothing materializes
  per-event state on the driver.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from excel_to_database_spark.operators.caching import checkpoint


def epoch_day(ts: Column | str) -> Column:
    """Calendar day as an epoch-day integer (engine-portable: DuckDB
    spells it FLOOR(EPOCH(ts)/86400))."""
    c = F.col(ts) if isinstance(ts, str) else ts
    return F.floor(F.unix_timestamp(c) / 86400).cast("bigint")


def funnel_times(
    events: DataFrame,
    key: str,
    ts: str,
    type_col: str,
    stages: list[str],
) -> list[DataFrame]:
    """Strictly-ordered funnel: stage *i+1* counts only events that
    happen after the key's stage-*i* entry time. Returns one frame per
    stage, ``(key, t_i)`` with ``t_i`` = earliest qualifying timestamp —
    each frame is the *survivor set* of that stage (a key absent from
    frame *i* never reaches stage *i*).

    Plan shape: stage 0 is a plain groupBy-min; every later stage is a
    join of the (already aggregated, per-key-unique) survivor frame back
    to the events of that stage's type, filtered to ``ts > t_prev``,
    re-aggregated to min. All joins/aggs hash on ``key`` — one logical
    partitioning reused across the whole chain, and the survivor side
    only ever shrinks.

    Every stage frame is pinned by an EAGER localCheckpoint
    (round-16): the frames are per-key bounded (one (key, t_i) row per
    survivor), and a consumer that references several stages — the
    funnel report unions one count per stage — would otherwise
    re-execute each stage's whole prefix chain once per reference
    (q116's plan held 10 events FileScans: 4+3+2+1; runtime bytes were
    13.9× one reference scan, 4 pruned per-type scans after). The
    checkpoint also means stage i+1's join reads stage i's blocks,
    never its lineage."""
    frames: list[DataFrame] = []
    cur = checkpoint(
        events.filter(F.col(type_col) == stages[0]).groupBy(key).agg(F.min(ts).alias("t_0")),
        eager=True,
    )
    frames.append(cur)
    for i, stage in enumerate(stages[1:], start=1):
        cur = checkpoint(
            events.filter(F.col(type_col) == stage)
            .join(cur.select(key, f"t_{i - 1}"), key)
            .filter(F.col(ts) > F.col(f"t_{i - 1}"))
            .groupBy(key)
            .agg(F.min(ts).alias(f"t_{i}")),
            eager=True,
        )
        frames.append(cur)
    return frames


def funnel_counts(
    events: DataFrame,
    key: str,
    ts: str,
    type_col: str,
    stages: list[str],
) -> DataFrame:
    """(stage, n_keys) — how many keys survive to each funnel stage.
    Stage labels are ``{i}_{name}`` so the natural sort is the funnel
    order."""
    frames = funnel_times(events, key, ts, type_col, stages)
    counts = [
        f.agg(F.count(F.lit(1)).alias("n_keys")).select(
            F.lit(f"{i}_{stage}").alias("stage"), "n_keys"
        )
        for i, (stage, f) in enumerate(zip(stages, frames))
    ]
    out = counts[0]
    for c in counts[1:]:
        out = out.unionByName(c)
    return out


def retention_matrix(
    events: DataFrame, key: str, ts: str, period_days: int = 7
) -> DataFrame:
    """Cohort retention: (cohort_period, period_offset, n_keys) where a
    key's cohort is the period of its first event and it is counted in
    every later period it is active in. Periods are epoch-day //
    ``period_days`` integers (engine-portable, timezone-free).

    Two aggregations, both hashed on ``key`` then on the (cohort,
    offset) pair; the distinct-(key, period) projection caps the fact
    side at one row per key-period before the count."""
    day = epoch_day(ts)
    period = F.floor(day / period_days).cast("bigint")
    first = events.groupBy(key).agg(F.min(period).alias("cohort_period"))
    active = events.select(F.col(key).alias(key), period.alias("period")).distinct()
    return (
        active.join(first, key)
        .groupBy(
            "cohort_period",
            (F.col("period") - F.col("cohort_period")).alias("period_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_keys"))
    )


def islands(events: DataFrame, key: str, ts: str) -> DataFrame:
    """Gaps-and-islands: maximal runs of consecutive active days per
    key. Returns (key, island_start_day, run_days).

    The classic row_number trick: for the distinct active days of a key,
    ``day - row_number()`` is constant exactly within a consecutive run,
    so a groupBy on it recovers the islands with one window + one agg —
    no self-join, no iteration. The window partitions by ``key`` (never
    a global sort), so it scales to any number of keys."""
    days = events.select(F.col(key), epoch_day(ts).alias("d")).distinct()
    w = Window.partitionBy(key).orderBy("d")
    grouped = days.withColumn("grp", F.col("d") - F.row_number().over(w))
    return grouped.groupBy(key, "grp").agg(
        F.min("d").alias("island_start_day"),
        F.count(F.lit(1)).alias("run_days"),
    )
