"""Shared plumbing for the oracle-tested query inventory.

Cross-engine determinism rules (every query obeys these so the driver's
order-insensitive value hash matches exactly, not just approximately):

  * **Sums of doubles go through decimal.** ``SUM(double)`` is
    order-dependent in the last ulp; both engines instead compute
    ``CAST(SUM(CAST(expr AS DECIMAL(30,6))) AS DOUBLE)``. Decimal
    addition is exact and commutative, the double→decimal cast rounds
    half-up in both engines (ties are impossible — no dyadic double has
    a decimal expansion ending in …5 at scale 6), so results are
    bit-identical regardless of partitioning.
  * **Averages are sum/count**, with the sum built as above: identical
    double ÷ identical bigint → identical double.
  * **Per-row arithmetic stays in double** — IEEE 754 ops are
    deterministic and engine-independent for identical inputs.
  * **Date-like outputs are formatted to strings** so timezone/object
    representation differences can't leak into the comparison.
  * **Every LIMIT/top-k has a unique tiebreaker column** in its sort.
  * Column names are aliased identically on both sides (the driver
    sorts columns by name before hashing).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from excel_to_database_spark.operators.io_util import read_parquet

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    """Register a (Spark query, SQL oracle) pair. ``oracle=None`` marks a
    genuinely non-SQL-expressible op (driver falls back to a rows-only
    check)."""

    def deco(fn):
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            # pin the session timezone: the oracles treat the parquet's
            # naive timestamps as UTC wall-clock; a driver session
            # inheriting a non-UTC JVM default would shift every
            # unix_timestamp/date_format by the zone offset
            spark.conf.set("spark.sql.session.timeZone", "UTC")
            return fn(spark, sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        QUERIES[name] = wrapped
        if oracle is not None:
            ORACLES[name] = oracle
        return wrapped

    return deco


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table. Plain parquet scan → Catalyst gets full
    pushdown/pruning; never cached, never collected. The file is opened
    through :func:`~excel_to_database_spark.operators.io_util.read_parquet`:
    its schema is inferred by a Spark job on the first open only, and a
    later open of the unchanged file under the same parquet confs reads
    with that schema, so a warm query runs no inference job.

    ``events.ts`` may be written as TIMESTAMP(NANOS), which Spark refuses
    by default: read nanos as long and truncate to microsecond timestamps —
    the same ns→µs truncation DuckDB applies, so both engines see
    identical instants."""
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = read_parquet(spark, f"{sf_dir}/{name}.parquet")
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return df
    return read_parquet(spark, f"{sf_dir}/{name}.parquet")


def register_views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    """Temp views for spark.sql()-phrased queries."""
    for n in names or TABLES:
        t(spark, sf_dir, n).createOrReplaceTempView(n)


def dsum(expr: Column | str, alias: str) -> Column:
    """Order-independent double sum (see module docstring)."""
    c = F.col(expr) if isinstance(expr, str) else expr
    return F.sum(c.cast("decimal(30,6)")).cast("double").alias(alias)


def davg(expr: Column | str, alias: str) -> Column:
    c = F.col(expr) if isinstance(expr, str) else expr
    return (
        F.sum(c.cast("decimal(30,6)")).cast("double") / F.count(F.lit(1))
    ).alias(alias)


# SQL-side counterparts (DuckDB syntax == ANSI here)
def sql_dsum(expr: str, alias: str) -> str:
    return f"CAST(SUM(CAST(({expr}) AS DECIMAL(30,6))) AS DOUBLE) AS {alias}"


def sql_davg(expr: str, alias: str) -> str:
    return (
        f"CAST(SUM(CAST(({expr}) AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*) AS {alias}"
    )
