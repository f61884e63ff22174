"""Local differential harness mirroring the driver's t2 gate.

For every entry in ``__spark_entry__.queries()``: run the Spark query
and the DuckDB oracle at sf0.01, compare row count, column names, and
the full multiset of values (exact equality — stricter than the
driver's hash). Exits nonzero on any mismatch.

Usage: python scripts/check_correctness.py [query_name ...]
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, "/root/repo")

import duckdb

SF_DIR = os.environ.get("CHECK_SF_DIR", "/root/testdata/sf0.01")
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def canon(val):
    if isinstance(val, float):
        if math.isnan(val):
            return "nan"
        return repr(val)
    if hasattr(val, "isoformat"):
        return val.isoformat()
    return repr(val)


def row_multiset(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = sorted(tuple(canon(r[i]) for i in order) for r in rows)
    return out


def main() -> int:
    import __spark_entry__ as entrymod
    from excel_to_database_spark.session import get_session

    only = set(sys.argv[1:])
    # isolated warehouse (the bench.py discipline): streaming queries
    # sink through saveAsTable, and the DEFAULT warehouse dir is the
    # cwd-shared spark-warehouse/ — a concurrent process executing the
    # same query (another sweep, a plan dump) writes into
    # the same physical table path and inflates this run's rowcounts
    # (observed: q204 read 184 rows vs the oracle's 113 while a
    # concurrent audit ran the same streaming body)
    import tempfile

    spark = get_session(
        "check-correctness",
        shuffle_partitions=8,
        extra_conf={
            "spark.sql.warehouse.dir": tempfile.mkdtemp(prefix="etds_check_wh_")
        },
    )
    # Silence WindowExec's unpartitioned-window WARN for THIS harness
    # only (production sessions keep it): every registered global
    # window is deliberately driver-small and documented at its site
    # (q181's |domains| rows, q167's occupied bins, q154's |buckets|
    # rows), and 69 repeats of the same non-actionable line buried
    # real warnings in the round-11 sweep log the same way the
    # first-touch stack traces once did.
    # Likewise TransformWithStateInPySparkStateServer's per-row
    # "Map state counts doesn't contain key" WARN: q150's map-state
    # exists() probes on absent keys are an expected code path (the
    # query initializes counts lazily), and 750 repeats buried the
    # round-12 sweep log.
    try:
        jvm = spark.sparkContext._jvm
        for logger in (
            "org.apache.spark.sql.execution.window.WindowExec",
            "org.apache.spark.sql.execution.python.streaming"
            ".TransformWithStateInPySparkStateServer",
        ):
            jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
                logger, jvm.org.apache.logging.log4j.Level.ERROR
            )
    except Exception:
        pass  # log4j2 API unavailable → keep the noisy-but-safe default
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    n_run = 0
    for name, fn in queries.items():
        if only and name not in only:
            continue
        n_run += 1
        try:
            sdf = fn(spark, SF_DIR)
            # sweep-level window-funnel lint (round-16 verdict #3):
            # every registered query's optimized plan is checked for
            # low-cardinality-only window partitioning — the defect
            # class six rounds migrated off one hand-enumerated
            # contract at a time. Violations fail the gate.
            from excel_to_database_spark.operators.plan_lint import (
                lint_multi_scans,
                lint_window_funnels,
            )

            for v in lint_window_funnels(sdf, name):
                failures.append((name, f"window-funnel lint: {v}"))
                print(f"FAIL {name}: window-funnel lint: {v[:200]}")
            # multi-scan lint (round-17 verdict #7): a query whose plan
            # scans a base table more than once fails the gate unless
            # its two-pass semantics are triaged into the allowlist
            for v in lint_multi_scans(sdf, name):
                failures.append((name, f"multi-scan lint: {v}"))
                print(f"FAIL {name}: multi-scan lint: {v[:200]}")
            scols = sdf.columns
            srows = sdf.collect()
        except Exception as e:
            failures.append((name, f"spark error: {e}"))
            print(f"FAIL {name}: spark error: {str(e)[:200]}")
            continue
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(srows)} rows, no oracle)")
            continue
        try:
            cur = con.execute(oracles[name])
            dcols = [d[0] for d in cur.description]
            drows = cur.fetchall()
        except Exception as e:
            failures.append((name, f"duckdb error: {e}"))
            print(f"FAIL {name}: duckdb error: {str(e)[:200]}")
            continue
        if sorted(scols) != sorted(dcols):
            failures.append((name, f"columns {sorted(scols)} vs {sorted(dcols)}"))
            print(f"FAIL {name}: columns {sorted(scols)} vs {sorted(dcols)}")
            continue
        if len(srows) != len(drows):
            failures.append((name, f"rowcount {len(srows)} vs {len(drows)}"))
            print(f"FAIL {name}: rowcount {len(srows)} vs {len(drows)}")
            continue
        sm, dm = row_multiset(scols, srows), row_multiset(dcols, drows)
        if sm != dm:
            diff = next(i for i, (a, b) in enumerate(zip(sm, dm)) if a != b)
            failures.append((name, "value mismatch"))
            print(f"FAIL {name}: first differing row #{diff}:")
            print(f"  spark : {sm[diff]}")
            print(f"  duckdb: {dm[diff]}")
            continue
        print(f"ok   {name}: {len(srows)} rows, exact match")

    print(
        f"\n{len(failures)} failures / {n_run} run ({len(queries)} registered)"
    )
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
