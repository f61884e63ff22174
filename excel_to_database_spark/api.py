"""Engine front door — the reference's `/upload` request semantics
(app/home.py:16-48) as a library call.

``upload`` takes the same payload shape the reference's browser client
posts (``{"data": {sheet: matrix|csv_text}, "type": "xlsx"|"csv"}``),
loads each sheet, syncs it through the destination policy, and returns
the reference's response shape: per-sheet messages on success
(home.py:36-44), ``{"error": str(e)}`` on failure (home.py:45-48).

Each sheet writes its own table, so one request syncs its sheets
concurrently (``concurrency.overlap_builds``); the messages keep the
payload's sheet order. A failure differs from the reference, which
stops at the first failing sheet: every sheet is attempted, the sheets
that load stay loaded, and ``error`` carries the error of the first
failing sheet in payload order."""

from __future__ import annotations

from functools import partial

from pyspark.sql import SparkSession

from excel_to_database_spark.operators.concurrency import overlap_builds
from excel_to_database_spark.sources.payload import (
    load_legacy_submit,
    load_workbook_payload,
)
from excel_to_database_spark.sync.sinks import Destination, sync_table


def upload(
    spark: SparkSession,
    payload: dict,
    destination: Destination | None = None,
    path: str | None = None,
) -> dict:
    """Process an upload payload end-to-end. Returns
    ``{"messages": [...]}`` or ``{"error": "..."}``."""
    try:
        sheets = load_workbook_payload(spark, payload)
        reports = overlap_builds(
            *[partial(sync_table, df, table_name, destination, path) for table_name, df in sheets.items()]
        )
        return {"messages": [r.message() for r in reports]}
    except Exception as e:  # reference behavior: any failure → error body
        return {"error": str(e)}


def submit_legacy(
    spark: SparkSession,
    payload: dict,
    destination: Destination | None = None,
    path: str | None = None,
) -> str:
    """Legacy `/submit` entry: single table, plain-text response
    (home.py:51-100 intended behavior)."""
    sheets = load_legacy_submit(spark, payload)
    [(table_name, df)] = sheets.items()
    return sync_table(df, table_name, destination, path).message()
