"""Upload-payload adapter — the engine's equivalent of the reference's
HTTP entry points (app/home.py:16-48 `/upload`, app/home.py:51-100
`/submit`).

A payload is ``{"data": {sheet_name: matrix_or_csv_text}, "type":
"xlsx"|"csv"}``; each sheet becomes an all-string DataFrame keyed by its
``sqlify``-ed table name (home.py:24-27). The legacy ``/submit`` TSV
payload (``{"name": ..., "data": tsv_text}``) is accepted too — the
engine implements the *intended* semantics of that endpoint; the
reference's handler is dead code (home.py:79-80 bugs, SURVEY.md §3.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from excel_to_database_spark.naming import sqlify
from excel_to_database_spark.sources.csv_source import matrix_to_df, read_csv_text


def load_workbook_payload(spark: SparkSession, payload: dict) -> dict[str, DataFrame]:
    """Dispatch a parsed upload payload to per-sheet DataFrames
    (home.py:24-27 semantics: csv-type values are raw text, xlsx-type
    values are matrices; table name = sqlify(sheet name))."""
    sheets = payload.get("data")
    if not isinstance(sheets, dict) or not sheets:
        raise ValueError("payload must carry a non-empty 'data' mapping")
    kind = payload.get("type", "xlsx")
    out: dict[str, DataFrame] = {}
    for sheet, value in sheets.items():
        if kind == "csv" or isinstance(value, str):
            df = read_csv_text(spark, value)
        else:
            df = matrix_to_df(spark, value)
        out[sqlify(sheet)] = df
    return out


def list_to_matrix(flat: list, n_cols: int) -> list[list]:
    """Reshape a flat cell list into an n-column matrix (the reference's
    ``list_to_matrix`` utility for VBA flat payloads, data.py:18-21)."""
    if n_cols <= 0:
        raise ValueError("n_cols must be positive")
    return [flat[i : i + n_cols] for i in range(0, len(flat), n_cols)]


def load_legacy_submit(spark: SparkSession, payload: dict) -> dict[str, DataFrame]:
    """Legacy VBA `/submit` payload: ``{"name":..., "data": tsv_text}``
    (home.py:51-100 intended behavior; TSV — tab is in the sniffer's
    candidate set, csv_sniff.py:5). A flat cell-list ``data`` with a
    ``columns`` count is reshaped via ``list_to_matrix``."""
    for field in ("name", "data"):
        if field not in payload:
            raise ValueError(f"missing field {field!r}")
    data = payload["data"]
    if isinstance(data, list):
        matrix = list_to_matrix(data, int(payload["columns"]))
        return {sqlify(payload["name"]): matrix_to_df(spark, matrix)}
    return {sqlify(payload["name"]): read_csv_text(spark, data)}
