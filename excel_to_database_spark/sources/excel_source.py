"""Distributed Excel reader: ``binaryFile`` scan → per-executor decode.

The workbook bytes are read by Spark's binary-file source and decoded by
``decode_workbook`` inside ``mapInPandas`` — one task per workbook (xlsx
is an unsplittable zip, format-capped at ~1M rows, so a file is the
right task granule; a *directory* of workbooks parallelizes across
executors, which is the scale path). The driver only ever opens one
file's header to fix the schema — never data rows.

The one decode contract, shared with ``spark.read.format("xlsx")``
(``xlsx_datasource``): the output columns come from the first
workbook's header; every workbook is then decoded against ITS OWN
header row, mapped to those columns by name, so a directory may mix
column orders and a column a workbook lacks reads as ``""``.

Parity notes: header = row 0 promoted to sanitized column names and
mapped to table columns by name (reference app/data.py:121, :128-131,
:24-27); all columns ``StringType`` (data.py:57-62); ``visible_only``
mirrors the VBA visible-only submission (VBA/Excel2Database.vb:46-88).
"""

from __future__ import annotations

import glob as _glob
import os as _os
from collections.abc import Iterator
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StringType, StructField, StructType

from excel_to_database_spark.naming import sanitize_columns
from excel_to_database_spark.sources.xlsx_core import WorkbookReader


def sheet_names(path: str) -> list[str]:
    """Enumerate sheets of a local workbook (driver-side, metadata only)."""
    with open(path, "rb") as f:
        return WorkbookReader(f.read()).sheet_names()


def list_workbooks(path: str) -> list[str]:
    """The workbooks under ``path`` (a file, glob, or directory), sorted."""
    pattern = _os.path.join(path, "*.xlsx") if _os.path.isdir(path) else path
    return sorted(_glob.glob(pattern)) or [path]


@dataclass(frozen=True)
class ExcelSpec:
    """One read: the ``read_excel`` arguments plus the output columns
    (the header's names, or the ``columns`` a pruned read asked for)."""

    out_cols: tuple[str, ...]
    sheet: str | None = None
    visible_only: bool = False
    bug_compat_1900: bool = False
    sanitize: bool = True
    keep_time: bool = False
    times: bool = False

    def schema(self) -> StructType:
        return StructType([StructField(c, StringType()) for c in self.out_cols])


def _names(header: list[str], sanitize: bool) -> list[str]:
    return sanitize_columns(header) if sanitize else [str(h) for h in header]


def excel_spec(
    path: str,
    sheet: str | None = None,
    visible_only: bool = False,
    bug_compat_1900: bool = False,
    sanitize: bool = True,
    keep_time: bool = False,
    times: bool = False,
    columns: list[str] | tuple[str, ...] | None = None,
) -> ExcelSpec:
    """Fix the output columns from the first workbook's header. A
    bounded probe: ONE row is parsed, not the whole sheet, so driver
    work stays O(1) regardless of workbook size."""
    found = list_workbooks(path)
    first = next((p for p in found if p.endswith(".xlsx")), found[0])
    with open(first, "rb") as f:
        rdr = WorkbookReader(f.read(), bug_compat_1900)
    name = sheet or rdr.sheet_names()[0]
    header, _ = rdr.sheet_columns(name, visible_only)
    if not header:
        raise ValueError(f"sheet {name!r} of {first} is empty")
    cols = _names(header, sanitize)
    if columns is not None:
        missing = [c for c in columns if c not in cols]
        if missing:
            raise ValueError(f"columns {missing} not in sheet columns {cols}")
    out_cols = tuple(cols if columns is None else columns)
    return ExcelSpec(out_cols, sheet, visible_only, bug_compat_1900, sanitize, keep_time, times)


def decode_workbook(content: bytes, spec: ExcelSpec) -> list[tuple]:
    """Decode one workbook's body rows into ``spec.out_cols`` — the one
    kernel both Excel front ends run on their executors. The sheet
    (default: this workbook's first) is mapped by THIS workbook's own
    header, taken with the one-row probe (the reader keeps the part,
    so it is decompressed once): each output column takes the header
    position of the same name
    (the k-th repeat of a name takes the k-th header of that name, or
    the last one there is), and a column the header lacks yields
    ``""``. Only the mapped columns' cells are value-decoded."""
    rdr = WorkbookReader(bytes(content), spec.bug_compat_1900, spec.keep_time, spec.times)
    sheet = spec.sheet or rdr.sheet_names()[0]
    header, raw_cols = rdr.sheet_columns(sheet, spec.visible_only)
    slots: dict[str, list[int]] = {}
    for i, c in enumerate(_names(header, spec.sanitize)):
        slots.setdefault(c, []).append(i)
    n = len(header)  # slot n of a padded row is the missing column's ""
    idx = []
    for c in spec.out_cols:
        s = slots.get(c, [n])
        idx.append(s.pop(0) if len(s) > 1 else s[0])
    matrix = rdr.read_sheet(
        sheet, spec.visible_only, want_cols={raw_cols[i] for i in idx if i < n}
    )
    return [
        tuple(padded[i] for i in idx)
        for r in matrix[1:]
        for padded in ((r + [""] * n)[:n] + [""],)
    ]


def read_excel(
    spark: SparkSession,
    path: str,
    sheet: str | None = None,
    visible_only: bool = False,
    bug_compat_1900: bool = False,
    sanitize: bool = True,
    keep_time: bool = False,
    times: bool = False,
    columns: list[str] | None = None,
) -> DataFrame:
    """Read one sheet (by name; default first) from ``path`` — a file,
    glob, or directory of .xlsx files — as an all-string DataFrame. The
    columns are the first workbook's header; each workbook's own header
    is mapped to them by name, so workbooks may order their columns
    differently, and a column a workbook lacks reads as ``""``.
    ``keep_time`` renders date-styled cells with their time-of-day
    (engine extension; the reference drops it). ``times`` additionally
    decodes TIME-of-day numFmts (builtin ids 18-21/45-47 and custom h/s
    codes) as ``HH:MM:SS`` — a documented divergence from the
    reference, which skips times entirely (xlsparser.js:52); off by
    default for byte-parity. Combine with ``promote_temporal_columns``
    for typed Date/Timestamp output.

    ``columns`` is column pruning pushed INTO the decoder: only the
    named (post-sanitize) columns have their cells value-decoded —
    pruned columns skip shared-string dereference and date/number
    rendering inside ``read_sheet`` — and the result carries exactly
    those columns, in the requested order. A downstream ``.select``
    cannot reach inside ``mapInPandas`` (and the Python DataSource API
    has no column-pruning hook yet, SURVEY §4.2), so projection over
    wide workbooks should be declared here."""
    spec = excel_spec(
        path, sheet, visible_only, bug_compat_1900, sanitize, keep_time, times, columns
    )
    out_cols = list(spec.out_cols)

    def decode(batches) -> Iterator:
        import pandas as pd

        for pdf in batches:
            for content in pdf["content"]:
                body = decode_workbook(content, spec)
                yield pd.DataFrame(body, columns=out_cols, dtype=str) if body else pd.DataFrame(
                    {c: pd.Series(dtype=str) for c in out_cols}
                )

    files = spark.read.format("binaryFile").option("pathGlobFilter", "*.xlsx").load(path)
    return files.select("content").mapInPandas(decode, schema=spec.schema())


def promote_temporal_columns(
    df: DataFrame, columns: list[str] | None = None
) -> DataFrame:
    """Opt-in typed promotion over the all-string Excel read: string
    columns whose every non-empty value is a rendered date
    (``YYYY-MM-DD`` → DateType), datetime (``YYYY-MM-DD HH:MM:SS`` →
    TimestampType) or time-of-day (``HH:MM:SS`` → TimestampType on
    1970-01-01) are cast; mixed or free-text columns stay strings.
    This is the Date/Timestamp surface the reference never offers (it
    emits display strings and skips times, xlsparser.js:52) — kept OUT
    of read_excel's default path so default output stays byte-parity.

    One aggregate pass classifies ALL candidate columns together
    (per-column match counts vs non-empty counts — no per-column
    jobs); the casts themselves are plain Catalyst expressions, so
    pushdown/pruning on the promoted frame behave like any typed
    source."""
    from pyspark.sql import functions as F

    date_re = r"^\d{4}-\d{2}-\d{2}$"
    dt_re = r"^\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}$"
    time_re = r"^\d{2}:\d{2}:\d{2}$"
    cand = [
        c for c in (columns if columns is not None else df.columns)
        if dict(df.dtypes).get(c) == "string"
    ]
    if not cand:
        return df

    def cnt(cond):
        return F.sum(F.when(cond, 1).otherwise(0))

    aggs = []
    for c in cand:
        col, ne = F.col(c), F.col(c) != ""
        aggs += [
            cnt(ne & col.isNotNull()).alias(f"{c}__n"),
            cnt(col.rlike(date_re)).alias(f"{c}__d"),
            cnt(col.rlike(dt_re)).alias(f"{c}__dt"),
            cnt(col.rlike(time_re)).alias(f"{c}__t"),
        ]
    stats = df.agg(*aggs).collect()[0]

    out = []
    for c in df.columns:
        if c not in cand or stats[f"{c}__n"] == 0:
            out.append(F.col(c))
            continue
        n = stats[f"{c}__n"]
        empty_as_null = F.when(F.col(c) == "", None).otherwise(F.col(c))
        if stats[f"{c}__d"] == n:
            out.append(F.to_date(empty_as_null).alias(c))
        elif stats[f"{c}__dt"] == n:
            out.append(F.to_timestamp(empty_as_null).alias(c))
        elif stats[f"{c}__t"] == n:
            out.append(
                F.to_timestamp(
                    F.concat(F.lit("1970-01-01 "), empty_as_null)
                ).alias(c)
            )
        else:
            out.append(F.col(c))
    return df.select(*out)
