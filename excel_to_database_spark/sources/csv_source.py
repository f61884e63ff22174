"""CSV ingestion: sniff → ``spark.read.csv`` → sanitized all-string frame.

Reference semantics reproduced (SURVEY.md §2.1):
  * leading/trailing blank lines stripped before sniffing (data.py:33);
  * delimiter sniffed on a ≤10-line sample (data.py:36-40);
  * header = first row, body = rest (data.py:74-75);
  * every column is text (data.py:57-62) — the engine keeps the
    all-``StringType`` baseline, with opt-in ``infer_schema``.

Scale notes: the sniff reads only a bounded sample via
``spark.read.text(...).limit(...)`` — the full file is scanned exactly
once, by the distributed CSV reader, with Catalyst handling column
pruning and (for typed reads) filter pushdown downstream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from excel_to_database_spark.naming import sanitize_columns
from excel_to_database_spark.sources.csv_sniff import SAMPLE_LINES, sniff_delimiter


def _finalize(df: DataFrame, sanitize: bool) -> DataFrame:
    if sanitize:
        df = df.toDF(*sanitize_columns(df.columns))
    return df


def matrix_to_df(spark: SparkSession, matrix: list[list[str]], sanitize: bool = True) -> DataFrame:
    """Pre-parsed sheet matrix (header row 0) → all-string DataFrame: the
    one sheet→frame builder, for xlsx matrices and CSV payload text."""
    if not matrix:
        raise ValueError("empty sheet matrix")
    header, body = matrix[0], matrix[1:]
    ncols = len(header)
    # rectangularize, mirroring the xlsx parser's trim/pad (xlsparser.js:189-214)
    body = [[str(c) if c is not None else "" for c in (r + [""] * ncols)[:ncols]] for r in body]
    cols = sanitize_columns(header) if sanitize else [str(h) for h in header]
    return spark.createDataFrame(body, schema=", ".join(f"`{c}` string" for c in cols))


def read_csv_path(
    spark: SparkSession,
    path: str,
    delimiter: str | None = None,
    infer_schema: bool = False,
    sanitize: bool = True,
) -> DataFrame:
    """Read a CSV file/directory with delimiter sniffing.

    When ``delimiter`` is None, a ≤10-line sample is pulled through the
    distributed text reader and sniffed driver-side (only the sample is
    ever collected — never data-plane rows).
    """
    if delimiter is None:
        sample = [
            r[0]
            for r in spark.read.text(path).limit(SAMPLE_LINES).collect()
            if r[0] is not None and r[0].strip()
        ]
        delimiter = sniff_delimiter("\n".join(sample))
    df = (
        spark.read.option("header", True)
        .option("sep", delimiter)
        .option("inferSchema", infer_schema)
        .option("mode", "PERMISSIVE")
        .csv(path)
    )
    return _finalize(df, sanitize)


def read_csv_text(
    spark: SparkSession,
    text: str,
    delimiter: str | None = None,
    sanitize: bool = True,
) -> DataFrame:
    """Parse in-memory CSV text (the reference's upload-payload path,
    data.py:30-45) into an all-string DataFrame.

    Payload sheets are small by construction (they arrived in one HTTP
    request); parallelizing the lines is appropriate here and only here.
    """
    import csv as _csv
    import io as _io

    body = text.strip("\n")
    if not body:
        raise ValueError("empty CSV payload")
    if delimiter is None:
        delimiter = sniff_delimiter(body)
    rows = [r for r in _csv.reader(_io.StringIO(body), delimiter=delimiter)]
    rows = [r for r in rows if any(c.strip() for c in r)]
    if not rows:
        raise ValueError("no data rows in CSV payload")
    return matrix_to_df(spark, rows, sanitize)
