"""CSV ingestion: sniff → ``spark.read.csv`` → sanitized all-string frame,
and the one sheet→frame builder for upload payloads.

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

Payload sheets (xlsx matrices, CSV payload text, the legacy ``/submit``
TSV or flat list) arrive in one request, are rectangularized on the
driver and handed to the JVM by ``matrix_to_df`` as one Arrow stream
(``operators.io_util.local_frame``): one ``string`` array per column
in a ``pyarrow.Table``. Under
``spark.sql.execution.arrow.localRelationThreshold`` (48 MiB by
default) Spark plans it as a ``LocalTableScan``; above it, as an RDD of
Arrow batches. Neither path starts a Python worker, so the sync's write
job reads the rows straight from the JVM.

The frame's partition count follows the sheet's bytes, not the core
count: ``ceil(table.nbytes / _PARTITION_BYTES)``, at least 1 and at most
``defaultParallelism``. A ``LocalTableScan`` would otherwise split even
a 50-row sheet into ``defaultParallelism`` partitions, and its sync
would write that many tasks and files; above the threshold it runs one
partition per Arrow batch. The frame narrows to the sized count with
``coalesce`` (no shuffle).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StringType, StructField, StructType

from excel_to_database_spark.naming import sanitize_columns
from excel_to_database_spark.operators.io_util import local_frame
from excel_to_database_spark.sources.csv_sniff import SAMPLE_LINES, sniff_delimiter

#: Arrow bytes of a payload sheet per partition (and per written file).
#: Probed at local[4] on a 4-vCPU host: on 2-12 MiB sheets, 1 MiB synced
#: 6-17 % faster than 4 MiB, alone and three at once; 256 and 512 KiB
#: gained nothing on sheets up to 2 MiB and lost with four sheets
#: syncing at once. Through Derby ``JdbcDestination`` (one connection
#: per partition) 1 MiB against the scan's 4 partitions was even on
#: single 50x4 and 2000x10 sheets and 8-16 % faster on a 3-sheet upload.
_PARTITION_BYTES = 1 << 20


def _finalize(df: DataFrame, sanitize: bool) -> DataFrame:
    if sanitize:
        df = df.toDF(*sanitize_columns(df.columns))
    return df


def matrix_to_df(spark: SparkSession, matrix: list[list[str]], sanitize: bool = True) -> DataFrame:
    """Pre-parsed sheet matrix (header row 0) → all-string DataFrame: the
    one sheet→frame builder, for xlsx matrices and CSV payload text.
    Rows may be lists or tuples."""
    if not matrix:
        raise ValueError("empty sheet matrix")
    header, body = matrix[0], matrix[1:]
    ncols = len(header)
    # rectangularize, mirroring the xlsx parser's trim/pad (xlsparser.js:189-214)
    body = [[str(c) if c is not None else "" for c in (list(r) + [""] * ncols)[:ncols]] for r in body]
    cols = sanitize_columns(header) if sanitize else [str(h) for h in header]
    arrays = [pa.array([r[i] for r in body], pa.string()) for i in range(ncols)]
    table = pa.Table.from_arrays(arrays, names=cols)
    df = local_frame(spark, table, StructType([StructField(c, StringType()) for c in cols]))
    n = min(max(1, -(-table.nbytes // _PARTITION_BYTES)), spark.sparkContext.defaultParallelism)
    # the scan never runs more partitions than rows (min(rows, cores) as a
    # local relation, one per Arrow batch above the threshold), so only
    # a sheet with more rows than n can run wider than n
    if table.num_rows > n:
        df = df.coalesce(n)
    return df


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

    The text arrived in one HTTP request, so it is parsed on the driver
    and reaches the JVM through ``matrix_to_df``'s Arrow hand-off: a
    ``LocalTableScan`` below the 48 MiB
    ``spark.sql.execution.arrow.localRelationThreshold``, an RDD of
    Arrow batches above it. Files on storage go through
    ``read_csv_path`` instead.
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
