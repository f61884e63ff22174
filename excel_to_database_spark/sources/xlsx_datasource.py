"""``spark.read.format("xlsx")`` — the Excel reader as a registered
Spark Python DataSource (pyspark.sql.datasource, Spark 4.x), so a
workbook directory reads like any first-class format:

    spark.dataSource.register(XlsxDataSource)
    df = (spark.read.format("xlsx")
          .option("sheet", "Sheet1")       # default: first sheet
          .option("visible_only", "true")  # VBA visible-only parity
          .load("/data/workbooks"))

The decode IS ``excel_source.read_excel``'s: the schema comes from the
same first-workbook header probe (``excel_spec``) and each partition
runs the same kernel (``decode_workbook``) — every workbook's own
header is mapped to the probed columns by name, a column it lacks
reads as ``""``, all columns string (reference app/data.py:57-62,
:121, :128-131). A schema given with ``.schema(...)`` renames those
columns by position, as on Spark's CSV reader with a header. This
wrapper adds only the format registration, one
InputPartition per workbook (xlsx is an unsplittable zip; a directory
parallelizes across executors) and row-level ``EqualTo`` pushdown.
"""

from __future__ import annotations

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
from pyspark.sql.types import StructType

from excel_to_database_spark.sources.excel_source import (
    decode_workbook,
    excel_spec,
    list_workbooks,
)


def _truthy(v) -> bool:
    return str(v).lower() in ("1", "true", "yes")


def _read_args(options) -> dict:
    """The ``read_excel`` keyword arguments the options carry."""
    columns = [c.strip() for c in options.get("columns", "").split(",") if c.strip()]
    return {
        "sheet": options.get("sheet"),
        "visible_only": _truthy(options.get("visible_only", "false")),
        "bug_compat_1900": _truthy(options.get("bug_compat_1900", "false")),
        "sanitize": _truthy(options.get("sanitize", "true")),
        "keep_time": _truthy(options.get("keep_time", "false")),
        "columns": tuple(columns) if columns else None,
    }


class XlsxDataSource(DataSource):
    """Format name ``xlsx``; options: ``sheet``, ``visible_only``,
    ``bug_compat_1900``, ``keep_time``, ``sanitize``, ``columns`` (all
    mirroring ``read_excel`` keyword arguments; ``columns`` is a
    comma-separated list)."""

    @classmethod
    def name(cls) -> str:
        return "xlsx"

    def schema(self) -> StructType:
        path = self.options.get("path")
        if not path:
            raise ValueError("xlsx datasource requires a path")
        return excel_spec(path, **_read_args(self.options)).schema()

    def reader(self, schema: StructType) -> "XlsxReader":
        # Spark REFUSES a reader that implements pushFilters while
        # spark.sql.python.filterPushdown.enabled is false (off by
        # default; get_session turns it on) — pick the reader class by
        # the active session's setting so the format works either way
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        enabled = (
            spark is not None
            and str(
                spark.conf.get("spark.sql.python.filterPushdown.enabled", "false")
            ).lower()
            == "true"
        )
        cls = XlsxPushdownReader if enabled else XlsxReader
        return cls(schema, self.options)


class XlsxReader(DataSourceReader):
    def __init__(self, schema: StructType, options: dict):
        self.schema = schema
        self.options = options
        self.spec = excel_spec(options["path"], **_read_args(options))
        self._pushed: list = []

    def partitions(self) -> list[InputPartition]:
        # one partition per workbook — the natural task granule for an
        # unsplittable zip container
        return [InputPartition(p) for p in list_workbooks(self.options["path"])]

    def read(self, partition: InputPartition):
        with open(partition.value, "rb") as f:
            rows = decode_workbook(f.read(), self.spec)
        # the schema applies by position, as a user schema does on
        # Spark's CSV reader with a header: slot i is the i-th header
        # (or ``columns``) column, "" past the last; a pushed filter
        # tests that slot — the value Catalyst would see
        width = len(self.schema.fields)
        pad = ("",) * (width - len(self.spec.out_cols))
        pos = {f.name: i for i, f in enumerate(self.schema.fields)}
        checks = [(pos[c], v) for c, v in self._pushed]
        for r in rows:
            out = (r + pad)[:width]
            if all(out[i] == v for i, v in checks):
                yield out


class XlsxPushdownReader(XlsxReader):
    """:class:`XlsxReader` plus row-level filter pushdown
    (``DataSourceReader.pushFilters``, Spark 4.1). A separate class
    because Spark rejects any reader that merely DEFINES pushFilters
    while ``spark.sql.python.filterPushdown.enabled`` is false —
    ``XlsxDataSource.reader`` picks the class by the live setting."""

    def pushFilters(self, filters):
        """EqualTo on a top-level column with a string value is
        evaluated inside the decoder loop, so filtered rows are never
        materialized into Arrow batches. Every column of this source
        is a decoded string, so string equality here is EXACTLY
        Catalyst's semantics — non-string values (whose implicit
        casts belong to Catalyst) and every other predicate shape are
        returned for Spark to evaluate post-scan. Column PRUNING has
        no such hook in the Python DataSource API; that remains the
        explicit ``columns`` option."""
        from pyspark.sql.datasource import EqualTo

        names = {f.name for f in self.schema.fields}
        for f in filters:
            if (
                isinstance(f, EqualTo)
                and len(f.attribute) == 1
                and f.attribute[0] in names
                and isinstance(f.value, str)
            ):
                self._pushed.append((f.attribute[0], f.value))
            else:
                yield f
