import os

from pyspark.sql.types import StringType, StructField, StructType

from excel_to_database_spark.sources.csv_source import read_csv_path, read_csv_text
from excel_to_database_spark.sources.payload import (
    load_legacy_submit,
    load_workbook_payload,
    matrix_to_df,
)


def test_read_csv_text_header_promotion(spark):
    df = read_csv_text(spark, "\n\nName,Order Date!\nalice,2021-01-01\nbob,2021-01-02\n\n")
    assert df.columns == ["Name", "OrderDate"]
    rows = sorted(r["Name"] for r in df.collect())
    assert rows == ["alice", "bob"]
    assert all(t == "string" for _, t in df.dtypes)


def test_read_csv_text_sniffs_pipe_and_pads_short_rows(spark):
    # explicit delimiter: ragged body rows are padded to the header width
    df = read_csv_text(spark, "a|b|c\n1|2|3\n4|5", delimiter="|")
    assert df.columns == ["a", "b", "c"]
    short = [r for r in df.collect() if r["a"] == "4"][0]
    assert short["c"] == ""
    # sniffed: rectangular sample → '|' detected
    df2 = read_csv_text(spark, "a|b|c\n1|2|3\n4|5|6")
    assert df2.columns == ["a", "b", "c"]


def test_read_csv_path_sniffed(spark, tmp_path):
    p = tmp_path / "t.csv"
    p.write_text("x;y\n1;2\n3;4\n")
    df = read_csv_path(spark, str(p))
    assert df.columns == ["x", "y"]
    assert df.count() == 2


def test_matrix_to_df(spark):
    df = matrix_to_df(spark, [["Col A", "Col A", "n"], ["1", "2", "3"], ["4", "5"]])
    assert df.columns == ["ColA", "ColA_2", "n"]
    assert df.count() == 2


def _strings(*names):
    return StructType([StructField(n, StringType(), True) for n in names])


def test_matrix_to_df_cells_rows_and_headers(spark):
    """Cells become ``str(c)`` (``None`` → ``""``), rows are padded or
    trimmed to the header width, and every column is a nullable string."""
    df = matrix_to_df(spark, [["a", "b c", "d"], [1.0, True, None], ["x"], ["1", "2", "3", "4"]])
    assert df.schema == _strings("a", "bc", "d")
    assert [tuple(r) for r in df.collect()] == [
        ("1.0", "True", ""),
        ("x", "", ""),
        ("1", "2", "3"),
    ]
    # header-only sheet: zero rows of the same schema
    empty = matrix_to_df(spark, [["a", "b c"]])
    assert empty.schema == _strings("a", "bc")
    assert empty.collect() == []
    # sanitize=False keeps duplicate headers as they are
    dup = matrix_to_df(spark, [["x", "x", 3], ["1", "2", "3"]], sanitize=False)
    assert dup.schema == _strings("x", "x", "3")
    assert [tuple(r) for r in dup.collect()] == [("1", "2", "3")]


def test_matrix_to_df_accepts_tuple_rows(spark):
    df = matrix_to_df(spark, [("a", "b"), ("1",), ("2", "3", "4")])
    assert df.schema == _strings("a", "b")
    assert [tuple(r) for r in df.collect()] == [("1", ""), ("2", "3")]


def test_payload_frames_plan_as_local_table_scan(spark):
    """Every payload entry point hands its sheet to the JVM as Arrow
    data: the frame plans as a LocalTableScan, not a scan of a pickled
    Python RDD."""
    frames = [
        *load_workbook_payload(spark, {"data": {"m": [["h1", "h2"], ["a", "b"]]}}).values(),
        *load_workbook_payload(spark, {"data": {"c": "p;q\n1;2"}, "type": "csv"}).values(),
        *load_legacy_submit(spark, {"name": "t", "data": "a\tb\n1\t2"}).values(),
        *load_legacy_submit(spark, {"name": "f", "columns": 2, "data": ["h1", "h2", "a", "b"]}).values(),
    ]
    for df in frames:
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan


def _partitions(df):
    return df._jdf.rdd().getNumPartitions()


def test_small_payload_sheet_plans_one_partition(spark):
    """A payload sheet far below the per-partition byte target is one
    partition, narrowed from the scan's defaultParallelism without a
    shuffle."""
    matrix = [["a", "b", "c", "d"]] + [[f"v{r}_{c}" for c in range(4)] for r in range(50)]
    df = matrix_to_df(spark, matrix)
    assert _partitions(df) == 1
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "Exchange" not in plan, plan
    assert df.count() == 50


def test_large_payload_sheet_fans_out_by_bytes(spark):
    """A sheet above the byte target gets one partition per started
    target, never more than defaultParallelism."""
    from excel_to_database_spark.sources.csv_source import _PARTITION_BYTES

    cores = spark.sparkContext.defaultParallelism
    cell = "x" * 1000

    def sheet(targets):
        rows = int(targets * _PARTITION_BYTES / (4 * len(cell)))
        return rows, matrix_to_df(spark, [["a", "b", "c", "d"]] + [[cell] * 4] * rows)

    for targets, want in ((2.5, min(3, cores)), (cores + 1.5, cores)):
        rows, df = sheet(targets)
        assert _partitions(df) == want, (targets, _partitions(df))
        assert df.count() == rows
    # above the local-relation threshold the scan runs one partition per
    # Arrow batch (here 15); the frame still runs at most defaultParallelism
    conf = {
        "spark.sql.execution.arrow.localRelationThreshold": "0",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "100",
    }
    saved = {k: spark.conf.get(k) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        rows, df = sheet(cores + 1.5)
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    assert "LocalTableScan" not in plan, plan
    assert _partitions(df) == cores and df.count() == rows


def test_payload_dispatch_xlsx_and_csv(spark):
    out = load_workbook_payload(
        spark,
        {
            "data": {
                "My Sheet (1)": [["h1", "h2"], ["a", "b"]],
                "other.csv": "p,q\n1,2",
            },
            "type": "xlsx",
        },
    )
    assert set(out) == {"my_sheet_1_", "other_csv"}
    assert out["my_sheet_1_"].columns == ["h1", "h2"]
    assert out["other_csv"].count() == 1


def test_legacy_submit_tsv(spark):
    out = load_legacy_submit(spark, {"name": "Legacy Tab", "data": "a\tb\n1\t2\n3\t4"})
    assert list(out) == ["legacy_tab"]
    assert out["legacy_tab"].count() == 2


def test_legacy_submit_flat_list(spark):
    out = load_legacy_submit(
        spark,
        {"name": "Flat", "columns": 2, "data": ["h1", "h2", "a", "b", "c", "d"]},
    )
    df = out["flat"]
    assert df.columns == ["h1", "h2"]
    assert sorted(map(tuple, df.collect())) == [("a", "b"), ("c", "d")]


def test_read_csv_path_infer_schema(spark, tmp_path):
    p = tmp_path / "typed.csv"
    p.write_text("id,amount\n1,10.5\n2,20.25\n")
    df = read_csv_path(spark, str(p), infer_schema=True)
    types = dict(df.dtypes)
    assert types["id"] in ("int", "bigint") and types["amount"] == "double"
    # default stays all-string (reference parity)
    df2 = read_csv_path(spark, str(p))
    assert all(t == "string" for _, t in df2.dtypes)


def test_xlsx_datasource_format(spark, tmp_path):
    """spark.read.format('xlsx'): the reader registered as a first-class
    Spark data source — schema from one driver-side header probe, one
    input partition per workbook, values identical to read_excel."""
    from excel_to_database_spark.sources.excel_source import read_excel
    from excel_to_database_spark.sources.xlsx_datasource import XlsxDataSource
    from tests.helpers_xlsx import build_xlsx

    d = tmp_path / "books"
    d.mkdir()
    for i in range(3):
        blob = build_xlsx(
            {"Sheet1": [["Name", "Qty"], [f"row{i}a", str(i)], [f"row{i}b", str(i * 10)]]}
        )
        (d / f"wb{i}.xlsx").write_bytes(blob)

    spark.dataSource.register(XlsxDataSource)
    df = spark.read.format("xlsx").load(str(d))
    assert df.columns == read_excel(spark, str(d)).columns
    assert df.rdd.getNumPartitions() == 3
    got = sorted(map(tuple, df.collect()))
    want = sorted(map(tuple, read_excel(spark, str(d)).collect()))
    assert got == want and len(got) == 6
