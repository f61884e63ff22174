import pyspark.sql.functions as F
from excel_to_database_spark.sources.excel_source import read_excel, sheet_names
from excel_to_database_spark.sources.xlsx_core import (
    WorkbookReader,
    a1_to_rowcol,
    is_date_format,
    serial_to_iso,
)
from tests.helpers_xlsx import build_xlsx


def test_a1_to_rowcol():
    assert a1_to_rowcol("A1") == (0, 0)
    assert a1_to_rowcol("Z2") == (1, 25)
    assert a1_to_rowcol("AA10") == (9, 26)
    assert a1_to_rowcol("BC23") == (22, 54)


def test_is_date_format():
    assert is_date_format("dd/mm/yyyy")
    assert is_date_format("yyyy-mm")
    assert not is_date_format('0.0"days"')  # quoted literal d must not match
    assert not is_date_format("#,##0.00")
    assert not is_date_format("[Red]0.0")


def test_serial_to_iso_around_1900_leap():
    assert serial_to_iso(1) == "1900-01-01"
    assert serial_to_iso(59) == "1900-02-28"
    assert serial_to_iso(61) == "1900-03-01"
    assert serial_to_iso(44197) == "2021-01-01"
    # bug-compat reproduces the JS uniform 1899-12-31 epoch: serials
    # >= 60 land one day LATE vs Excel (no fake Feb 29 in JS Date)
    assert serial_to_iso(1, bug_compat_1900=True) == "1900-01-01"
    assert serial_to_iso(59, bug_compat_1900=True) == "1900-02-28"
    assert serial_to_iso(60, bug_compat_1900=True) == "1900-03-01"
    assert serial_to_iso(61, bug_compat_1900=True) == "1900-03-02"
    assert serial_to_iso(44197, bug_compat_1900=True) == "2021-01-02"


def _workbook() -> bytes:
    return build_xlsx(
        {
            "Data Sheet": [
                ["Name", "When", "Amount", "Custom Date", "Days"],
                ["alice", 44197, 12.5, 44198, 3.5],
                ["bob", 44199, 7, 44200, 1.5],
                ["", "", "", "", ""],
            ],
            "Second": [["k"], ["v1"], ["v2"]],
        },
        date_styles={
            ("Data Sheet", 1, 1): 1,
            ("Data Sheet", 2, 1): 1,
            ("Data Sheet", 1, 3): 2,
            ("Data Sheet", 2, 3): 2,
            ("Data Sheet", 1, 4): 3,
            ("Data Sheet", 2, 4): 3,
        },
    )


def test_workbook_reader_matrix():
    rdr = WorkbookReader(_workbook())
    assert rdr.sheet_names() == ["Data Sheet", "Second"]
    m = rdr.read_sheet("Data Sheet")
    assert m[0] == ["Name", "When", "Amount", "Custom Date", "Days"]
    assert m[1] == ["alice", "2021-01-01", "12.5", "2021-01-02", "3.5"]
    assert m[2] == ["bob", "2021-01-03", "7", "2021-01-04", "1.5"]
    assert len(m) == 3  # trailing empty row trimmed


def test_hidden_rows_and_cols():
    wb = build_xlsx(
        {"S": [["a", "b", "c"], ["1", "2", "3"], ["4", "5", "6"]]},
        hidden_rows={"S": {2}},
        hidden_cols={"S": {1}},
    )
    rdr = WorkbookReader(wb)
    assert rdr.read_sheet("S") == [["a", "b", "c"], ["1", "2", "3"], ["4", "5", "6"]]
    assert rdr.read_sheet("S", visible_only=True) == [["a", "c"], ["1", "3"]]


def test_read_sheet_bounded_probe():
    """max_rows=1 returns exactly the header row and stops parsing —
    the driver-side schema probe is O(1) in sheet size."""
    wb = WorkbookReader(_workbook())
    full = wb.read_sheet("Data Sheet")
    probe = wb.read_sheet("Data Sheet", max_rows=1)
    assert probe == [full[0]]
    # visible_only probe skips hidden first rows to the first visible one
    hidden = build_xlsx(
        {"S": [["secret", "row"], ["id", "v"], ["1", "x"]]},
        hidden_rows={"S": {0}},
    )
    wbh = WorkbookReader(hidden)
    assert wbh.read_sheet("S", visible_only=True, max_rows=1) == [["id", "v"]]


def test_read_excel_spark(spark, tmp_path):
    p = tmp_path / "book.xlsx"
    p.write_bytes(_workbook())
    assert sheet_names(str(p)) == ["Data Sheet", "Second"]
    df = read_excel(spark, str(p))
    assert df.columns == ["Name", "When", "Amount", "CustomDate", "Days"]
    rows = {r["Name"]: r for r in df.collect()}
    assert rows["alice"]["When"] == "2021-01-01"
    assert rows["bob"]["Amount"] == "7"
    df2 = read_excel(spark, str(p), sheet="Second")
    assert df2.columns == ["k"]
    assert df2.count() == 2


def test_read_excel_directory_parallel(spark, tmp_path):
    for i in range(3):
        (tmp_path / f"b{i}.xlsx").write_bytes(
            build_xlsx({"S": [["id", "v"], [str(i * 2), "x"], [str(i * 2 + 1), "y"]]})
        )
    df = read_excel(spark, str(tmp_path))
    assert df.count() == 6
    assert df.columns == ["id", "v"]


def test_inline_str_bool_and_formula_cells():
    """Cell types beyond shared strings: inlineStr, boolean, and
    formula-result (t="str") cells decode correctly."""
    import zipfile, io
    wb = build_xlsx({"S": [["h1", "h2", "h3"], ["x", 1, 2]]})
    # patch the sheet to use inlineStr / boolean / formula-str cells
    buf = io.BytesIO()
    with zipfile.ZipFile(io.BytesIO(wb)) as zin, zipfile.ZipFile(buf, "w") as zout:
        for item in zin.namelist():
            data = zin.read(item)
            if item == "xl/worksheets/sheet1.xml":
                data = (
                    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
                    '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
                    "<sheetData>"
                    '<row r="1"><c r="A1" t="inlineStr"><is><t>col a</t></is></c>'
                    '<c r="B1" t="inlineStr"><is><t>col b</t></is></c>'
                    '<c r="C1" t="inlineStr"><is><t>col c</t></is></c></row>'
                    '<row r="2"><c r="A2" t="b"><v>1</v></c>'
                    '<c r="B2" t="str"><v>computed</v></c>'
                    '<c r="C2"><v>2.5e2</v></c></row>'
                    "</sheetData></worksheet>"
                ).encode()
            zout.writestr(item, data)
    rdr = WorkbookReader(buf.getvalue())
    m = rdr.read_sheet("S")
    assert m[0] == ["col a", "col b", "col c"]
    assert m[1] == ["TRUE", "computed", "250"]


def test_sparse_rows_and_gap_cells():
    """Missing rows and column gaps densify to empty strings."""
    wb = build_xlsx({"S": [["a", "b", "c"], ["", "", ""], ["1", "", "3"]]})
    m = WorkbookReader(wb).read_sheet("S")
    assert m == [["a", "b", "c"], ["", "", ""], ["1", "", "3"]]


def test_serial_to_iso_keep_time():
    """Engine extension: the day fraction renders as HH:MM:SS (the
    reference drops it — parity mode unchanged)."""
    assert serial_to_iso(44197.5, keep_time=True) == "2021-01-01 12:00:00"
    assert serial_to_iso(44197.25, keep_time=True) == "2021-01-01 06:00:00"
    # rounding to nearest second, clamped inside the day
    assert serial_to_iso(44197.9999999, keep_time=True) == "2021-01-01 23:59:59"
    assert serial_to_iso(44197, keep_time=True) == "2021-01-01 00:00:00"
    # default stays date-only
    assert serial_to_iso(44197.5) == "2021-01-01"


def test_read_excel_keep_time(spark, tmp_path):
    wb = build_xlsx(
        {"S": [["when"], [44197.5]]},
        date_styles={("S", 1, 0): 1},
    )
    p = tmp_path / "times.xlsx"
    p.write_bytes(wb)
    plain = read_excel(spark, str(p)).collect()[0]["when"]
    timed = read_excel(spark, str(p), keep_time=True).collect()[0]["when"]
    assert plain == "2021-01-01"
    assert timed == "2021-01-01 12:00:00"


def test_time_of_day_promotion(spark, tmp_path):
    """Opt-in ``times=True``: builtin (21) and custom (hh:mm:ss) time
    numFmts decode the serial's day-fraction as HH:MM:SS, while
    DEFAULT mode keeps the reference's behavior (times skipped,
    xlsparser.js:52 — raw serial text). Date and datetime cells are
    untouched by the flag; promote_temporal_columns then yields typed
    Date/Timestamp columns. Divergence note: this surface exists only
    behind the flag — default output stays byte-parity with the
    reference."""
    from excel_to_database_spark.sources.excel_source import (
        promote_temporal_columns,
    )
    from excel_to_database_spark.sources.xlsx_core import (
        is_time_format,
        serial_to_time_str,
    )

    assert is_time_format("hh:mm:ss") and is_time_format("h:mm")
    assert is_time_format("mm:ss")  # seconds present → time
    assert not is_time_format("dd/mm/yyyy h:mm")  # datetime → date rule
    assert not is_time_format('0.0"s"')  # literal s
    assert serial_to_time_str(0.75) == "18:00:00"
    assert serial_to_time_str(44197.5208333333) == "12:30:00"

    wb = build_xlsx(
        {"S": [["d", "t1", "t2", "dt"],
               [44197, 0.75, 44197.5208333333, 44197.25]]},
        date_styles={("S", 1, 0): 1, ("S", 1, 1): 4,
                     ("S", 1, 2): 5, ("S", 1, 3): 6},
    )
    p = tmp_path / "tod.xlsx"
    p.write_bytes(wb)

    # default: parity — time-styled serials pass through as numbers
    plain = read_excel(spark, str(p)).collect()[0]
    assert plain["d"] == "2021-01-01"
    assert plain["t1"] == "0.75"
    assert plain["dt"] == "2021-01-01"

    timed = read_excel(spark, str(p), times=True)
    row = timed.collect()[0]
    assert row["d"] == "2021-01-01"
    assert row["t1"] == "18:00:00"
    assert row["t2"] == "12:30:00"
    assert row["dt"] == "2021-01-01"  # datetime style: date rule, no keep_time

    typed = promote_temporal_columns(timed)
    types = dict(typed.dtypes)
    assert types == {"d": "date", "t1": "timestamp", "t2": "timestamp",
                     "dt": "date"}
    trow = typed.collect()[0]
    assert str(trow["d"]) == "2021-01-01"
    assert str(trow["t1"]) == "1970-01-01 18:00:00"

    # datetime strings (the keep_time rendering) promote to timestamp;
    # mixed/free-text columns stay strings; empties become NULL
    mixed = spark.createDataFrame(
        [("2021-01-01 06:00:00", "x", ""), ("", "2021-01-01", "07:00:00")],
        "a string, b string, c string",
    )
    ptypes = dict(promote_temporal_columns(mixed).dtypes)
    assert ptypes == {"a": "timestamp", "b": "string", "c": "timestamp"}
    vals = promote_temporal_columns(mixed).collect()
    assert vals[0]["a"] is not None and vals[1]["a"] is None


def test_read_sheet_column_pruning(monkeypatch):
    """want_cols decodes only the wanted cells: positions are stable,
    pruned cells surface as '', and their values are never decoded."""
    from excel_to_database_spark.sources import xlsx_core

    rdr = WorkbookReader(_workbook())
    full = rdr.read_sheet("Data Sheet")
    decoded = []

    real = xlsx_core._cell_text

    def spy(c, shared):
        out = real(c, shared)
        decoded.append(out)
        return out

    monkeypatch.setattr(xlsx_core, "_cell_text", spy)
    pruned = rdr.read_sheet("Data Sheet", want_cols={0, 2})
    # pruned matrix keeps positions of wanted columns
    for r_full, r_pruned in zip(full, pruned):
        assert r_pruned[0] == r_full[0] and r_pruned[2] == r_full[2]
        assert all(v == "" for i, v in enumerate(r_pruned) if i not in (0, 2))
    # only wanted-column cells went through the value decoder
    assert decoded == ["Name", "Amount", "alice", "12.5", "bob", "7"]


def test_sheet_columns_maps_raw_indices():
    """sheet_columns returns raw sheet indices usable as want_cols even
    when hidden columns collapse matrix positions."""
    wb = build_xlsx(
        {"S": [["a", "b", "c"], ["1", "2", "3"]]},
        hidden_cols={"S": {1}},
    )
    rdr = WorkbookReader(wb)
    header, raw = rdr.sheet_columns("S", visible_only=True)
    assert header == ["a", "c"]
    assert raw == [0, 2]
    m = rdr.read_sheet("S", visible_only=True, want_cols={raw[1]})
    assert m[1] == ["", "3"]


def test_read_excel_column_pruning(spark, tmp_path):
    """read_excel(columns=...) returns exactly the requested columns in
    order, values matching the full read."""
    from excel_to_database_spark.sources.excel_source import read_excel

    p = tmp_path / "book.xlsx"
    p.write_bytes(_workbook())
    got = read_excel(spark, str(p), columns=["Amount", "Name"])
    assert got.columns == ["Amount", "Name"]
    rows = {r["Name"]: r["Amount"] for r in got.collect()}
    assert rows == {"alice": "12.5", "bob": "7"}
    import pytest as _pytest

    with _pytest.raises(ValueError, match="not in sheet columns"):
        read_excel(spark, str(p), columns=["nope"])


def test_pruned_read_keeps_row_extent(spark, tmp_path):
    """Pruning must not change WHICH rows survive: rows whose projected
    cells are all empty but that hold content in pruned columns are
    kept (blank), and an all-empty projection yields blank rows rather
    than an empty matrix — read_excel(columns=[...]) always has the
    same height as read_excel().select(...)."""
    wb = build_xlsx({"S": [["a", "b"], ["1", "x"], ["", "y"], ["", "z"]]})
    rdr = WorkbookReader(wb)
    full = rdr.read_sheet("S")
    pruned = rdr.read_sheet("S", want_cols={0})
    assert len(pruned) == len(full) == 4
    assert [r[0] for r in pruned] == [r[0] for r in full]
    # entirely-empty projection: same height, zero-width rows
    assert len(rdr.read_sheet("S", want_cols=set())) == 4

    from excel_to_database_spark.sources.excel_source import read_excel

    p = tmp_path / "extent.xlsx"
    p.write_bytes(wb)
    got = read_excel(spark, str(p), columns=["a"]).collect()
    assert [r["a"] for r in got] == ["1", "", ""]


def test_xlsx_datasource_column_pruning(spark, tmp_path):
    """The registered format prunes through the 'columns' option."""
    from excel_to_database_spark.sources.xlsx_datasource import XlsxDataSource

    spark.dataSource.register(XlsxDataSource)
    d = tmp_path / "books"
    d.mkdir()
    (d / "one.xlsx").write_bytes(_workbook())
    df = spark.read.format("xlsx").option("columns", "Name,Amount").load(str(d))
    assert df.columns == ["Name", "Amount"]
    assert {tuple(r) for r in df.collect()} == {("alice", "12.5"), ("bob", "7")}


def test_xlsx_datasource_filter_pushdown(spark, tmp_path):
    """String EqualTo predicates push into the decoder loop
    (DataSourceReader.pushFilters): results match post-scan filtering
    exactly, including combined with column pruning, and non-equality
    / non-string predicates still evaluate correctly (returned to
    Spark post-scan)."""
    from excel_to_database_spark.sources.xlsx_datasource import XlsxDataSource

    spark.dataSource.register(XlsxDataSource)
    d = tmp_path / "books_f"
    d.mkdir()
    (d / "one.xlsx").write_bytes(_workbook())
    base = spark.read.format("xlsx").load(str(d))
    got = base.filter(F.col("Name") == "alice").collect()
    assert [r["Name"] for r in got] == ["alice"]
    assert got[0]["Amount"] == "12.5"
    # pruned + pushed together
    pruned = (
        spark.read.format("xlsx")
        .option("columns", "Name,Amount")
        .load(str(d))
        .filter(F.col("Name") == "bob")
    )
    assert {tuple(r) for r in pruned.collect()} == {("bob", "7")}
    # residual (non-equality) predicate still evaluated by Spark
    residual = base.filter(F.col("Name") != "alice").select("Name").collect()
    assert [r["Name"] for r in residual] == ["bob"]
    # no-match pushdown yields empty, not an error
    assert base.filter(F.col("Name") == "zelda").count() == 0


def test_xlsx_pruning_cell_touch_counts(monkeypatch):
    """The pruning contract behind read_excel(columns=...) and the
    datasource's 'columns' option, measured at the decoder: cells of
    pruned columns never reach the value decoder (_cell_text), so the
    touch count DROPS — pruning is real work saved inside the zip
    decode, not a post-hoc select."""
    from pyspark.sql.types import StringType, StructField, StructType

    from excel_to_database_spark.sources import xlsx_core
    from excel_to_database_spark.sources.excel_source import (
        ExcelSpec,
        decode_workbook,
    )
    from excel_to_database_spark.sources.xlsx_datasource import XlsxReader

    wb = build_xlsx({"S": [["a", "b", "c"], ["1", "x", "y"], ["2", "w", "z"]]})
    real = xlsx_core._cell_text
    touched = [0]

    def spy(c, shared):
        touched[0] += 1
        return real(c, shared)

    monkeypatch.setattr(xlsx_core, "_cell_text", spy)

    # the one kernel (read_excel's mapInPandas body)
    touched[0] = 0
    full = decode_workbook(wb, ExcelSpec(("a", "b", "c")))
    full_touch = touched[0]
    touched[0] = 0
    pruned = decode_workbook(wb, ExcelSpec(("a",)))
    pruned_touch = touched[0]
    assert [r[0] for r in pruned] == [r[0] for r in full] == ["1", "2"]
    assert pruned_touch < full_touch

    # the registered format's reader, driven in-process
    import tempfile

    from pyspark.sql.datasource import InputPartition

    with tempfile.NamedTemporaryFile(suffix=".xlsx") as f:
        f.write(wb)
        f.flush()

        def drive(cols: str, schema_cols: list[str]):
            schema = StructType(
                [StructField(c, StringType()) for c in schema_cols]
            )
            rdr = XlsxReader(schema, {"path": f.name, "columns": cols})
            touched[0] = 0
            rows = list(rdr.read(InputPartition(f.name)))
            return rows, touched[0]

        rows_full, t_full = drive("a,b,c", ["a", "b", "c"])
        rows_pruned, t_pruned = drive("a", ["a"])
        assert [r[0] for r in rows_pruned] == [r[0] for r in rows_full]
        assert t_pruned < t_full


def test_pruned_read_opens_sheet_part_once(monkeypatch):
    """The kernel probes the header row, then decodes the wanted
    columns: both passes share one decompression of the sheet part,
    on a pruned read and on a full one."""
    import zipfile

    from excel_to_database_spark.sources.excel_source import (
        ExcelSpec,
        decode_workbook,
    )

    wb = build_xlsx({"S": [["a", "b", "c"], ["1", "x", "y"], ["2", "w", "z"]]})
    reads = []
    real = zipfile.ZipFile.read

    def spy(self, name, *args, **kwargs):
        reads.append(name)
        return real(self, name, *args, **kwargs)

    monkeypatch.setattr(zipfile.ZipFile, "read", spy)
    rows = decode_workbook(wb, ExcelSpec(("c", "a")))
    assert rows == [("y", "1"), ("z", "2")]
    assert reads.count("xl/worksheets/sheet1.xml") == 1
    reads.clear()
    assert len(decode_workbook(wb, ExcelSpec(("a", "b", "c")))) == 2
    assert reads.count("xl/worksheets/sheet1.xml") == 1


def test_header_probe_parses_only_the_first_rows(monkeypatch):
    """sheet_columns feeds the XML parser a small chunk at a time and
    stops after the header row, so a probe's parse work does not grow
    with the sheet (every workbook of a read is probed)."""
    from xml.etree import ElementTree as ET

    from excel_to_database_spark.sources.xlsx_core import WorkbookReader

    rows = [["a", "b", "c"]] + [[f"v{i}", i, "w"] for i in range(2000)]
    rdr = WorkbookReader(build_xlsx({"S": rows}))
    fed = []
    real = ET.XMLPullParser.feed

    def spy(self, data):
        fed.append(len(data))
        return real(self, data)

    monkeypatch.setattr(ET.XMLPullParser, "feed", spy)
    assert rdr.sheet_columns("S")[0] == ["a", "b", "c"]
    probe = sum(fed)
    fed.clear()
    assert len(rdr.read_sheet("S")) == 2001
    assert probe <= 4096 < sum(fed) // 10


def test_xlsx_datasource_heterogeneous_sheet_pushdown(spark, tmp_path):
    """Workbooks whose sheet is MISSING a schema column (heterogeneous
    directories) yield '' at that slot — output width always matches
    the schema — and pushed filters test the RIGHT columns. Regression
    for the slot-shift misalignment where a missing field compacted
    the row and a pushed filter silently tested the wrong column."""
    from excel_to_database_spark.sources.xlsx_datasource import XlsxDataSource

    spark.dataSource.register(XlsxDataSource)
    d = tmp_path / "het"
    d.mkdir()
    (d / "a_full.xlsx").write_bytes(
        build_xlsx({"S": [["a", "b", "c"], ["1", "x", "y"], ["2", "x2", "y2"]]})
    )
    (d / "b_missing.xlsx").write_bytes(
        build_xlsx({"S": [["a", "c"], ["3", "z"]]})  # no 'b' column
    )
    base = (
        spark.read.format("xlsx")
        .option("columns", "a,b,c")
        .option("sheet", "S")
        .load(str(d))
    )
    assert {tuple(r) for r in base.collect()} == {
        ("1", "x", "y"),
        ("2", "x2", "y2"),
        ("3", "", "z"),
    }
    # pushed filter on a column the second sheet lacks: tests '' there
    assert {tuple(r) for r in base.filter(F.col("b") == "x").collect()} == {
        ("1", "x", "y")
    }
    # pushed filter matching a row of the column-missing sheet: the
    # value must be read from the RIGHT slot, not b's shifted position
    assert {tuple(r) for r in base.filter(F.col("c") == "z").collect()} == {
        ("3", "", "z")
    }
    # '' equality selects exactly the missing-column rows
    assert base.filter(F.col("b") == "").count() == 1


def test_read_excel_heterogeneous_directory_maps_by_name(spark, tmp_path):
    """Workbooks of one directory may order their columns differently
    or lack some: both front ends map each workbook's own header to the
    first workbook's columns BY NAME, and a missing column reads ''."""
    from excel_to_database_spark.sources.xlsx_datasource import XlsxDataSource

    d = tmp_path / "mixed"
    d.mkdir()
    (d / "a_full.xlsx").write_bytes(
        build_xlsx({"S": [["a", "b", "c"], ["1", "x", "y"]]})
    )
    (d / "b_missing.xlsx").write_bytes(build_xlsx({"S": [["a", "c"], ["3", "z"]]}))
    (d / "c_reordered.xlsx").write_bytes(
        build_xlsx({"S": [["c", "a", "b"], ["y5", "5", "x5"]]})
    )
    want = {("1", "x", "y"), ("3", "", "z"), ("5", "x5", "y5")}

    df = read_excel(spark, str(d))
    assert df.columns == ["a", "b", "c"]
    assert {tuple(r) for r in df.collect()} == want

    spark.dataSource.register(XlsxDataSource)
    ds = spark.read.format("xlsx").load(str(d))
    assert ds.columns == ["a", "b", "c"]
    assert {tuple(r) for r in ds.collect()} == want
    # pruned reads map by name too
    pruned = read_excel(spark, str(d), columns=["c", "a"])
    assert {tuple(r) for r in pruned.collect()} == {
        ("y", "1"), ("z", "3"), ("y5", "5")
    }


def test_decode_workbook_maps_duplicate_headers_in_order():
    """With sanitize=False a header may repeat a name: the k-th output
    column of that name takes the workbook's k-th column of that name."""
    from excel_to_database_spark.sources.excel_source import (
        ExcelSpec,
        decode_workbook,
    )

    spec = ExcelSpec(("x", "x", "y"), sanitize=False)
    same = build_xlsx({"S": [["x", "x", "y"], ["1", "2", "3"]]})
    moved = build_xlsx({"S": [["y", "x", "z", "x"], ["3", "1", "-", "2"]]})
    assert decode_workbook(same, spec) == [("1", "2", "3")]
    assert decode_workbook(moved, spec) == [("1", "2", "3")]
    # sanitized, the duplicate is renamed x_2 and matched by that name
    spec = ExcelSpec(("x", "x_2", "y"))
    assert decode_workbook(moved, spec) == [("1", "2", "3")]
    # a name repeated past the header's copies reuses the last one
    assert decode_workbook(same, ExcelSpec(("y", "y"))) == [("3", "3")]


def test_header_names_do_not_depend_on_time_mode(spark, tmp_path):
    """A date- or time-styled header cell names its column the same
    way whatever the read's keep_time/times mode, so the probe's
    columns match every workbook's own header and no column reads as
    '' — through both front ends, over a directory of one header."""
    from excel_to_database_spark.sources.xlsx_datasource import XlsxDataSource

    d = tmp_path / "dated_header"
    d.mkdir()
    for i in (1, 2):
        (d / f"w{i}.xlsx").write_bytes(
            build_xlsx(
                {"S": [["id", 45292.5, 0.25], [f"r{i}", f"v{i}", f"w{i}"]]},
                date_styles={("S", 0, 1): 1, ("S", 0, 2): 4},
            )
        )
    want = {("r1", "v1", "w1"), ("r2", "v2", "w2")}
    base = read_excel(spark, str(d))
    assert base.columns[0] == "id" and len(base.columns) == 3
    for keep_time, times in [(True, False), (False, True), (True, True)]:
        df = read_excel(spark, str(d), keep_time=keep_time, times=times)
        assert df.columns == base.columns
        assert {tuple(r) for r in df.collect()} == want

    spark.dataSource.register(XlsxDataSource)
    ds = spark.read.format("xlsx").option("keep_time", "true").load(str(d))
    assert ds.columns == base.columns
    assert {tuple(r) for r in ds.collect()} == want


def test_xlsx_datasource_user_schema_applies_by_position(spark, tmp_path):
    """A schema given with .schema(...) renames the header's columns by
    position (as on Spark's CSV reader with a header); a field past the
    header reads ''; a pushed filter tests the renamed slot."""
    from excel_to_database_spark.sources.xlsx_datasource import XlsxDataSource

    spark.dataSource.register(XlsxDataSource)
    p = tmp_path / "s.xlsx"
    p.write_bytes(build_xlsx({"S": [["a", "b"], ["1", "x"], ["2", "y"]]}))
    df = spark.read.format("xlsx").schema("p string, q string, r string").load(str(p))
    assert df.columns == ["p", "q", "r"]
    assert {tuple(r) for r in df.collect()} == {("1", "x", ""), ("2", "y", "")}
    assert [tuple(r) for r in df.filter(F.col("q") == "y").collect()] == [("2", "y", "")]
