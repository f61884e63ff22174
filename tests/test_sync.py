import pytest

from excel_to_database_spark.sources.payload import matrix_to_df
from excel_to_database_spark.sync.policy import SyncAction, decide_sync_action
from excel_to_database_spark.sync.sinks import CloudCopyDestination, LocalDestination


def test_decision_table():
    d = decide_sync_action
    assert d(None, ["a", "b"]) is SyncAction.CREATE
    assert d(["a", "b"], ["b", "a"]) is SyncAction.TRUNCATE  # reorder → same set
    assert d(["A", "B"], ["b", "a"]) is SyncAction.TRUNCATE  # case-insensitive
    assert d(["a", "b"], ["a", "b", "c"]) is SyncAction.RECREATE  # added col
    assert d(["a", "b"], ["a"]) is SyncAction.RECREATE  # dropped col
    assert d(["a", "b"], ["a", "c"]) is SyncAction.RECREATE  # renamed col


def test_strict_mode_rejects_reorder():
    with pytest.raises(ValueError):
        decide_sync_action(["a", "b"], ["b", "a"], strict=True)
    assert decide_sync_action(["a", "b"], ["a", "b"], strict=True) is SyncAction.TRUNCATE


def test_local_destination_lifecycle(spark):
    dest = LocalDestination()
    df1 = matrix_to_df(spark, [["a", "b"], ["1", "2"], ["3", "4"]])
    r1 = dest.sync(df1, "t_life", path="tenant1")
    assert (r1.action, r1.n_records) == ("Created", 2)
    assert r1.fqtn == "x_excel_tenant1.t_life"
    assert "2 records" in r1.message()

    # same column set, different order → TRUNCATE, data replaced
    df2 = matrix_to_df(spark, [["b", "a"], ["9", "8"]])
    r2 = dest.sync(df2, "t_life", path="tenant1")
    assert (r2.action, r2.n_records) == ("Truncated", 1)

    # changed column set → RECREATE
    df3 = matrix_to_df(spark, [["a", "c"], ["5", "6"]])
    r3 = dest.sync(df3, "t_life", path="tenant1")
    assert (r3.action, r3.n_records) == ("Recreated", 1)
    assert [c.name for c in spark.catalog.listColumns("x_excel_tenant1.t_life")] == ["a", "c"]


def test_cloud_copy_statements(tmp_path):
    rs = CloudCopyDestination(kind="redshift", stage_uri=str(tmp_path))
    stmt = rs.copy_statement("x_excel.t", "s3://bucket/t")
    assert "GZIP" in stmt and "COMPUPDATE OFF" in stmt
    sf = CloudCopyDestination(kind="snowflake", stage_uri=str(tmp_path))
    assert "COPY INTO" in sf.copy_statement("x_excel.t", "%t")


def test_cloud_copy_stages_gzip_csv(spark, tmp_path):
    dest = CloudCopyDestination(kind="redshift", stage_uri=str(tmp_path / "stage"))
    df = matrix_to_df(spark, [["a"], ["1"], ["2"]])
    with pytest.raises(NotImplementedError) as exc:
        dest.sync(df, "t_staged")
    assert "COPY" in str(exc.value)
    staged = list((tmp_path / "stage" / "t_staged").glob("*.csv.gz"))
    assert staged, "expected gzipped CSV parts in the stage dir"


def test_upload_api_end_to_end(spark):
    from excel_to_database_spark.api import upload

    out = upload(
        spark,
        {"data": {"Sheet One": [["a", "b"], ["1", "2"]], "c.csv": "x,y\n3,4"}},
        path="apitest",
    )
    assert "messages" in out and len(out["messages"]) == 2
    assert any("sheet_one" in m for m in out["messages"])
    assert spark.table("x_excel_apitest.c_csv").count() == 1


def test_upload_api_error_shape(spark):
    from excel_to_database_spark.api import upload

    out = upload(spark, {"data": {}})
    assert set(out) == {"error"}


def test_snowflake_stage_and_statement(spark, tmp_path):
    dest = CloudCopyDestination(kind="snowflake", stage_uri=str(tmp_path / "sfstage"))
    df = matrix_to_df(spark, [["a"], ["1"]])
    with pytest.raises(NotImplementedError) as exc:
        dest.sync(df, "t_sf")
    msg = str(exc.value)
    assert "COPY INTO" in msg and "GZIP" in msg
    assert list((tmp_path / "sfstage" / "t_sf").glob("*.csv.gz"))


def test_local_destination_csv_format(spark):
    """The reference's local sink is CSV (data.py:137-153) — the
    fmt='csv' parity mode must survive the full lifecycle."""
    dest = LocalDestination(fmt="csv")
    df = matrix_to_df(spark, [["a", "b"], ["1", "x"], ["2", "y"]])
    r1 = dest.sync(df, "t_csvfmt", path="csvtest")
    assert (r1.action, r1.n_records) == ("Created", 2)
    df2 = matrix_to_df(spark, [["b", "a"], ["z", "9"]])
    r2 = dest.sync(df2, "t_csvfmt", path="csvtest")
    assert r2.action == "Truncated"
    row = spark.table("x_excel_csvtest.t_csvfmt").collect()[0]
    assert (row["a"], row["b"]) == ("9", "z")


def _job_count(spark, name, fn):
    """Spark jobs ``fn`` issues, read from the status store by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(name, "sync")
    try:
        fn()
    finally:
        sc.setJobGroup(None, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(name))


def test_local_sync_is_one_job(spark):
    """The record count rides the write and the column probe reads the
    catalog without a job: a sync is exactly the write's one job."""
    dest = LocalDestination()
    df = matrix_to_df(spark, [["a", "b"], ["1", "2"], ["3", "4"]])
    assert _job_count(spark, "local_create", lambda: dest.sync(df, "t_jobs", "jobs")) == 1
    df2 = matrix_to_df(spark, [["b", "a"], ["5", "6"]])
    assert _job_count(spark, "local_truncate", lambda: dest.sync(df2, "t_jobs", "jobs")) == 1
    df3 = matrix_to_df(spark, [["a", "c"], ["7", "8"]])
    assert _job_count(spark, "local_recreate", lambda: dest.sync(df3, "t_jobs", "jobs")) == 1
    assert spark.table("x_excel_jobs.t_jobs").collect()[0].asDict() == {"a": "7", "c": "8"}


def test_schema_ddl_only_for_a_new_table(spark, monkeypatch):
    """The first CREATE into a new tenant creates its schema; a sync into
    an existing table (TRUNCATE or RECREATE) issues no schema DDL."""
    issued = []
    sql = spark.sql
    monkeypatch.setattr(spark, "sql", lambda q, *a, **k: issued.append(q) or sql(q, *a, **k))
    dest = LocalDestination()
    assert dest.sync(matrix_to_df(spark, [["a"], ["1"]]), "t_ddl", "ddlnew").action == "Created"
    assert issued == ["CREATE DATABASE IF NOT EXISTS x_excel_ddlnew"]
    issued.clear()
    assert dest.sync(matrix_to_df(spark, [["a"], ["2"]]), "t_ddl", "ddlnew").action == "Truncated"
    assert dest.sync(matrix_to_df(spark, [["b"], ["3"]]), "t_ddl", "ddlnew").action == "Recreated"
    assert not any("DATABASE" in q for q in issued), issued


@pytest.mark.parametrize("fmt", ["parquet", "csv"])
def test_header_only_sheet_reports_zero_records(spark, fmt):
    dest = LocalDestination(fmt=fmt)
    empty = matrix_to_df(spark, [["a", "b"]])
    r1 = dest.sync(empty, f"t_empty_{fmt}", path="emptytest")
    assert (r1.action, r1.n_records) == ("Created", 0)
    assert r1.message() == f"Created and loaded into x_excel_emptytest.t_empty_{fmt}\n0 records"
    r2 = dest.sync(empty, f"t_empty_{fmt}", path="emptytest")
    assert (r2.action, r2.n_records) == ("Truncated", 0)
    assert spark.table(f"x_excel_emptytest.t_empty_{fmt}").count() == 0


def test_partitioned_truncate_lands_values_by_name(spark):
    """TRUNCATE into a hive-partitioned table (partition column stored
    last) with the sheet's columns reordered: each value lands in its
    named column."""
    dest = LocalDestination(partition_by=("region",))
    df1 = matrix_to_df(spark, [["region", "id", "amt"], ["eu", "1", "10"], ["us", "2", "20"]])
    assert dest.sync(df1, "t_part", path="parttrunc").action == "Created"
    df2 = matrix_to_df(spark, [["amt", "region", "id"], ["30", "us", "3"], ["40", "ap", "4"]])
    r = dest.sync(df2, "t_part", path="parttrunc")
    assert (r.action, r.n_records) == ("Truncated", 2)
    got = spark.table("x_excel_parttrunc.t_part")
    assert got.columns == ["id", "amt", "region"]
    assert sorted(tuple(row) for row in got.collect()) == [("3", "30", "us"), ("4", "40", "ap")]


def test_small_sheet_sync_writes_one_file(spark):
    """A small sheet is one partition, so its sync writes one data file
    in its one job."""
    dest = LocalDestination()
    matrix = [["a", "b"]] + [[str(r), f"v{r}"] for r in range(50)]
    df = matrix_to_df(spark, matrix)
    assert _job_count(spark, "local_one_file", lambda: dest.sync(df, "t_files", "files")) == 1
    table = spark.table("x_excel_files.t_files")
    assert len(table.inputFiles()) == 1 and table.count() == 50


def test_multi_sheet_upload_keeps_payload_order(spark):
    """Six sheets sync concurrently on local[4]; the messages come back
    in payload order and every table holds its rows."""
    from excel_to_database_spark.api import upload

    names = [f"s{i}" for i in range(6)]
    data = {n: [["k", "v"]] + [[str(r), n] for r in range(i + 1)] for i, n in enumerate(names)}
    out = upload(spark, {"data": data}, path="sixsheets")
    assert out == {
        "messages": [
            f"Created and loaded into x_excel_sixsheets.{n}\n{i + 1} records"
            for i, n in enumerate(names)
        ]
    }
    for i, n in enumerate(names):
        rows = spark.table(f"x_excel_sixsheets.{n}").collect()
        assert sorted((r["k"], r["v"]) for r in rows) == [(str(r), n) for r in range(i + 1)]


def test_multi_sheet_upload_reports_first_failure_and_loads_the_rest(spark):
    """Every sheet of a request is attempted concurrently: the middle
    sheet reorders an existing table's columns under strict mode and
    fails, its error is the response, and the first and last sheets
    are loaded."""
    from excel_to_database_spark.api import upload

    path = "strictmulti"
    dest = LocalDestination(strict=True)
    dest.sync(matrix_to_df(spark, [["a", "b"], ["1", "2"]]), "mid", path)
    payload = {
        "data": {
            "first": [["x"], ["1"], ["2"]],
            "mid": [["b", "a"], ["3", "4"]],
            "last": [["y"], ["5"]],
        }
    }
    out = upload(spark, payload, dest, path=path)
    assert set(out) == {"error"}
    assert "column order changed" in out["error"] and "strict mode" in out["error"]
    assert spark.table(f"x_excel_{path}.first").count() == 2
    assert spark.table(f"x_excel_{path}.last").collect()[0]["y"] == "5"
    assert spark.table(f"x_excel_{path}.mid").collect()[0].asDict() == {"a": "1", "b": "2"}
