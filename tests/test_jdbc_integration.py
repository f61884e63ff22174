"""JDBC warehouse sink integration test against embedded Derby (ships
on Spark's classpath) — the closest available stand-in for the
reference's Azure DW pyodbc path (app/data.py:156-202): real DDL, real
batched inserts, real catalog probe, full truncate-vs-drop lifecycle."""

import pytest

from excel_to_database_spark.sources.payload import matrix_to_df
from excel_to_database_spark.sync import sinks
from excel_to_database_spark.sync.sinks import CloudCopyDestination, JdbcDestination
from tests.test_sync import _job_count

DRIVER = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}


@pytest.fixture(scope="module")
def dest(tmp_path_factory):
    db = tmp_path_factory.mktemp("derby") / "wh"
    return JdbcDestination(url=f"jdbc:derby:{db};create=true", properties=DRIVER)


def _read(spark, dest, fqtn):
    return (
        spark.read.format("jdbc")
        .option("url", dest.url)
        .option("dbtable", fqtn)
        .options(**dest.properties)
        .load()
    )


def test_jdbc_lifecycle(spark, dest):
    df1 = matrix_to_df(spark, [["a", "b"], ["1", "x"], ["2", "y"]])
    r1 = dest.sync(df1, "t_jdbc", path="derbytest")
    assert (r1.action, r1.n_records) == ("Created", 2)
    fqtn = "x_excel_derbytest.t_jdbc"
    assert sorted(map(tuple, _read(spark, dest, fqtn).collect())) == [
        ("1", "x"),
        ("2", "y"),
    ]

    # same column set, reordered → TRUNCATE; values land by name
    df2 = matrix_to_df(spark, [["b", "a"], ["z", "9"]])
    r2 = dest.sync(df2, "t_jdbc", path="derbytest")
    assert (r2.action, r2.n_records) == ("Truncated", 1)
    back = _read(spark, dest, fqtn).collect()[0]
    assert (back["a"], back["b"]) == ("9", "z")

    # changed column set → RECREATE with new schema
    df3 = matrix_to_df(spark, [["a", "c"], ["5", "6"]])
    r3 = dest.sync(df3, "t_jdbc", path="derbytest")
    assert (r3.action, r3.n_records) == ("Recreated", 1)
    assert sorted(c.lower() for c in _read(spark, dest, fqtn).columns) == ["a", "c"]


def _derby_copy(tmp_path):
    return CloudCopyDestination(
        kind="redshift",
        stage_uri=str(tmp_path / "stage"),
        jdbc_url=f"jdbc:derby:{tmp_path / 'derby_copy'};create=true",
        properties=DRIVER,
        compression=None,          # Derby's importer reads plain CSV
        single_file=True,          # ...from one concrete file
        copy_template=(
            "CALL SYSCS_UTIL.SYSCS_IMPORT_TABLE("
            "'{schema_upper}', '{table_upper}', '{staged}', null, null, null, 0)"
        ),
        ddl_type="VARCHAR(200)",
        drop_cascade=False,      # Derby has no DROP TABLE CASCADE
    )


def test_cloud_copy_executes_against_derby(spark, tmp_path):
    """The CloudCopyDestination lifecycle — stage CSV, CREATE SCHEMA,
    reconcile DDL, execute the templated COPY over JDBC — end-to-end
    against embedded Derby (SYSCS_IMPORT_TABLE standing in for the
    warehouse bulk loader, reference app/data.py:106-133, :243-254)."""
    dest = _derby_copy(tmp_path)

    df1 = matrix_to_df(spark, [["a", "b"], ["1", "x"], ["2", "y"]])
    r1 = dest.sync(df1, "t_copy", path="cloudtest")
    assert (r1.action, r1.n_records) == ("Created", 2)
    fqtn = "x_excel_cloudtest.t_copy"
    got = (
        spark.read.format("jdbc")
        .option("url", dest.jdbc_url)
        .option("dbtable", fqtn)
        .options(**DRIVER)
        .load()
    )
    assert sorted(map(tuple, got.collect())) == [("1", "x"), ("2", "y")]

    # same column set → TRUNCATE then COPY reloads
    df2 = matrix_to_df(spark, [["a", "b"], ["9", "z"]])
    r2 = dest.sync(df2, "t_copy", path="cloudtest")
    assert (r2.action, r2.n_records) == ("Truncated", 1)

    # changed column set → DROP + CREATE then COPY
    df3 = matrix_to_df(spark, [["a", "c"], ["5", "6"]])
    r3 = dest.sync(df3, "t_copy", path="cloudtest")
    assert (r3.action, r3.n_records) == ("Recreated", 1)


def test_jdbc_sync_is_one_job(spark, dest):
    """No recount after the write: a Derby sync is the write's one job."""
    df = matrix_to_df(spark, [["a", "b"], ["1", "x"]])
    dest.sync(df, "t_jobs", path="derbytest")
    assert _job_count(spark, "jdbc_truncate", lambda: dest.sync(df, "t_jobs", "derbytest")) == 1


def test_header_only_sheet_reports_zero_records_jdbc(spark, dest, tmp_path):
    empty = matrix_to_df(spark, [["a", "b"]])
    for sink in (dest, _derby_copy(tmp_path)):
        for action in ("Created", "Truncated"):
            r = sink.sync(empty, "t_empty", path="derbyempty")
            assert r.message() == f"{action} and loaded into x_excel_derbyempty.t_empty\n0 records"
    assert _read(spark, dest, "x_excel_derbyempty.t_empty").count() == 0


class _FailingQueries:
    """A JDBC connection whose queries raise — a probe that fails after
    the table lookup (a dropped link, a timeout, a revoked grant)."""

    def __init__(self, conn):
        self._conn = conn

    def __getattr__(self, name):
        return getattr(self._conn, name)

    def createStatement(self):
        return self

    def executeQuery(self, sql):
        raise RuntimeError(f"probe failed: {sql}")


def test_failed_probe_raises_and_keeps_the_table(spark, dest, monkeypatch):
    """A probe that fails must not read as "table absent": that would
    CREATE, and Spark's overwrite without truncate drops the live table."""
    fqtn = "x_excel_derbytest.t_keep"
    df = matrix_to_df(spark, [["a", "b"], ["1", "x"], ["2", "y"]])
    dest.sync(df, "t_keep", path="derbytest")
    init = sinks._Jdbc.__init__

    def failing_init(self, *args):
        init(self, *args)
        self.conn = _FailingQueries(self.conn)

    monkeypatch.setattr(sinks._Jdbc, "__init__", failing_init)
    other = matrix_to_df(spark, [["c"], ["9"]])
    with pytest.raises(RuntimeError, match="probe failed"):
        dest.sync(other, "t_keep", path="derbytest")
    assert sorted(map(tuple, _read(spark, dest, fqtn).collect())) == [("1", "x"), ("2", "y")]


def test_ensure_schema_passes_a_lost_create_race(spark, dest):
    """Another connection creates the schema between this connection's
    getSchemas probe and its CREATE SCHEMA (another sheet of the same
    request, or another process): the failed CREATE passes because the
    schema is now listed. A CREATE refused for another reason raises."""
    from contextlib import closing

    from py4j.protocol import Py4JJavaError

    with closing(sinks._Jdbc(spark, dest.url, dest.properties)) as ours, closing(
        sinks._Jdbc(spark, dest.url, dest.properties)
    ) as theirs:
        create = ours.execute

        def lose_the_race(sql):
            theirs.execute(sql)
            create(sql)

        ours.execute = lose_the_race
        ours.ensure_schema("x_excel_lostrace")
        assert theirs._lists("getSchemas", None, "X_EXCEL_LOSTRACE", TABLE_SCHEM="X_EXCEL_LOSTRACE")

        ours.execute = create
        with pytest.raises(Py4JJavaError, match="42939"):  # Derby reserves SYS* schema names
            ours.ensure_schema("sys_excel_lostrace")


def test_jdbc_source_partitioned_read_with_pushdown(spark, tmp_path):
    """The warehouse→Spark direction: a numeric-range partitioned JDBC
    read plans one stripe per partition (parallel ingest, not one
    connection), discovers bounds with a single MIN/MAX probe, and
    pushes filters down to the warehouse query."""
    from excel_to_database_spark.sources.jdbc_source import read_jdbc_table

    url = f"jdbc:derby:{tmp_path / 'derby_src'};create=true"
    seed = spark.createDataFrame(
        [(i, f"v{i}") for i in range(1, 101)], "k int, v string"
    )
    (
        seed.write.format("jdbc")
        .option("url", url)
        .option("dbtable", "t_src")
        .options(**DRIVER)
        .save()
    )

    df = read_jdbc_table(
        spark, url, "t_src", DRIVER, partition_col="k", num_partitions=4
    )
    assert df.rdd.getNumPartitions() == 4
    assert df.count() == 100

    filtered = df.filter("k > 90")
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "GreaterThan" in plan
    assert sorted(r["k"] for r in filtered.collect()) == list(range(91, 101))

    # explicit bounds skip the probe query entirely
    df2 = read_jdbc_table(
        spark, url, "t_src", DRIVER,
        partition_col="k", lower_bound=1, upper_bound=100, num_partitions=8,
    )
    assert df2.rdd.getNumPartitions() == 8
    assert df2.count() == 100


def _upload_three_sheets(spark, dest, tenant):
    """A 3-sheet upload into a new tenant: the sheets race to create
    the tenant's schema, and each must still be Created and load."""
    from excel_to_database_spark.api import upload

    data = {f"sheet{i}": [["k", "v"]] + [[str(r), f"s{i}"] for r in range(i + 2)] for i in range(3)}
    out = upload(spark, {"data": data}, dest, path=tenant)
    schema = f"x_excel_{tenant}"
    assert out == {
        "messages": [
            f"Created and loaded into {schema}.sheet{i}\n{i + 2} records" for i in range(3)
        ]
    }
    return [f"{schema}.sheet{i}" for i in range(3)]


def test_multi_sheet_upload_into_new_tenant_jdbc(spark, dest):
    for i, fqtn in enumerate(_upload_three_sheets(spark, dest, "derbymulti")):
        rows = _read(spark, dest, fqtn).collect()
        assert sorted(map(tuple, rows)) == [(str(r), f"s{i}") for r in range(i + 2)]
    # re-upload: the sheets' catalog probes follow each other's TRUNCATEs
    from excel_to_database_spark.api import upload

    data = {f"sheet{i}": [["v", "k"], [f"t{i}", "0"]] for i in range(3)}
    out = upload(spark, {"data": data}, dest, path="derbymulti")
    assert out == {
        "messages": [f"Truncated and loaded into x_excel_derbymulti.sheet{i}\n1 records" for i in range(3)]
    }


def test_multi_sheet_upload_into_new_tenant_cloud_copy(spark, tmp_path):
    dest = _derby_copy(tmp_path)
    url_dest = JdbcDestination(url=dest.jdbc_url, properties=DRIVER)
    for i, fqtn in enumerate(_upload_three_sheets(spark, dest, "copymulti")):
        rows = _read(spark, url_dest, fqtn).collect()
        assert sorted(map(tuple, rows)) == [(str(r), f"s{i}") for r in range(i + 2)]
