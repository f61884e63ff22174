"""``io_util.read_parquet`` infers a local parquet file's schema once:
a later open of the unchanged file under the same parquet schema confs
runs no Spark job and plans exactly as an inferring read does.
``io_util.local_frame`` is the only builder of driver-built frames: its
frames are Arrow ``LocalRelation``s with the exact schema asked for."""

import ast
import pathlib
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from pyspark.sql.types import (
    ArrayType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from excel_to_database_spark.operators.io_util import local_frame, read_parquet

NANOS = "spark.sql.legacy.parquet.nanosAsLong"


def _jobs(spark, name, fn):
    """(fn's result, the Spark jobs it ran), counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(name, "read_parquet test")
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    return out, len(sc.statusTracker().getJobIdsForGroup(name))


def _optimized(df) -> str:
    return re.sub(r"#\d+L?", "#", df._jdf.queryExecution().optimizedPlan().toString())


def _rows(n: int, offset: int = 0) -> pa.Table:
    return pa.table({
        "id": pa.array(np.arange(n) + offset, pa.int64()),
        "name": pa.array([f"r{i}" for i in range(n)]),
    })


def test_second_open_runs_no_job_and_plans_the_same(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(_rows(50), path)
    first, jobs1 = _jobs(spark, "rp_first", lambda: read_parquet(spark, path))
    second, jobs2 = _jobs(spark, "rp_second", lambda: read_parquet(spark, path))
    assert jobs1 >= 1  # the first open infers, as spark.read.parquet does
    assert jobs2 == 0
    assert second.schema == first.schema
    q = lambda df: df.filter("id > 10").select("name")  # noqa: E731
    assert _optimized(q(second)) == _optimized(q(first))
    assert _optimized(q(second)) == _optimized(q(spark.read.parquet(path)))
    assert q(second).count() == 39


def test_rewritten_file_gives_its_new_schema(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(_rows(20), path)
    assert read_parquet(spark, path).columns == ["id", "name"]
    pq.write_table(pa.table({"k": pa.array([1.5, 2.5]), "id": pa.array([7, 8], pa.int32())}), path)
    df, jobs = _jobs(spark, "rp_rewritten", lambda: read_parquet(spark, path))
    assert jobs >= 1
    assert df.dtypes == [("k", "double"), ("id", "int")]
    assert sorted(r["id"] for r in df.collect()) == [7, 8]


def test_flipping_a_schema_conf_infers_again(spark, tmp_path):
    """An events file with TIMESTAMP(NANOS) reads ``ts`` as bigint only
    under ``nanosAsLong``; with the conf off Spark refuses the type.
    The refusal proves the cached bigint schema was not reused."""
    path = str(tmp_path / "events.parquet")
    ts = np.array([1_000_000_001, 2_000_000_002], dtype="datetime64[ns]")
    pq.write_table(pa.table({"event_id": pa.array([1, 2], pa.int64()), "ts": pa.array(ts)}), path)
    before = spark.conf.get(NANOS)
    try:
        spark.conf.set(NANOS, "true")
        assert dict(read_parquet(spark, path).dtypes)["ts"] == "bigint"
        spark.conf.set(NANOS, "false")
        with pytest.raises(AnalysisException, match="TIMESTAMP\\(NANOS"):
            read_parquet(spark, path)
        spark.conf.set(NANOS, "true")
        df, jobs = _jobs(spark, "rp_conf_back", lambda: read_parquet(spark, path))
        assert jobs == 0
        assert sorted(r["ts"] for r in df.collect()) == [1_000_000_001, 2_000_000_002]
    finally:
        spark.conf.set(NANOS, before)


def test_directory_path_infers_every_time(spark, tmp_path):
    d = tmp_path / "parts"
    d.mkdir()
    pq.write_table(_rows(10), str(d / "a.parquet"))
    pq.write_table(_rows(10, offset=10), str(d / "b.parquet"))
    for i in range(2):
        df, jobs = _jobs(spark, f"rp_dir_{i}", lambda: read_parquet(spark, str(d)))
        assert jobs >= 1
        assert df.count() == 20


PKG = pathlib.Path(__file__).resolve().parent.parent / "excel_to_database_spark"


def test_only_io_util_creates_dataframes():
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        if rel == "operators/io_util.py":
            continue
        for node in ast.walk(ast.parse(path.read_text(), rel)):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
            ):
                offenders.append(f"{rel}:{node.lineno}")
    assert offenders == []


def _plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


MIXED = StructType(
    [
        StructField("i", IntegerType()),
        StructField("b", LongType()),
        StructField("s", StringType()),
        StructField("v", ArrayType(FloatType())),
    ]
)


@pytest.mark.parametrize(
    "rows, schema, dtypes",
    [
        ([], MIXED, [("i", "int"), ("b", "bigint"), ("s", "string"), ("v", "array<float>")]),
        ([], "k string, n bigint", [("k", "string"), ("n", "bigint")]),
        (
            [(1, 2**40, "a", [1.5, -0.25]), (-7, -(2**62), "", [])],
            MIXED,
            [("i", "int"), ("b", "bigint"), ("s", "string"), ("v", "array<float>")],
        ),
        (
            [(None, None, None, None), (3, 4, "x", [None, 2.0])],
            MIXED,
            [("i", "int"), ("b", "bigint"), ("s", "string"), ("v", "array<float>")],
        ),
        (
            [("en", 5, 2), ("fr", 0, None)],
            "lang string, __q bigint, __r int",
            [("lang", "string"), ("__q", "bigint"), ("__r", "int")],
        ),
    ],
    ids=["empty", "empty-ddl", "values", "nulls", "ddl"],
)
def test_local_frame_round_trips_exact_types_and_values(spark, rows, schema, dtypes):
    df, jobs = _jobs(spark, "local-frame", lambda: local_frame(spark, rows, schema))
    assert df.dtypes == dtypes
    plan = _plan(df)
    assert "LocalRelation" in plan and "LogicalRDD" not in plan
    got, jobs_collect = _jobs(spark, "local-frame-collect", df.collect)
    assert [tuple(r) for r in got] == [tuple(r) for r in rows]
    assert jobs == jobs_collect == 0


def test_local_frame_rejects_a_value_its_field_cannot_hold(spark):
    with pytest.raises((TypeError, pa.ArrowInvalid, pa.ArrowTypeError)):
        local_frame(spark, [("not a number",)], "n int")


def test_q210_cuts_are_a_local_relation_collected_without_a_job(spark, sf_dir):
    from excel_to_database_spark.operators import evict_caches
    from excel_to_database_spark.queries import QUERIES

    df = QUERIES["q210_exact_group_quantiles"](spark, sf_dir)
    try:
        plan = _plan(df)
        assert "LocalRelation" in plan and "LogicalRDD" not in plan
        rows, jobs = _jobs(spark, "q210-action", df.collect)
        assert rows and jobs == 0
    finally:
        evict_caches()
