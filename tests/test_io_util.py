"""``io_util.read_parquet`` infers a local parquet file's schema once:
a later open of the unchanged file under the same parquet schema confs
runs no Spark job and plans exactly as an inferring read does."""

import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from excel_to_database_spark.operators.io_util import read_parquet

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
