"""Session defaults that hold the engine's warm working set and keep
column calls free of call-site capture."""

from pyspark.errors.utils import is_debugging_enabled
from pyspark.sql import functions as F


def test_codegen_cache_holds_a_working_set_above_100(spark):
    """Spark's default codegen cache keeps 100 compiled classes; a warm
    analytics pass needs ~178. 150 distinct codegen'd plans (each
    literal is compiled into its class) run twice: the second round
    must find every class in the cache and compile none."""
    metric = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def compiles() -> int:
        return metric.METRIC_COMPILATION_TIME().getCount()

    def run_round() -> None:
        for i in range(150):
            spark.range(10).select(F.col("id") + F.lit(i)).collect()

    c0 = compiles()
    run_round()
    c1 = compiles()
    run_round()
    c2 = compiles()
    assert c1 - c0 >= 150  # the round really was 150+ distinct classes
    assert c2 - c1 == 0


def test_column_calls_do_not_capture_the_call_site(spark):
    """PySpark wraps every functions.* and Column call in _with_origin,
    which records the Python call site in the JVM unless DataFrame
    debugging is off."""
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert is_debugging_enabled() is False
