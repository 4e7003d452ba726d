import pytest

from documentprocessor_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="documentprocessor-tests",
        master="local[8]",
        shuffle_partitions=8,
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture
def codegen_compiles(spark):
    """Janino compiles so far in this JVM (Spark's CodegenMetrics counter).
    Read it around a run to count the classes that run had to compile."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return lambda: metrics.METRIC_COMPILATION_TIME().getCount()
