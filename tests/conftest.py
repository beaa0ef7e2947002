import pytest


@pytest.fixture(scope="session")
def spark():
    from sorting_compressed_time_series_spark.session import get_spark

    s = get_spark(app="tests", cores=4, shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture
def small_batches(spark):
    """Arrow batches of 2 rows, so a doc's chunks straddle batches."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "2")
    yield
    spark.conf.set(key, prev)
