import pyarrow.parquet as pq
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


@pytest.fixture
def passes_memory():
    """``f(warehouse, columns)``: a ``spark.python.worker.memory`` under
    which ``bucket_reader`` reads every bucket of the chunk table's tier-0
    rows (``columns`` of them) in at least 3 doc-range passes."""
    from sorting_compressed_time_series_spark.sources.warehouse import (
        HELD_PER_BYTE,
        _doc_passes,
        _footed,
    )

    def memory(wh, columns: tuple[str, ...]) -> int:
        buckets = wh.bucket_files("chunks_tier0")

        def nbytes(paths):
            mds = [pq.read_metadata(f) for f in paths]
            return sum(md.row_group(g).column(j).total_uncompressed_size for md in mds
                       for g in range(md.num_row_groups) for j in range(md.num_columns)
                       if md.schema.column(j).path in columns)

        out = HELD_PER_BYTE * min(map(nbytes, buckets.values())) // 5
        assert all(len(_doc_passes(_footed(fs), columns, [[("tier", "=", 0)]],
                                   out // HELD_PER_BYTE)) >= 3 for fs in buckets.values())
        return out

    return memory
