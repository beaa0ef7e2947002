"""Registry queries against their exact DuckDB oracles on the smallest
testdata scale, with the correctness gate's own comparison
(``tools/check_correctness.py``: row count, column names, order-insensitive
exact values). Covers the queries built on the events series' chunks and
codec round trips and on the tokens flush → tier rollup."""

import pytest

from sorting_compressed_time_series_spark.queries import ORACLES, SPARK_QUERIES
from tools.check_correctness import compare, duck_con

SF = "/root/testdata/sf0.001"

QUERIES = [
    "roundtrip_bytealigned",
    "roundtrip_bitpacked",
    "roundtrip_ts2diff",
    "rollup_1m",
    "rollup_1h_from_1m",
    "rollup_from_chunk_stats",
    "aligned_series_scan",
    "aligned_series_agg",
    "tokens_pipeline_tiers",
    "tokens_roundtrip_check",
    "tokens_compression_metrics",
]


@pytest.fixture(scope="module")
def con():
    c = duck_con(SF)
    yield c
    c.close()


@pytest.mark.parametrize("name", QUERIES)
def test_query_matches_duckdb_oracle(spark, con, name):
    got = SPARK_QUERIES[name](spark, SF).toPandas()
    want = con.sql(ORACLES[name]).df()
    assert len(got) > 0
    assert compare(name, got, want) == []
