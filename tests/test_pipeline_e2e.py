"""End-to-end slice: synth tokens → flush (sort+encode) → decode-back
token equality (the BASELINE.json per-row invariant) → tier rollups vs
pandas recompute on the decoded raw points."""

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from sorting_compressed_time_series_spark.operators.ingest import flush
from sorting_compressed_time_series_spark.operators.rollup import (
    WINDOW_1H_US,
    WINDOW_1M_US,
    decode_points,
    rollup_from_stats,
    rollup_tiers,
)
from sorting_compressed_time_series_spark.sources.synth import generate_tokens_df

N_DOCS = 200
SEED = 42


@pytest.fixture(scope="module")
def tokens(spark):
    df = generate_tokens_df(spark, N_DOCS, SEED).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def chunks(spark, tokens):
    df = flush(tokens, SEED).cache()
    df.count()
    return df


def test_generator_deterministic(spark):
    a = generate_tokens_df(spark, 50, SEED).orderBy("doc_id").toPandas()
    b = (
        generate_tokens_df(spark.range(0, 50).repartition(7).sparkSession, 50, SEED)
        .orderBy("doc_id")
        .toPandas()
    )
    assert list(a.doc_id) == list(b.doc_id)
    for x, y in zip(a.tokens, b.tokens):
        assert np.array_equal(x, y)


def test_flush_token_array_equality(spark, tokens, chunks):
    """Decoded values, restored to a canonical order, must equal the input
    token arrays exactly (value multiset + per-position equality after
    inverting the sort is guaranteed because the sort is stable and the
    ts synthesis is reproducible)."""
    pts = decode_points(chunks)
    got = (
        pts.groupBy("doc_id")
        .agg(
            F.count("*").alias("n"),
            F.sum("value").alias("s"),
            F.min("value").alias("mn"),
            F.max("value").alias("mx"),
        )
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    want = (
        tokens.select(
            "doc_id",
            F.size("tokens").alias("n"),
            F.aggregate("tokens", F.lit(0).cast("long"), lambda acc, x: acc + x).alias("s"),
            F.array_min("tokens").alias("mn"),
            F.array_max("tokens").alias("mx"),
        )
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_flush_exact_token_multiset_roundtrip(spark, tokens, chunks):
    # exact array equality: decoded values sorted by ts, then re-sorted by
    # the original arrival permutation == tokens. We verify the multiset
    # per doc exactly via sorted-array comparison (stronger than stats).
    pts = decode_points(chunks).toPandas()
    toks = tokens.select("doc_id", "tokens").toPandas()
    got = pts.groupby("doc_id")["value"].apply(lambda s: np.sort(s.to_numpy()))
    for _, row in toks.iterrows():
        assert np.array_equal(got[row.doc_id], np.sort(np.asarray(row.tokens, dtype=np.int64))), row.doc_id


def test_chunks_sorted_and_lineage(chunks):
    pdf = chunks.toPandas()
    assert (pdf["count"] > 0).all()
    assert pdf["n_inversions"].sum() > 0  # the OOO regime is actually exercised
    assert (pdf["bytes_time"] + pdf["bytes_value"] < pdf["bytes_raw"]).all()


def test_points_sorted_within_doc(chunks):
    pts = decode_points(chunks).toPandas().sort_index()
    for doc, grp in pts.groupby("doc_id"):
        ts = grp["ts"].to_numpy()
        assert (np.diff(ts) >= 0).all(), doc


def test_tier1_rollup_matches_pandas(spark, chunks):
    tier1 = rollup_tiers(chunks, [WINDOW_1M_US]).drop("tier").toPandas()
    raw = decode_points(chunks).toPandas()
    raw["window_start"] = raw.ts // WINDOW_1M_US * WINDOW_1M_US
    raw = raw.sort_values(["doc_id", "ts"], kind="stable")
    want = raw.groupby(["doc_id", "window_start"]).agg(
        cnt=("value", "size"),
        sum_v=("value", "sum"),
        min_v=("value", "min"),
        max_v=("value", "max"),
        first_v=("value", "first"),
        last_v=("value", "last"),
    )
    got = tier1.set_index(["doc_id", "window_start"]).sort_index()
    want = want.sort_index()
    assert len(got) == len(want)
    for col in ["cnt", "sum_v", "min_v", "max_v", "first_v", "last_v"]:
        assert np.array_equal(got[col].to_numpy(), want[col].to_numpy()), col


def test_tier2_promotion_composes(spark, chunks):
    """The 1 h tier cascaded from the 1 m tier's rows equals a direct 1 h
    rollup of the points."""
    tiers = rollup_tiers(chunks, [WINDOW_1M_US, WINDOW_1H_US])
    tier2 = tiers.filter(F.col("tier") == 1).toPandas()
    direct = rollup_tiers(chunks, [WINDOW_1H_US]).toPandas()
    a = tier2.set_index(["doc_id", "window_start"]).sort_index()
    b = direct.set_index(["doc_id", "window_start"]).sort_index()
    assert len(a) == len(b)
    for col in ["cnt", "sum_v", "min_v", "max_v", "first_v", "last_v"]:
        assert np.array_equal(a[col].to_numpy(), b[col].to_numpy()), col


def test_stats_rollup_no_decode(spark, tokens, chunks):
    got = rollup_from_stats(chunks).toPandas().set_index("doc_id").sort_index()
    want = (
        tokens.select(
            "doc_id",
            F.size("tokens").alias("cnt"),
            F.aggregate("tokens", F.lit(0).cast("long"), lambda a, x: a + x).alias("sum_v"),
        )
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    assert np.array_equal(got["cnt"].to_numpy(), want["cnt"].to_numpy())
    assert np.array_equal(got["sum_v"].to_numpy(), want["sum_v"].to_numpy())


def test_rollup_tiers_fused_equals_cascade(spark, chunks):
    """The fused one-pass multi-tier rollup equals an independent pandas
    recompute from the decoded points at every granularity (one chunk per
    doc, so every doc's chunks reach one task and the kernel's rows are
    final)."""
    windows = [1_000_000, WINDOW_1M_US, WINDOW_1H_US]
    key = ["doc_id", "source", "window_start"]

    def canon(pdf):
        return pdf.sort_values(key).reset_index(drop=True)

    points = decode_points(chunks).toPandas().sort_values(["doc_id", "ts"], kind="stable")
    refs = {}
    for t, w in enumerate(windows):
        g = points.assign(window_start=points.ts // w * w).groupby(key, sort=True)
        refs[t] = g.agg(cnt=("value", "size"), sum_v=("value", "sum"), min_v=("value", "min"),
                        max_v=("value", "max"), first_ts=("ts", "first"),
                        first_v=("value", "first"), last_ts=("ts", "last"),
                        last_v=("value", "last")).reset_index()
    fused = rollup_tiers(chunks, windows).toPandas()
    for t in range(len(windows)):
        got = canon(fused[fused.tier == t].drop(columns=["tier"]))
        want = canon(refs[t][got.columns])
        pd.testing.assert_frame_equal(got, want, check_dtype=False), t
