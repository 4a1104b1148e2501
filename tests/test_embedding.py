"""Embedding-column pipeline — mirrors the reference's
tests/test_embedding.py: random embeddings not drifted, scaled
embeddings drifted, examples API shape, uniform-length check."""

import datetime as dt

import numpy as np
import pandas as pd
import pytest

from gate_spark import detect_drift, summarize


def _emb_frame(n_parts: int, rows: int, dim: int, seed: int, scale_last: float | None):
    rng = np.random.RandomState(seed)
    start = dt.datetime(2022, 1, 1)
    frames = []
    for p in range(n_parts):
        emb = rng.rand(rows, dim)
        if scale_last is not None and p == n_parts - 1:
            emb = emb * scale_last
        frames.append(
            pd.DataFrame(
                {
                    "date": [(start + dt.timedelta(days=p)).strftime("%Y-%m-%d")] * rows,
                    "key": [f"k{p}_{i}" for i in range(rows)],
                    "emb": list(emb),
                }
            )
        )
    return pd.concat(frames, ignore_index=True)


@pytest.fixture(scope="module")
def random_embeddings(spark):
    return spark.createDataFrame(_emb_frame(8, 300, 16, 0, None)).cache()


@pytest.fixture(scope="module")
def scaled_embeddings(spark):
    return spark.createDataFrame(_emb_frame(8, 300, 16, 0, 10.0)).cache()


def test_embedding_summary_shape(random_embeddings):
    s = summarize(
        random_embeddings,
        embedding_column_map={"key": "emb"},
        partition_key="date",
        compute_embedding_examples=False,
    )
    pdf = s.df.toPandas()
    assert len(pdf) == 8 * 16  # (partitions x dims)
    assert set(pdf["column"].str.rsplit("_", n=1).str[0]) == {"emb"}
    assert pdf["coverage"].eq(1.0).all()
    assert pdf["mean"].notna().all() and pdf["p50"].notna().all()
    assert pdf["num_unique_values"].isna().all()


def test_embedding_sketch_mode_is_kll(random_embeddings):
    """``quantile_mode="sketch"`` takes embedding dimensions through the
    KLL sketch: with ``sketch_k`` above a group's row count the sketch
    never compacts, so p50/p95 equal nearest-rank's bit for bit
    (percentile_approx would pick the lower rank)."""
    def quantiles(mode):
        s = summarize(
            random_embeddings, embedding_column_map={"key": "emb"},
            partition_key="date", compute_embedding_examples=False,
            quantile_mode=mode, sketch_k=512,
        )
        pdf = s.value()[["date", "column", "p50", "p95"]]
        s.unpersist()
        return pdf

    pd.testing.assert_frame_equal(quantiles("sketch"), quantiles("nearest"))


def test_random_embeddings_not_drifted(random_embeddings):
    """reference tests/test_embedding.py:12-31 (statistical — uniform
    i.i.d. partitions should not flag)."""
    s = summarize(
        random_embeddings, embedding_column_map={"key": "emb"}, partition_key="date",
        compute_embedding_examples=False,
    )
    r = detect_drift(s, cluster=False)
    assert not r.is_drifted


def test_scaled_embeddings_drifted(scaled_embeddings):
    """reference tests/test_embedding.py:58-106 — x10 scaled last
    partition must flag, and drill-down averages dims back to 'emb'."""
    s = summarize(
        scaled_embeddings, embedding_column_map={"key": "emb"}, partition_key="date",
        compute_embedding_examples=True,
    )
    r = detect_drift(s, cluster=False)
    assert r.score_percentile > 0.85
    dc = r.drifted_columns()
    assert dc.index.values[0] == "emb"  # dims averaged to the base column

    ex = r.drifted_examples("key")
    assert set(ex) == {"drifted_examples", "corresponding_examples"}
    assert len(ex["drifted_examples"]) > 0
    assert "cluster" not in ex["drifted_examples"].columns


def test_nonuniform_raises(spark):
    pdf = pd.DataFrame(
        {"date": ["a", "a"], "key": ["x", "y"], "emb": [[1.0, 2.0], [1.0, 2.0, 3.0]]}
    )
    df = spark.createDataFrame(pdf)
    with pytest.raises(ValueError, match="non-uniform"):
        summarize(df, embedding_column_map={"key": "emb"}, partition_key="date")


def test_examples_shape(random_embeddings):
    s = summarize(
        random_embeddings, embedding_column_map={"key": "emb"}, partition_key="date",
        compute_embedding_examples=True,
    )
    assert len(s.centroids) == 8
    some = next(iter(s.centroids.values()))
    assert some.shape == (5, 16)  # NUM_CLUSTERS x dim
    ex = next(iter(s.examples.values()))
    assert {"cluster", "key", "value"} <= set(ex.columns)
    assert ex.groupby("cluster").size().max() <= 10
