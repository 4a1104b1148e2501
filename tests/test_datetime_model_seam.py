"""Two integration seams the reference exercises but round 1 did not:

1. DateType partition keys (reference tests/conftest.py:54-79 uses
   pd.date_range keys) — Summary.partitions() / isin pruning /
   toPandas round-trips must survive a non-string partition column.

2. A NON-stub encoder/name-embedder with a real model's contract
   (dense projection, unit-norm float32 output, loaded once per
   worker) through compute_embeddings -> summarize -> detect_drift ->
   drifted_examples, proving the pluggable seam fits e.g. a
   sentence-transformers model (reference gate/summarize.py:11-46,
   gate/drift.py:531-546) without the sandbox downloading one.
"""

import datetime as dt

import numpy as np
import pandas as pd
import pytest

from gate_spark import detect_drift, summarize
from gate_spark.operators.drift import drift_scores
from gate_spark.operators.encode import compute_embeddings


# ------------------------------------------------- DateType partitions


@pytest.fixture(scope="module")
def date_keyed_df(spark):
    """8 DateType partitions: identical rows in the first 7, shifted
    int/float distributions in the last."""
    rng = np.random.RandomState(11)
    n = 500
    ints = rng.randint(0, 10, n)
    floats = rng.normal(0.0, 1.0, n)
    strs = rng.choice(["A", "B", "C"], n)
    frames = []
    for p in range(8):
        drifted = p == 7
        frames.append(
            pd.DataFrame(
                {
                    "day": [dt.date(2022, 1, p + 1)] * n,
                    "int_col": (ints + 50) if drifted else ints,
                    "float_col": (floats + 5.0) if drifted else floats,
                    "string_col": strs,
                }
            )
        )
    df = spark.createDataFrame(pd.concat(frames, ignore_index=True))
    assert dict(df.dtypes)["day"] == "date"
    return df.cache()


def test_date_partition_summary_roundtrip(date_keyed_df):
    s = summarize(
        date_keyed_df,
        columns=["int_col", "float_col", "string_col"],
        partition_key="day",
        quantile_mode="nearest",
    )
    parts = s.partitions()
    assert len(parts) == 8
    assert all(isinstance(p, dt.date) for p in parts)
    assert max(parts) == dt.date(2022, 1, 8)
    pdf = s.df.toPandas()
    assert pdf["day"].nunique() == 8


def test_date_partition_drift(date_keyed_df):
    s = summarize(
        date_keyed_df,
        columns=["int_col", "float_col", "string_col"],
        partition_key="day",
    )
    r = detect_drift(s, cluster=False)
    assert r.score_percentile > 0.85
    assert str(r.current_partition).startswith("2022-01-08")
    dc = r.drifted_columns()
    assert dc.index.values[0] in ("int_col", "float_col")

    v = drift_scores(s, k=3).toPandas().sort_values("score")
    assert v.iloc[-1]["partition"].startswith("2022-01-08")
    assert bool(v.iloc[-1]["is_drifted"])


# --------------------------------------------- near-model encoder seam

DIM = 24


def _projection_encoder_factory():
    """Shaped like a real text-embedding model: a dense weight matrix
    'loaded' once per worker, batched encode(list[str]) -> unit-norm
    float32 (n, DIM). Deterministic (seeded weights) so the test is
    stable, but structurally identical to wrapping e.g.
    SentenceTransformer.encode."""

    def factory():
        w = np.random.RandomState(3).standard_normal((256, DIM)).astype(np.float32)

        def encode(texts):
            out = np.empty((len(texts), DIM), dtype=np.float32)
            for i, t in enumerate(texts):
                hist = np.zeros(256, dtype=np.float32)
                for b in t.encode("utf-8", "ignore"):
                    hist[b] += 1.0
                v = hist @ w
                out[i] = v / max(float(np.linalg.norm(v)), 1e-6)
            return out

        return encode

    return factory


def _name_embedder(names):
    """Model-shaped name embedder: list[str] -> (n, 32) float32."""
    w = np.random.RandomState(5).standard_normal((256, 32)).astype(np.float32)
    out = np.empty((len(names), 32), dtype=np.float32)
    for i, t in enumerate(names):
        hist = np.zeros(256, dtype=np.float32)
        for b in str(t).encode("utf-8", "ignore"):
            hist[b] += 1.0
        v = hist @ w
        out[i] = v / max(float(np.linalg.norm(v)), 1e-6)
    return out


def test_encoder_seam_end_to_end(spark):
    """compute_embeddings with the non-stub projection encoder, then
    summarize -> detect_drift -> drifted_examples: the last partition's
    texts come from a different token distribution and must flag."""
    word_texts = [f"steady prose sample number {i % 40} about engines" for i in range(200)]
    digit_texts = ["9813 4451 2290 7734 " * 3 + str(i % 40) for i in range(200)]
    frames = []
    for p in range(8):
        texts = digit_texts if p == 7 else word_texts
        frames.append(
            pd.DataFrame(
                {
                    "date": [f"2022-01-{p + 1:02d}"] * 200,
                    "key": [f"k{p}_{i}" for i in range(200)],
                    "text": texts,
                }
            )
        )
    df = spark.createDataFrame(pd.concat(frames, ignore_index=True))
    emb = compute_embeddings(
        df, "text", dim=DIM, encoder_factory=_projection_encoder_factory()
    )
    row = emb.first()
    assert len(row["text_embedding"]) == DIM
    assert abs(float(np.linalg.norm(row["text_embedding"])) - 1.0) < 1e-3

    s = summarize(
        emb,
        embedding_column_map={"key": "text_embedding"},
        partition_key="date",
        compute_embedding_examples=True,
    )
    r = detect_drift(s, cluster=False)
    assert r.score_percentile > 0.85
    dc = r.drifted_columns()
    assert dc.index.values[0] == "text_embedding"
    ex = r.drifted_examples("key")
    assert len(ex["drifted_examples"]) > 0
    assert set(ex["drifted_examples"]["key"].str.slice(0, 2)) == {"k7"}


def test_name_embedder_seam(df_with_drift):
    """detect_drift's clustering path with a model-shaped name embedder
    (non-stub): same contract as a sentence-transformer wrapper."""
    cols = [c for c in df_with_drift.columns if c != "date"]
    s = summarize(df_with_drift, columns=cols, partition_key="date")
    r = detect_drift(s, cluster=True, name_embedder=_name_embedder)
    assert len(r.clustering) > 0
    assert r.score_percentile > 0.85
