"""Salted two-phase aggregation must agree with the single-phase path
on a skewed table (heavy src0 holds ~50% of rows)."""

import numpy as np
import pytest

from gate_spark import summarize
from gate_spark.datagen import token_table


@pytest.fixture(scope="module")
def skewed(spark):
    df = token_table(spark, 4000, seed=21, heavy_frac=0.5, num_partitions=8)
    return df.selectExpr("source", "n_tok", "size(tokens) as tok_len", "doc_id").cache()


def _pdf(summary):
    return (
        summary.df.toPandas()
        .sort_values(["source", "column"])
        .reset_index(drop=True)
    )


def test_salted_matches_plain_exact(skewed):
    plain = _pdf(
        summarize(
            skewed, columns=["n_tok", "tok_len", "doc_id"], partition_key="source",
            quantile_mode="nearest", extras=True,
        )
    )
    salted = _pdf(
        summarize(
            skewed, columns=["n_tok", "tok_len", "doc_id"], partition_key="source",
            quantile_mode="nearest", extras=True, skew_salt=8,
        )
    )
    assert list(plain.columns) == list(salted.columns)
    assert len(plain) == len(salted)
    for c in plain.columns[2:]:
        a = plain[c].astype(float).to_numpy()
        b = salted[c].astype(float).to_numpy()
        # mean/stddev merge via sums: float32-identical, not bit-identical
        assert np.allclose(a, b, rtol=1e-5, atol=1e-6, equal_nan=True), c


def test_salted_distinct_counts_equal_plain(skewed):
    """Both paths count distinct values in the same occurrence cascade,
    so the salted counts equal the plain ones exactly."""
    plain = _pdf(
        summarize(skewed, columns=["doc_id"], partition_key="source")
    )
    salted = _pdf(
        summarize(skewed, columns=["doc_id"], partition_key="source",
                  skew_salt=8)
    )
    assert plain["source"].tolist() == salted["source"].tolist()
    assert (
        plain["num_unique_values"].to_numpy()
        == salted["num_unique_values"].to_numpy()
    ).all()


def test_salted_sketch_quantiles_on_skew(spark):
    """VERDICT r4 item 5: quantile_mode="sketch" composed WITH the
    salted two-phase scalar path under heavy-source skew (one partition
    holds ~50% of rows). The KLL estimates must land in the +/-2% rank
    band of each partition's exact distribution (compacted regime:
    k=200 << group rows), the salted scalars must match the plain exact
    path, and the plan must show phase 1 actually fanning out over the
    (partition, _salt) composite key."""
    import pandas as pd

    rng = np.random.RandomState(31)
    n = 40_000
    # skewed partition assignment: p0 ~50%, rest split the remainder
    parts = np.where(
        rng.rand(n) < 0.5, "p0", np.char.add("p", rng.randint(1, 7, size=n).astype(str))
    )
    pdf = pd.DataFrame(
        {
            "part": parts,
            "x": rng.lognormal(3.0, 1.5, size=n),  # unbounded continuous
            "grp": rng.randint(0, 50, size=n),
        }
    )
    df = spark.createDataFrame(pdf).repartition(16).cache()
    try:
        s = summarize(
            df, columns=["x", "grp"], partition_key="part",
            quantile_mode="sketch", extras=True,
            skew_salt=8, persist=False,
        )
        # phase 1 groups by (part, _salt): the alias is folded away in
        # the optimized plan but the grouping survives in the analyzed
        # plan, and the salt source (spark_partition_id) in both
        assert "_salt" in s.df._jdf.queryExecution().analyzed().toString()
        assert "SPARK_PARTITION_ID" in (
            s.df._jdf.queryExecution().optimizedPlan().toString().upper()
        )
        got = {(r["part"], r["column"]): r for r in s.df.collect()}

        plain = summarize(
            df, columns=["x", "grp"], partition_key="part",
            quantile_mode="nearest", extras=True,
            persist=False,
        )
        ref = {(r["part"], r["column"]): r for r in plain.df.collect()}
        assert set(got) == set(ref)
        by_part = {p: np.sort(pdf[pdf["part"] == p]["x"].to_numpy()) for p in set(parts)}
        for key, r in got.items():
            e = ref[key]
            # salted scalars == plain exact (float32 merge tolerance)
            for c in ("coverage", "mean", "num_unique_values", "count",
                      "null_fraction", "min", "max", "stddev"):
                a, b = r[c], e[c]
                if a is None or b is None:
                    assert a == b, (key, c)
                else:
                    assert np.isclose(a, b, rtol=1e-5, atol=1e-6), (key, c)
            # KLL rank band on the continuous column
            if key[1] == "x":
                vals = by_part[key[0]]
                for stat, q in (("p50", 0.5), ("p95", 0.95)):
                    lo = vals[int(max(0.0, q - 0.02) * (len(vals) - 1))]
                    hi = vals[int(min(1.0, q + 0.02) * (len(vals) - 1))]
                    assert lo <= r[stat] <= hi, (key, stat, r[stat], lo, hi)
    finally:
        df.unpersist()
