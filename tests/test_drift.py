"""Drift detection — assertions mirroring the reference's
tests/test_drift.py (no-drift score, drift percentile + drill-down,
clustering path) plus north-rule extensions (drift_scores DataFrame,
trailing window, validity)."""

import pytest
from pyspark.sql import functions as F

from gate_spark import detect_drift, summarize
from gate_spark.operators.drift import drift_scores

COLS3 = ["string_col", "int_col", "float_col"]


def test_no_drift(medium_df):
    """Identical partitions => score < 1e-7
    (reference tests/test_drift.py:5-15)."""
    s = summarize(medium_df, columns=COLS3, partition_key="date",
                  quantile_mode="nearest")
    assert len(s.partitions()) == 30
    r = detect_drift(s, cluster=False)
    assert r.score < 1e-7


def test_too_few_partitions(tiny_df):
    """<6 partitions -> ValueError (reference tests/test_drift.py:18-27)."""
    s = summarize(tiny_df, columns=COLS3, partition_key="grp")
    with pytest.raises(ValueError):
        detect_drift(s)


def test_drift(df_with_drift):
    """Shifted last partition detected; drill-down names the shifted
    columns (reference tests/test_drift.py:30-46)."""
    s = summarize(df_with_drift, columns=COLS3, partition_key="date",
                  quantile_mode="nearest")
    r = detect_drift(s, cluster=False)
    assert r.score_percentile > 0.85
    dc = r.drifted_columns()
    assert dc.index.values[0] in ("int_col", "float_col")
    assert abs(dc["z-score"].values[0]) > 2.0


def test_drift_clustering(df_with_drift):
    """>=10 columns engages column clustering
    (reference tests/test_drift.py:49-67)."""
    cols = [c for c in df_with_drift.columns if c != "date"]
    s = summarize(df_with_drift, columns=cols, partition_key="date",
                  quantile_mode="nearest")
    r = detect_drift(s, cluster=True)
    assert len(r.clustering) > 0
    # member lists in name order, whatever the string hash seed
    assert all(m == sorted(m) for m in r.clustering.values())
    assert r.score_percentile > 0.85
    dc = r.drifted_columns()
    assert dc.index.values[0] in ("int_col", "float_col")
    assert len(dc) > 3


def test_validity_vector(df_with_drift):
    s = summarize(df_with_drift, columns=COLS3, partition_key="date")
    with pytest.raises(ValueError):
        detect_drift(s, validity=[1, 0])  # wrong length (9 needed)
    r = detect_drift(s, validity=[1, 1, 1, 0, 1, 1, 1, 1, 1], cluster=False)
    assert r.score_percentile > 0.85


def test_trailing_window(df_with_drift):
    s = summarize(df_with_drift, columns=COLS3, partition_key="date")
    r = detect_drift(s, trailing_window=6, cluster=False)
    assert len(r.all_scores) >= 5
    assert r.score_percentile > 0.85


def test_drift_scores_dataframe(medium_df, df_with_drift):
    """drift_scores: one verdict row per partition; the drifted
    partition ranks at the top; identical partitions score ~0."""
    s0 = summarize(medium_df, columns=COLS3, partition_key="date")
    v0 = drift_scores(s0, k=3).toPandas()
    assert len(v0) == 30
    assert (v0["score"] < 1e-7).all()

    s1 = summarize(df_with_drift, columns=COLS3, partition_key="date")
    v1 = drift_scores(s1, k=3).toPandas().sort_values("score")
    assert v1.iloc[-1]["partition"].startswith("2022-01-10")
    assert v1.iloc[-1]["is_drifted"]


def test_cluster_reduced_z_matches_pandas(df_with_drift):
    """cluster_reduced_z (oracle-gated as the zscores_clustered query)
    equals an independent pandas z-score and cluster-mean reduce for
    the same cluster map:
    mean |z| per (partition, cluster, statistic), unassigned columns
    dropped."""
    import numpy as np

    from gate_spark.operators.drift import Z_EPS, cluster_reduced_z

    s = summarize(df_with_drift, columns=COLS3, partition_key="date",
                  quantile_mode="nearest")
    cmap = {"int_col": 0, "float_col": 0}  # string_col unassigned -> dropped
    got = (
        cluster_reduced_z(s, clustering=cmap)
        .orderBy("date", "cluster", "statistic")
        .toPandas()
    )
    assert set(got["cluster"]) == {0}

    # pandas twin: the detect_drift reduce (drift.py merged-groupby)
    melted = s.df.toPandas().melt(
        id_vars=["date", "column"], value_vars=s.statistics(),
        var_name="statistic", value_name="value",
    ).dropna(subset=["value"]).astype({"value": np.float64})
    g = melted.groupby(["column", "statistic"])["value"]
    melted["value"] = (melted["value"] - g.transform("mean")) / (
        g.transform(lambda x: x.std(ddof=1)) + Z_EPS
    )
    melted = melted[melted["column"].isin(cmap)].copy()
    melted["cluster"] = melted["column"].map(cmap)
    melted["value_abs"] = melted["value"].abs()
    want = (
        melted.groupby(["date", "cluster", "statistic"])["value_abs"]
        .mean()
        .reset_index()
        .sort_values(["date", "cluster", "statistic"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want)
    assert list(got["statistic"]) == list(want["statistic"])
    assert np.allclose(got["value"], want["value_abs"], atol=1e-9)
    s.unpersist()


def test_drifted_columns_df_matches_pandas(df_with_drift):
    """drifted_columns_df (oracle-gated as the drifted_columns query)
    reproduces DriftResult.drifted_columns exactly on the non-clustered
    path."""
    from gate_spark.operators.drift import drifted_columns_df

    s = summarize(df_with_drift, columns=COLS3, partition_key="date",
                  quantile_mode="nearest")
    r = detect_drift(s, cluster=False)
    want = r.drifted_columns(limit=3).reset_index()

    got = (
        drifted_columns_df(s, r.current_partition, limit=3)
        .orderBy("rank")
        .toPandas()
    )
    assert list(got["column"]) == list(want["column"])
    assert list(got["statistic"]) == list(want["statistic"])
    for a, b in zip(got["z"], want["z-score"]):
        assert abs(a - b) < 1e-9
    s.unpersist()


def test_detect_drift_is_one_job_over_the_cached_summary(df_with_drift):
    """detect_drift collects the (persisted) summary once and does the
    z-score / clustering / kNN driver-side: one Spark job."""
    s = summarize(df_with_drift, columns=COLS3, partition_key="date")
    s.df.count()  # materialize the cache
    sc = s.df.sparkSession.sparkContext
    sc.setJobGroup("detect_drift_jobs", "detect_drift")
    try:
        r = detect_drift(s, cluster=False)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("detect_drift_jobs")) == 1
    assert r.is_drifted
    s.unpersist()


def test_partition_order_matches_spark_nulls_first(spark):
    """Partitions are ordered like Spark's orderBy: ascending, null
    first; the default current partition is the last one."""
    import pandas as pd

    from gate_spark.operators.drift import _ordered_partitions

    keys = ["b", None, "a", "ä", "B", "b"]
    spark_order = [
        r[0] for r in spark.createDataFrame([(k,) for k in keys], "k string")
        .select("k").distinct().orderBy("k").collect()
    ]
    assert _ordered_partitions(pd.Series(keys)) == spark_order


def test_null_partition_key_is_its_own_partition(df_with_drift):
    """A null partition key is one row of its own in the kNN feature
    matrix on the plain and the clustered path, and a NULL partition in
    drift_scores — never filled in as a value."""
    t = df_with_drift.withColumn(
        "date", F.when(F.col("date") > F.lit("2022-01-01 12:00:00"), F.col("date"))
    )
    cols = [c for c in t.columns if c != "date"]
    s = summarize(t, columns=cols, partition_key="date", quantile_mode="nearest")
    for cluster in (False, True):
        r = detect_drift(s, cluster=cluster)
        assert len(r.all_scores) == 9
        assert r.all_scores.index.isna().sum() == 1
        assert r.is_drifted
    v = drift_scores(s, k=3).toPandas()
    assert len(v) == 10
    assert v["partition"].isna().sum() == 1
    s.unpersist()
