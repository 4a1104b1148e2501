"""Embedding-column summaries: per-dimension statistics + per-partition
KMeans centroids/examples.

The reference explodes an embedding column into d scalar columns and
re-runs the scalar aggregates per dimension (gate/statistics.py:163-171,
gate/summary.py:295-328) — a quadratic plan at high d. Here the explode
is ``posexplode`` and the aggregate groups by ``(partition, pos)``, so
plan size stays linear in d and the shuffle carries (partition, dim)
keys with map-side partial aggregation.

KMeans (k=5, <=2000 sampled rows, 10 examples per cluster —
gate/statistics.py:53-138, gate/summary.py:284-293) runs as a seeded
numpy kernel inside ``applyInPandas`` per (partition) group: the
clustering input is bounded by the sample cap, so each group is tiny
regardless of table size.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

NUM_CLUSTERS = 5  # gate/summary.py:284-293
SAMPLE_LIMIT = 2000  # gate/statistics.py:60
EXAMPLES_PER_CLUSTER = 10
SEED = 42


def check_uniform_length(df: DataFrame, value_col: str) -> int:
    """All embedding arrays must share one length
    (gate/statistics.py:151-161); returns that length."""
    lens = [
        r[0]
        for r in df.where(F.col(value_col).isNotNull())
        .select(F.size(value_col))
        .distinct()
        .limit(2)
        .collect()
    ]
    if len(lens) != 1:
        raise ValueError(
            f"Embedding column {value_col!r} has non-uniform lengths: {lens}"
        )
    return int(lens[0])


def embedding_summary(
    df: DataFrame,
    partition_key: str,
    embedding_column_map: dict[str, str],
    *,
    quantile_mode: str = "approx",
    accuracy: int = 10000,
    compute_examples: bool = True,
    sketch_k: int = 200,
) -> tuple[DataFrame, dict[str, int], dict, dict]:
    """Per-dimension coverage/mean/p50/p95 for each embedding value
    column, long format with column names ``{value_col}_{i}``.

    Returns (long_df, dims, examples, centroids)."""
    dims: dict[str, int] = {}
    parts: list[DataFrame] = []
    examples: dict = {}
    centroids: dict = {}

    for key_col, value_col in embedding_column_map.items():
        d = check_uniform_length(df, value_col)
        dims[value_col] = d

        base = df.select(partition_key, F.col(value_col).alias("_emb"))
        # coverage is a property of the array column itself; per-dim
        # coverage equals it (uniform lengths), computed once.
        cov = base.groupBy(partition_key).agg(
            F.avg(F.col("_emb").isNotNull().cast("double")).alias("coverage")
        )
        exploded = (
            base.where(F.col("_emb").isNotNull())
            .select(
                partition_key,
                F.posexplode("_emb").alias("_pos", "_val"),
            )
            .withColumn("_val", F.col("_val").cast("double"))
        )
        if quantile_mode in ("nearest", "sketch"):
            # per-(partition, dim) pairs through the scalar summary's
            # value-keyed machinery: exact polars-"nearest" parity
            # (oracle-checkable) or the KLL mergeable sketch
            from gate_spark.kll import kll_quantiles_from_pairs
            from gate_spark.operators.summarize import nearest_rank_quantiles_from_pairs

            pairs = exploded.select(partition_key, "_pos", F.col("_val").alias("value"))
            keys, qs = [partition_key, "_pos"], (0.5, 0.95)
            qdf = (
                nearest_rank_quantiles_from_pairs(pairs, keys, qs)
                if quantile_mode == "nearest"
                else kll_quantiles_from_pairs(pairs, keys, qs, k=sketch_k)
            )
            per_dim = (
                exploded.groupBy(partition_key, "_pos")
                .agg(F.avg("_val").alias("mean"))
                .join(qdf, keys)
                .select(
                    partition_key, "_pos", "mean",
                    F.col("_p50").alias("p50"), F.col("_p95").alias("p95"),
                )
            )
        else:
            if quantile_mode == "linear":
                qexpr = F.percentile("_val", F.array(F.lit(0.5), F.lit(0.95)))
            else:
                # approx sketch: per-dim distributions are dense, the
                # sketch picks actual data values (rank-based) like
                # polars "nearest" — the scale default.
                qexpr = F.percentile_approx(
                    "_val", F.array(F.lit(0.5), F.lit(0.95)), accuracy
                )
            per_dim = exploded.groupBy(partition_key, "_pos").agg(
                F.avg("_val").alias("mean"), qexpr.alias("_q")
            ).select(
                partition_key,
                "_pos",
                "mean",
                F.element_at("_q", 1).alias("p50"),
                F.element_at("_q", 2).alias("p95"),
            )
        long_df = (
            per_dim.join(cov, partition_key)
            .select(
                partition_key,
                F.concat(F.lit(value_col + "_"), F.col("_pos").cast("string")).alias(
                    "column"
                ),
                "coverage",
                "mean",
                "p50",
                "p95",
            )
        )
        parts.append(long_df)

        if compute_examples:
            ex, cent = _cluster_examples(df, partition_key, key_col, value_col, d)
            examples.update(ex)
            centroids.update(cent)

    from functools import reduce

    out = reduce(lambda a, b: a.unionByName(b), parts)
    return out, dims, examples, centroids


def _cluster_examples(
    df: DataFrame, partition_key: str, key_col: str, value_col: str, dim: int
) -> tuple[dict, dict]:
    """Per-partition KMeans centroids + per-cluster sampled examples
    (gate/statistics.py:53-138). Runs the seeded numpy kmeans kernel
    inside applyInPandas over a bounded per-partition sample."""
    from gate_spark.kernels import kmeans

    out_schema = T.StructType(
        [
            T.StructField("partition", T.StringType()),
            T.StructField("key", T.StringType()),
            T.StructField("value", T.ArrayType(T.DoubleType())),
            T.StructField("cluster", T.IntegerType()),
            T.StructField("is_centroid", T.BooleanType()),
        ]
    )

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.dropna(subset=["_v"])
        if len(pdf) == 0:
            return pd.DataFrame(columns=[f.name for f in out_schema.fields])
        # deterministic sample cap (gate/statistics.py:60: limit=2000, seed 42)
        if len(pdf) > SAMPLE_LIMIT:
            pdf = pdf.sample(n=SAMPLE_LIMIT, random_state=SEED)
        mat = np.stack(pdf["_v"].to_numpy())
        k = min(NUM_CLUSTERS, len(pdf))
        labels, centers = kmeans(mat, k, seed=SEED)
        pdf = pdf.assign(cluster=labels.astype(np.int32), is_centroid=False)
        rows = []
        for cl, grp in pdf.groupby("cluster"):
            take = grp.head(EXAMPLES_PER_CLUSTER)
            for _, r in take.iterrows():
                rows.append(
                    (str(r["_p"]), str(r["_k"]), list(map(float, r["_v"])), int(cl), False)
                )
        for cl in range(k):
            rows.append((str(pdf["_p"].iloc[0]), "", list(map(float, centers[cl])), cl, True))
        return pd.DataFrame(rows, columns=[f.name for f in out_schema.fields])

    prepped = df.select(
        F.col(partition_key).cast("string").alias("_p"),
        F.col(key_col).cast("string").alias("_k"),
        F.col(value_col).cast("array<double>").alias("_v"),
    )
    result = prepped.groupBy("_p").applyInPandas(fit, out_schema).toPandas()

    examples: dict = {}
    centroids: dict = {}
    for part, grp in result.groupby("partition"):
        ex = grp[~grp["is_centroid"]][["partition", "key", "value", "cluster"]].reset_index(
            drop=True
        )
        cents = grp[grp["is_centroid"]].sort_values("cluster")
        examples[(part, key_col)] = ex
        centroids[(part, key_col)] = np.stack(cents["value"].to_numpy()) if len(cents) else np.zeros((0, dim))
    return examples, centroids
