"""Drift detection over partition summaries.

Pipeline (reference: gate/drift.py:328-472):

1. z-score-normalize the stack of summaries per (column, statistic)
   (D5 mapping: mean/std include the current partition, +1e-10 on
   std, ddof=1 like pandas ``std``);
2. optionally cluster correlated columns and reduce |z| to cluster
   means (gate/drift.py:388-411);
3. pivot to a (partition x feature) matrix, fillna(0) before and after
   (gate/drift.py:421-429);
4. kNN over partition vectors; score = mean distance to k nearest
   non-self neighbors (gate/drift.py:431-444);
5. verdict: drifted iff score >= 95th percentile of all *other*
   partitions' scores (gate/drift.py:107-126).

The summary table is metadata-scale (partitions x columns rows), so
detect_drift collects it ONCE and runs steps 1-5 driver-side in float64
(z-score: kernels.zscore_groups), mirroring the reference's math. The
Spark ``normalize`` window below is the SQL-twin formulation behind
``drifted_columns_df``, ``cluster_reduced_z`` and the oracle queries.
"""

from __future__ import annotations

import typing

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from gate_spark import kernels
from gate_spark.localframe import local_df
from gate_spark.operators.summarize import Summary

Z_EPS = 1e-10  # gate/drift.py:500
MIN_HISTORY = 5  # gate/drift.py:357
CLUSTER_MIN_COLUMNS = 10  # gate/drift.py:389


def melt_summary(summary_df: DataFrame, partition_key: str, statistics: list[str]) -> DataFrame:
    """Wide summary -> (partition, column, statistic, value), nulls
    dropped (reference: gate/drift.py:490-495)."""
    structs = [
        F.struct(F.lit(s).alias("statistic"), F.col(s).cast("double").alias("value"))
        for s in statistics
    ]
    return (
        summary_df.select(
            partition_key, "column", F.explode(F.array(*structs)).alias("_sv")
        )
        .select(partition_key, "column", "_sv.statistic", "_sv.value")
        .where(F.col("value").isNotNull())
    )


def normalize(summary_df: DataFrame, partition_key: str, statistics: list[str]) -> DataFrame:
    """Melt + per-(column, statistic) z-score as a window aggregate
    (reference: gate/drift.py:475-502; pandas std is ddof=1 ->
    stddev_samp)."""
    melted = melt_summary(summary_df, partition_key, statistics)
    w = Window.partitionBy("column", "statistic")
    return melted.withColumn(
        "value",
        (F.col("value") - F.avg("value").over(w))
        / (F.stddev_samp("value").over(w) + F.lit(Z_EPS)),
    )


def zscore_summary(pdf: pd.DataFrame, pk: str, statistics: list[str]) -> pd.DataFrame:
    """Collected wide summary -> (partition, column, statistic, value)
    with nulls dropped and each (column, statistic) group z-scored —
    the driver-side twin of :func:`normalize`."""
    melted = pdf.melt(
        id_vars=[pk, "column"],
        value_vars=statistics,
        var_name="statistic",
        value_name="value",
    ).dropna(subset=["value"])
    codes = melted.groupby(["column", "statistic"], sort=False).ngroup().to_numpy()
    melted["value"] = kernels.zscore_groups(
        melted["value"].to_numpy(dtype=np.float64), codes, Z_EPS
    )
    return melted.reset_index(drop=True)


def _ordered_partitions(keys: pd.Series) -> list:
    """Distinct partition keys in Spark ``orderBy`` order (ascending,
    null first)."""
    vals = keys.drop_duplicates().tolist()
    present = [v for v in vals if not pd.isna(v)]
    return [None] * (len(present) < len(vals)) + sorted(present)


class DriftResult:
    """Mirror of the reference's DriftResult (gate/drift.py:15-326):
    driver-side accessors over the collected feature matrix."""

    def __init__(
        self,
        all_scores: pd.Series,
        nn_features: pd.DataFrame,
        summary: Summary,
        current_partition,
        neighbor_partitions: list,
        clustered_features: pd.DataFrame | None,
        embedding_columns: list[str],
    ) -> None:
        self._all_scores = all_scores
        self._nn_features = nn_features
        self._summary = summary
        self._current = current_partition
        self._neighbor_partitions = neighbor_partitions
        self._clustered_features = clustered_features
        self._embedding_columns = embedding_columns

    @property
    def summary(self) -> Summary:
        return self._summary

    @property
    def current_partition(self):
        return self._current

    @property
    def neighbor_partitions(self) -> list:
        return list(self._neighbor_partitions)

    @property
    def score(self) -> float:
        """Mean distance to the k nearest neighbors (gate/drift.py:101-104)."""
        return float(self._all_scores[self._current])

    @property
    def all_scores(self) -> pd.Series:
        """Scores of all OTHER partitions (gate/drift.py:122-126)."""
        mask = self._all_scores.index != self._current
        return self._all_scores[mask]

    @property
    def score_percentile(self) -> float:
        """Rank percentile of the current score among other partitions'
        scores (gate/drift.py:116-120; scipy kind='rank')."""
        return kernels.percentile_of_score(self.all_scores.to_numpy(), self.score) / 100.0

    @property
    def is_drifted(self) -> bool:
        """Threshold 95% (gate/drift.py:107-114)."""
        return self.score_percentile >= 0.95

    @property
    def clustering(self) -> typing.Dict[int, typing.List[str]]:
        """cluster id -> member columns (gate/drift.py:129-142)."""
        if self._clustered_features is None:
            raise ValueError("No clustering was performed.")
        grouped = self._clustered_features.groupby("cluster")["column"].agg(set).apply(list)
        return grouped.to_dict()

    def verdict(self) -> dict:
        """Per-partition verdict row (north-rule output shape)."""
        return {
            "partition": self._current,
            "score": self.score,
            "score_percentile": self.score_percentile,
            "is_drifted": self.is_drifted,
        }

    def drill_down(
        self,
        sort_by_cluster_score: bool = False,
        average_embedding_columns: bool = True,
    ) -> pd.DataFrame:
        """(column, statistic) pairs ranked by |z| of the current
        partition (reference: gate/drift.py:144-236)."""
        last_day = self._nn_features.loc[self._current]
        sorted_cols = last_day.abs().sort_values(ascending=False).index
        sorted_df = last_day[sorted_cols].to_frame()
        sorted_df.rename(columns={sorted_df.columns[0]: "z-score"}, inplace=True)
        sorted_df = sorted_df.rename_axis(["column", "statistic"])

        if self._clustered_features is not None:
            sorted_df = sorted_df.rename_axis(["cluster", "statistic"]).reset_index()
            sorted_df.rename(columns={"z-score": "abs(z-score-cluster)"}, inplace=True)
            sorted_df = sorted_df.merge(
                self._clustered_features, on=["cluster", "statistic"], how="left"
            )
            if sort_by_cluster_score:
                sorted_df = sorted_df.reindex(
                    sorted_df[["abs(z-score-cluster)", "z-score"]]
                    .abs()
                    .sort_values(by=["abs(z-score-cluster)", "z-score"], ascending=False)
                    .index
                )
                sorted_df.set_index(["column", "statistic"], inplace=True)

        if len(self._embedding_columns) > 0 and average_embedding_columns:
            sorted_df = sorted_df.reset_index()
            if "index" in sorted_df.columns:
                sorted_df.drop(columns=["index"], inplace=True)
            sorted_df["column"] = sorted_df["column"].apply(
                lambda x: name_to_ec(x, self._embedding_columns)
            )
            is_emb = sorted_df["column"].isin(self._embedding_columns)
            sorted_df.loc[is_emb, "z-score"] = sorted_df.loc[is_emb, "z-score"].abs()
            num_cols = [
                c for c in sorted_df.columns if c not in ("column", "statistic")
            ]
            sorted_df = sorted_df.groupby(["column", "statistic"])[num_cols].mean()
            sorted_df = sorted_df.reindex(
                sorted_df["z-score"].abs().sort_values(ascending=False).index
            )
        return sorted_df

    def drifted_columns(
        self, limit: int = 10, average_embedding_columns: bool = True
    ) -> pd.DataFrame:
        """Top-|z| columns, deduplicated (gate/drift.py:247-303)."""
        dd = self.drill_down(average_embedding_columns=average_embedding_columns)
        if self._clustered_features is not None:
            dd = dd.reindex(
                dd[["z-score", "abs(z-score-cluster)"]]
                .abs()
                .sort_values(by=["z-score", "abs(z-score-cluster)"], ascending=False)
                .index
            )
        dd = dd.reset_index()
        dd.drop_duplicates(subset=["column"], keep="first", inplace=True)
        dd.set_index("column", inplace=True)
        if self._clustered_features is not None:
            dd = dd[["statistic", "z-score", "cluster", "abs(z-score-cluster)"]]
            dd = dd[dd["abs(z-score-cluster)"].abs() > 0.0]
        return dd.head(limit)

    def drifted_examples(self, embedding_key_column: str) -> dict:
        """Centroid cosine-similarity drill-down to the most isolated
        current cluster (gate/drift.py:42-99)."""
        key = embedding_key_column
        curr = self._summary.centroids.get((str(self._current), key))
        if curr is None:
            raise ValueError(f"No centroids for partition {self._current}, key {key!r}")
        neigh_cents, idxs = [], []
        for i, p in enumerate(self._neighbor_partitions):
            c = self._summary.centroids.get((str(p), key))
            if c is None:
                continue
            neigh_cents.append(c)
            idxs.extend((i, j) for j in range(len(c)))
        if not neigh_cents:
            raise ValueError("No neighbor centroids available")
        all_cents = np.vstack(neigh_cents)
        sim = kernels.cosine_similarity_matrix(curr, all_cents)
        most_dissimilar = int(np.argmax(np.min(sim, axis=1)))
        curr_examples = self._summary.examples[(str(self._current), key)]
        drifted = curr_examples[curr_examples["cluster"] == most_dissimilar].reset_index(
            drop=True
        )
        corresponding_idx = int(np.argmin(sim[most_dissimilar]))
        ni, nj = idxs[corresponding_idx]
        neigh_examples = self._summary.examples[
            (str(self._neighbor_partitions[ni]), key)
        ]
        corresponding = neigh_examples[neigh_examples["cluster"] == nj].reset_index(
            drop=True
        )
        return {
            "drifted_examples": drifted.drop(columns=["cluster"]),
            "corresponding_examples": corresponding.drop(columns=["cluster"]),
        }

    def __str__(self) -> str:
        return (
            f"Drift score: {self.score:.4f} ({self.score_percentile:.2%} percentile)\n"
            f"Top drifted columns:\n{self.drifted_columns()}"
        )


def detect_drift(
    summary: Summary,
    current_partition=None,
    *,
    validity: typing.Sequence[int] | None = None,
    cluster: bool = True,
    k: int = 3,
    trailing_window: int | None = None,
    name_embedder: typing.Callable[[list[str]], np.ndarray] | None = None,
) -> DriftResult:
    """Drift verdict for ``current_partition`` against history
    (reference: gate/drift.py:328-472).

    ``trailing_window`` is a north-rule extension: restrict history to
    the last W partitions before the current one (the reference always
    uses all history).
    """
    pk = summary.partition_key
    pdf = summary.df.toPandas()
    partitions = _ordered_partitions(pdf[pk])
    if current_partition is None:
        current_partition = partitions[-1]
    if current_partition not in partitions:
        raise ValueError(f"Partition {current_partition!r} not in summary")
    previous = [p for p in partitions if p != current_partition]
    if trailing_window is not None:
        before = [p for p in previous if p <= current_partition]
        previous = before[-trailing_window:]
    if len(previous) < MIN_HISTORY:
        raise ValueError(
            "You must have at least 5 previous partition summaries to detect"
            " drift. You can randomly split your data from previous partitions"
            " into 5+ partitions if you need to."
        )
    if validity is not None and len(validity) > 0:
        if len(validity) != len(previous):
            raise ValueError(
                f"Validity vector has length {len(validity)} but should have"
                f" length {len(previous)} to match previous partitions."
            )
        previous = [p for p, v in zip(previous, validity) if v == 1]

    keep = previous + [current_partition]
    norm_pdf = zscore_summary(pdf[pdf[pk].isin(keep)], pk, summary.statistics())

    columns = summary.columns
    do_cluster = cluster and len(columns) >= CLUSTER_MIN_COLUMNS

    clustering_df = None
    clustered_features = None
    if do_cluster:
        from gate_spark.operators.clustering import compute_clusters

        clustering_df = compute_clusters(
            norm_pdf,
            pk,
            summary.string_columns,
            summary.float_columns,
            summary.int_columns,
            summary.embedding_columns,
            name_embedder=name_embedder,
        )
        merged = norm_pdf.merge(clustering_df, on=["column"], how="left")
        merged["value_abs"] = merged["value"].abs()
        cluster_normalized = (
            merged.groupby([pk, "cluster", "statistic"])["value_abs"].mean().reset_index()
        )
        cluster_normalized = cluster_normalized.rename(
            columns={"cluster": "column", "value_abs": "value"}
        )
        feat_src = cluster_normalized
    else:
        feat_src = norm_pdf

    nn_features = (
        feat_src.fillna(0.0)
        .pivot_table(index=pk, columns=["column", "statistic"], values="value")
        .fillna(0.0)
    )
    # partition order: pandas pivot sorts the index; the reference
    # relies on the current partition being the LAST concatenated row
    # only for neighbor lookup — we look the current row up by label.
    x = nn_features.to_numpy(dtype=np.float64)
    dists, indices = kernels.knn_query(x, k + 1)
    cur_pos = int(nn_features.index.get_loc(current_partition))
    neighbor_partitions = [
        nn_features.index[j] for j in indices[cur_pos][1:] if j != cur_pos
    ]
    dists = dists.copy()
    dists[np.isinf(dists)] = np.nan
    scores = pd.Series(kernels.nanmean_rows(dists[:, 1:]), index=nn_features.index)

    if do_cluster:
        cf = norm_pdf[norm_pdf[pk] == current_partition].merge(
            clustering_df, on=["column"], how="left"
        )
        cf = cf.rename(columns={"value": "z-score"}).drop(columns=[pk])
        clustered_features = cf

    return DriftResult(
        all_scores=scores,
        nn_features=nn_features,
        summary=summary,
        current_partition=current_partition,
        neighbor_partitions=neighbor_partitions,
        clustered_features=clustered_features,
        embedding_columns=summary.embedding_columns,
    )


def drift_scores(
    summary: Summary,
    k: int = 3,
    *,
    history: "pd.DataFrame | None" = None,
    restrict_stats: list[str] | None = None,
) -> DataFrame:
    """Every partition's drift score + verdict as ONE DataFrame:
    (partition: string, score, score_percentile, is_drifted).

    Applies the reference's scoring (gate/drift.py:421-444, 107-126) to
    each partition as if it were the "current" one: score = mean
    Euclidean distance to its k nearest neighbor partitions in z-scored
    summary space; percentile = rank of its score among all OTHER
    partitions' scores (scipy kind='rank'); drifted iff >= 0.95.

    The summary table is metadata-scale (partitions x columns rows), so
    the whole computation — melt, z-score (:func:`zscore_summary`, the
    one :func:`detect_drift` uses), pivot, kNN, percentile — runs
    driver-side on ONE collect of the (persisted) summary, without the
    ~4 metadata-scale Spark stages of scheduling latency a Spark
    z-scoring would add.

    ``history``: extra summary-format rows (pandas; same partition-key
    and column names) appended to the live summary before z-scoring —
    the resume path scores pending partitions against ALL partitions by
    reconstructing committed partitions' rows from checkpointed sketch
    state (checkpoint.merged_stats_from_lineage lineage). Scores are
    returned for every partition (live + history); the caller filters.
    ``restrict_stats``: intersect the feature space with these
    statistic names — sketch state carries exact moments but not
    occurrence_ratio/quantiles, so global-resume scoring restricts both
    sides to the shared feature set (documented narrowing).
    """
    pk = summary.partition_key
    statistics = summary.statistics()
    if restrict_stats is not None:
        statistics = [s for s in statistics if s in restrict_stats]
    pdf = summary.df.toPandas()
    if history is not None and len(history):
        pdf = pd.concat(
            [pdf[[pk, "column"] + statistics], history[[pk, "column"] + statistics]],
            ignore_index=True,
        )
    melted = zscore_summary(pdf, pk, statistics)
    nn_features = (
        melted.fillna(0.0)
        .pivot_table(index=pk, columns=["column", "statistic"], values="value")
        .fillna(0.0)
    )
    x = nn_features.to_numpy(dtype=np.float64)
    dists, _ = kernels.knn_query(x, min(k + 1, len(x)))
    d = dists.copy()
    d[np.isinf(d)] = np.nan
    scores = kernels.nanmean_rows(d[:, 1:])
    rows = []
    for i, part in enumerate(nn_features.index):
        others = np.delete(scores, i)
        pct = kernels.percentile_of_score(others, float(scores[i])) / 100.0
        rows.append((str(part), float(scores[i]), pct, pct >= 0.95))
    spark = summary.df.sparkSession
    return local_df(
        spark, rows,
        "partition string, score double, score_percentile double, is_drifted boolean",
    )


def drifted_columns_df(
    summary: Summary, current_partition, limit: int = 10
) -> DataFrame:
    """Spark formulation of ``DriftResult.drifted_columns`` (D13/D16,
    reference: gate/drift.py:144-236 drill-down ranking + :247-303
    per-column dedup), for the non-clustered path: every (column,
    statistic) z-score of the current partition (missing pairs fill to
    0.0, mirroring the pandas pivot fillna), the top-|z| statistic per
    column (ties to the lexicographically first statistic — the stable
    order the pandas pivot yields), ranked by |z| descending with
    column-name tiebreak, cut to ``limit``.

    Z-scores span every partition in ``summary`` — pre-filter the
    summary (``summary.df.where(...)``) to mirror detect_drift's
    validity vector / trailing window restrictions.

    Output: (column, statistic, z, rank), rank 1..limit. Window sorts
    here run over the metadata-scale z table (columns x statistics
    rows), never over data — the global-ordering window is single-
    partition by construction and holds at any table width that fits a
    summary."""
    pk = summary.partition_key
    stats = summary.statistics()
    z = normalize(summary.df, pk, stats)
    pairs = z.select("column", "statistic").distinct()
    cur = pairs.join(
        z.where(F.col(pk) == F.lit(current_partition)).select(
            "column", "statistic", "value"
        ),
        ["column", "statistic"],
        "left",
    ).withColumn("z", F.coalesce(F.col("value"), F.lit(0.0)))
    w_col = Window.partitionBy("column").orderBy(
        F.abs(F.col("z")).desc(), F.col("statistic").asc()
    )
    top = cur.withColumn("_rn", F.row_number().over(w_col)).where(F.col("_rn") == 1)
    w_all = Window.orderBy(F.abs(F.col("z")).desc(), F.col("column").asc())
    return (
        top.withColumn("rank", F.row_number().over(w_all))
        .where(F.col("rank") <= limit)
        .select("column", "statistic", "z", "rank")
    )


def cluster_reduced_z(
    summary: Summary,
    clustering: "DataFrame | dict[str, int] | None" = None,
    num_clusters: int = 3,
) -> DataFrame:
    """Spark formulation of detect_drift's cluster-mean reduce (D6/D7,
    reference: gate/drift.py:388-411): per-(column, statistic) z-scores
    averaged as |z| per (partition, cluster, statistic) — the feature
    reduction the clustered drift path feeds to kNN. Pinned against the
    pandas reduce inside :func:`detect_drift` in test_drift.py and
    oracle-gated (``zscores_clustered``).

    ``clustering``: a (column, cluster:int) DataFrame, a column->cluster
    dict, or None for a deterministic name-rank map (columns sorted by
    name, cluster = rank mod ``num_clusters``) — the reproducible stand-
    in a SQL twin can rebuild, where the engine's own compute_clusters
    path uses similarity-driven agglomerative clusters.

    Scale shape: the z table is metadata-scale (partitions x columns x
    stats); the cluster map is column-count-scale and broadcast; the
    reduce is one groupBy over metadata rows. Columns with no cluster
    assignment drop out (inner join) exactly like pandas groupby's
    NaN-key drop after the reference's left merge."""
    pk = summary.partition_key
    z = normalize(summary.df, pk, summary.statistics())
    spark = summary.df.sparkSession
    if clustering is None:
        cmap = (
            z.select("column")
            .distinct()
            .withColumn(
                "cluster",
                ((F.dense_rank().over(Window.orderBy("column")) - 1) % num_clusters).cast(
                    "int"
                ),
            )
        )
    elif isinstance(clustering, dict):
        cmap = local_df(
            spark, [(c, int(k)) for c, k in clustering.items()],
            "column string, cluster int",
        )
    else:
        cmap = clustering
    return (
        z.join(F.broadcast(cmap), "column", "inner")
        .groupBy(pk, "cluster", "statistic")
        .agg(F.avg(F.abs(F.col("value"))).alias("value"))
    )


def name_to_ec(name: str, embedding_columns: list[str]) -> str:
    """Strip a trailing _{i} dimension suffix back to the embedding
    column base name (reference: gate/drift.py:306-325)."""
    split_name = name.rsplit("_", 1)[0]
    return split_name if split_name in embedding_columns else name
