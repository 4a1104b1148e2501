"""Drift detection over partition summaries.

Pipeline (reference: gate/drift.py:328-472):

1. z-score-normalize the stack of summaries per (column, statistic)
   (D5 mapping: mean/std include the current partition, +1e-10 on
   std, ddof=1 like pandas ``std``);
2. optionally cluster correlated columns and reduce |z| to cluster
   means (gate/drift.py:388-411);
3. pivot to a (partition x feature) matrix, missing features 0
   (gate/drift.py:421-429);
4. kNN over partition vectors; score = mean distance to k nearest
   non-self neighbors (gate/drift.py:431-444);
5. verdict: drifted iff score >= 95th percentile of all *other*
   partitions' scores (gate/drift.py:107-126).

The summary table is metadata-scale (partitions x columns rows), so
every entry point here collects it ONCE and runs the math driver-side
in float64: step 1 is :func:`zscore_summary` (kernels.zscore_groups),
step 2 :func:`_cluster_mean_abs`, steps 3-4 :func:`_knn_scores`.
Functions that return a Spark DataFrame build it with ``local_df`` (a
JVM ``LocalTableScan``). A null partition key is a partition of its
own throughout.
"""

from __future__ import annotations

import typing

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from gate_spark import kernels
from gate_spark.localframe import local_df
from gate_spark.operators.summarize import Summary

Z_EPS = 1e-10  # gate/drift.py:500
MIN_HISTORY = 5  # gate/drift.py:357
CLUSTER_MIN_COLUMNS = 10  # gate/drift.py:389


def normalize(summary_df: DataFrame, partition_key: str, statistics: list[str]) -> DataFrame:
    """Melt + per-(column, statistic) z-score (reference:
    gate/drift.py:475-502) as a local frame (partition key, column,
    statistic, value double); a one-value group's z-score is NULL.
    Eager: the (bounded, metadata-scale) summary is collected once at
    call time."""
    z = zscore_summary(summary_df.toPandas(), partition_key, statistics)
    return _keyed_frame(summary_df, partition_key, z, "column", "string")


def zscore_summary(pdf: pd.DataFrame, pk: str, statistics: list[str]) -> pd.DataFrame:
    """Collected wide summary -> (partition, column, statistic, value)
    with nulls dropped and each (column, statistic) group z-scored."""
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


def _cluster_mean_abs(z: pd.DataFrame, clusters: pd.DataFrame, pk: str) -> pd.DataFrame:
    """Mean |z| per (partition, cluster, statistic): the clustered
    path's feature reduction (gate/drift.py:388-411). ``clusters`` maps
    column -> cluster; columns without a cluster drop out."""
    merged = z.merge(clusters, on=["column"], how="left").dropna(subset=["cluster"])
    merged["value"] = merged["value"].abs()
    return (
        merged.groupby([pk, "cluster", "statistic"], dropna=False)["value"]
        .mean()
        .reset_index()
    )


def _knn_scores(z: pd.DataFrame, pk: str, k: int):
    """Long (partition, column, statistic, value) frame -> the
    (partition x (column, statistic)) feature matrix with missing
    features 0 (gate/drift.py:421-429), each row's k+1 nearest rows
    (distances and indices; the row itself is one of them, at distance
    ~0) and its score: the mean of the k distances after the first
    (gate/drift.py:431-444). Rows are the partitions in sorted order,
    a null key last."""
    feats = (
        z.fillna({"value": 0.0})
        .groupby([pk, "column", "statistic"], dropna=False)["value"]
        .mean()
        .unstack(["column", "statistic"], fill_value=0.0)
    )
    # column-major, as pandas stores a pivot: BLAS rounding depends on
    # the layout, and this one keeps the scores bit-stable
    x = np.asfortranarray(feats.to_numpy(dtype=np.float64))
    dists, indices = kernels.knn_query(x, k + 1)
    dists[np.isinf(dists)] = np.nan
    return feats, dists, indices, kernels.nanmean_rows(dists[:, 1:])


def _spark_keys(keys: pd.Series, key_type: T.DataType) -> list:
    """Collected partition keys as Python values: NaN -> None, and
    integral keys back to int (toPandas widens an integral column that
    holds a null to float)."""
    integral = isinstance(key_type, T.IntegralType)
    return [None if pd.isna(v) else int(v) if integral else v for v in keys.tolist()]


def _keyed_frame(summary_df: DataFrame, pk: str, z: pd.DataFrame, label: str,
                 label_type: str) -> DataFrame:
    """(pk, label, statistic, value) rows of ``z`` as a local frame whose
    key column has the summary's key type; NaN values become NULL."""
    key_type = summary_df.schema[pk].dataType
    values = [None if np.isnan(v) else v for v in z["value"].tolist()]
    return local_df(
        summary_df.sparkSession,
        zip(_spark_keys(z[pk], key_type), z[label].tolist(), z["statistic"], values),
        f"`{pk}` {key_type.simpleString()}, {label} {label_type},"
        " statistic string, value double",
    )


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
        return {
            c: sorted(set(cols))
            for c, cols in self._clustered_features.groupby("cluster")["column"]
        }

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
    pdf = summary.to_pandas()
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

    clustered_features = None
    feat_src = norm_pdf
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
        feat_src = _cluster_mean_abs(norm_pdf, clustering_df, pk).rename(
            columns={"cluster": "column"}
        )
        cf = norm_pdf[norm_pdf[pk] == current_partition].merge(
            clustering_df, on=["column"], how="left"
        )
        clustered_features = cf.rename(columns={"value": "z-score"}).drop(columns=[pk])

    # rows are in sorted partition order; the reference relies on the
    # current partition being the LAST concatenated row only for
    # neighbor lookup — we look the current row up by label.
    nn_features, _, indices, scores = _knn_scores(feat_src, pk, k)
    cur_pos = int(nn_features.index.get_loc(current_partition))
    neighbor_partitions = [
        nn_features.index[j] for j in indices[cur_pos][1:] if j != cur_pos
    ]

    return DriftResult(
        all_scores=pd.Series(scores, index=nn_features.index),
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
) -> DataFrame:
    """Every partition's drift score + verdict as ONE DataFrame:
    (partition: string, score, score_percentile, is_drifted).

    Applies the reference's scoring (gate/drift.py:421-444, 107-126) to
    each partition as if it were the "current" one: score = mean
    Euclidean distance to its k nearest neighbor partitions in z-scored
    summary space; percentile = rank of its score among all OTHER
    partitions' scores (scipy kind='rank'); drifted iff >= 0.95.

    The whole computation — z-score (:func:`zscore_summary`), pivot and
    kNN (:func:`_knn_scores`, both shared with :func:`detect_drift`),
    percentile — runs driver-side on ONE collect of the (persisted)
    summary. A null partition key is scored as a partition of its own
    and reported as a NULL ``partition``.

    ``history``: earlier partitions' summary rows (pandas, summary
    format: same partition key, ``column`` and statistic columns),
    appended to the live summary before z-scoring — the reference's
    ``previous_summaries``. The resume path passes the committed
    partitions' rows from lineage (checkpoint.summary_from_json), so
    every partition scores as in one summary of the whole table (equal
    up to float rounding of the row order). Scores are returned for every partition (live + history);
    the caller filters.
    """
    pk = summary.partition_key
    statistics = summary.statistics()
    pdf = summary.to_pandas()
    if history is not None and len(history):
        pdf = pd.concat(
            [pdf[[pk, "column"] + statistics], history[[pk, "column"] + statistics]],
            ignore_index=True,
        )
    feats, _, _, scores = _knn_scores(zscore_summary(pdf, pk, statistics), pk, k)
    keys = _spark_keys(feats.index.to_series(), summary.df.schema[pk].dataType)
    rows = []
    for i, part in enumerate(keys):
        others = np.delete(scores, i)
        pct = kernels.percentile_of_score(others, float(scores[i])) / 100.0
        rows.append((None if part is None else str(part), float(scores[i]), pct, pct >= 0.95))
    spark = summary.df.sparkSession
    return local_df(
        spark, rows,
        "partition string, score double, score_percentile double, is_drifted boolean",
    )


def drifted_columns_df(
    summary: Summary, current_partition, limit: int = 10
) -> DataFrame:
    """``DriftResult.drifted_columns`` for the non-clustered path as a
    DataFrame (D13/D16, reference: gate/drift.py:144-236 drill-down
    ranking + :247-303 per-column dedup): every (column, statistic)
    z-score of the current partition (missing pairs fill to 0.0, like
    the pandas pivot), the top-|z| statistic per column (ties to the
    lexicographically first statistic — the stable order the pandas
    pivot yields), ranked by |z| descending with column-name tiebreak,
    cut to ``limit``.

    Z-scores span every partition in ``summary`` — pre-filter the
    summary (``summary.df.where(...)``) to mirror detect_drift's
    validity vector / trailing window restrictions.

    Output: a local frame (column, statistic, z, rank), rank 1..limit.
    Eager: the summary is collected once at call time (no streaming
    input)."""
    pk = summary.partition_key
    z = zscore_summary(summary.to_pandas(), pk, summary.statistics())
    cur = z[z[pk] == current_partition][["column", "statistic", "value"]]
    pairs = z[["column", "statistic"]].drop_duplicates()
    cur = pairs.merge(cur, on=["column", "statistic"], how="left")
    cur["z"] = cur["value"].fillna(0.0)
    cur["abs_z"] = cur["z"].abs()
    top = (
        cur.sort_values(["abs_z", "statistic"], ascending=[False, True])
        .drop_duplicates("column")
        .sort_values(["abs_z", "column"], ascending=[False, True])
        .head(limit)
    )
    return local_df(
        summary.df.sparkSession,
        zip(top["column"], top["statistic"], top["z"].tolist(), range(1, len(top) + 1)),
        "column string, statistic string, z double, rank int",
    )


def cluster_reduced_z(
    summary: Summary,
    clustering: "DataFrame | dict[str, int] | None" = None,
    num_clusters: int = 3,
) -> DataFrame:
    """detect_drift's cluster-mean reduce (D6/D7, reference:
    gate/drift.py:388-411) as a DataFrame: per-(column, statistic)
    z-scores averaged as |z| per (partition, cluster, statistic) — the
    feature reduction the clustered drift path feeds to kNN, through the
    same :func:`_cluster_mean_abs`. Oracle-gated (``zscores_clustered``).

    ``clustering``: a (column, cluster:int) DataFrame (collected; it is
    column-count scale), a column->cluster dict, or None for a
    deterministic name-rank map (columns sorted by name, cluster = rank
    mod ``num_clusters``) — the reproducible stand-in a SQL twin can
    rebuild, where the engine's own compute_clusters path uses
    similarity-driven agglomerative clusters. Columns with no cluster
    drop out.

    Output: a local frame (partition key, cluster, statistic, value).
    Eager: the summary is collected once at call time (no streaming
    input)."""
    pk = summary.partition_key
    z = zscore_summary(summary.to_pandas(), pk, summary.statistics())
    if clustering is None:
        names = sorted(z["column"].unique())
        clustering = {c: i % num_clusters for i, c in enumerate(names)}
    elif isinstance(clustering, DataFrame):
        clustering = {r["column"]: r["cluster"] for r in clustering.collect()}
    clusters = pd.DataFrame(list(clustering.items()), columns=["column", "cluster"])
    red = _cluster_mean_abs(z, clusters, pk).astype({"cluster": int})
    return _keyed_frame(summary.df, pk, red, "cluster", "int")


def name_to_ec(name: str, embedding_columns: list[str]) -> str:
    """Strip a trailing _{i} dimension suffix back to the embedding
    column base name (reference: gate/drift.py:306-325)."""
    split_name = name.rsplit("_", 1)[0]
    return split_name if split_name in embedding_columns else name
