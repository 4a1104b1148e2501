"""Distribution-drift statistics: PSI and KS (north-rule extras).

The reference's drift check is z-scored summary deviation + kNN
(gate/drift.py); the north rule adds Population Stability Index and a
Kolmogorov-Smirnov statistic. Both are computed from ONE histogram
aggregation:

1. bin edges: equi-depth edges from ``percentile_approx`` over the
   whole column (a mergeable sketch; one pass);
2. per-(partition, bin) counts: one ``groupBy`` with map-side combine
   — the only shuffle, carrying at most partitions x bins rows;
3. PSI/KS per partition against the pooled counts of all *other*
   partitions, computed driver-side by ``kernels.psi_ks`` on the
   collected (partitions x bins)-row histogram — no second pass over
   raw data, and no metadata-scale Spark stages for the comparison
   arithmetic.

At 10^12 rows the cost is one scan + one (partitions x bins)-row
shuffle; the driver math is O(partitions x bins).
"""

from __future__ import annotations

from functools import reduce
from operator import add

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _bin_expr(value: Column, inner_edges: list[float]) -> Column:
    """Bucket index 0..len(edges): count of edges <= value. A short
    chain of codegen'd comparisons — no UDF."""
    if not inner_edges:
        return F.lit(0)
    terms = [(value >= F.lit(float(e))).cast("int") for e in inner_edges]
    return reduce(add, terms)


def compute_bin_edges(
    df: DataFrame, value_col: str, num_bins: int = 10, accuracy: int = 10000
) -> list[float]:
    """Equi-depth inner edges (num_bins - 1 of them) from a mergeable
    quantile sketch over the full column."""
    qs = [i / num_bins for i in range(1, num_bins)]
    row = df.select(
        F.percentile_approx(
            F.col(value_col).cast("double"), F.array(*[F.lit(q) for q in qs]), accuracy
        ).alias("e")
    ).first()
    edges = sorted(set(row["e"] or []))
    return [float(e) for e in edges]


def partition_histograms(
    df: DataFrame, partition_key: str, value_col: str, inner_edges: list[float]
) -> DataFrame:
    """(partition, bin, bin_count) — one scan, one tiny shuffle."""
    value = F.col(value_col).cast("double")
    return (
        df.where(value.isNotNull())
        .select(F.col(partition_key).alias("partition"), _bin_expr(value, inner_edges).alias("bin"))
        .groupBy("partition", "bin")
        .agg(F.count(F.lit(1)).alias("bin_count"))
    )


def psi_ks_from_histogram(
    hist: DataFrame, psi_threshold: float = 0.2, ks_threshold: float = 0.2
) -> DataFrame:
    """PSI + KS per partition vs the pooled histogram of all other
    partitions, from a (partition, bin, bin_count) table.

    The histogram is metadata-scale by construction (partitions x
    bins rows — :func:`partition_histograms` has already reduced the
    data), so it is collected once into a (partitions x bins) count
    matrix and scored driver-side by :func:`kernels.psi_ks`, each row
    against the column sums minus itself. A null partition key is a
    partition like any other. Returns a ``LocalTableScan`` frame
    (partition, psi, ks, psi_drifted, ks_drifted), partitions in sort
    order with null last.
    """
    import numpy as np

    from gate_spark.kernels import psi_ks
    from gate_spark.localframe import local_df
    from pyspark.sql.types import BooleanType, DoubleType, StructField, StructType

    pk_field = hist.schema["partition"]
    rows = hist.collect()  # partitions x bins rows
    out: list = []
    if rows:
        parts = sorted({r["partition"] for r in rows}, key=lambda v: (v is None, v))
        bins = sorted({r["bin"] for r in rows})
        p_idx = {p: i for i, p in enumerate(parts)}
        b_idx = {b: j for j, b in enumerate(bins)}
        mat = np.zeros((len(parts), len(bins)), dtype=np.float64)
        for r in rows:
            mat[p_idx[r["partition"]], b_idx[r["bin"]]] += r["bin_count"]
        psi, ks = psi_ks(mat, mat.sum(axis=0) - mat)
        out = [
            (part, s, k, s >= psi_threshold, k >= ks_threshold)
            for part, s, k in zip(parts, psi.tolist(), ks.tolist())
        ]
    return local_df(
        hist.sparkSession,
        out,
        StructType(
            [
                StructField("partition", pk_field.dataType),
                StructField("psi", DoubleType()),
                StructField("ks", DoubleType()),
                StructField("psi_drifted", BooleanType()),
                StructField("ks_drifted", BooleanType()),
            ]
        ),
    )


def distribution_drift(
    df: DataFrame,
    partition_key: str,
    value_col: str,
    num_bins: int = 10,
    psi_threshold: float = 0.2,
    ks_threshold: float = 0.2,
    accuracy: int = 10000,
    edges: list[float] | None = None,
) -> DataFrame:
    """Per-partition PSI/KS drift verdicts for one numeric column.

    Returns (partition, psi, ks, psi_drifted, ks_drifted). Pass
    explicit ``edges`` to pin binning (oracle parity / stable
    cross-run comparisons); default derives equi-depth edges from a
    quantile sketch.

    Eager: the edges (unless pinned) and the histogram are computed by
    Spark actions at call time, and the result is a local frame of the
    scores. Streaming inputs are not supported; for a stream,
    ``streaming.incremental_drift`` scores PSI per micro-batch.
    """
    if edges is None:
        edges = compute_bin_edges(df, value_col, num_bins, accuracy)
    hist = partition_histograms(df, partition_key, value_col, edges)
    return psi_ks_from_histogram(hist, psi_threshold, ks_threshold)
