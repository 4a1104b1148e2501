"""Mergeable per-partition sketch state (north-rule lineage payload).

The north star requires the checkpoint table to carry *per-partition
lineage (snapshot-id, partition spec, sketch state, metrics)* so a
restarted run can rebuild global statistics without rescanning
already-validated partitions. The reference has no equivalent — its
summaries are plain floats the caller must recompute from raw data
(gate/summarize.py:54). This module makes every per-partition summary
a *mergeable sketch*:

- moments: (rows, n, sum, sumsq, min, max) — exactly mergeable; mean,
  coverage and stddev (sum-of-squares identity) derive from the merged
  state;
- distinct: Apache DataSketches HLL binary sketches
  (``hll_sketch_agg`` / ``hll_union_agg`` — merge is lossless with
  respect to the sketch);
- quantiles: fixed-edge histograms (``array<long>`` bin counts); with
  shared edges the merge is element-wise addition and quantiles come
  from the merged CDF. Edges are either caller-pinned (e.g. vocab/
  token-length bounds known a priori) or derived once from a
  ``percentile_approx`` pass.

Scale shape: ``column_sketches`` is ONE fused groupBy over the input
(same single-scan topology as operators/summarize.py); everything
downstream — merge, serialization, lineage round-trip — runs on
metadata-scale tables (partitions x columns rows), so resuming a
10^12-row validation costs zero data-scan.
"""

from __future__ import annotations

import base64
import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gate_spark.localframe import local_df
from gate_spark.operators.distribution import _bin_expr
from gate_spark.operators.summarize import classify_type

SKETCH_SCHEMA = T.StructType(
    [
        T.StructField("partition", T.StringType(), False),
        T.StructField("column", T.StringType(), False),
        T.StructField("rows", T.LongType(), True),
        T.StructField("n", T.LongType(), True),
        T.StructField("sum", T.DoubleType(), True),
        T.StructField("sumsq", T.DoubleType(), True),
        T.StructField("min", T.DoubleType(), True),
        T.StructField("max", T.DoubleType(), True),
        T.StructField("hll", T.BinaryType(), True),
        T.StructField("hist", T.ArrayType(T.LongType()), True),
        T.StructField("edges", T.ArrayType(T.DoubleType()), True),
    ]
)


def column_sketches(
    df: DataFrame,
    columns: list[str],
    partition_key: str,
    *,
    hist_edges: dict[str, list[float]] | None = None,
) -> DataFrame:
    """One fused aggregation producing a (partition, column) sketch row
    per summarized column: mergeable moments + HLL binary + optional
    fixed-edge histogram (columns present in ``hist_edges``).

    ``hist_edges[col]`` are INNER edges (k edges -> k+1 bins); all
    partitions share them, which is what makes the histogram mergeable.
    """
    hist_edges = hist_edges or {}
    is_numeric = {
        c: classify_type(df.schema[c].dataType) in ("int", "float")
        for c in columns
    }
    aggs = [F.count(F.lit(1)).alias("__rows")]
    for i, c in enumerate(columns):
        col = F.col(c)
        aggs.append(F.count(col).alias(f"c{i}__n"))
        aggs.append(F.hll_sketch_agg(col.cast("string")).alias(f"c{i}__hll"))
        if is_numeric[c]:
            d = col.cast("double")
            aggs += [
                F.sum(d).alias(f"c{i}__sum"),
                F.sum(d * d).alias(f"c{i}__sumsq"),
                F.min(d).alias(f"c{i}__min"),
                F.max(d).alias(f"c{i}__max"),
            ]
            if c in hist_edges:
                b = _bin_expr(d, hist_edges[c])
                nbins = len(hist_edges[c]) + 1
                aggs.append(
                    F.array(
                        *[
                            F.sum(
                                F.when(d.isNotNull() & (b == j), F.lit(1))
                                .otherwise(F.lit(0))
                                .cast("long")
                            )
                            for j in range(nbins)
                        ]
                    ).alias(f"c{i}__hist")
                )
    wide = df.groupBy(F.col(partition_key).cast("string").alias("partition")).agg(*aggs)

    null_d = F.lit(None).cast("double")
    structs = []
    for i, c in enumerate(columns):
        has_hist = is_numeric[c] and c in hist_edges
        structs.append(
            F.struct(
                F.lit(c).alias("column"),
                F.col("__rows").alias("rows"),
                F.col(f"c{i}__n").alias("n"),
                (F.col(f"c{i}__sum") if is_numeric[c] else null_d).alias("sum"),
                (F.col(f"c{i}__sumsq") if is_numeric[c] else null_d).alias("sumsq"),
                (F.col(f"c{i}__min") if is_numeric[c] else null_d).alias("min"),
                (F.col(f"c{i}__max") if is_numeric[c] else null_d).alias("max"),
                F.col(f"c{i}__hll").alias("hll"),
                (
                    F.col(f"c{i}__hist")
                    if has_hist
                    else F.lit(None).cast("array<long>")
                ).alias("hist"),
                (
                    F.array(*[F.lit(float(e)) for e in hist_edges[c]])
                    if has_hist
                    else F.lit(None).cast("array<double>")
                ).alias("edges"),
            )
        )
    return wide.select(
        "partition", F.explode(F.array(*structs)).alias("_s")
    ).select("partition", "_s.*")


def merge_sketches(sketches: DataFrame) -> DataFrame:
    """Merge sketch rows across partitions (or any subset): grouped by
    ``column``, returning the merged state plus the derived statistics
    (coverage, mean, stddev, ndv).

    Histogram merge is element-wise addition via a fold over
    ``collect_list`` — safe because the sketch table is metadata-scale
    (partitions x columns rows), never data-scale.
    """
    merged = sketches.groupBy("column").agg(
        F.sum("rows").alias("rows"),
        F.sum("n").alias("n"),
        F.sum("sum").alias("sum"),
        F.sum("sumsq").alias("sumsq"),
        F.min("min").alias("min"),
        F.max("max").alias("max"),
        F.hll_sketch_estimate(F.hll_union_agg("hll")).alias("ndv"),
        F.aggregate(
            F.collect_list("hist"),
            F.lit(None).cast("array<long>"),
            lambda acc, x: F.when(acc.isNull(), x).otherwise(
                F.zip_with(acc, x, lambda a, b: a + b)
            ),
        ).alias("hist"),
        F.first("edges", ignorenulls=True).alias("edges"),
    )
    n = F.col("n").cast("double")
    var = (F.col("sumsq") - F.col("sum") * F.col("sum") / n) / (n - 1)
    return merged.select(
        "column",
        "rows",
        "n",
        (n / F.col("rows").cast("double")).alias("coverage"),
        (F.col("sum") / n).alias("mean"),
        # greatest() skips nulls, so gate on sumsq being present or a
        # string column's null moments would surface as stddev=0.0
        F.when(
            (F.col("n") > 1) & F.col("sumsq").isNotNull(),
            F.sqrt(F.greatest(var, F.lit(0.0))),
        ).alias("stddev"),
        "min",
        "max",
        "ndv",
        "hist",
        "edges",
    )


def quantiles_from_hist(
    hist: list[int],
    inner_edges: list[float],
    qs: list[float],
    *,
    vmin: float | None = None,
    vmax: float | None = None,
) -> list[float]:
    """Approximate quantiles from a merged fixed-edge histogram: the
    value of the first edge whose cumulative count reaches q*total
    (each bin is attributed to its upper edge). Driver-side math on a
    <=few-hundred-entry array.

    A quantile whose mass lands in the OPEN top bin (above the last
    inner edge) is genuinely unknown from the histogram — it returns
    ``vmax`` when provided (the merged moments carry the true max
    alongside the hist) and +inf otherwise, never a silent clamp to the
    last finite edge. Symmetrically, q=0 returns ``vmin``/-inf instead
    of the first edge, and empty leading bins are skipped (a target of
    0 must not resolve to an edge holding no mass)."""
    total = sum(hist)
    if total == 0:
        return [float("nan") for _ in qs]
    out = []
    for q in qs:
        target = q * total
        acc = 0
        val = None
        for cnt, e in zip(hist, inner_edges):
            acc += cnt
            if acc >= target and acc > 0:
                val = float(e)
                break
        if val is None:
            if q <= 0:
                # every bin before the first massed one was empty
                val = float(vmin) if vmin is not None else float("-inf")
            else:
                # mass falls in the open top bin: the hist cannot bound
                # it from above
                val = float(vmax) if vmax is not None else float("inf")
        out.append(val)
    return out


# ------------------------------------------------- lineage serialization


def sketches_to_json(sketches: DataFrame) -> dict[str, str]:
    """Collect the (metadata-scale) sketch table into one JSON blob per
    partition — the ``sketch_json`` lineage payload. HLL binaries are
    base64-wrapped."""
    rows = sketches.collect()
    per_part: dict[str, list[dict]] = {}
    for r in rows:
        d = r.asDict()
        if d.get("hll") is not None:
            d["hll"] = base64.b64encode(bytes(d["hll"])).decode()
        part = d.pop("partition")
        per_part.setdefault(part, []).append(d)
    return {p: json.dumps(cols, sort_keys=True) for p, cols in per_part.items()}


def sketches_from_json(
    spark: SparkSession, payload: dict[str, str]
) -> DataFrame:
    """Rebuild a sketch DataFrame (``SKETCH_SCHEMA``) from lineage
    ``sketch_json`` payloads — the no-rescan resume path."""
    rows = []
    for part, blob in payload.items():
        for d in json.loads(blob):
            hll = d.get("hll")
            rows.append(
                (
                    part,
                    d["column"],
                    d.get("rows"),
                    d.get("n"),
                    d.get("sum"),
                    d.get("sumsq"),
                    d.get("min"),
                    d.get("max"),
                    base64.b64decode(hll) if hll is not None else None,
                    d.get("hist"),
                    d.get("edges"),
                )
            )
    return local_df(spark, rows, SKETCH_SCHEMA)
