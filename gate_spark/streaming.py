"""Structured Streaming extension: incremental per-partition summaries.

The reference is batch-only — its incremental story is "pass
previous_summaries back in" (gate/summarize.py:54), and the north rule
requires resumable batch, not streaming (SURVEY.md §2.6). This module
is the additive streaming path for when partitions arrive as a stream
(e.g. an events firehose): a windowed groupBy aggregation maintains the
same statistics incrementally, with a watermark bounding state for
late data.

Statistics kept streaming-mergeable: count, coverage, mean, stddev
(sum/sumsq), approx-distinct (HLL), and — for columns given fixed bin
edges — p50/p95 from an incrementally-maintained fixed-edge histogram
(per-bin conditional sums are plain mergeable aggregates, the same
sketch state as gate_spark/sketches.py; a quantile landing in the open
top bin resolves to the aggregated true max, mirroring
sketches.quantiles_from_hist(vmax=...)). occurrence_ratio (top-value
frequency) uses a count-min-style heavy-hitters sketch expressed AS
mergeable aggregates: ``depth`` independent hash rows of ``width``
bucket counters, each a plain conditional sum the streaming agg buffer
merges like any other; the estimate is ``min over rows of the max
bucket count, / count``. Error bound (documented, pinned in tests):
the estimate never UNDERshoots the true ratio, and overshoots by the
collision mass that shares the heaviest bucket — expected <= count /
width per row, concentrated by the min over ``depth`` independent
rows; width 128 keeps the overshoot under ~1-2% of count for
realistic skew.

For drift against ALL prior history (not just a window),
:func:`incremental_drift` is a custom stateful operator
(``applyInPandasWithState``) carrying the mergeable sketch state in
Spark's state store: O(bins) state per partition, checkpoint-restored
on restart.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def streaming_column_stats(
    stream_df: DataFrame,
    time_col: str,
    columns: list[str],
    *,
    window_duration: str = "1 day",
    watermark: str = "1 hour",
    partition_key: str | None = None,
    hist_edges: dict[str, list[float]] | None = None,
    occ_columns: list[str] | None = None,
    occ_width: int = 128,
    occ_depth: int = 2,
) -> DataFrame:
    """Windowed incremental stats for numeric columns over an event-time
    stream: one row per (window, [partition_key], column) in the same
    long format as the batch summary.

    ``hist_edges[col]`` (inner edges, k edges -> k+1 bins) adds
    streaming p50/p95 for that column: the windowed aggregation keeps
    per-bin conditional counts (mergeable across micro-batches exactly
    like any sum), and the quantile resolves to the first edge whose
    cumulative count reaches q*count — or the aggregated max when the
    mass lands in the open top bin. Columns without edges report null
    quantiles.

    ``occ_columns`` adds a streaming occurrence_ratio estimate for the
    listed columns via the count-min heavy-hitters formulation in the
    module docstring: ``occ_depth x occ_width`` conditional sums ride
    the same agg buffer (streaming-mergeable by construction). The
    estimate is an upper bound on the true max-frequency ratio with
    expected overshoot <= 1/occ_width per hash row. Cost: O(width x
    depth) codegen'd when-sums per row per column — keep width modest
    (<=256) and list only the columns that need it; other columns
    report null.

    Works identically on a batch DataFrame (window() is a plain
    grouping expression), which is how the tests pin batch/stream
    parity; on a stream add ``.writeStream`` with a checkpoint dir.
    """
    hist_edges = {c: [float(e) for e in v] for c, v in (hist_edges or {}).items()}
    is_streaming = stream_df.isStreaming
    # watermarks require TIMESTAMP (parquet may surface TIMESTAMP_NTZ)
    src = stream_df.withColumn(time_col, F.col(time_col).cast("timestamp"))
    if is_streaming:
        src = src.withWatermark(time_col, watermark)

    keys = [F.window(F.col(time_col), window_duration).alias("window")]
    if partition_key:
        keys.append(F.col(partition_key))

    aggs: list[Column] = []
    for c in columns:
        col = F.col(c).cast("double")
        aggs += [
            F.count(col).alias(f"{c}__count"),
            F.avg(col.isNotNull().cast("double")).alias(f"{c}__coverage"),
            F.avg(col).alias(f"{c}__mean"),
            F.stddev_samp(col).alias(f"{c}__stddev"),
            F.approx_count_distinct(c).alias(f"{c}__num_unique_values"),
            F.min(col).alias(f"{c}__min"),
            F.max(col).alias(f"{c}__max"),
        ]
        for j, _ in enumerate(hist_edges.get(c, [])):
            # bin index = |{e : e <= v}| (same rule as distribution.
            # _bin_expr); only the k CUMULATIVE-boundary counts are
            # needed for quantiles, so keep one conditional sum per
            # inner edge — a plain mergeable aggregate, streaming-safe
            edge = hist_edges[c][j]
            aggs.append(
                F.sum((col < F.lit(edge)).cast("long")).alias(f"{c}__cum{j}")
            )
        if c in (occ_columns or []):
            raw = F.col(c)
            for j in range(occ_depth):
                bucket = F.pmod(
                    F.xxhash64(raw.cast("string"), F.lit(j)), F.lit(occ_width)
                )
                aggs.append(
                    F.array(
                        *[
                            F.sum(
                                (raw.isNotNull() & (bucket == F.lit(b))).cast("long")
                            )
                            for b in range(occ_width)
                        ]
                    ).alias(f"{c}__cms{j}")
                )
    wide = src.groupBy(*keys).agg(*aggs)

    stats = ["count", "coverage", "mean", "stddev", "num_unique_values", "min", "max"]

    def _hist_quantile(c: str, q: float) -> Column:
        edges = hist_edges.get(c)
        if not edges:
            return F.lit(None).cast("double")
        target = F.lit(q) * F.col(f"{c}__count")
        expr = None
        for j, e in enumerate(edges):
            cum = F.col(f"{c}__cum{j}")
            cond = (cum >= target) & (cum > 0)
            expr = (
                F.when(cond, F.lit(e)) if expr is None else expr.when(cond, F.lit(e))
            )
        # open top bin: the histogram cannot bound the quantile, but the
        # aggregation carries the true max (quantiles_from_hist vmax)
        return expr.otherwise(F.col(f"{c}__max"))

    def _occ_estimate(c: str) -> Column:
        if c not in (occ_columns or []):
            return F.lit(None).cast("double")
        row_maxes = [F.array_max(F.col(f"{c}__cms{j}")) for j in range(occ_depth)]
        est = row_maxes[0] if occ_depth == 1 else F.least(*row_maxes)
        # upper-bound estimate (min over rows of the max bucket count);
        # try_divide: empty window -> null, not a division error
        return F.try_divide(est.cast("double"), F.col(f"{c}__count"))

    structs = [
        F.struct(
            F.lit(c).alias("column"),
            *[F.col(f"{c}__{s}").cast("double").alias(s) for s in stats],
            _occ_estimate(c).cast("double").alias("occurrence_ratio"),
            _hist_quantile(c, 0.5).cast("double").alias("p50"),
            _hist_quantile(c, 0.95).cast("double").alias("p95"),
        )
        for c in columns
    ]
    out_keys = ["window"] + ([partition_key] if partition_key else [])
    return wide.select(*out_keys, F.explode(F.array(*structs)).alias("_s")).select(
        *out_keys, "_s.*"
    )


INCREMENTAL_DRIFT_OUTPUT = T.StructType(
    [
        T.StructField("partition", T.StringType()),
        T.StructField("batch_rows", T.LongType()),
        T.StructField("total_rows", T.LongType()),
        T.StructField("mean", T.DoubleType()),
        T.StructField("stddev", T.DoubleType()),
        T.StructField("psi", T.DoubleType()),
        T.StructField("drifted", T.BooleanType()),
        T.StructField("occurrence_ratio", T.DoubleType()),
        T.StructField("occ_rows", T.LongType()),
    ]
)

_DRIFT_STATE = T.StructType(
    [
        T.StructField("count", T.LongType()),
        T.StructField("sum", T.DoubleType()),
        T.StructField("sumsq", T.DoubleType()),
        T.StructField("hist", T.ArrayType(T.LongType())),
        # count-min rows for the streaming occurrence_ratio, flattened
        # depth x width (empty when occ_col is None) — the same
        # mergeable-conditional-sum sketch as the windowed path, carried
        # in the state store so it survives query restarts
        T.StructField("cms", T.ArrayType(T.LongType())),
        T.StructField("occ_rows", T.LongType()),
    ]
)


def _cms_buckets(values, depth: int, width: int):
    """Deterministic vectorized bucket ids for the stateful CMS: a
    fixed-key 64-bit hash of the value string (pd.util.hash_pandas_object
    — stable across processes and restarts, which the checkpoint
    contract requires), then one splitmix64 mix per depth row. Returns
    (depth, len(values)) int array of buckets in [0, width)."""
    import numpy as np
    import pandas as pd

    base = pd.util.hash_pandas_object(
        pd.Series(values).astype(str), index=False
    ).to_numpy(dtype=np.uint64)
    out = np.empty((depth, len(base)), dtype=np.int64)
    for j in range(depth):
        x = base + np.uint64(0x9E3779B97F4A7C15) * np.uint64(j + 1)
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        x = x ^ (x >> np.uint64(31))
        out[j] = (x % np.uint64(width)).astype(np.int64)
    return out


def incremental_drift(
    stream_df: DataFrame,
    partition_key: str,
    value_col: str,
    *,
    inner_edges: list[float],
    psi_threshold: float = 0.2,
    min_history: int = 1000,
    occ_col: str | None = None,
    occ_width: int = 128,
    occ_depth: int = 2,
) -> DataFrame:
    """Custom STATEFUL streaming operator (``applyInPandasWithState``):
    per-partition drift verdicts where each micro-batch is scored
    against the accumulated history of every previous batch — the
    streaming twin of the batch PSI check (operators/distribution.py),
    with the history carried in Spark's state store instead of a
    trailing summary table.

    Per group-state: (count, sum, sumsq, fixed-edge histogram) — the
    same mergeable sketch state as gate_spark/sketches.py, so state
    size is O(bins) per partition regardless of stream length, and a
    query restart restores it from the streaming checkpoint (pinned by
    the restart test).

    Emits one row per (partition, micro-batch): batch_rows, running
    total/mean/stddev, and PSI of the batch vs history (null until
    ``min_history`` rows of history exist). Arrow-batched pandas on the
    executor — no per-row Python.

    ``occ_col`` adds a RUNNING streaming occurrence_ratio estimate for
    that (categorical) column via the same count-min heavy-hitters
    formulation as the windowed path: ``occ_depth x occ_width`` bucket
    counters ride the state store (flattened in ``_DRIFT_STATE.cms``),
    merged across micro-batches and restored across restarts exactly
    like the histogram.

    CHECKPOINT-FORMAT NOTE: the state row schema (``_DRIFT_STATE``)
    gained the ``cms``/``occ_rows`` fields when ``occ_col`` support was
    added. The state store decodes rows with the DECLARED schema, so a
    restart against a checkpoint written by the older 4-field schema is
    a binary format break — Spark will fail (or misread) at
    ``state.get``; there is no in-band version tag to detect it.
    Restart such queries with a fresh ``checkpointLocation`` (drain the
    old query with trigger(availableNow=True) first). Any future state
    field addition carries the same contract.

    Same error contract, pinned in tests: the
    estimate never UNDERshoots the true running max-frequency ratio and
    overshoots by at most the collision mass sharing the heaviest
    bucket (expected <= occ_rows/occ_width per hash row, concentrated
    by the min over depth rows). ``occurrence_ratio``/``occ_rows`` are
    null/0 when ``occ_col`` is None.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    edges = [float(e) for e in inner_edges]
    nbins = len(edges) + 1

    def score(key, pdfs, state):
        import math

        import numpy as np
        import pandas as pd

        from gate_spark.kernels import psi_ks

        cms_size = occ_depth * occ_width if occ_col else 0
        if state.exists:
            count, total, totsq, hist, cms_flat, occ_rows = state.get
            hist = np.asarray(hist, dtype=np.int64)
            cms = np.asarray(cms_flat, dtype=np.int64).reshape(occ_depth, occ_width) if cms_size else None
        else:
            count, total, totsq, occ_rows = 0, 0.0, 0.0, 0
            hist = np.zeros(nbins, dtype=np.int64)
            cms = np.zeros((occ_depth, occ_width), dtype=np.int64) if cms_size else None

        b_n, b_sum, b_sumsq = 0, 0.0, 0.0
        b_hist = np.zeros(nbins, dtype=np.int64)
        for pdf in pdfs:
            v = pd.to_numeric(pdf[value_col], errors="coerce").dropna()
            v = v.to_numpy(dtype=np.float64)
            b_n += v.size
            b_sum += float(v.sum())
            b_sumsq += float((v * v).sum())
            # bin = |{e : e <= v}| — same rule as distribution._bin_expr
            b_hist += np.bincount(
                np.searchsorted(edges, v, side="right"), minlength=nbins
            )
            if cms is not None:
                occ_vals = pdf[occ_col].dropna()
                if len(occ_vals):
                    buckets = _cms_buckets(occ_vals, occ_depth, occ_width)
                    for j in range(occ_depth):
                        cms[j] += np.bincount(buckets[j], minlength=occ_width)
                    occ_rows += len(occ_vals)

        psi = drifted = None
        if state.exists and count >= min_history and b_n > 0:
            psi = float(psi_ks(b_hist[None], hist[None])[0][0])
            drifted = bool(psi >= psi_threshold)

        count += b_n
        total += b_sum
        totsq += b_sumsq
        hist = hist + b_hist
        state.update(
            (
                int(count),
                float(total),
                float(totsq),
                [int(x) for x in hist],
                [int(x) for x in (cms.ravel() if cms is not None else [])],
                int(occ_rows),
            )
        )
        occ_est = (
            float(cms.max(axis=1).min()) / occ_rows
            if cms is not None and occ_rows
            else None
        )

        mean = total / count if count else None
        stddev = (
            math.sqrt(max((totsq - total * total / count) / (count - 1), 0.0))
            if count > 1
            else None
        )
        yield pd.DataFrame(
            [
                {
                    "partition": str(key[0]),
                    "batch_rows": b_n,
                    "total_rows": count,
                    "mean": mean,
                    "stddev": stddev,
                    "psi": psi,
                    "drifted": drifted,
                    "occurrence_ratio": occ_est,
                    "occ_rows": int(occ_rows),
                }
            ]
        )

    return stream_df.groupBy(partition_key).applyInPandasWithState(
        score,
        INCREMENTAL_DRIFT_OUTPUT,
        _DRIFT_STATE,
        "append",
        GroupStateTimeout.NoTimeout,
    )


def stream_parquet_dir(
    spark, path: str, schema, time_col: str, **kwargs
) -> DataFrame:
    """Convenience: file-source stream over a parquet directory
    (new files are micro-batches; use trigger(availableNow=True) for
    catch-up-then-stop semantics)."""
    return spark.readStream.schema(schema).parquet(path)


def run_available_now(stats_df: DataFrame, checkpoint_dir: str, table_name: str):
    """Drain everything currently available into an in-memory sink and
    stop — deterministic incremental processing for tests/backfills."""
    q = (
        stats_df.writeStream.format("memory")
        .queryName(table_name)
        .outputMode("complete")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q
