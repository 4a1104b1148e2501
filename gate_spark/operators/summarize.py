"""Per-partition column summaries — the engine's flagship operator.

Computes, for every (partition, column) pair, the reference's six
statistics (coverage, mean, num_unique_values, occurrence_ratio, p50,
p95 — reference: gate/summary.py:207-277) plus north-rule extras
(count, min, max, null_fraction, stddev) as a small plan of passes
over the input, joined on (partition, column):

- one ``groupBy(partition_key)`` pass of declarative moments — rows,
  and per column non-null count, sum[, min, max, stddev_samp] — from
  which coverage, null_fraction and mean are derived (the reference
  scans the table six times, gate/summary.py:207-258; we fuse into a
  single scan + shuffle with map-side partial aggregation, so a heavy
  partition never concentrates raw rows on one reducer). It runs under
  whole-stage codegen up to ``spark.sql.codegen.maxFields``;
- for ``quantile_mode`` approx/linear, a second ``groupBy`` pass with
  the percentile aggregates of the quantile columns only (they force
  an interpreted ObjectHashAggregate);
- one value-keyed occurrence cascade (``groupBy(partition, column,
  value)`` -> ``groupBy(partition, column)``) giving occurrence_ratio
  and the distinct count, again fully partial-aggregated;
- for ``quantile_mode`` nearest/sketch, a value-keyed quantile pass
  (exact nearest-rank for gate parity, or KLL), shared with the
  occurrence cascade where a column needs both.

All emitted statistic values are float32, matching the reference
(gate/summary.py:211-253; float32 artifacts asserted in
tests/test_summary.py:33).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import reduce
from typing import Iterable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gate_spark.functions.stats import (
    EXTRA_BY_TYPE,
    EXTRA_STATISTICS,
    GATE_STATISTICS,
    TYPE_TO_STATISTICS,
)

RESERVED_PARTITION_KEY = "group"  # reference: gate/summarize.py:94-95


def _qident(name: str) -> str:
    """Backtick-quote a column name for generated SQL."""
    return "`" + name.replace("`", "``") + "`"


def _qlit(s: str) -> str:
    """Single-quote a string literal for generated SQL."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _sql_lit(v) -> str:
    """A Python value as a generated-SQL literal of the type ``F.lit(v)``
    gives it: None -> NULL, bool -> BOOLEAN, int -> INT or BIGINT
    (DECIMAL beyond 64 bits), float -> DOUBLE including NaN and +/-inf,
    str -> STRING, Decimal, date, datetime; numpy scalars as their
    Python value."""
    import datetime as dt
    import decimal

    import numpy as np

    if isinstance(v, np.generic):
        v = v.item()
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        if -(2**31) <= v < 2**31:
            return str(v)
        return f"{v}L" if -(2**63) <= v < 2**63 else f"{v}BD"
    if isinstance(v, float):
        return f"CAST({_qlit(repr(v))} AS DOUBLE)"  # 'nan', 'inf' cast too
    if isinstance(v, str):
        return _qlit(v)
    if isinstance(v, decimal.Decimal):
        return f"{format(v, 'f')}BD"
    if isinstance(v, dt.datetime):
        return f"TIMESTAMP {_qlit(v.isoformat(sep=' '))}"
    if isinstance(v, dt.date):
        return f"DATE {_qlit(v.isoformat())}"
    raise TypeError(f"no SQL literal for {type(v).__name__} value {v!r}")


def type_to_statistics(type_class: str) -> list[str]:
    """Statistics computed for a type class (gate/statistics.py:12-49)."""
    return list(TYPE_TO_STATISTICS[type_class])


def classify_type(dtype: T.DataType) -> str | None:
    """Map a Spark type to a gate type class (gate/summary.py:176-195)."""
    if isinstance(dtype, T.StringType):
        return "string"
    if isinstance(dtype, (T.FloatType, T.DoubleType)):
        return "float"
    if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "int"
    if isinstance(dtype, T.BooleanType):
        return "bool"
    if isinstance(dtype, T.ArrayType) and isinstance(
        dtype.elementType,
        (T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.FloatType, T.DoubleType),
    ):
        return "array"
    return None


@dataclass
class Summary:
    """All partitions' summaries as one long-format DataFrame.

    The reference splits into one ``Summary`` object per partition
    (gate/summary.py:352-403); we keep a single DataFrame keyed by the
    partition column — "one summary per partition" is a filter.
    """

    df: DataFrame
    partition_key: str
    column_types: dict[str, str]
    statistics_list: list[str]
    embedding_column_map: dict[str, str] = field(default_factory=dict)
    embedding_dims: dict[str, int] = field(default_factory=dict)
    examples: dict = field(default_factory=dict)  # (partition, key_col) -> pandas
    centroids: dict = field(default_factory=dict)  # (partition, key_col) -> ndarray
    _collected: tuple = field(default=(None, None), init=False, repr=False, compare=False)

    def statistics(self) -> list[str]:
        return list(self.statistics_list)

    @property
    def columns(self) -> list[str]:
        """Summarized column names (regular + embedding value columns)."""
        return list(self.column_types) + list(self.embedding_column_map.values())

    @property
    def string_columns(self) -> list[str]:
        return [c for c, t in self.column_types.items() if t == "string"]

    @property
    def float_columns(self) -> list[str]:
        return [c for c, t in self.column_types.items() if t == "float"]

    @property
    def int_columns(self) -> list[str]:
        return [c for c, t in self.column_types.items() if t in ("int", "bool", "array")]

    @property
    def embedding_columns(self) -> list[str]:
        return list(self.embedding_column_map.values())

    def partitions(self) -> list:
        rows = self.df.select(self.partition_key).distinct().orderBy(self.partition_key).collect()
        return [r[0] for r in rows]

    def to_pandas(self):
        """The summary table as pandas, collected once per ``df`` (the
        table is persisted and metadata-scale), so the driver-side
        consumers of one run (drift scoring, the CLI's lineage commit)
        share one collect. Treat the frame as read-only."""
        if self._collected[0] is not self.df:
            self._collected = (self.df, self.df.toPandas())
        return self._collected[1]

    def unpersist(self) -> None:
        """Release the cached summary table (summarize() persists it:
        the table is metadata-scale, but its lineage is the full input
        aggregation — without the cache every consumer action, e.g.
        value() then detect_drift's collect, re-scans the input)."""
        self.df.unpersist()

    def value(self, partition=None):
        """Summary rows as pandas, optionally for one partition
        (mirrors Summary.value(), gate/summary.py:45-60)."""
        df = self.df
        if partition is not None:
            df = df.where(F.col(self.partition_key) == F.lit(partition))
        pdf = df.toPandas()
        return pdf.sort_values([self.partition_key, "column"]).reset_index(drop=True)


def _validate(
    df: DataFrame,
    columns: Sequence[str] | None,
    embedding_column_map: dict[str, str] | None,
    partition_key: str | None,
    previous: Sequence[Summary] | None,
) -> tuple[list[str], dict[str, str], str]:
    """Argument validation mirroring gate/summarize.py:94-107 and
    gate/summary.py:159-204 (reserved key, schema inheritance)."""
    if previous:
        prev = previous[0]
        partition_key = prev.partition_key
        columns = list(prev.column_types)
        embedding_column_map = dict(prev.embedding_column_map)
    if partition_key == RESERVED_PARTITION_KEY:
        raise ValueError(
            f"partition_key may not be the reserved name {RESERVED_PARTITION_KEY!r}"
        )
    if not columns and not embedding_column_map:
        raise ValueError(
            "You must pass `columns` and/or `embedding_column_map`, or non-empty"
            " `previous` summaries to inherit a schema from."
        )
    if not partition_key:
        raise ValueError("partition_key is required")
    if partition_key not in df.columns:
        raise ValueError(
            f"Partition key {partition_key!r} not found in dataframe columns"
            f" {df.columns}"
        )
    requested = list(columns or [])
    emap = dict(embedding_column_map or {})
    missing = [c for c in requested + list(emap) + list(emap.values()) if c not in df.columns]
    if missing:
        raise ValueError(f"Columns {missing} not found in dataframe columns {df.columns}")
    return requested, emap, partition_key


QUANTILE_MODES = ("approx", "nearest", "linear", "sketch")
OCC_VALUE_MODES = ("exact", "hash")


def summarize(
    df: DataFrame,
    columns: Sequence[str] | None = None,
    embedding_column_map: dict[str, str] | None = None,
    partition_key: str | None = None,
    previous: Sequence[Summary] | None = None,
    *,
    quantile_mode: str = "approx",  # "approx" | "nearest" (gate parity) | "linear" | "sketch" (KLL)
    extras: bool = False,  # add count/min/max/null_fraction/stddev (north-rule)
    accuracy: int = 10000,
    compute_embedding_examples: bool = True,
    skew_salt: int | None = None,  # explicit two-phase salted aggregation
    quantile_columns: Sequence[str] | None = None,
    persist: bool = True,
    occ_value_mode: str = "exact",  # how the occurrence cascade keys values
    # (occurrence_ratio and num_unique_values): "exact" native values, or
    # "hash" 64-bit fingerprints (near-unique columns: same counts up to
    # 2^-64 collisions, ~3x fewer shuffle bytes; see _occurrence_and_distinct)
    sketch_k: int = 200,  # KLL size for quantile_mode="sketch"; k >= group
    # row count means the sketch never compacts and p50/p95 are exact
    # (bit-identical to quantile_mode="nearest")
) -> Summary:
    """Compute per-partition summaries (reference entry point:
    gate/summarize.py:49-117 -> Summary.fromRaw gate/summary.py:148-403).

    Returns a :class:`Summary` whose ``df`` is the long-format table
    ``(partition_key, column, coverage, mean, num_unique_values,
    occurrence_ratio, p50, p95[, extras...])`` with float32 values.

    ``quantile_columns`` restricts p50/p95 to a subset of the numeric
    columns (others get null). This matters at scale: a
    ``percentile_approx`` digest over a high-cardinality column (e.g.
    a 10^9-distinct id) carries ~accuracy samples per map partial, and
    Spark's final per-group digest merge is single-threaded — one
    straggler task can burn minutes-to-hours of serial CPU merging
    hundreds of fat partials. Quantiles of id-like columns are
    meaningless; exclude them and the digests that remain (bounded
    domains like token lengths) stay small and merge in milliseconds.
    """
    for name, mode, accepted in (
        ("quantile_mode", quantile_mode, QUANTILE_MODES),
        ("occ_value_mode", occ_value_mode, OCC_VALUE_MODES),
    ):
        if mode not in accepted:
            raise ValueError(f"{name}={mode!r}; accepted: {', '.join(accepted)}")
    requested, emap, partition_key = _validate(
        df, columns, embedding_column_map, partition_key, previous
    )

    column_types: dict[str, str] = {}
    for c in requested:
        tclass = classify_type(df.schema[c].dataType)
        if tclass is None:
            raise ValueError(
                f"Column {c!r} has unknown type {df.schema[c].dataType} —"
                " supported: string, float, int, bool, array<numeric>"
            )
        column_types[c] = tclass

    stats_order = list(GATE_STATISTICS) + (list(EXTRA_STATISTICS) if extras else [])

    parts = []
    if column_types:
        parts.append(
            _scalar_summary(
                df,
                partition_key,
                column_types,
                quantile_mode=quantile_mode,
                extras=extras,
                accuracy=accuracy,
                skew_salt=skew_salt,
                quantile_columns=quantile_columns,
                sketch_k=sketch_k,
                occ_value_mode=occ_value_mode,
            )
        )

    embedding_dims: dict[str, int] = {}
    examples: dict = {}
    centroids: dict = {}
    if emap:
        from gate_spark.operators.embedding import embedding_summary

        emb_long, embedding_dims, examples, centroids = embedding_summary(
            df,
            partition_key,
            emap,
            quantile_mode=quantile_mode,
            accuracy=accuracy,
            compute_examples=compute_embedding_examples,
            sketch_k=sketch_k,
        )
        # align to the scalar summary's column set
        for s in stats_order:
            if s not in emb_long.columns:
                emb_long = emb_long.withColumn(s, F.lit(None).cast("float"))
        parts.append(emb_long.select(partition_key, "column", *stats_order))

    out = reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), parts)
    out = out.selectExpr(
        _qident(partition_key),
        "`column`",
        *[f"CAST({s} AS FLOAT) AS {s}" for s in stats_order],
    )
    # the summary table is metadata-scale (partitions x columns rows)
    # but its lineage is the full input aggregation: persist so the
    # usual consumer sequence (value() -> detect_drift -> drift_scores)
    # pays for ONE scan of the raw table, not one per action. At 300
    # summarized columns this is a >2x end-to-end saving; release via
    # Summary.unpersist(). Long-lived sessions that summarize many
    # tables and never unpersist accumulate cached lineage pinning full
    # input aggregations — single-action consumers should pass
    # ``persist=False`` instead (the cache buys nothing for one
    # action). (Streaming inputs cannot persist — the streaming path in
    # streaming.py has its own incremental topology.)
    if persist and not df.isStreaming:
        out = out.persist()
    return Summary(
        df=out,
        partition_key=partition_key,
        column_types=column_types,
        statistics_list=stats_order,
        embedding_column_map=emap,
        embedding_dims=embedding_dims,
        examples=examples,
        centroids=centroids,
    )


def _scalar_summary(
    df: DataFrame,
    partition_key: str,
    column_types: dict[str, str],
    *,
    quantile_mode: str,
    extras: bool,
    accuracy: int,
    skew_salt: int | None = None,
    quantile_columns: Sequence[str] | None = None,
    sketch_k: int = 200,
    occ_value_mode: str = "exact",
) -> DataFrame:
    cols = list(column_types)

    # working projection: bool -> tinyint (gate/summary.py:188-191),
    # array -> size() so token arrays summarize over their lengths
    # (SURVEY.md §1.3). Column pruning: only requested columns are read.
    working = [F.col(partition_key)]
    for c in cols:
        t = column_types[c]
        if t == "bool":
            working.append(F.col(c).cast("tinyint").alias(c))
        elif t == "array":
            working.append(
                F.when(F.col(c).isNull(), F.lit(None).cast("long"))
                .otherwise(F.size(c).cast("long"))
                .alias(c)
            )
        else:
            working.append(F.col(c))
    wdf = df.select(*working)
    # NOT repartitioned on under-parallelized inputs (unlike the text
    # operators): an interleaved A/B on a 6M-row single-row-group file
    # showed no reliable win (guard-on min 14.07 s vs guard-off 13.65 s
    # across 3 alternating trials) and a clear LOSS at 600 k rows
    # (0.90 -> 1.21 s) — serializing the rows through a round-robin
    # exchange costs as much as the single-task codegen'd aggregation
    # saves. See session.ensure_scan_parallelism and OPTIMIZATION_r06.md.

    needs_numeric = {c for c in cols if column_types[c] != "string"}
    needs_quantile = (
        needs_numeric
        if quantile_columns is None
        else needs_numeric & set(quantile_columns)
    )
    needs_occ = {
        c for c in cols if "occurrence_ratio" in TYPE_TO_STATISTICS[column_types[c]]
    }
    stats_order = list(GATE_STATISTICS) + (list(EXTRA_STATISTICS) if extras else [])

    # ---- base pass: one row per partition of mergeable moments —
    # (rows, non-null count, sum[, min, max, stddev]) per column. The
    # salted variant builds the same moments in two phases.
    if skew_salt:
        moments = _salted_moments(wdf, partition_key, cols, needs_numeric, extras, skew_salt)
    else:
        moments = _declarative_moments(wdf, partition_key, cols, needs_numeric, extras)
    long_df = _explode_moments(
        moments, partition_key, cols, column_types, needs_numeric, stats_order
    )

    # ---- side passes: metadata-scale results keyed by (partition,
    # column), each attached once. num_unique_values and
    # occurrence_ratio apply to the same type classes
    # (functions/stats.py), so the occurrence cascade's distinct count
    # (_ndv) is num_unique_values in every mode, keyed as
    # occ_value_mode says.
    #
    # Columns needing BOTH occurrence_ratio and nearest-rank quantiles
    # share ONE value-keyed pass: the quantile machinery's windowed
    # (partition, column, value, _cnt) frame is exactly the occ
    # cascade's first level, so max/sum/count fold into the same final
    # aggregation (one melt + one shuffle instead of two of each). Such
    # columns are int, bool or array classes — integral after the
    # working projection — so the shared melt keys by the exact BIGINT
    # value: counts, distinct counts and nearest-rank values are exact
    # for every 64-bit integer. It needs real values, so it keys
    # exactly under either occ_value_mode.
    # The salted path computes no percentile aggregate, so its approx
    # and linear modes take the exact nearest-rank pass.
    agg_quantiles = quantile_mode in ("approx", "linear") and not skew_salt
    shared = (
        needs_quantile & needs_occ
        if not agg_quantiles and quantile_mode != "sketch"
        else set()
    )
    occ_cols = needs_occ - shared
    if occ_cols:
        side = _occurrence_and_distinct(
            wdf, partition_key, sorted(occ_cols), value_mode=occ_value_mode
        )
        long_df = _attach(long_df, side, partition_key, {
            "occurrence_ratio": ("_occ", occ_cols),
            "num_unique_values": ("_ndv", occ_cols),
        })
    if shared:
        pairs = _melt(wdf, partition_key, sorted(shared), "bigint")
        side = nearest_rank_quantiles_from_pairs(
            pairs, [partition_key, "column"], (0.5, 0.95), with_occ=True
        )
        long_df = _attach(long_df, side, partition_key, {
            "p50": ("_p50", shared),
            "p95": ("_p95", shared),
            "occurrence_ratio": ("_occ", shared),
            "num_unique_values": ("_ndv", shared),
        })
    # the percentile aggregates (scale default), exact nearest-rank
    # quantiles (gate parity), or the KLL mergeable sketch (unbounded
    # continuous columns — "nearest" assumes bounded value cardinality,
    # percentile_approx has the profiled serial digest merge; see
    # gate_spark/kll.py).
    rest_q = needs_quantile - shared
    if rest_q:
        if agg_quantiles:
            side = _percentile_quantiles(
                wdf, partition_key, sorted(rest_q), quantile_mode, accuracy
            )
        elif quantile_mode == "sketch":
            side = _kll_quantiles(
                wdf, partition_key, sorted(rest_q), (0.5, 0.95), k=sketch_k
            )
        else:
            side = _nearest_rank_quantiles(wdf, partition_key, sorted(rest_q), (0.5, 0.95))
        long_df = _attach(long_df, side, partition_key, {
            "p50": ("_p50", rest_q),
            "p95": ("_p95", rest_q),
        })
    return long_df


def _declarative_moments(
    wdf: DataFrame,
    partition_key: str,
    cols: list[str],
    needs_numeric: set,
    extras: bool,
) -> DataFrame:
    """The fused scan + partial-aggregated groupBy(partition) pass:
    ``count(1)`` once, then per column ``count``, and for numeric
    columns ``sum`` (+ ``min``/``max``/``stddev_samp`` with extras).

    Every aggregate is a declarative one, so the pass runs as a
    HashAggregate under whole-stage codegen as long as its buffer stays
    within ``spark.sql.codegen.maxFields`` (100; 16 columns with extras
    is 90 fields). coverage, null_fraction and mean are derived from
    the counts and sums in :func:`_explode_moments` with the same double
    arithmetic as the ``avg`` forms they replace, so the values are
    bit-identical. Expressions are generated SQL compiled by ONE parser
    call each: the Column-algebra formulation paid ~6 py4j round trips
    per aggregate (hundreds per summarize() call — profiled at ~0.48 s
    of driver time per call at 5 columns, ~3x more than the whole
    string route; the compiled Catalyst expressions are identical)."""
    aggs = ["count(1) AS _rows"]
    for i, c in enumerate(cols):
        q = _qident(c)
        d = f"CAST({q} AS DOUBLE)"
        aggs.append(f"count({q}) AS c{i}__n")
        if c in needs_numeric:
            aggs.append(f"sum({d}) AS c{i}__sum")
            if extras:
                aggs.append(f"min({d}) AS c{i}__min")
                aggs.append(f"max({d}) AS c{i}__max")
                aggs.append(f"stddev_samp({d}) AS c{i}__stddev")
    return wdf.groupBy(partition_key).agg(*[F.expr(s) for s in aggs])


def _salted_moments(
    wdf: DataFrame,
    partition_key: str,
    cols: list[str],
    needs_numeric: set,
    extras: bool,
    skew_salt: int,
) -> DataFrame:
    """Explicit two-phase salted aggregation (north rule: "skew from
    heavy source partitions handled with salted aggregation + two-phase
    merge of mergeable sketches"): groupBy(partition, salt) building
    mergeable partials, then groupBy(partition) merging them, so a
    reducer never receives more than 1/salt of a heavy partition's
    phase-1 output. Emits the same columns as
    :func:`_declarative_moments`; stddev_samp via the sum-of-squares
    identity (adequate for the approximate scale path; the unsalted
    path uses Catalyst's single-pass stddev_samp). The value-keyed side
    passes are skew-proof by construction (the value IS the salt)."""
    p1 = ["count(1) AS _rows"]
    p2 = ["sum(_rows) AS _rows"]
    for i, c in enumerate(cols):
        q = _qident(c)
        d = f"CAST({q} AS DOUBLE)"
        p1.append(f"count({q}) AS c{i}__n")
        p2.append(f"sum(c{i}__n) AS c{i}__n")
        if c in needs_numeric:
            p1.append(f"sum({d}) AS c{i}__sum")
            p2.append(f"sum(c{i}__sum) AS c{i}__sum")
            if extras:
                p1 += [
                    f"sum({d} * {d}) AS c{i}__sumsq",
                    f"min({d}) AS c{i}__min",
                    f"max({d}) AS c{i}__max",
                ]
                p2 += [
                    f"min(c{i}__min) AS c{i}__min",
                    f"max(c{i}__max) AS c{i}__max",
                    f"CASE WHEN sum(c{i}__n) > 1 THEN sqrt(greatest("
                    f"(sum(c{i}__sumsq) - sum(c{i}__sum) * sum(c{i}__sum)"
                    f" / sum(c{i}__n)) / (sum(c{i}__n) - 1), 0D)) END"
                    f" AS c{i}__stddev",
                ]
    salt = F.pmod(F.spark_partition_id(), F.lit(skew_salt)).alias("_salt")
    phase1 = wdf.groupBy(F.col(partition_key), salt).agg(*[F.expr(s) for s in p1])
    return phase1.groupBy(partition_key).agg(*[F.expr(s) for s in p2])


def _percentile_quantiles(
    wdf: DataFrame,
    partition_key: str,
    cols: list[str],
    quantile_mode: str,
    accuracy: int,
) -> DataFrame:
    """(partition, column, _p50, _p95) from ``percentile_approx``
    (approx) or ``percentile`` (linear) aggregates, in their own
    groupBy(partition) pass over the quantile columns only: both force
    an interpreted ObjectHashAggregate, which would otherwise drag every
    moment aggregate out of whole-stage codegen with it."""
    fn = "percentile" if quantile_mode == "linear" else "percentile_approx"
    acc = f", {int(accuracy)}" if quantile_mode == "approx" else ""
    aggs = [
        F.expr(f"{fn}(CAST({_qident(c)} AS DOUBLE), array(0.5D, 0.95D){acc}) AS _q{i}")
        for i, c in enumerate(cols)
    ]
    structs = [
        f"named_struct('column', {_qlit(c)}, '_p50', element_at(_q{i}, 1),"
        f" '_p95', element_at(_q{i}, 2))"
        for i, c in enumerate(cols)
    ]
    return wdf.groupBy(partition_key).agg(*aggs).select(
        partition_key, F.expr(f"explode(array({', '.join(structs)}))").alias("_s")
    ).select(partition_key, "_s.*")


def _explode_moments(
    moments: DataFrame,
    partition_key: str,
    cols: list[str],
    column_types: dict[str, str],
    needs_numeric: set,
    stats_order: list[str],
) -> DataFrame:
    """Reshape the one-row-per-partition moments into long format with
    an explode over per-column structs — on the already aggregated
    (metadata-scale) result, not on raw data. The whole
    explode(array(named_struct(...)...)) tree is ONE generated-SQL
    expression (at 300 columns the per-stat Column loop was thousands
    of py4j calls). Statistics a side pass fills are NULL here."""
    rows = "CAST(_rows AS DOUBLE)"
    structs = []
    for i, c in enumerate(cols):
        available = set(TYPE_TO_STATISTICS[column_types[c]]) | set(
            EXTRA_BY_TYPE[column_types[c]]
        )
        n = f"CAST(c{i}__n AS DOUBLE)"
        src = {
            "coverage": f"{n} / {rows}",
            "null_fraction": f"CAST(_rows - c{i}__n AS DOUBLE) / {rows}",
            "count": n,
        }
        if c in needs_numeric:
            src["mean"] = f"CASE WHEN c{i}__n > 0 THEN c{i}__sum / {n} END"
            for s in ("min", "max", "stddev"):
                src[s] = f"CAST(c{i}__{s} AS DOUBLE)"
        fields = ["'column'", _qlit(c)]
        for s in stats_order:
            fields.append(f"'{s}'")
            fields.append(src[s] if s in available and s in src else "CAST(NULL AS DOUBLE)")
        structs.append(f"named_struct({', '.join(fields)})")
    return moments.select(
        partition_key,
        F.expr(f"explode(array({', '.join(structs)}))").alias("_s"),
    ).select(partition_key, "_s.*")


def _attach(
    long_df: DataFrame,
    side: DataFrame,
    partition_key: str,
    fills: dict[str, tuple[str, set]],
) -> DataFrame:
    """Left-join a metadata-scale side pass on (partition, column) —
    null-safe on the partition key, so a null partition keeps its
    statistics — and move ``fills[stat] = (side_column, columns)`` into
    ``stat`` for the listed summarized columns."""
    side = side.withColumnRenamed(partition_key, "_jpk").withColumnRenamed(
        "column", "_jcol"
    )
    joined = long_df.join(
        side, F.expr(f"{_qident(partition_key)} <=> _jpk AND `column` = _jcol"), "left"
    )
    out = []
    for s in long_df.columns:
        if s in fills:
            src, covered = fills[s]
            names = ", ".join(_qlit(c) for c in sorted(covered))
            out.append(
                f"CASE WHEN `column` IN ({names}) THEN CAST({src} AS DOUBLE)"
                f" ELSE {_qident(s)} END AS {_qident(s)}"
            )
        else:
            out.append(_qident(s))
    return joined.selectExpr(*out)


def _melt(
    df: DataFrame, partition_key: str, cols: Iterable[str], cast: str
) -> DataFrame:
    """(partition, column, value) triples for the given columns — one
    scan, rows multiplied by len(cols) but immediately aggregated with
    map-side combine by callers. One generated-SQL explode expression
    (see the plan-construction note in _scalar_summary)."""
    structs = [
        f"named_struct('column', {_qlit(c)},"
        f" 'value', CAST({_qident(c)} AS {cast}))"
        for c in cols
    ]
    return (
        df.select(
            partition_key,
            F.expr(f"explode(array({', '.join(structs)}))").alias("_cv"),
        )
        .select(partition_key, "_cv.column", "_cv.value")
        .where(F.col("value").isNotNull())
    )


def _occurrence_and_distinct(
    df: DataFrame, partition_key: str, cols: list[str], value_mode: str = "exact"
) -> DataFrame:
    """max-frequency ratio + exact distinct per (partition, column).

    Values are compared within a column only, so each column's NATIVE
    value is its own equality key; the first-level aggregation is one
    ``groupingSets((pk, col_i) for each column)`` pass (r6 — replaces
    the string-melt cascade: grouping by native values instead of
    string casts was a measured 21% on the cascade at 6 M rows and the
    win grows with rows, since the per-row cast is gone; counts per
    native value equal counts per string cast — the cast is injective
    within a column — so every emitted statistic is identical). The
    aggregate is high-cardinality and partial-aggregated, so heavy
    values combine map-side (skew-safe). Null handling pinned by the
    reference fixture: denominator excludes nulls
    (tests/test_summary.py:46-48 — 2/3 for [cat,dog,dog]).

    ``value_mode="hash"`` groups by the value's ``xxhash64`` fingerprint
    (null for a null value: xxhash64 itself maps null to its seed)
    instead of the value. On a near-unique column (e.g. a doc id) map-side
    combine cannot shrink this shuffle — every row crosses the wire —
    so the 8-byte fingerprint cuts shuffle bytes and comparator cost
    several-fold (the round-4 long-keys lesson). Counts per 64-bit
    fingerprint equal counts per value up to 2^-64 collisions, so
    occurrence_ratio and the exact distinct count are unchanged in
    practice; keep ``"exact"`` where bit-exact SQL parity is checked.

    Dispatch: the grouping-sets form only for <= 8 columns. Above
    that, Expand's duplicated rows carry every grouping column (one
    UnsafeRow field per column, nulls included), so shuffle bytes grow
    linearly with column count where the melt's stay constant — and
    Spark caps grouping sets at 64 anyway (the 300-column wide path
    stays on the single-scan melt cascade; both forms are
    value-identical).
    """
    if len(cols) > 8:
        return _occurrence_and_distinct_melt(df, partition_key, cols, value_mode)
    k = len(cols)
    names = [f"_occ_v{i}" for i in range(k)]
    if value_mode == "hash":
        proj = [
            f"IF({_qident(c)} IS NULL, NULL, xxhash64({_qident(c)})) AS {n}"
            for c, n in zip(cols, names)
        ]
    else:
        proj = [f"{_qident(c)} AS {n}" for c, n in zip(cols, names)]
    src = df.selectExpr(_qident(partition_key), *proj)
    first = src.groupingSets(
        [[partition_key, n] for n in names], partition_key, *names
    ).agg(F.expr("grouping_id() AS _gid"), F.expr("count(1) AS _cnt"))
    # one linear projection maps each grouping set back to its column
    # name and drops null-valued groups — no per-column plan branches
    # (grouping_id bit for value column j is 1 << (k-1-j); the
    # partition-key bit is never set since it is in every set)
    gid = lambda i: sum(1 << (k - 1 - j) for j in range(k) if j != i)
    col_case = "CASE _gid " + " ".join(
        f"WHEN {gid(i)} THEN {_qlit(c)}" for i, c in enumerate(cols)
    ) + " END"
    keep_case = "CASE _gid " + " ".join(
        f"WHEN {gid(i)} THEN ({names[i]} IS NOT NULL)" for i in range(k)
    ) + " ELSE false END"
    counts = first.where(F.expr(keep_case)).selectExpr(
        _qident(partition_key), f"{col_case} AS column", "_cnt"
    )
    return counts.groupBy(partition_key, "column").agg(
        (F.max("_cnt") / F.sum("_cnt")).cast("double").alias("_occ"),
        F.count(F.lit(1)).alias("_ndv"),
    )


def _occurrence_and_distinct_melt(
    df: DataFrame, partition_key: str, cols: list[str], value_mode: str
) -> DataFrame:
    """Wide-column form of :func:`_occurrence_and_distinct`: one typed
    melt of all columns (single scan regardless of column count,
    constant-width shuffle rows), then the two-level value cascade.
    Integral values travel as BIGINT (``l``), everything else as STRING
    (``s``), so no integer is formatted as a string per row; each
    column fills one of the two slots and both casts are injective
    within a column, so the counts — and every emitted statistic —
    equal the grouping-sets form's."""
    structs = []
    for c in cols:
        q = _qident(c)
        if isinstance(df.schema[c].dataType, T.IntegralType):
            l, s = f"CAST({q} AS BIGINT)", "CAST(NULL AS STRING)"
        else:
            l, s = "CAST(NULL AS BIGINT)", f"CAST({q} AS STRING)"
        structs.append(f"named_struct('column', {_qlit(c)}, 'l', {l}, 's', {s})")
    pairs = (
        df.select(
            partition_key,
            F.expr(f"explode(array({', '.join(structs)}))").alias("_cv"),
        )
        .select(partition_key, "_cv.column", "_cv.l", "_cv.s")
        .where("l IS NOT NULL OR s IS NOT NULL")
    )
    if value_mode == "hash":
        # xxhash64 skips the null slot: the fingerprint of the one value
        pairs = pairs.selectExpr(
            _qident(partition_key), "`column`", "xxhash64(l, s) AS l",
            "CAST(NULL AS STRING) AS s",
        )
    counts = pairs.groupBy(partition_key, "column", "l", "s").agg(
        F.count(F.lit(1)).alias("_cnt")
    )
    return counts.groupBy(partition_key, "column").agg(
        (F.max("_cnt") / F.sum("_cnt")).cast("double").alias("_occ"),
        F.count(F.lit(1)).alias("_ndv"),
    )


def _nearest_rank_quantiles(
    df: DataFrame, partition_key: str, cols: list[str], qs: tuple[float, ...]
) -> DataFrame:
    """Exact nearest-rank quantiles: polars `interpolation="nearest"`
    semantics — value at index round_half_up(q * (n-1)) of the sorted
    non-null values (evidence: p50 of [0,1] = 1.0,
    reference tests/test_summary.py:38).

    Distributed as: melt -> count duplicates (partial agg) -> one
    window sort per (partition, column) over *distinct* values ->
    rank-range selection. Only engaged in gate-parity mode; the scale
    default is the percentile_approx sketch.
    """
    pairs = _melt(df, partition_key, cols, "double")
    return nearest_rank_quantiles_from_pairs(pairs, [partition_key, "column"], qs)


def _kll_quantiles(
    df: DataFrame,
    partition_key: str,
    cols: list[str],
    qs: tuple[float, ...],
    k: int = 200,
) -> DataFrame:
    """KLL-sketch quantiles (``quantile_mode="sketch"``): the scale
    path for *unbounded continuous* columns, where the value-keyed
    exact cascade would sort data-scale distinct sets and
    percentile_approx pays its serial per-group digest merge. Map-side
    partial sketches + parallel per-(partition, column) merges — see
    gate_spark/kll.py for the shape argument."""
    from gate_spark.kll import kll_quantiles_from_pairs

    pairs = _melt(df, partition_key, cols, "double")
    return kll_quantiles_from_pairs(pairs, [partition_key, "column"], qs, k=k)


def nearest_rank_quantiles_from_pairs(
    pairs: DataFrame, keys: list[str], qs: tuple[float, ...],
    with_occ: bool = False,
) -> DataFrame:
    """Nearest-rank quantiles over a (keys..., value) pair table; one
    output column ``_p{q*100}`` per requested quantile. The window sort
    runs over *distinct* values per key (duplicates pre-counted with
    map-side combine), so a key with billions of rows but bounded value
    cardinality sorts a small set. Generated SQL (plan-construction
    note in _scalar_summary); target rank is 1-based with SQL round =
    HALF_UP for positives, matching polars' round-half-away-from-zero."""
    kq = [_qident(k) for k in keys]
    kl = ", ".join(kq)
    counts = pairs.groupBy(*keys, "value").agg(F.expr("count(1) AS _cnt"))
    cum = counts.selectExpr(
        *kq,
        "value",
        "_cnt",
        f"sum(_cnt) OVER (PARTITION BY {kl} ORDER BY value) AS _cum",
        f"sum(_cnt) OVER (PARTITION BY {kl}) AS _n",
    )
    sel_exprs = [
        F.expr(
            f"max(CASE WHEN CAST(round({q!r}D * (_n - 1), 0) AS BIGINT) + 1"
            f" BETWEEN _cum - _cnt + 1 AND _cum THEN value END)"
            f" AS _p{int(q * 100)}"
        )
        for q in qs
    ]
    if with_occ:
        # occurrence_ratio rides the SAME windowed counts frame: the
        # (keys, value, _cnt) rows are exactly what the occ cascade's
        # first level produces, so max/sum/count fold in the same final
        # aggregation — one value-keyed pass serves quantiles,
        # occurrence_ratio and the distinct count.
        sel_exprs.append(
            F.expr("CAST(max(_cnt) / sum(_cnt) AS DOUBLE) AS _occ")
        )
        sel_exprs.append(F.expr("count(1) AS _ndv"))
    return cum.groupBy(*keys).agg(*sel_exprs)
