"""The north-star validation pipeline over the canonical token table.

``validate_tokens`` runs summaries + the full constraint suite + PSI/KS
+ kNN drift as ONE orchestrated job with a single scan of the raw
table: token arrays are reduced to scalars (length) and row-local
violation flags *inside the scan projection*, and the resulting slim
frame (partition, key, scalars, flags — no arrays, ~1% of raw bytes)
is persisted and shared by every downstream aggregation.

Why this topology at 100 TB: the dominant cost is decoding the
``tokens`` arrays from parquet. Running summaries, verdicts,
violations, and histograms as independent jobs re-decodes the arrays
once each (4x the scan bill); extracting every array-derived value in
one pass makes all substreams metadata-light. On a cluster the slim
frame would be written to a scratch table instead of memory.
"""

from __future__ import annotations

from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gate_spark.localframe import local_df
from gate_spark.operators.summarize import Summary, summarize
from gate_spark.operators.distribution import (
    partition_histograms,
    psi_ks_from_histogram,
)
from gate_spark.operators.drift import drift_scores


@dataclass
class TokenValidationResult:
    summary: Summary
    verdicts: DataFrame
    violations: DataFrame
    distribution: DataFrame
    drift: DataFrame | None
    slim: DataFrame
    flagged_cache: DataFrame | None = None
    hist_edges: list | None = None
    # True iff the committed partitions' checkpointed histograms were
    # actually pooled into the PSI/KS holdout (history_sketches rows can
    # lack histograms or carry mismatched edges, in which case the
    # distribution verdicts silently stay pending-scoped — callers
    # reporting check globality must consult this, not merely whether
    # history_sketches was passed)
    history_pooled: bool = False

    def unpersist(self) -> None:
        self.slim.unpersist()
        self.summary.df.unpersist()
        self.violations.unpersist()
        if self.flagged_cache is not None:
            self.flagged_cache.unpersist()


def validate_tokens(
    df: DataFrame,
    *,
    partition_key: str = "source",
    doc_id_col: str = "doc_id",
    tokens_col: str = "tokens",
    n_tok_col: str = "n_tok",
    domain: tuple[str, ...] | None = None,
    vocab: tuple[int, int] = (0, 50257),
    # "nearest" (value-keyed exact) is the right quantile plan for this
    # pipeline's columns: token LENGTHS have a bounded domain (<= max
    # sequence length), so the pre-aggregated (partition, column,
    # value) table is tiny and the whole computation is distributed,
    # skew-proof, and exact. Measured at 16M rows x local[32]:
    # value-keyed 6.9 s (parallel) vs percentile_approx digests 19.7 s
    # per column, most of it in the SERIAL per-group merge of map
    # partials (which grows with the number of input splits — an
    # anti-scaling term). Use "approx" only for unbounded/continuous
    # value columns.
    quantile_mode: str = "nearest",
    accuracy: int = 10000,
    num_bins: int = 10,
    drift_k: int = 3,
    compute_drift: bool = True,
    psi_threshold: float = 0.2,
    ks_threshold: float = 0.2,
    broadcast_dupes_threshold: int = 2_000_000,
    external_dup_keys: DataFrame | None = None,
    occ_value_mode: str = "hash",  # 64-bit value fingerprints as the keys
    # of the occurrence/distinct-count shuffle over the near-unique id
    # column: map-side combine cannot shrink that shuffle (every row
    # crosses the wire), so the 8-byte key cuts its bytes ~3x; counts per
    # fingerprint equal counts per value up to 2^-64 collisions. Pass
    # "exact" to key by native values (bit-exact SQL-parity comparisons).
    hist_edges: list[float] | None = None,
    history_sketches: DataFrame | None = None,
    history_summary: pd.DataFrame | None = None,
) -> TokenValidationResult:
    """One-scan validation of a (doc_id, tokens, n_tok, source) table.

    Constraint suite (north rule): uniqueness of doc_id, n_tok ==
    size(tokens), source-domain membership, vocab-range bounds.
    Verdicts: (partition, constraint, violation_count, row_count,
    passed). Violations: (partition, constraint, key, detail).

    Resume-aware global checks (``df`` pruned to pending partitions):

    - ``external_dup_keys``: one-column DataFrame of doc ids present in
      already-validated partitions. A pending key that matches one is a
      uniqueness violation even if unique within the pruned input, so
      resumed runs keep doc_id uniqueness GLOBAL instead of silently
      partition-local. The check is a column-pruned id-only scan of the
      committed partitions (no token-array decode).
    - ``hist_edges``: pin the PSI/KS inner bin edges (e.g. to the edges
      committed in sketch lineage) instead of deriving them from the
      pending data's min/max — shared edges make histograms mergeable
      across runs.
    - ``history_sketches``: sketches.SKETCH_SCHEMA rows for committed
      partitions (their lineage rows' ``sketch_json``, as
      checkpoint.CheckpointStore.pending_partitions returns them).
      PSI/KS then pools the committed partitions' fixed-edge histograms
      into the holdout.
    - ``history_summary``: the committed partitions' summary rows
      (pandas, summary format — checkpoint.summary_from_json of the
      lineage's summary_json). Drift then scores pending partitions
      against ALL partitions on every statistic, with the same verdicts
      as a from-scratch run over the whole table.

    Rows for committed partitions are filtered OUT of the returned
    ``distribution`` / ``drift`` tables: their verdicts stand from the
    run that validated them.
    """
    from gate_spark.operators.summarize import _qident, _qlit, _sql_lit

    if not all(float(b).is_integer() for b in vocab):
        raise ValueError(f"vocab bounds must be integers, got {tuple(vocab)!r}")
    lo, hi = int(vocab[0]), int(vocab[1])
    tk = _qident(tokens_col)
    nt = _qident(n_tok_col)
    pk = _qident(partition_key)

    # array_min/array_max instead of F.exists: higher-order functions
    # are CodegenFallback (interpreted per element, boxed) — on a
    # token-array scan that is the whole bill. min/max bounds are
    # equivalent for element-null-free token arrays and stay inside
    # whole-stage codegen. The projection is generated SQL — one parser
    # call per output column instead of ~6 py4j round trips per
    # expression (see the plan-construction note in summarize.py).
    f_eq = f"(NOT coalesce(({nt} = size({tk})), false))"
    f_vocab = (
        f"coalesce(((array_min({tk}) < {lo}) OR (array_max({tk}) >= {hi})), false)"
    )
    if domain is None:
        f_member = "false"
    elif len(domain) == 0:
        f_member = "true"  # nothing is a member: every row violates
    else:
        in_list = ", ".join(_sql_lit(d) for d in domain)
        f_member = f"(NOT coalesce({pk} IN ({in_list}), false))"

    # ONE scan: every array-derived value + flags + (conditional)
    # violation details; arrays never leave the scan stage.
    slim = df.selectExpr(
        f"{pk} AS _pk",
        f"{_qident(doc_id_col)} AS _key",
        f"CAST({nt} AS BIGINT) AS n_tok",
        f"CAST(size({tk}) AS BIGINT) AS tok_len",
        f"{f_eq} AS _f_eq",
        f"{f_member} AS _f_member",
        f"{f_vocab} AS _f_vocab",
        f"CASE WHEN {f_vocab} THEN array_min({tk}) END AS _vmin",
        f"CASE WHEN {f_vocab} THEN array_max({tk}) END AS _vmax",
    )
    slim = slim.persist()
    # Materialize the cache with the ONE action that also yields the
    # per-partition row counts (metadata-scale collect: one row per
    # partition). The counts let verdicts be DERIVED from the
    # materialized violations table instead of a second full-frame
    # aggregation — profiled at 64M rows, the extra verdicts action
    # over 256 cached partitions was a ~core-count-flat ~10 s term
    # (task launch + cache decompression that a 4x-core run repays
    # almost unchanged).
    # min/max of n_tok ride the same aggregation: the PSI/KS stage
    # derives its default bin edges from the GLOBAL n_tok range, the
    # fold of these per-partition extrema — the one edge derivation,
    # with no min/max query of its own.
    pk_rows = (
        slim.groupBy("_pk").agg(
            F.count(F.lit(1)).alias("_rc"),
            F.min("n_tok").alias("_nt_min"),
            F.max("n_tok").alias("_nt_max"),
        ).collect()
    )

    # uniqueness: groupBy on the slim frame (map-side combine makes the
    # shuffle carry ~1 row per key per map task). The dupes side is
    # usually tiny but unbounded, so the join strategy is gated on a
    # COUNTED threshold (never a blind broadcast hint): small dup sets
    # broadcast — the flagged join then runs map-side with NO shuffle
    # of the table, and the verdicts and violations actions both reuse
    # that shuffle-free plan; a mass re-ingestion (millions of dupes)
    # falls back to one persisted sort-merge join shared by both
    # actions instead of two.
    dupes = (
        slim.groupBy("_key")
        .agg(F.count(F.lit(1)).alias("_dup"))
        .where(F.col("_dup") > 1)
    )
    if external_dup_keys is not None:
        # global uniqueness on resume: a pending key that also exists in
        # an already-committed partition is a duplicate even when unique
        # within the pruned input. left_semi keeps the probe side at
        # (distinct pending keys), never data-scale x committed-scale.
        ext = external_dup_keys.select(
            F.col(external_dup_keys.columns[0]).cast(slim.schema["_key"].dataType).alias("_key")
        )
        cross = (
            slim.select("_key")
            .distinct()
            .join(ext, "_key", "left_semi")
            .select("_key", F.lit(2).cast("long").alias("_dup"))
        )
        dupes = (
            dupes.unionByName(cross).groupBy("_key").agg(F.max("_dup").alias("_dup"))
        )
    dupes = dupes.persist()  # consumed by count + 2 joins; rows bounded below
    # One action yields both the dup count (join-strategy gate) and the
    # distinct-hash count (build-side collision check for the long-keyed
    # probe below): folding them avoids a second pass that could silently
    # recompute the groupBy if the dupes cache were evicted (ADVICE
    # round 4).
    _dup_row = dupes.agg(
        F.count(F.lit(1)).alias("_n"),
        F.count_distinct(F.xxhash64("_key")).alias("_nh"),
    ).collect()[0]
    dup_count, dup_hash_count = _dup_row["_n"], _dup_row["_nh"]
    if dup_count <= broadcast_dupes_threshold:
        # Long-keyed broadcast probe. jstack at 64M rows showed 20+/32
        # executor threads inside the string-keyed UnsafeHashedRelation
        # probe (HashedRelation.getValue -> BytesToBytesMap.safeLookup)
        # — a memory-latency-bound, core-count-flat ~11 s term (the
        # largest residual between measured scaling efficiency and the
        # 0.8 target). Re-keying the tiny dup relation by
        # xxhash64(_key) turns every row's probe into a
        # LongHashedRelation lookup — measured 30x cheaper at 64M rows
        # (31.7 s -> 1.05 s at local[32], vs a 1.02 s scan-only
        # baseline; BENCH.md round 4). The string key is re-verified
        # AFTER the probe, so a probe-side hash collision can never
        # flag a non-duplicate; build-side hash uniqueness is checked
        # with a metadata-scale action (~2^-32 odds at 64k keys), and
        # on the astronomically-unlikely collision we fall back to the
        # exact string-keyed join.
        dupes_h = dupes.select(
            F.xxhash64("_key").alias("_kh"),
            F.col("_key").alias("_dup_key"),
            "_dup",
        )
        if dup_hash_count == dup_count:
            flagged = (
                slim.withColumn("_kh", F.xxhash64("_key"))
                .join(F.broadcast(dupes_h), "_kh", "left")
                .withColumn(
                    "_dup",
                    F.when(F.col("_key") == F.col("_dup_key"), F.col("_dup")),
                )
                .drop("_kh", "_dup_key")
            )
        else:
            flagged = slim.join(F.broadcast(dupes), "_key", "left")
        flagged_cached = dupes
    else:
        # dup set too large to hold: release it and share ONE
        # sort-merge join between the verdicts and violations actions
        dupes.unpersist()
        flagged = slim.join(dupes, "_key", "left").persist()
        flagged_cached = flagged
    flagged = flagged.withColumn("_f_unique", F.col("_dup").isNotNull())

    names = ["unique_doc_id", "token_array_equality", "source_membership", "vocab_bounds"]
    flags = ["_f_unique", "_f_eq", "_f_member", "_f_vocab"]

    details = [
        "concat('duplicate doc_id=', CAST(_key AS STRING))",
        _qlit(f"violated: {n_tok_col} = size({tokens_col})"),
        f"concat({_qlit(f'{partition_key} not in domain: ')}, CAST(_pk AS STRING))",
        f"concat({_qlit(f'token out of [{lo},{hi}): min=')},"
        " CAST(_vmin AS STRING), ' max=', CAST(_vmax AS STRING))",
    ]
    structs = ", ".join(
        f"CASE WHEN {f} THEN named_struct('constraint', {_qlit(n)},"
        f" 'detail', {d}) END"
        for n, f, d in zip(names, flags, details)
    )
    violations = (
        flagged.where(F.expr(" OR ".join(flags)))
        .selectExpr(
            "CAST(_pk AS STRING) AS partition",
            "CAST(_key AS STRING) AS key",
            f"explode(filter(array({structs}), s -> s IS NOT NULL)) AS _w",
        )
        .selectExpr("partition", "_w.constraint AS constraint", "key", "_w.detail AS detail")
    )
    # Violations are the ONE action over the full flagged frame; the
    # persisted result (bounded by the violating-row count — the same
    # rows the caller writes out) is the source for verdicts, so
    # verdicts + violations together cost one full-frame pass instead
    # of two. Each violating row emits exactly one violations row per
    # violated constraint, so count(*) by (partition, constraint) over
    # violations == sum(flag) by partition — bit-identical to the old
    # grouped-sum formulation (pinned by test_verdicts_match_standalone
    # and the violation_count==len(violations) invariant).
    violations = violations.persist()

    spark = df.sparkSession
    from pyspark.sql.types import BooleanType, LongType, StringType, StructField, StructType

    # The aggregation that yields verdict counts is ALSO the action
    # that materializes the violations cache (the caller's later
    # violations write is then a pure cache rescan). The counts come
    # back metadata-scale (partitions x 4 constraints), so the verdict
    # join runs driver-side and the verdicts frame is a JVM
    # LocalTableScan — jstack profiling showed the previous
    # grid-join-broadcast formulation spending 37-45 s per force at
    # 64M rows with near-zero CPU: the grid was a Python-RDD scan and
    # all 32 task threads serialized behind PythonWorkerFactory
    # worker creation (see localframe.py).
    vrows = violations.groupBy("partition", "constraint").agg(
        F.count(F.lit(1)).alias("n")
    ).collect()
    vmap = {(r["partition"], r["constraint"]): r["n"] for r in vrows}

    pk_type = slim.schema["_pk"].dataType

    def _pk_str(v):
        # violations.partition is `_pk` CAST TO STRING; mirror that
        # cast driver-side (str() matches Spark's cast for the
        # string/int partition keys this table shape allows)
        return None if v is None else str(v)

    verdicts = local_df(
        spark,
        [
            (
                r["_pk"],
                n,
                int(vmap.get((_pk_str(r["_pk"]), n), 0)),
                r["_rc"],
                vmap.get((_pk_str(r["_pk"]), n), 0) == 0,
            )
            for r in pk_rows
            for n in names
        ],
        StructType(
            [
                StructField("partition", pk_type),
                StructField("constraint", StringType()),
                StructField("violation_count", LongType()),
                StructField("row_count", LongType()),
                StructField("passed", BooleanType()),
            ]
        ),
    )

    # summaries over the slim scalars (array column summarized over its
    # length, SURVEY.md §1.3) — aliased back to the user-facing names
    stats_src = slim.select(
        F.col("_pk").alias(partition_key),
        F.col("n_tok").alias(n_tok_col),
        F.col("tok_len").alias(tokens_col),
        F.col("_key").alias(doc_id_col),
    )
    summary = summarize(
        stats_src,
        columns=[n_tok_col, tokens_col, doc_id_col],
        partition_key=partition_key,
        quantile_mode=quantile_mode,
        extras=True,
        accuracy=accuracy,
        occ_value_mode=occ_value_mode,
        # No quantiles for the id column: a percentile_approx digest
        # over ~N distinct ids is ~accuracy samples per map partial and
        # the per-group final merge is single-threaded — profiled at
        # 28 min of serial CPU for ONE straggler task at 16M rows x 256
        # partials. Length columns have bounded domains and stay cheap.
        quantile_columns=[n_tok_col, tokens_col],
    )
    # summarize() persists the metadata-scale summary table itself, so
    # drift / callers' repeated actions reuse one aggregation run.

    # PSI/KS: equi-width bin edges from the global n_tok range folded
    # from the scan collect above (no extra pass over data), ONE
    # histogram aggregation over slim, then the PSI/KS arithmetic on
    # the collected (partitions x bins <= few hundred rows) histogram —
    # metadata-scale driver math, like the reference's drift kernels.
    nt_mins = [r["_nt_min"] for r in pk_rows if r["_nt_min"] is not None]
    nt_maxs = [r["_nt_max"] for r in pk_rows if r["_nt_max"] is not None]
    # no n_tok at all (all null, or an empty table): nothing to bin, so
    # unit-range edges
    nt_range = (float(min(nt_mins)), float(max(nt_maxs))) if nt_mins else (0.0, 1.0)
    distribution, edges, pooled = _compute_distribution(
        slim, n_tok_col, hist_edges, history_sketches,
        num_bins, psi_threshold, ks_threshold, nt_range,
    )

    # one collect of the cached metadata-scale summary, scored driver-side
    drift = None
    if compute_drift:
        drift = drift_scores(summary, k=drift_k, history=history_summary)
        if history_summary is not None:
            drift = _drop_committed(
                drift, sorted({str(p) for p in history_summary[partition_key]})
            )

    return TokenValidationResult(
        summary=summary,
        verdicts=verdicts,
        violations=violations,
        distribution=distribution,
        drift=drift,
        slim=slim,
        flagged_cache=flagged_cached,
        hist_edges=edges,
        history_pooled=pooled,
    )


def _compute_distribution(
    slim, n_tok_col, hist_edges, history_sketches,
    num_bins, psi_threshold, ks_threshold, nt_range,
):
    if hist_edges is not None:
        edges = [float(e) for e in hist_edges]
    else:
        lo_v, hi_v = nt_range
        step = (hi_v - lo_v) / num_bins or 1.0
        edges = [lo_v + i * step for i in range(1, num_bins)]
    # partition keys as strings: the schema the committed partitions'
    # histograms (and the violations table) use
    keyed = slim.selectExpr("CAST(_pk AS STRING) AS _pk", "n_tok")
    hist = partition_histograms(keyed, "_pk", "n_tok", edges)
    history_parts: list[str] = []
    pooled = False
    if history_sketches is not None:
        hh, history_parts = _history_histograms(history_sketches, n_tok_col, edges)
        if hh is not None:
            pooled = True
            hist = hist.unionByName(hh)
    distribution = psi_ks_from_histogram(hist, psi_threshold, ks_threshold)
    return _drop_committed(distribution, history_parts), edges, pooled


def _drop_committed(df: DataFrame, history_parts: list[str]) -> DataFrame:
    """Rows of ``df`` whose ``partition`` is not a committed one; a null
    partition is never committed (`NOT (NULL IN (...))` alone drops it)."""
    if not history_parts:
        return df
    return df.where(F.col("partition").isNull() | ~F.col("partition").isin(history_parts))


def _history_histograms(
    history_sketches: DataFrame, n_tok_col: str, edges: list[float]
):
    """(partition, bin, bin_count) rows for committed partitions from
    their checkpointed fixed-edge histograms, plus the list of history
    partition names. Returns (None, parts) when the lineage carries no
    histogram for ``n_tok_col`` or its edges differ from ``edges``
    (mergeable only under shared edges)."""
    rows = history_sketches.where(F.col("column") == n_tok_col).select(
        "partition", "hist", "edges"
    ).collect()  # metadata-scale: one row per committed partition
    parts = [str(r["partition"]) for r in rows]
    out = []
    for r in rows:
        if r["hist"] is None or r["edges"] is None:
            return None, parts
        if len(r["edges"]) != len(edges) or any(
            abs(a - b) > 1e-9 * max(1.0, abs(b)) for a, b in zip(r["edges"], edges)
        ):
            return None, parts
        for b, cnt in enumerate(r["hist"]):
            if cnt:
                out.append((str(r["partition"]), b, int(cnt)))
    if not out:
        return None, parts
    spark = history_sketches.sparkSession
    return (
        local_df(spark, out, "partition string, bin int, bin_count long"),
        parts,
    )
