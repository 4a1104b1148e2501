"""spark-submit job entry — the north-rule deployment path.

Production invocation (multi-executor cluster, N or 4N executors):

    spark-submit --master yarn --deploy-mode cluster \\
        --num-executors 256 --executor-cores 4 \\
        --py-files dist/gate_spark.zip \\
        tools/run_validation.py \\
        --input warehouse.tokens --output s3://.../out \\
        --lineage s3://.../lineage --partition-key source --sketch

The SparkSession is taken from spark-submit's conf (no master override
here); ``--local-cores N`` exists for ad-hoc ``python -m gate_spark``
runs outside spark-submit. The job:

1. reads the input (Iceberg table id, or parquet path or URI —
   ``iceberg.read_table`` dispatch) and stamps it: one map from each
   partition to its current stamp (its own content stamp on a
   hive-partitioned path, else the global snapshot);
2. with ``--lineage``, resumes on one lineage read
   (``CheckpointStore.pending_partitions``): a partition whose latest
   committed row for this run spec carries its current stamp is
   pruned OUT of the input scan (pushed-down isin filter → partition
   pruning), so a restarted 10^12-row run rescans nothing it already
   validated; every other partition is pending. Pruning does NOT narrow the
   global checks: doc_id uniqueness probes pending keys against the
   committed partitions' ids too (a column-pruned id-only scan — no
   token-array decode; ``--no-global-unique`` opts out), and with
   ``--sketch`` lineage, PSI/KS pools the committed partitions'
   checkpointed fixed-edge histograms into the holdout while drift
   scores pending partitions against ALL partitions on their committed
   summary rows, so a resumed run's drift verdicts equal a from-scratch
   run's. Without sketch lineage, distribution / drift verdicts are
   pending-scoped (reported as ``global_checks`` in the JSON summary
   line);
3. runs the one-scan ``validate_tokens`` pipeline on the pending
   partitions and writes verdicts / violations / summary / PSI-KS /
   drift to ``--output`` — per-partition dirs with dynamic partition
   overwrite, so a resumed run replaces only the partitions it
   re-validated and the output always reflects the whole table;
4. commits per-partition lineage rows (the stamp map's snapshot-id,
   partition spec, metrics, and with ``--sketch`` the mergeable sketch state
   (gate_spark/sketches.py) that lets ``merged_stats_from_lineage``
   rebuild global statistics with zero rescan, plus the partition's
   summary rows that a later resume scores drift on);
5. prints ONE machine-readable JSON summary line to stdout.
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="gate_spark", description="token-table validation job"
    )
    p.add_argument("--input", required=True, help="parquet path or Iceberg table id")
    p.add_argument("--output", required=True, help="output directory (parquet)")
    p.add_argument("--lineage", default=None, help="checkpoint store path (enables resume)")
    p.add_argument("--partition-key", default="source")
    p.add_argument("--doc-id-col", default="doc_id")
    p.add_argument("--tokens-col", default="tokens")
    p.add_argument("--n-tok-col", default="n_tok")
    p.add_argument("--domain", default=None, help="comma-separated source domain")
    p.add_argument("--vocab", default="0:50257", help="lo:hi token id bounds")
    p.add_argument(
        "--distinct-mode", default="approx", choices=["approx", "exact"],
        help="value keys of the occurrence/distinct-count pass: 'exact' keys"
        " by native values, 'approx' by 64-bit fingerprints (same counts up"
        " to 2^-64 collisions, fewer shuffle bytes)",
    )
    p.add_argument("--quantile-mode", default="nearest", choices=["approx", "nearest"])
    p.add_argument("--no-drift", action="store_true")
    p.add_argument("--snapshot", default="auto", help="input snapshot id ('auto' = stamp)")
    p.add_argument("--sketch", action="store_true", help="commit mergeable sketch state")
    p.add_argument(
        "--no-global-unique", action="store_true",
        help="on resume, skip the id-only scan of committed partitions that"
        " keeps doc_id uniqueness global (falls back to pending-local)",
    )
    p.add_argument(
        "--max-partitions-per-run", type=int, default=None,
        help="bounded failure domain: validate at most M pending partitions"
        " per invocation and commit their lineage, leaving the rest pending"
        " (rerun until status=up-to-date). A kill mid-invocation loses only"
        " that invocation's uncommitted batch.",
    )
    p.add_argument("--app-name", default="gate_spark_validate")
    p.add_argument(
        "--local-cores", type=int, default=None,
        help="run without spark-submit on local[N] (ad-hoc/debug only)",
    )
    return p


def _drop_partition_dirs(
    spark: SparkSession, base: str, col: str, parts: list[str]
) -> None:
    """Delete ``{base}/{col}={p}`` for each partition — Hadoop
    FileSystem API, so it works on local paths, HDFS and s3a alike."""
    from gate_spark.iceberg import hadoop_fs

    for p in parts:
        # Spark percent-escapes special characters in partition dir
        # names (Hive path convention) — build the same escaped name or
        # stale dirs for such values are silently left in place
        fs, path = hadoop_fs(
            spark, f"{base}/{_escape_path_name(spark, col)}={_escape_path_name(spark, p)}"
        )
        if fs.exists(path):
            fs.delete(path, True)


# the character set Spark/Hive percent-escape in partition path names
# (ExternalCatalogUtils.charToEscape): ASCII control chars plus these
_ESCAPE_CHARS = set('"#%\'*/:=?\\\x7f{[]^')


def _escape_path_name(spark: SparkSession, value: str) -> str:
    """Escape a partition value exactly as Spark does when writing
    ``col=value`` directories. Prefers the JVM's own implementation
    (bit-exact by construction); falls back to a replica of
    ExternalCatalogUtils.escapePathName."""
    value = str(value)
    try:
        return str(
            spark._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName(
                value
            )
        )
    except Exception:
        return "".join(
            f"%{ord(c):02X}" if (c in _ESCAPE_CHARS or ord(c) < 0x20) else c
            for c in value
        )


def _get_session(args) -> SparkSession:
    if args.local_cores:
        from gate_spark.session import get_spark

        return get_spark(args.app_name, cores=args.local_cores)
    # under spark-submit the master/deploy conf is already set
    return SparkSession.builder.appName(args.app_name).getOrCreate()


def main(argv: list[str] | None = None) -> int:
    args = _build_parser().parse_args(argv)
    from gate_spark import checkpoint as ck
    from gate_spark import iceberg
    from gate_spark.pipeline import validate_tokens
    from gate_spark import sketches as sk
    from gate_spark.operators.drift import _spark_keys

    spark = _get_session(args)
    df = iceberg.read_table(spark, args.input)
    # per-partition stamps (hive-partitioned path input): an append to
    # one partition re-validates that partition alone
    own_stamps = (
        iceberg.partition_snapshot_stamps(args.input, args.partition_key)
        if args.snapshot == "auto"
        else {}
    )
    snapshot = (
        iceberg.current_snapshot_id(spark, args.input)
        if args.snapshot == "auto"
        else args.snapshot
    )
    lo, hi = (int(x) for x in args.vocab.split(":"))
    domain = tuple(args.domain.split(",")) if args.domain else None
    run_spec = ck.spec_hash(
        {
            k: v
            for k, v in vars(args).items()
            # identity of the validation, not of this invocation;
            # no_global_unique only controls a resume-time probe, so
            # toggling it must not invalidate committed lineage
            if k not in (
                "output", "lineage", "snapshot", "app_name", "local_cores",
                "no_global_unique", "max_partitions_per_run",
            )
        }
    )

    store = ck.CheckpointStore(spark, args.lineage) if args.lineage else None
    all_parts = [
        str(r[0])
        for r in df.select(args.partition_key).distinct().orderBy(args.partition_key).collect()
    ]
    # each partition's current stamp: its own, else (no per-partition
    # stamps, or a partition the dir listing does not show) the global
    # snapshot. The resume rule and the commit both use this map.
    stamps = {p: own_stamps.get(p, snapshot) for p in all_parts}
    pending, committed_rows = (
        store.pending_partitions(stamps, run_spec) if store else (all_parts, {})
    )
    deferred = 0
    if args.max_partitions_per_run and len(pending) > args.max_partitions_per_run:
        # deterministic batch choice (pending keeps the ordered
        # partition list's order): the next invocation picks up exactly
        # where this one's commit ends
        deferred = len(pending) - args.max_partitions_per_run
        pending = pending[: args.max_partitions_per_run]
    summary_line = {
        "run_spec": run_spec,
        "snapshot": snapshot,
        "partitions": len(all_parts),
        "pending": len(pending),
        "deferred": deferred,
    }
    if not pending:
        summary_line["status"] = "up-to-date"
        print(json.dumps(summary_line))
        return 0

    external_keys = None
    history_sketches = None
    history_summary = None
    hist_edges = None
    n_history = 0  # committed partitions with summary rows in lineage
    committed = [p for p in all_parts if p not in pending]
    if committed:
        # pushed-down membership filter -> partition pruning on a
        # source-partitioned table: completed partitions' ARRAYS are
        # never read (the optional global-uniqueness probe below scans
        # their id column only)
        full_df = df
        df = df.where(F.col(args.partition_key).isin(pending))
        if not args.no_global_unique:
            # global uniqueness across resume boundaries: pending keys
            # are checked against committed partitions' ids too
            external_keys = full_df.where(
                F.col(args.partition_key).isin(committed)
            ).select(args.doc_id_col)
        if args.sketch:
            payload, summaries = (
                {p: r[f] for p, r in committed_rows.items() if r[f] is not None}
                for f in ("sketch_json", "summary_json")
            )
            if summaries:
                # the drift gate below counts the partitions that carry
                # summary rows, which may be a subset of `committed`
                n_history = len(summaries)
                history_summary = ck.summary_from_json(
                    summaries, args.partition_key,
                    full_df.schema[args.partition_key].dataType,
                )
            if payload:
                history_sketches = sk.sketches_from_json(spark, payload)
                erow = (
                    history_sketches.where(
                        (F.col("column") == args.n_tok_col)
                        & F.col("edges").isNotNull()
                    )
                    .select("edges")
                    .first()
                )
                if erow is not None:
                    hist_edges = list(erow["edges"])

    result = validate_tokens(
        df,
        partition_key=args.partition_key,
        doc_id_col=args.doc_id_col,
        tokens_col=args.tokens_col,
        n_tok_col=args.n_tok_col,
        domain=domain,
        vocab=(lo, hi),
        occ_value_mode="exact" if args.distinct_mode == "exact" else "hash",
        quantile_mode=args.quantile_mode,
        compute_drift=not args.no_drift and (len(pending) + n_history) >= 6,
        external_dup_keys=external_keys,
        hist_edges=hist_edges,
        history_sketches=history_sketches,
        history_summary=history_summary,
    )
    # drift globality is claimed only when the history histograms were
    # ACTUALLY pooled into the PSI/KS holdout (result.history_pooled):
    # sketch rows can lack histograms or carry mismatched edges, in
    # which case the distribution verdicts silently fell back to
    # pending scope and reporting "drift" here would overstate them
    drift_global = history_sketches is not None and result.history_pooled
    scope = [
        s for s, on in (("unique", external_keys is not None), ("drift", drift_global)) if on
    ]
    summary_line["global_checks"] = (
        ("+".join(scope) or "pending-only") if committed else "full"
    )
    out = args.output.rstrip("/")
    # per-partition dirs + dynamic overwrite: a resumed run replaces
    # ONLY the partitions it re-validated — previously committed
    # partitions' outputs survive (the --output contract reflects the
    # whole table after any resume, not the last pending subset)
    prev_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        result.verdicts.write.mode("overwrite").partitionBy("partition").parquet(
            f"{out}/verdicts"
        )
        result.violations.write.mode("overwrite").partitionBy("partition").parquet(
            f"{out}/violations"
        )
        result.summary.df.write.mode("overwrite").partitionBy(
            args.partition_key
        ).parquet(f"{out}/summary")
        result.distribution.write.mode("overwrite").partitionBy(
            "partition"
        ).parquet(f"{out}/distribution")
        if result.drift is not None:
            result.drift.write.mode("overwrite").partitionBy("partition").parquet(
                f"{out}/drift"
            )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev_mode)

    # per-partition metrics from the (metadata-scale) verdict table
    verdict_rows = result.verdicts.collect()
    if result.drift is None:
        # a resumed run that skipped drift must not leave the pending
        # partitions' OLD drift rows in place (they describe data this
        # run just re-validated)
        _drop_partition_dirs(spark, f"{out}/drift", "partition", pending)
    metrics: dict[str, dict] = {}
    failed = 0
    for r in verdict_rows:
        m = metrics.setdefault(
            r["partition"], {"row_count": r["row_count"], "violations": 0}
        )
        m["violations"] += int(r["violation_count"])
        failed += int(not r["passed"])
    summary_line["constraint_failures"] = failed
    # dynamic overwrite only replaces partitions PRESENT in the new
    # data: a re-validated partition whose violations dropped to zero
    # writes no rows, so its stale violation dir must be cleared
    # explicitly
    clean = [p for p in pending if metrics.get(p, {}).get("violations", 0) == 0]
    _drop_partition_dirs(spark, f"{out}/violations", "partition", clean)

    if store:
        payload = summaries = None
        if args.sketch:
            payload = sk.sketches_to_json(
                sk.column_sketches(
                    result.slim.select(
                        F.col("_pk").alias(args.partition_key),
                        F.col("n_tok").alias(args.n_tok_col),
                        F.col("tok_len").alias(args.tokens_col),
                        F.col("_key").alias(args.doc_id_col),
                    ),
                    [args.n_tok_col, args.tokens_col, args.doc_id_col],
                    args.partition_key,
                    # fixed-edge histogram in lineage: a future resume
                    # pools committed partitions into the PSI/KS holdout
                    # (mergeable only under shared edges, so the edges
                    # ride along in the sketch rows)
                    hist_edges={args.n_tok_col: result.hist_edges},
                )
            )
            # a future resume scores drift on these rows, from the
            # collect drift scoring already made; lineage keys are str()
            # of the Spark values, which _spark_keys restores
            pk = args.partition_key
            pdf = result.summary.to_pandas()
            keys = _spark_keys(pdf[pk], result.summary.df.schema[pk].dataType)
            summaries = ck.summary_to_json(
                ({**r, pk: k} for k, r in zip(keys, pdf.to_dict("records"))), pk
            )
        store.mark_completed(
            pending,
            run_spec,
            snapshot,
            metrics,
            partition_spec=args.partition_key,
            sketches=payload,
            summaries=summaries,
            snapshots=stamps,
        )
    result.unpersist()
    summary_line["status"] = "partial" if deferred else "completed"
    print(json.dumps(summary_line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
