"""Checkpoint/resume store with per-partition lineage (north-rule).

The reference has no persistence at all — "previous_summaries" are
Python objects the caller must carry (gate/summarize.py:54). At
10^12-row scale a validation run over hundreds of partitions must
survive restarts, so each partition's completion is recorded as an
append-only lineage row:

    (run_spec, partition, partition_spec, snapshot_id, status,
     sketch_json, summary_json, metrics_json, ts)

- ``run_spec`` is a stable hash of the validation spec (columns,
  constraints, thresholds): changing the spec invalidates prior
  checkpoints automatically;
- ``snapshot_id`` is the input snapshot stamp (Iceberg snapshot id
  when available; ``iceberg.current_snapshot_id`` content stamp for
  plain parquet), so a partition re-validates when its data changes
  but is skipped when only the run restarted;
- ``partition_spec`` records HOW the input was partitioned when the
  row was committed (e.g. ``source=src3``) — an Iceberg-style spec
  string so spec evolution invalidates nothing silently;
- ``sketch_json`` carries the partition's mergeable sketch state
  (moments + HLL + histogram, see gate_spark/sketches.py): a resumed
  run pools the committed fixed-edge histograms into its PSI/KS
  holdout, and ``merged_stats_from_lineage`` rebuilds global
  statistics — zero rescan of completed partitions;
- ``summary_json`` carries the partition's summary rows
  (``{"format": 1, "rows": [...]}``, see :func:`summary_to_json`): a
  resumed run scores drift against them on every statistic, the
  reference's ``previous_summaries`` contract, so its verdicts equal a
  from-scratch run's;
- the store itself is a parquet directory (Iceberg table in
  production — the API takes a path either way) of metadata-scale
  rows; appends are atomic per file, and duplicate completion rows
  are harmless (latest-wins on read).

Resume contract: ``pending_partitions`` = all input partitions minus
those with a committed row for (run_spec, snapshot_id); re-running a
finished job is a no-op and re-emitting a partition's verdict is
idempotent.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from typing import Iterable, Mapping

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gate_spark.localframe import local_df

LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("run_spec", T.StringType(), False),
        T.StructField("partition", T.StringType(), False),
        T.StructField("partition_spec", T.StringType(), True),
        T.StructField("snapshot_id", T.StringType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("sketch_json", T.StringType(), True),
        T.StructField("summary_json", T.StringType(), True),
        T.StructField("metrics_json", T.StringType(), True),
        T.StructField("ts", T.DoubleType(), False),
    ]
)


def spec_hash(spec: dict) -> str:
    """Stable hash of a validation spec (sorted-key JSON)."""
    blob = json.dumps(spec, sort_keys=True, default=str).encode()
    return hashlib.sha256(blob).hexdigest()[:16]


class CheckpointStore:
    """Parquet-backed per-partition lineage (see module docstring)."""

    def __init__(self, spark: SparkSession, path: str) -> None:
        self.spark = spark
        self.path = path

    def _read(self) -> DataFrame | None:
        if not self._exists():
            return None
        return self.spark.read.schema(LINEAGE_SCHEMA).parquet(self.path)

    def _exists(self) -> bool:
        try:
            return any(
                f.endswith(".parquet") for f in os.listdir(self.path)
            ) or any(
                os.path.isdir(os.path.join(self.path, d)) for d in os.listdir(self.path)
            )
        except FileNotFoundError:
            return False

    def completed_partitions(self, run_spec: str, snapshot_id: str) -> set[str]:
        df = self._read()
        if df is None:
            return set()
        rows = (
            df.where(
                (F.col("run_spec") == run_spec)
                & (F.col("snapshot_id") == snapshot_id)
                & (F.col("status") == "completed")
            )
            .select("partition")
            .distinct()
            .collect()
        )
        return {r[0] for r in rows}

    def pending_partitions(
        self, all_partitions: list[str], run_spec: str, snapshot_id: str
    ) -> list[str]:
        done = self.completed_partitions(run_spec, snapshot_id)
        return [p for p in all_partitions if str(p) not in done]

    def pending_by_stamps(
        self, stamps: dict[str, str], run_spec: str
    ) -> list[str]:
        """Per-partition incremental resume: given each partition's OWN
        snapshot stamp (iceberg.partition_snapshot_stamps), a partition
        is pending unless its latest committed row matches its current
        stamp — an append to one partition re-validates that partition
        alone, not the whole table."""
        df = self._read()
        if df is None:
            return sorted(stamps)
        rows = (
            df.where(
                (F.col("run_spec") == run_spec)
                & (F.col("status") == "completed")
            )
            .groupBy("partition")
            .agg(F.max_by("snapshot_id", "ts").alias("snapshot_id"))
            .collect()
        )
        latest = {r["partition"]: r["snapshot_id"] for r in rows}
        return sorted(p for p, s in stamps.items() if latest.get(str(p)) != s)

    def mark_completed(
        self,
        partitions: list[str],
        run_spec: str,
        snapshot_id: str,
        metrics: dict[str, dict] | None = None,
        *,
        partition_spec: str | None = None,
        sketches: dict[str, str] | None = None,
        summaries: dict[str, str] | None = None,
        snapshots: dict[str, str] | None = None,
    ) -> None:
        """Append completion rows (one atomic parquet file per call).

        ``sketches`` maps partition -> sketch_json payload
        (sketches.sketches_to_json), ``summaries`` partition ->
        summary_json payload (:func:`summary_to_json`);
        ``partition_spec`` records the input partitioning (e.g.
        ``"source"``) at commit time;
        ``snapshots`` overrides ``snapshot_id`` per partition (the
        per-partition stamp incremental path, see pending_by_stamps).
        """
        now = time.time()
        rows = [
            (
                run_spec,
                str(p),
                partition_spec,
                (snapshots or {}).get(str(p), snapshot_id),
                "completed",
                (sketches or {}).get(str(p)),
                (summaries or {}).get(str(p)),
                json.dumps((metrics or {}).get(str(p), {})),
                now,
            )
            for p in partitions
        ]
        df = local_df(self.spark, rows, LINEAGE_SCHEMA)
        df.coalesce(1).write.mode("append").parquet(self.path)

    def sketch_state(
        self,
        run_spec: str,
        snapshot_id: str | None = None,
        stamps: dict[str, str] | None = None,
    ) -> tuple[dict[str, str], dict[str, str]]:
        """Latest committed sketch_json and summary_json per partition,
        as two partition -> payload dicts from one lineage read (inputs
        to ``sketches.sketches_from_json`` and :func:`summary_from_json`;
        rows committed before summary_json existed are absent from the
        second). Filter by one global ``snapshot_id``, by per-partition
        ``stamps`` (each partition must match its own stamp), or neither
        (latest regardless of snapshot)."""
        df = self._read()
        if df is None:
            return {}, {}
        cond = (
            (F.col("run_spec") == run_spec)
            & (F.col("status") == "completed")
            & F.col("sketch_json").isNotNull()
        )
        if snapshot_id is not None:
            cond = cond & (F.col("snapshot_id") == snapshot_id)
        rows = (
            df.where(cond)
            .groupBy("partition")
            .agg(
                F.max_by("sketch_json", "ts").alias("sketch_json"),
                F.max_by("summary_json", "ts").alias("summary_json"),
                F.max_by("snapshot_id", "ts").alias("snapshot_id"),
            )
            .collect()
        )
        sketches, summaries = {}, {}
        for r in rows:
            if stamps is not None and stamps.get(r["partition"]) != r["snapshot_id"]:
                continue
            sketches[r["partition"]] = r["sketch_json"]
            if r["summary_json"] is not None:
                summaries[r["partition"]] = r["summary_json"]
        return sketches, summaries

    def lineage(self) -> DataFrame:
        df = self._read()
        if df is None:
            return self.spark.createDataFrame([], LINEAGE_SCHEMA)
        return df


def resumable_run(
    store: CheckpointStore,
    df: DataFrame,
    partition_key: str,
    run_spec: str,
    snapshot_id: str,
    per_partition_job,
    partitions: list[str] | None = None,
    sketch_columns: list[str] | None = None,
    hist_edges: dict[str, list[float]] | None = None,
) -> list[str]:
    """Drive ``per_partition_job(partition_df, partition)`` over every
    not-yet-committed partition; returns the partitions processed this
    run. The per-partition read is a pushed-down equality filter, so a
    source-partitioned table prunes to one directory per job.

    ``per_partition_job`` returns a metrics dict recorded in lineage.
    With ``sketch_columns``, each partition's mergeable sketch state
    (gate_spark/sketches.py) is committed alongside — after which
    ``merged_stats_from_lineage`` rebuilds global statistics with no
    rescan of completed partitions.
    """
    from gate_spark import sketches as sk

    if partitions is None:
        partitions = [
            str(r[0])
            for r in df.select(partition_key).distinct().orderBy(partition_key).collect()
        ]
    todo = store.pending_partitions(partitions, run_spec, snapshot_id)
    done: list[str] = []
    for p in todo:
        part_df = df.where(F.col(partition_key) == F.lit(p))
        metrics = per_partition_job(part_df, p) or {}
        payload = None
        if sketch_columns:
            payload = sk.sketches_to_json(
                sk.column_sketches(
                    part_df, sketch_columns, partition_key, hist_edges=hist_edges
                )
            )
        store.mark_completed(
            [p],
            run_spec,
            snapshot_id,
            {str(p): metrics},
            partition_spec=partition_key,
            sketches=payload,
        )
        done.append(p)
    return done


def merged_stats_from_lineage(
    store: CheckpointStore,
    run_spec: str,
    snapshot_id: str | None = None,
    stamps: dict[str, str] | None = None,
):
    """Global statistics rebuilt purely from checkpointed sketch state
    (no input rescan): merge of every committed partition's sketch rows
    (filtered by a global snapshot, per-partition stamps, or latest).
    Returns the sketches.merge_sketches frame (column, rows, n,
    coverage, mean, stddev, min, max, ndv, hist, edges)."""
    from gate_spark import sketches as sk

    payload, _ = store.sketch_state(run_spec, snapshot_id, stamps)
    return sk.merge_sketches(sk.sketches_from_json(store.spark, payload))


SUMMARY_FORMAT = 1


def summary_to_json(rows: Iterable[Mapping], partition_key: str) -> dict[str, str]:
    """Summary rows (``Row.asDict()`` of ``Summary.df``) -> one
    ``{"format": 1, "rows": [{"column": ..., <statistic>: ...}, ...]}``
    summary_json per partition, keyed like lineage (``str`` of the key).
    A float32 cell goes out as its float64 repr, which reads back to the
    same bits; NaN and None go out as null."""
    per_part: dict[str, list[dict]] = {}
    for r in rows:
        stats = {
            k: None if v is None or v != v else float(v)
            for k, v in r.items() if k not in (partition_key, "column")
        }
        per_part.setdefault(str(r[partition_key]), []).append({"column": r["column"], **stats})
    return {
        p: json.dumps({"format": SUMMARY_FORMAT, "rows": v}) for p, v in per_part.items()
    }


def summary_from_json(
    payload: dict[str, str], partition_key: str, key_type: T.DataType
) -> pd.DataFrame:
    """summary_json payloads -> summary-format pandas rows (partition
    key, ``column``, every statistic as float32, null as NaN). Lineage
    stores partitions as strings, so an integral ``key_type`` (the live
    summary's key type) turns them back into ints. Raises ``ValueError``
    naming the partition for a payload of any other format."""
    integral = isinstance(key_type, T.IntegralType)
    records = []
    for part, blob in payload.items():
        doc = json.loads(blob)
        fmt = doc.get("format") if isinstance(doc, dict) else None
        if fmt != SUMMARY_FORMAT:
            raise ValueError(
                f"partition {part!r}: summary_json format {fmt!r} is not"
                f" {SUMMARY_FORMAT}; re-validate the partition"
            )
        key = int(part) if integral else part
        records += [{partition_key: key, **r} for r in doc["rows"]]
    pdf = pd.DataFrame(records)
    stats = [c for c in pdf.columns if c not in (partition_key, "column")]
    return pdf.astype({s: "float32" for s in stats})
