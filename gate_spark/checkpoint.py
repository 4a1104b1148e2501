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
- the store itself is a parquet directory at any Hadoop URI (local
  path, ``file:``, ``hdfs:``, ``s3a:``; a store not written yet reads
  as empty) of metadata-scale rows; appends are atomic per file, and
  duplicate completion rows are harmless (latest-wins on read).

Resume contract, one read and one rule: ``pending_partitions`` reads
each partition's latest completed row for the run spec, and a
partition is committed iff that row's ``snapshot_id`` equals the
partition's current stamp (its own stamp when the input has
per-partition stamps, else the global snapshot). Every other input
partition is pending. The same read returns the committed partitions'
``sketch_json``/``summary_json``. Re-running a finished job is a no-op,
re-emitting a partition's verdict is idempotent, and going back to an
earlier snapshot re-validates (the outputs hold the later snapshot's
verdicts).
"""

from __future__ import annotations

import hashlib
import json
import time
from typing import Iterable, Mapping

import pandas as pd
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gate_spark.iceberg import hadoop_fs
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

    def lineage(self) -> DataFrame:
        """Every lineage row; a store that does not exist yet reads as
        empty. Any Hadoop URI works."""
        fs, path = hadoop_fs(self.spark, self.path)
        if not fs.exists(path):
            return self.spark.createDataFrame([], LINEAGE_SCHEMA)
        return self.spark.read.schema(LINEAGE_SCHEMA).parquet(self.path)

    def pending_partitions(
        self, stamps: Mapping[str, str], run_spec: str
    ) -> tuple[list[str], dict[str, Row]]:
        """The lineage read and the resume rule (module docstring).
        ``stamps`` maps each input partition to its current snapshot
        stamp. Returns ``(pending, committed)``: the partitions of
        ``stamps``, in its order, that are not committed, and each
        committed partition's latest row (``snapshot_id``,
        ``sketch_json``, ``summary_json``)."""
        committed = _committed(stamps, self._latest(run_spec))
        return [p for p in stamps if p not in committed], committed

    def _latest(self, run_spec: str) -> dict[str, Row]:
        """Each partition's latest completed row for ``run_spec``."""
        rows = (
            self.lineage()
            .where((F.col("run_spec") == run_spec) & (F.col("status") == "completed"))
            .groupBy("partition")
            .agg(
                F.max_by(
                    F.struct("snapshot_id", "sketch_json", "summary_json"), "ts"
                ).alias("row")
            )
            .collect()
        )
        return {r["partition"]: r["row"] for r in rows}

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
        stamp map that :meth:`pending_partitions` was given).
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
    stamps = dict.fromkeys(map(str, partitions), snapshot_id)
    todo = set(store.pending_partitions(stamps, run_spec)[0])
    done: list[str] = []
    for p in (p for p in partitions if str(p) in todo):
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
    (no input rescan): merge of the committed partitions' sketch rows,
    under per-partition ``stamps`` or one global ``snapshot_id`` (the
    resume rule), else of every partition's latest row. Returns the
    sketches.merge_sketches frame (column, rows, n, coverage, mean,
    stddev, min, max, ndv, hist, edges)."""
    from gate_spark import sketches as sk

    latest = store._latest(run_spec)
    if stamps is None:
        stamps = {p: snapshot_id or r["snapshot_id"] for p, r in latest.items()}
    payload = {
        p: r["sketch_json"]
        for p, r in _committed(stamps, latest).items()
        if r["sketch_json"] is not None
    }
    return sk.merge_sketches(sk.sketches_from_json(store.spark, payload))


def _committed(stamps: Mapping[str, str], latest: dict[str, Row]) -> dict[str, Row]:
    """The resume rule: a partition is committed iff its latest
    completed row carries its current stamp."""
    return {p: r for p, r in latest.items() if stamps.get(p) == r["snapshot_id"]}


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
