"""SparkSession construction tuned for this engine.

Local mode is the sandbox proxy for a multi-executor cluster: shuffle
partitions are matched to cores, AQE is enabled for runtime skew
handling, and Arrow is enabled so every pandas UDF crosses the
JVM/Python boundary in columnar batches.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "gate_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores`` defaults to $SPARK_GRAFT_CPUS or all local cores. Shuffle
    partitions default to the core count — on a real cluster this would
    be ~2-3x total executor cores; AQE coalesces the rest. The driver
    heap is $SPARK_GRAFT_DRIVER_MEM, else :func:`default_driver_memory`.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 8
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)

    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """55 % of the host's MemTotal as a JVM size, e.g. ``"8850m"``.

    In local mode the driver JVM is the whole engine and shares the host
    with the Python driver, its Arrow buffers and the Python workers: a
    heap sized past the host gets the JVM OOM-killed (a fixed 24g heap
    was, on a 15 GB host) instead of letting it collect garbage. Falls
    back to 4g where MemTotal cannot be read."""
    try:
        with open(meminfo) as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return f"{max(512, int(line.split()[1]) * 55 // 100 // 1024)}m"
    except OSError:
        pass
    return "4g"


def _local_input_stats(df) -> "tuple[int, int | None] | None":
    """(total_bytes, total_parquet_row_groups) of the scan's input
    files when they are all local (file: URIs); row groups None when
    any file is not readable parquet; None overall when unknown
    (non-file sources, empty list, or any error)."""
    import os as _os
    from urllib.parse import unquote, urlparse

    try:
        files = df.inputFiles()
        if not files:
            return None
        total = 0
        rgs: int | None = 0
        for uri in files:
            if not uri.startswith("file:"):
                return None
            path = unquote(urlparse(uri).path)
            total += _os.path.getsize(path)
            if rgs is not None:
                try:
                    import pyarrow.parquet as _pq

                    rgs += _pq.ParquetFile(path).metadata.num_row_groups
                except Exception:
                    rgs = None
        return total, rgs
    except Exception:
        return None


def ensure_scan_parallelism(df, factor: int = 1, min_bytes: int = 0):
    """Guard against grossly under-parallelized inputs (optimization
    guide §2.5 "input skew": one unsplittable file, or a single parquet
    row group — Spark assigns a row group to ONE task, so the whole map
    side of every downstream stage runs on one core while the rest of
    the cluster idles).

    Returns ``df`` round-robin-repartitioned to ``factor`` x the
    session's default parallelism when its scan resolves to fewer than
    half that many partitions; a no-op for streaming inputs and for any
    input that already splits (every real multi-file table at scale, so
    no extra shuffle is ever added on a 100 TB path).

    Split count alone misses the row-group form of the skew — a big
    single file yields many byte-range splits but a row group runs in
    the ONE split containing it — so when the split count looks
    sufficient but the FILE count is below target, the parquet footers
    decide (bounded: at most target-1 footer reads, and only in the
    few-files case; any real multi-file table at scale returns at the
    file-count check without touching a footer).

    ``min_bytes`` additionally gates on measured input size for
    callers whose single-task work only dominates the one-time shuffle
    past some input size; unknown sizes conservatively skip the
    repartition. Where this guard is worth applying at all was decided
    per operator by interleaved A/B (OPTIMIZATION_r06.md): 3x win on
    the interpreted-HOF/multi-regex text operators even at 0.6 MB
    inputs; NOT applied to summarize — a clear loss at 600 k rows
    (fused agg 0.90 -> 1.21 s) and no reliable win even at 6 M rows in
    one row group (guard-on/off mins 14.07 vs 13.65 s), because
    serializing rows through the round-robin exchange costs what the
    single-task codegen'd aggregation saves.

    Round-robin repartition is deterministic under task retries
    (spark.sql.execution.sortBeforeRepartition default)."""
    if df.isStreaming:
        return df
    target = df.sparkSession.sparkContext.defaultParallelism * factor
    try:
        n = df.rdd.getNumPartitions()
    except Exception:
        return df
    stats = None
    if n * 2 > target:
        # enough SPLITS — but check for the few-big-files / few-row-
        # groups form of the skew before trusting the split count
        try:
            if len(df.inputFiles()) >= target:
                return df
        except Exception:
            return df
        stats = _local_input_stats(df)
        if stats is None or stats[1] is None or stats[1] * 2 > target:
            return df
    if min_bytes:
        # conservative: repartition only when the input is KNOWN to be
        # big enough (unknown sizes — non-file sources, local frames —
        # keep the cheap no-shuffle plan)
        if stats is None:
            stats = _local_input_stats(df)
        if stats is None or stats[0] < min_bytes:
            return df
    return df.repartition(target)
