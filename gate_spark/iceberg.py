"""Iceberg integration with graceful parquet fallback (SURVEY.md §7.1).

The north rule names Iceberg as the production table format (snapshot
ids drive checkpoint invalidation); this sandbox ships no Iceberg jar,
so everything here degrades honestly:

- :func:`find_iceberg_jar` / :func:`iceberg_available` detect the
  runtime at, respectively, session-build time (classpath scan) and
  post-session time (JVM class load);
- :func:`iceberg_session_conf` returns the configs a real deployment
  adds (SQL extensions + a hadoop catalog) — only meaningful when the
  jar exists;
- :func:`read_table` dispatches table-identifier reads to the Iceberg
  catalog and path reads to parquet;
- :func:`current_snapshot_id` returns the live Iceberg snapshot id
  when available, else a deterministic **content stamp** over the
  parquet data files (name/size/mtime digest, listed through the
  Hadoop FileSystem API, so any URI scheme works) — so
  ``checkpoint.CheckpointStore`` re-validates a partition when its
  data actually changed and skips it when only the run restarted,
  with or without Iceberg.
"""

from __future__ import annotations

import glob
import hashlib
import os
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession

ICEBERG_CLASS = "org.apache.iceberg.catalog.Catalog"


def find_iceberg_jar() -> str | None:
    """Path of an iceberg-spark-runtime jar on the classpath roots
    (``$SPARK_HOME/jars`` and pyspark's bundled jars), or None."""
    roots = []
    if os.environ.get("SPARK_HOME"):
        roots.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    try:
        import pyspark

        roots.append(os.path.join(os.path.dirname(pyspark.__file__), "jars"))
    except ImportError:  # pragma: no cover
        pass
    for root in roots:
        hits = glob.glob(os.path.join(root, "iceberg-spark-runtime*.jar"))
        if hits:
            return hits[0]
    return None


def iceberg_session_conf(
    warehouse: str, catalog: str = "local"
) -> dict[str, str]:
    """Session configs enabling an Iceberg hadoop catalog — apply via
    ``get_spark(extra_conf=...)`` when :func:`find_iceberg_jar` found a
    runtime (they are inert without it)."""
    return {
        "spark.sql.extensions": (
            "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions"
        ),
        f"spark.sql.catalog.{catalog}": "org.apache.iceberg.spark.SparkCatalog",
        f"spark.sql.catalog.{catalog}.type": "hadoop",
        f"spark.sql.catalog.{catalog}.warehouse": warehouse,
    }


def iceberg_available(spark: SparkSession) -> bool:
    """True when the Iceberg runtime is loadable in the live JVM."""
    try:
        spark._jvm.java.lang.Class.forName(ICEBERG_CLASS)  # type: ignore[union-attr]
        return True
    except Exception:
        return False


def read_table(spark: SparkSession, source: str) -> DataFrame:
    """Scan dispatch: a filesystem path reads as parquet; anything else
    is treated as a table identifier (Iceberg catalog table when the
    runtime is present, else the session catalog)."""
    if _is_path(source):
        return spark.read.parquet(source)
    if iceberg_available(spark):
        return spark.read.format("iceberg").load(source)
    return spark.read.table(source)


def _is_path(source: str) -> bool:
    return (
        os.path.sep in source or source.startswith("file:") or os.path.isdir(source)
    )


def write_table(
    df: DataFrame,
    target: str,
    *,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    catalog: str | None = None,
    _available: bool | None = None,
) -> str:
    """Sink dispatch (SURVEY.md §2.6 sinks), the write twin of
    :func:`read_table`: a filesystem path writes a parquet directory;
    a table identifier writes through the DataFrameWriterV2
    ``writeTo`` API as an Iceberg table when the runtime is present
    (``createOrReplace``/``append`` — ACID snapshot commits, so
    concurrent readers never see a half-written summary/lineage
    table), else falls back to ``saveAsTable`` in the session catalog.
    Returns which sink ran: ``"parquet"`` | ``"iceberg"`` | ``"table"``.

    ``_available`` overrides runtime detection (tests exercise both
    dispatch branches without an Iceberg jar)."""
    if _is_path(target):
        w = df.write.mode(mode)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(target)
        return "parquet"
    avail = iceberg_available(df.sparkSession) if _available is None else _available
    if avail:
        from pyspark.sql import functions as F

        name = f"{catalog}.{target}" if catalog else target
        writer = df.writeTo(name).using("iceberg")
        if partition_by:
            writer = writer.partitionedBy(*[F.col(c) for c in partition_by])
        if mode == "append":
            writer.append()
        else:
            writer.createOrReplace()
        return "iceberg"
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.saveAsTable(target)
    return "table"


def hadoop_fs(spark: SparkSession, path: str):
    """(Hadoop FileSystem, Path) for ``path``: one code path for local
    paths and ``file:``, ``hdfs:`` and ``s3a:`` URIs alike."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def _data_files(path: str) -> list[tuple[str, int, int]]:
    """(name relative to ``path``, size, mtime in ms) of every parquet
    data file under ``path`` (a directory, recursively, or one file),
    listed through the active session's :func:`hadoop_fs`. Names
    starting with ``_`` or ``.`` are skipped, as Spark's reader skips
    them. ``listStatus``, not ``listFiles``: the local file system's
    located statuses read each file's permissions, one subprocess per
    file without the native Hadoop library."""
    fs, root = hadoop_fs(SparkSession.active(), path)
    if not fs.exists(root):
        return []
    out = []

    def walk(statuses, prefix):
        for st in statuses:
            name = st.getPath().getName()
            if name.startswith(("_", ".")):
                continue
            if st.isDirectory():
                walk(fs.listStatus(st.getPath()), f"{prefix}{name}/")
            elif name.endswith(".parquet"):
                out.append((prefix + name, st.getLen(), st.getModificationTime()))

    walk(fs.listStatus(root), "")
    return sorted(out)


def _stamp(files: list[tuple[str, int, int]]) -> str:
    h = hashlib.sha256()
    for rel, size, mtime in files:
        h.update(f"{rel}|{size}|{mtime}\n".encode())
    return h.hexdigest()[:16]


def parquet_snapshot_stamp(path: str) -> str:
    """Deterministic content stamp of a parquet directory: sha256 over
    every data file's (relative name, size, mtime). Changes iff the
    data changed — the parquet-world stand-in for an Iceberg snapshot
    id, cheap (pure metadata listing) even for very large tables.
    Accepts a directory or a single parquet file, as a path or any
    Hadoop URI; lists through the active SparkSession."""
    files = _data_files(path)
    if not files:
        raise ValueError(f"no parquet data files under {path!r}")
    return _stamp(files)


def partition_snapshot_stamps(path: str, partition_key: str) -> dict[str, str]:
    """Per-partition content stamps of a hive-partitioned parquet dir
    (``{partition_key}=value`` subdirectories): partition value ->
    stamp over that partition's data files only. An append to one
    partition changes ONE stamp, so an incremental run re-validates
    exactly the partitions whose data moved (the parquet analogue of
    diffing two Iceberg snapshots' partition-level file manifests).
    Returns {} when the directory is not partitioned by that key.
    Keys are the partition values: Spark percent-escapes special
    characters in the directory names, and they are unescaped here."""
    prefix = f"{partition_key}="
    per_part: dict[str, list] = {}
    for rel, size, mtime in _data_files(path):
        d, _, rest = rel.partition("/")
        if rest and d.startswith(prefix):
            per_part.setdefault(unquote(d[len(prefix):]), []).append((rest, size, mtime))
    return {p: _stamp(files) for p, files in sorted(per_part.items())}


def current_snapshot_id(
    spark: SparkSession, source: str, catalog: str = "local"
) -> str:
    """Snapshot stamp for checkpoint lineage: the Iceberg table's
    current snapshot id when the runtime + a table identifier are
    available, else the parquet content stamp of the path."""
    if _is_path(source):
        return parquet_snapshot_stamp(source)
    if iceberg_available(spark):
        row = (
            spark.sql(
                f"SELECT snapshot_id FROM {catalog}.{source}.snapshots"
                " ORDER BY committed_at DESC LIMIT 1"
            ).first()
        )
        return str(row["snapshot_id"]) if row else "empty"
    raise ValueError(
        f"{source!r} is not a parquet path and no Iceberg runtime is on the"
        " classpath — pass an explicit snapshot stamp to the checkpoint store"
    )
