"""Iceberg runtime detection + parquet fallback (SURVEY.md §7.1):
no Iceberg jar ships in this sandbox, so detection must come back
False/None gracefully, reads must dispatch to parquet, and the
checkpoint snapshot story must work off the parquet content stamp —
a partition re-validates when its data changed, not when the run
merely restarted."""

import os
import time

from gate_spark import (
    current_snapshot_id,
    find_iceberg_jar,
    iceberg_available,
    iceberg_session_conf,
    parquet_snapshot_stamp,
    read_table,
)
from gate_spark.checkpoint import CheckpointStore
from gate_spark.iceberg import partition_snapshot_stamps


def test_detection_degrades_gracefully(spark):
    assert find_iceberg_jar() is None  # sandbox ships no runtime
    assert iceberg_available(spark) is False
    conf = iceberg_session_conf("/tmp/warehouse")
    assert conf["spark.sql.catalog.local.type"] == "hadoop"


def test_read_table_path_dispatch(spark, tmp_path):
    p = str(tmp_path / "t")
    spark.range(5).write.parquet(p)
    assert read_table(spark, p).count() == 5


def test_parquet_snapshot_stamp_tracks_content(spark, tmp_path):
    p = str(tmp_path / "snap")
    spark.range(10).coalesce(1).write.parquet(p)
    s1 = parquet_snapshot_stamp(p)
    assert s1 == parquet_snapshot_stamp(p)  # stable when unchanged
    assert current_snapshot_id(spark, p) == s1  # path -> stamp fallback
    time.sleep(0.01)
    spark.range(10, 13).coalesce(1).write.mode("append").parquet(p)
    s2 = parquet_snapshot_stamp(p)
    assert s2 != s1  # appended file changes the stamp


def test_checkpoint_invalidation_via_stamp(spark, tmp_path):
    """End-to-end snapshot wiring: completed partitions stay skipped on
    restart, but become pending again after the input data changes."""
    data = str(tmp_path / "data")
    lineage = str(tmp_path / "lineage")
    spark.createDataFrame(
        [(i, f"src{i % 2}") for i in range(10)], ["id", "source"]
    ).write.partitionBy("source").parquet(data)

    store = CheckpointStore(spark, lineage)
    snap1 = current_snapshot_id(spark, data)
    store.mark_completed(["src0", "src1"], run_spec="rs1", snapshot_id=snap1)
    assert store.pending_partitions(dict.fromkeys(["src0", "src1"], snap1), "rs1")[0] == []

    time.sleep(0.01)
    spark.createDataFrame([(99, "src0")], ["id", "source"]).write.partitionBy(
        "source"
    ).mode("append").parquet(data)
    snap2 = current_snapshot_id(spark, data)
    assert snap2 != snap1
    # data changed -> both partitions re-validate under the new stamp
    assert store.pending_partitions(dict.fromkeys(["src0", "src1"], snap2), "rs1")[0] == [
        "src0",
        "src1",
    ]


def test_partition_stamps_keyed_by_value(spark, tmp_path):
    """Spark percent-escapes special characters in partition directory
    names; the stamps are keyed by the values the reader returns, so
    such a partition gets its own stamp instead of the global one."""
    data = str(tmp_path / "esc")
    spark.createDataFrame(
        [(1, "a:b c%"), (2, "plain")], "id int, source string"
    ).write.partitionBy("source").parquet(data)
    values = {r[0] for r in spark.read.parquet(data).select("source").distinct().collect()}
    assert set(partition_snapshot_stamps(data, "source")) == values == {"a:b c%", "plain"}


def test_write_table_dispatch_both_branches(spark, tmp_path):
    """Sink seam (SURVEY §2.6): path -> parquet; table id -> Iceberg
    writeTo when the runtime is present (recorded via a fake v2 writer
    — no jar in the sandbox), else session-catalog saveAsTable."""
    from gate_spark.iceberg import write_table

    df = spark.createDataFrame(
        [("a", 1), ("b", 2)], "source string, n int"
    )

    # path branch
    p = str(tmp_path / "out")
    assert write_table(df, p, partition_by=["source"]) == "parquet"
    assert spark.read.parquet(p).count() == 2
    assert os.path.isdir(os.path.join(p, "source=a"))

    # iceberg branch: record the DataFrameWriterV2 chain
    calls = {}

    class FakeWriter:
        def using(self, fmt):
            calls["using"] = fmt
            return self

        def partitionedBy(self, *cols):
            calls["partitioned"] = len(cols)
            return self

        def append(self):
            calls["op"] = "append"

        def createOrReplace(self):
            calls["op"] = "createOrReplace"

    df.writeTo = lambda name: (calls.__setitem__("name", name), FakeWriter())[1]
    assert (
        write_table(
            df, "db.summary", partition_by=["source"], catalog="local",
            _available=True,
        )
        == "iceberg"
    )
    assert calls == {
        "name": "local.db.summary",
        "using": "iceberg",
        "partitioned": 1,
        "op": "createOrReplace",
    }
    write_table(df, "db.summary", mode="append", _available=True)
    assert calls["op"] == "append"

    # fallback branch: session catalog
    del df.__dict__["writeTo"]
    assert write_table(df, "wt_seam_tbl", _available=False) == "table"
    try:
        assert spark.read.table("wt_seam_tbl").count() == 2
    finally:
        spark.sql("DROP TABLE IF EXISTS wt_seam_tbl")
