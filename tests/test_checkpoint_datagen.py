"""Checkpoint/resume semantics + token-table generator determinism."""

import pytest
from pyspark.sql import functions as F

from gate_spark.checkpoint import CheckpointStore, resumable_run, spec_hash
from gate_spark.datagen import token_table


def test_datagen_deterministic(spark):
    a = token_table(spark, 500, seed=3, num_partitions=4).orderBy("doc_id").collect()
    b = token_table(spark, 500, seed=3, num_partitions=2).orderBy("doc_id").collect()
    assert a == b  # partitioning-invariant, seed-stable


def test_datagen_skew_and_shape(spark):
    df = token_table(spark, 2000, seed=1, heavy_frac=0.5).cache()
    counts = dict(
        (r["source"], r["n"])
        for r in df.groupBy("source").agg(F.count("*").alias("n")).collect()
    )
    assert 0.4 < counts["src0"] / 2000 < 0.6  # heavy partition
    row = df.first()
    assert row["n_tok"] == len(row["tokens"])
    bad = df.where(F.col("n_tok") != F.size("tokens")).count()
    assert bad == 0  # no mismatches unless injected
    lens = df.select(F.size("tokens").alias("l")).agg(
        F.min("l"), F.max("l"), F.avg("l")
    ).first()
    assert lens[0] >= 1 and lens[1] <= 2048


def test_datagen_drift_source(spark):
    df = token_table(spark, 4000, seed=1, drift_source="src1")
    avg = {
        r["source"]: r["a"]
        for r in df.where(F.col("source").isin("src1", "src2"))
        .groupBy("source")
        .agg(F.avg(F.size("tokens")).alias("a"))
        .collect()
    }
    assert avg["src1"] > 1.5 * avg["src2"]  # x2 length shift


def test_checkpoint_resume(spark, tmp_path):
    store = CheckpointStore(spark, str(tmp_path / "lineage"))
    df = token_table(spark, 1000, seed=5).cache()
    spec = spec_hash({"columns": ["n_tok"], "v": 1})
    processed = []

    def job(part_df, p):
        processed.append(p)
        return {"rows": part_df.count()}

    parts = sorted(r[0] for r in df.select("source").distinct().collect())
    # first run: only 3 partitions, then "crash"
    done1 = resumable_run(store, df, "source", spec, "snap1", job, partitions=parts[:3])
    assert done1 == parts[:3]
    # resume over all: the 3 committed are skipped
    processed.clear()
    done2 = resumable_run(store, df, "source", spec, "snap1", job, partitions=parts)
    assert set(done2) == set(parts[3:])
    assert set(processed) == set(parts[3:])
    # fully committed -> no-op
    assert resumable_run(store, df, "source", spec, "snap1", job, partitions=parts) == []
    # new snapshot invalidates
    assert len(resumable_run(store, df, "source", spec, "snap2", job, partitions=parts[:1])) == 1
    # new spec invalidates
    spec2 = spec_hash({"columns": ["n_tok"], "v": 2})
    assert len(resumable_run(store, df, "source", spec2, "snap1", job, partitions=parts[:1])) == 1
    # lineage carries metrics
    lin = store.lineage().toPandas()
    assert (lin["status"] == "completed").all()
    assert len(lin) == len(parts) + 2


def test_checkpoint_latest_row_decides(spark, tmp_path):
    """One resume rule: a partition is committed iff its latest
    completed row carries its current stamp. Going back from snapshot T
    to an earlier S re-validates (the outputs hold T's verdicts), and a
    store addressed by a ``file:`` URI that does not exist yet reads as
    empty, then resumes."""
    store = CheckpointStore(spark, "file://" + str(tmp_path / "lineage"))
    parts = ["p0", "p1"]

    def pending(stamps):
        return store.pending_partitions(stamps, "rs")[0]

    assert pending(dict.fromkeys(parts, "S")) == parts
    store.mark_completed(parts, "rs", "S")
    assert pending(dict.fromkeys(parts, "S")) == []
    store.mark_completed(parts, "rs", "T")
    assert pending(dict.fromkeys(parts, "T")) == []
    assert pending(dict.fromkeys(parts, "S")) == parts
    # per-partition stamps take the same rule, partition by partition
    assert pending({"p0": "T", "p1": "S"}) == ["p1"]
    _, committed = store.pending_partitions({"p0": "T", "p1": "S"}, "rs")
    assert {p: r["snapshot_id"] for p, r in committed.items()} == {"p0": "T"}


def test_multimodal_plumbing(spark):
    import hashlib

    from gate_spark.operators import multimodal as mm

    rows = [
        ("m1", "image", bytearray(b"payload-one"), "image/jpeg", 64, 64, None),
        ("m2", "image", bytearray(b"payload-two"), "image/jpeg", 32, 32, None),
        ("m3", "video", bytearray(b"vid"), "video/mp4", None, None, 3500),
        ("m4", "image", None, None, None, None, None),
    ]
    df = spark.createDataFrame(rows, mm.MEDIA_SCHEMA)
    feats = {r["media_id"]: r for r in mm.image_features(
        df.where(F.col("kind") == "image"), fake=True
    ).collect()}
    assert feats["m1"]["sha1"] == hashlib.sha1(b"payload-one").hexdigest()
    assert feats["m1"]["n_bytes"] == 11
    assert len(feats["m1"]["embedding"]) == 16
    assert feats["m4"]["sha1"] is None

    frames = mm.frame_sample(
        df.where(F.col("kind") == "video"), every_ms=1000, fake=True
    ).collect()
    assert [f["ts_ms"] for f in frames] == [0, 1000, 2000, 3000]

    summ = {r["kind"]: r for r in mm.media_summary(df).collect()}
    assert summ["image"]["n"] == 3 and summ["image"]["null_payloads"] == 1

    with pytest.raises(Exception, match="NotImplementedError|image decode"):
        mm.image_features(df.where(F.col("media_id") == "m1"), fake=False).collect()
