"""Mergeable sketch state + no-rescan resume (north-rule lineage).

The north star's checkpoint table carries per-partition *sketch state*;
these tests pin (1) merge(per-partition sketches) == direct global
aggregation for every exactly-mergeable statistic, (2) HLL distinct
merge accuracy, (3) histogram merge + quantile reconstruction, (4) the
lineage round-trip: a run interrupted mid-way resumes the remaining
partitions and rebuilds correct GLOBAL stats purely from lineage, and
(5) old lineage stores (pre-sketch schema) still read.
"""

import math

import pytest
from pyspark.sql import functions as F

from gate_spark import sketches as sk
from gate_spark.checkpoint import (
    CheckpointStore,
    merged_stats_from_lineage,
    resumable_run,
)


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet("/root/testdata/sf0.001/documents.parquet")


def _direct(docs):
    return docs.agg(
        F.count(F.lit(1)).alias("rows"),
        F.count("n_chars").alias("n"),
        F.avg(F.col("n_chars").cast("double")).alias("mean"),
        F.stddev_samp(F.col("n_chars").cast("double")).alias("stddev"),
        F.min(F.col("n_chars").cast("double")).alias("min"),
        F.max(F.col("n_chars").cast("double")).alias("max"),
        F.countDistinct("doc_id").alias("ndv_exact"),
    ).first()


def test_merge_equals_direct(spark, docs):
    skt = sk.column_sketches(
        docs, ["n_chars", "doc_id", "lang"], "source",
        hist_edges={"n_chars": [100.0, 300.0, 1000.0, 3000.0]},
    )
    merged = {r["column"]: r for r in sk.merge_sketches(skt).collect()}
    d = _direct(docs)

    m = merged["n_chars"]
    assert m["rows"] == d["rows"] and m["n"] == d["n"]
    assert math.isclose(m["mean"], d["mean"], rel_tol=1e-9)
    assert math.isclose(m["stddev"], d["stddev"], rel_tol=1e-6)
    assert m["min"] == d["min"] and m["max"] == d["max"]
    # histogram merged element-wise: totals must equal non-null count
    assert sum(m["hist"]) == d["n"]
    assert m["edges"] == [100.0, 300.0, 1000.0, 3000.0]

    # HLL union across partitions: near-exact at this cardinality
    ids = merged["doc_id"]
    assert abs(ids["ndv"] - d["ndv_exact"]) / d["ndv_exact"] < 0.03
    # string column: moments null, counts live
    lang = merged["lang"]
    assert lang["mean"] is None and lang["n"] == d["rows"]


def test_quantiles_from_hist(spark, docs):
    edges = [float(x) for x in range(0, 5000, 50)]
    skt = sk.column_sketches(
        docs, ["n_chars"], "source", hist_edges={"n_chars": edges}
    )
    m = sk.merge_sketches(skt).first()
    p50, p95 = sk.quantiles_from_hist(m["hist"], m["edges"], [0.5, 0.95])
    exact = docs.select(
        F.expr("percentile(CAST(n_chars AS DOUBLE), array(0.5, 0.95))").alias("q")
    ).first()["q"]
    # histogram quantile is exact to within one bin width (50)
    assert abs(p50 - exact[0]) <= 50.0
    assert abs(p95 - exact[1]) <= 50.0


def test_quantiles_from_hist_open_top_bin():
    """Mass above the last inner edge must not be clamped to that edge
    (ADVICE r2): it resolves to the supplied true max, else +inf."""
    # 10 values total: 2 below edge 10, 8 in the open top bin
    hist, edges = [2, 8], [10.0]
    p20, p95 = sk.quantiles_from_hist(hist, edges, [0.2, 0.95], vmax=400.0)
    assert p20 == 10.0
    assert p95 == 400.0  # NOT 10.0
    (p95_inf,) = sk.quantiles_from_hist(hist, edges, [0.95])
    assert p95_inf == float("inf")
    # degenerate: no inner edges at all -> nothing is bounded
    (p50,) = sk.quantiles_from_hist([10], [], [0.5], vmax=7.0)
    assert p50 == 7.0
    # q=0 with an empty first bin skips it instead of reporting an
    # edge that holds no mass
    (q0,) = sk.quantiles_from_hist([0, 5, 1], [1.0, 2.0], [0.0])
    assert q0 == 2.0


def test_sketch_json_round_trip(spark, docs):
    skt = sk.column_sketches(
        docs, ["n_chars", "lang"], "source",
        hist_edges={"n_chars": [500.0]},
    )
    payload = sk.sketches_to_json(skt)
    back = sk.sketches_from_json(spark, payload)
    a = sk.merge_sketches(skt).orderBy("column").collect()
    b = sk.merge_sketches(back).orderBy("column").collect()
    for ra, rb in zip(a, b):
        assert ra.asDict() == rb.asDict()


def test_interrupted_run_resumes_and_merges_globally(spark, docs, tmp_path):
    """Kill the run after 3 of the partitions; resume must process only
    the rest, and global stats from lineage must equal direct
    aggregation over the WHOLE table — with zero rescan of the first 3."""
    store = CheckpointStore(spark, str(tmp_path / "lineage"))
    parts = sorted(
        r[0] for r in docs.select("source").distinct().collect()
    )
    processed = []

    class Boom(Exception):
        pass

    def job(part_df, p):
        processed.append(p)
        if len(processed) == 4 and p not in parts[:3]:
            raise Boom()  # simulated crash mid-run
        return {"rows": part_df.count()}

    try:
        resumable_run(
            store, docs, "source", "rs", "snap1", job,
            sketch_columns=["n_chars", "doc_id"],
        )
    except Boom:
        pass
    _, committed = store.pending_partitions(dict.fromkeys(parts, "snap1"), "rs")
    assert 3 <= len(committed) < len(parts)

    processed.clear()
    done = resumable_run(
        store, docs, "source", "rs", "snap1",
        lambda pdf, p: {"rows": pdf.count()},
        sketch_columns=["n_chars", "doc_id"],
    )
    assert set(done).isdisjoint(parts[:3])  # completed work not redone
    assert store.pending_partitions(dict.fromkeys(parts, "snap1"), "rs")[0] == []

    g = {
        r["column"]: r
        for r in merged_stats_from_lineage(store, "rs", "snap1").collect()
    }
    d = _direct(docs)
    assert g["n_chars"]["rows"] == d["rows"]
    assert math.isclose(g["n_chars"]["mean"], d["mean"], rel_tol=1e-9)
    assert math.isclose(g["n_chars"]["stddev"], d["stddev"], rel_tol=1e-6)
    assert abs(g["doc_id"]["ndv"] - d["ndv_exact"]) / d["ndv_exact"] < 0.03


def test_old_lineage_schema_still_reads(spark, tmp_path):
    """Stores written before partition_spec/sketch_json/summary_json
    existed read as nulls — the lineage read and its payloads degrade
    gracefully."""
    path = str(tmp_path / "old")
    spark.createDataFrame(
        [("rs", "p0", "snap", "completed", "{}", 1.0)],
        "run_spec string, partition string, snapshot_id string,"
        " status string, metrics_json string, ts double",
    ).write.parquet(path)
    store = CheckpointStore(spark, path)
    stamps = {"p0": "snap", "p1": "snap"}

    def committed():
        return set(store.pending_partitions(stamps, "rs")[1])

    def payloads():
        _, rows = store.pending_partitions(stamps, "rs")
        return tuple(
            {p: r[f] for p, r in rows.items() if r[f] is not None}
            for f in ("sketch_json", "summary_json")
        )

    assert committed() == {"p0"}
    assert payloads() == ({}, {})
    store.mark_completed(
        ["p1"], "rs", "snap", partition_spec="source", sketches={"p1": "[]"}
    )
    assert committed() == {"p0", "p1"}
    assert payloads() == ({"p1": "[]"}, {})


# ----------------------------------------------------------- KLL sketch


def test_kll_sketch_mode_differential(spark):
    """quantile_mode="sketch" (KLL compactor) vs the exact nearest-rank
    mode on a continuous high-cardinality column: every estimate must
    fall within the +/-2% rank band of the exact distribution — the KLL
    guarantee at k=200 is ~1% with high probability."""
    import numpy as np
    import pandas as pd

    from gate_spark import summarize

    rng = np.random.RandomState(11)
    n = 60_000
    pdf = pd.DataFrame(
        {
            "part": [f"p{i % 6}" for i in range(n)],
            "x": rng.lognormal(3.0, 1.5, size=n),  # unbounded continuous
        }
    )
    df = spark.createDataFrame(pdf).repartition(16)

    exact = {
        (r["part"], r["column"]): r
        for r in summarize(
            df, columns=["x"], partition_key="part",
            quantile_mode="nearest", persist=False,
        ).df.collect()
    }
    est = summarize(
        df, columns=["x"], partition_key="part",
        quantile_mode="sketch", persist=False,
    ).df.collect()

    by_part = {p: pdf[pdf["part"] == p]["x"].to_numpy() for p in pdf["part"].unique()}
    for r in est:
        key = (r["part"], r["column"])
        vals = np.sort(by_part[r["part"]])
        for stat, q in (("p50", 0.5), ("p95", 0.95)):
            lo = vals[int(max(0, (q - 0.02)) * (len(vals) - 1))]
            hi = vals[int(min(1, (q + 0.02)) * (len(vals) - 1))]
            assert lo <= r[stat] <= hi, (key, stat, r[stat], lo, hi)
            # and the exact mode agrees with numpy up to float32
            assert abs(exact[key][stat] - np.quantile(vals, q)) / exact[key][stat] < 0.02


def test_kll_merge_equals_stream(spark):
    """Merging per-chunk KLL partials gives the same rank accuracy as
    one streamed sketch, and the merged state stays O(k log n) — the
    mergeability contract the two-phase Spark path relies on."""
    import numpy as np

    from gate_spark.kll import KLLSketch

    rng = np.random.RandomState(3)
    data = rng.standard_normal(200_000) * 50 + 7
    merged = KLLSketch(200)
    for chunk in np.array_split(data, 32):
        p = KLLSketch(200)
        p.update_many(chunk)
        merged.merge(KLLSketch.from_json(p.to_json()))  # via serialized form
    sv = np.sort(data)
    for q in (0.1, 0.5, 0.9, 0.99):
        est = merged.quantiles([q])[0]
        rank = np.searchsorted(sv, est) / len(sv)
        assert abs(rank - q) < 0.02, (q, est, rank)
    assert sum(b.size for b in merged.levels) < 1500


def test_kll_uncompacted_equals_nearest(spark):
    """sketch_k >= group row count => the KLL sketch never compacts and
    p50/p95 are bit-identical to the exact nearest-rank mode — the
    property that lets the correctness gate hash-check the sketch
    machinery (summarize_sketch_quantiles query) against the DuckDB
    nearest-rank twin."""
    import numpy as np
    import pandas as pd

    from gate_spark import summarize

    rng = np.random.RandomState(7)
    n = 20_000
    pdf = pd.DataFrame(
        {
            "part": [f"p{i % 4}" for i in range(n)],
            "x": rng.lognormal(2.0, 1.0, size=n),
            "y": rng.randint(0, 50, size=n).astype("int64"),
        }
    )
    df = spark.createDataFrame(pdf).repartition(16)

    kw = dict(columns=["x", "y"], partition_key="part", persist=False)
    exact = summarize(df, quantile_mode="nearest", **kw).df
    sketch = summarize(df, quantile_mode="sketch", sketch_k=1 << 16, **kw).df

    key = lambda r: (r["part"], r["column"])
    e = {key(r): r for r in exact.collect()}
    s = {key(r): r for r in sketch.collect()}
    assert set(e) == set(s)
    for k in e:
        for stat in ("p50", "p95"):
            assert e[k][stat] == s[k][stat], (k, stat, e[k][stat], s[k][stat])
