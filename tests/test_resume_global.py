"""Resume must not narrow global checks (ADVICE r2): with sketch
lineage, a pruned run's PSI/KS and drift for pending partitions are
computed against ALL partitions — because fixed-edge histograms merge
exactly, the PSI/KS values are bit-equal to a full-table run, and
because drift scores on the committed partitions' own summary rows, its
verdicts equal a full-table run's."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gate_spark import sketches as sk
from gate_spark.checkpoint import summary_from_json, summary_to_json
from gate_spark.pipeline import validate_tokens

EDGES = [8.0, 12.0, 16.0, 20.0]


@pytest.fixture(scope="module")
def table(spark):
    rows = []
    for s in range(8):
        for i in range(120):
            # src6 is shifted longer -> nonzero PSI vs the pool
            n = 6 + (i % 12) + (8 if s == 6 else 0)
            rows.append((f"d-{s}-{i}", list(range(n)), n, f"src{s}"))
    return spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string"
    ).persist()


def _dist_map(dist_df):
    return {
        r["partition"]: (r["psi"], r["ks"], r["psi_drifted"], r["ks_drifted"])
        for r in dist_df.collect()
    }


def _committed_summary(df, committed):
    """The committed partitions' summary rows as a resume reads them:
    summarized by their own validate_tokens run, then through the
    lineage summary_json round trip."""
    run = validate_tokens(
        df.where(F.col("source").isin(committed)), hist_edges=EDGES,
        compute_drift=False,
    )
    rows = [r.asDict() for r in run.summary.df.collect()]
    run.unpersist()
    return summary_from_json(
        summary_to_json(rows, "source"), "source", df.schema["source"].dataType
    )


def _drift_map(drift_df):
    return {
        r["partition"]: (r["score"], r["score_percentile"], r["is_drifted"])
        for r in drift_df.collect()
    }


def _resume_matches_full_run(table, committed, pending):
    pending_str = {str(p) for p in pending}

    full = validate_tokens(table, hist_edges=EDGES, compute_drift=True)
    full_dist = _dist_map(full.distribution)
    full_drift = _drift_map(full.drift)

    hsk = sk.column_sketches(
        table.where(F.col("source").isin(committed)).select(
            "source", "n_tok", F.size("tokens").cast("long").alias("tokens"), "doc_id"
        ),
        ["n_tok", "tokens", "doc_id"],
        "source",
        hist_edges={"n_tok": EDGES},
    )
    res = validate_tokens(
        table.where(F.col("source").isin(pending)),
        hist_edges=EDGES,
        history_sketches=hsk,
        history_summary=_committed_summary(table, committed),
        compute_drift=True,
    )
    res_dist = _dist_map(res.distribution)

    # only pending partitions are (re)reported...
    assert set(res_dist) == pending_str
    # ...but scored against the FULL holdout: exact match to the
    # full-table run (shared edges -> histogram merge is exact)
    for p in pending_str:
        assert res_dist[p][0] == pytest.approx(full_dist[p][0], abs=1e-12)
        assert res_dist[p][1] == pytest.approx(full_dist[p][1], abs=1e-12)

    # drift is scored against all 8 partitions on every statistic but
    # reported for pending: the full-table run's scores and verdicts
    res_drift = _drift_map(res.drift)
    assert set(res_drift) == pending_str
    for p in pending_str:
        assert res_drift[p][0] == pytest.approx(full_drift[p][0], abs=1e-9)
        assert res_drift[p][1:] == full_drift[p][1:]
    assert full_drift[str(pending[0])][2]  # the shifted partition

    full.unpersist()
    res.unpersist()


def test_resumed_distribution_matches_full_run(spark, table):
    _resume_matches_full_run(table, [f"src{s}" for s in range(6)], ["src6", "src7"])


def test_resumed_drift_matches_full_run_int_key(spark, table):
    """Lineage stores partitions as strings; an integral key comes back
    as the live summary's type, so the two summaries stack."""
    int_keyed = table.withColumn("source", F.expr("CAST(substr(source, 4) AS INT)"))
    _resume_matches_full_run(int_keyed, list(range(6)), [6, 7])


def test_resume_without_hist_degrades_to_pending_scope(spark, table):
    """Lineage without histograms (or mismatched edges) cannot pool the
    holdout — the run falls back to pending-only PSI/KS instead of
    failing."""
    committed = [f"src{s}" for s in range(6)]
    pending = ["src6", "src7"]
    hsk = sk.column_sketches(
        table.where(F.col("source").isin(committed)).select(
            "source", "n_tok", "doc_id"
        ),
        ["n_tok", "doc_id"],
        "source",  # no hist_edges -> moments only
    )
    res = validate_tokens(
        table.where(F.col("source").isin(pending)),
        hist_edges=EDGES,
        history_sketches=hsk,
        compute_drift=True,
    )
    assert {r["partition"] for r in res.distribution.collect()} == set(pending)
    assert {r["partition"] for r in res.drift.collect()} == set(pending)
    res.unpersist()


def test_null_pending_partition_keeps_distribution_row(spark, table):
    """A pending partition with a null key keeps its distribution row on
    resume, scored as in a full-table run, and its drift row."""
    committed = [f"src{s}" for s in range(6)]
    nulled = table.withColumn(
        "source", F.when(F.col("source") != "src7", F.col("source"))
    )
    full = validate_tokens(nulled, hist_edges=EDGES, compute_drift=False)
    hsk = sk.column_sketches(
        nulled.where(F.col("source").isin(committed)).select("source", "n_tok"),
        ["n_tok"],
        "source",
        hist_edges={"n_tok": EDGES},
    )
    res = validate_tokens(
        nulled.where(~F.col("source").isin(committed) | F.col("source").isNull()),
        hist_edges=EDGES,
        history_sketches=hsk,
        history_summary=_committed_summary(nulled, committed),
    )
    res_dist = _dist_map(res.distribution)
    assert set(res_dist) == {"src6", None}
    drift_parts = [r["partition"] for r in res.drift.collect()]
    assert len(drift_parts) == 2
    assert set(drift_parts) == {"src6", None}
    full_dist = _dist_map(full.distribution)
    for p in res_dist:
        assert res_dist[p] == pytest.approx(full_dist[p], abs=1e-12)
    full.unpersist()
    res.unpersist()


def test_external_dup_keys_flags_cross_partition_duplicate(spark, table):
    pending = ["src6", "src7"]
    ext = table.where(F.col("source") == "src0").select("doc_id")
    # plant a cross-boundary duplicate: src6 contains a doc_id of src0
    pend_df = table.where(F.col("source").isin(pending)).unionByName(
        spark.createDataFrame(
            [("d-0-5", [1, 2, 3], 3, "src6")],
            "doc_id string, tokens array<int>, n_tok int, source string",
        )
    )
    res = validate_tokens(pend_df, external_dup_keys=ext, compute_drift=False)
    v = {
        (r["partition"], r["constraint"]): r
        for r in res.verdicts.collect()
    }
    assert v[("src6", "unique_doc_id")]["violation_count"] == 1
    assert not v[("src6", "unique_doc_id")]["passed"]
    assert v[("src7", "unique_doc_id")]["passed"]
    keys = {
        r["key"]
        for r in res.violations.where(
            F.col("constraint") == "unique_doc_id"
        ).collect()
    }
    assert keys == {"d-0-5"}
    res.unpersist()
