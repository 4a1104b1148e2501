"""One-scan validate_tokens pipeline: results must equal the
standalone operators it fuses."""

import pytest
from pyspark.sql import functions as F

from gate_spark import (
    MembershipConstraint,
    TokenArrayEquality,
    UniqueConstraint,
    VocabBoundsConstraint,
    evaluate_constraints,
    summarize,
    validate_tokens,
)
from gate_spark.datagen import token_table

DOMAIN = tuple(f"src{i}" for i in range(20))


@pytest.fixture(scope="module")
def tokens(spark):
    return token_table(
        spark, 3000, seed=13,
        dup_frac=0.01, mismatch_frac=0.02, oov_frac=0.01, baddomain_frac=0.01,
        num_partitions=8,
    ).cache()


@pytest.fixture(scope="module")
def result(tokens):
    r = validate_tokens(tokens, domain=DOMAIN, occ_value_mode="exact",
                        quantile_mode="nearest")
    yield r
    r.unpersist()


def _sorted(pdf, cols):
    return pdf.sort_values(cols).reset_index(drop=True)


def test_verdicts_match_standalone(tokens, result):
    standalone, _ = evaluate_constraints(
        tokens,
        "source",
        [
            UniqueConstraint(name="unique_doc_id", column="doc_id"),
            TokenArrayEquality(),
            MembershipConstraint(name="source_membership", column="source", domain=DOMAIN),
            VocabBoundsConstraint(name="vocab_bounds", tokens_col="tokens", lo=0, hi=50257),
        ],
        key_column="doc_id",
    )
    a = _sorted(
        result.verdicts.toPandas()
        .replace({"constraint": {"token_array_equality": "eq"}}),
        ["partition", "constraint"],
    )
    b = standalone.toPandas()
    b["constraint"] = b["constraint"].replace(
        {TokenArrayEquality().name: "eq"}
    )
    b = _sorted(b, ["partition", "constraint"])
    assert (
        a[["partition", "violation_count", "row_count", "passed"]].values.tolist()
        == b[["partition", "violation_count", "row_count", "passed"]].values.tolist()
    )


def test_summary_matches_standalone(tokens, result):
    s = summarize(
        tokens, columns=["n_tok", "tokens", "doc_id"], partition_key="source",
        quantile_mode="nearest", extras=True,
        quantile_columns=["n_tok", "tokens"],  # pipeline skips id quantiles
    )
    a = _sorted(result.summary.df.toPandas(), ["source", "column"])
    b = _sorted(s.df.toPandas(), ["source", "column"])
    assert a.equals(b)


def test_violation_rows_and_drift_shape(tokens, result):
    v = result.violations.toPandas()
    total = result.verdicts.toPandas()["violation_count"].sum()
    assert len(v) == total
    d = result.drift.toPandas()
    assert set(d.columns) == {"partition", "score", "score_percentile", "is_drifted"}
    assert len(d) == tokens.select("source").distinct().count()
    psi = result.distribution.toPandas()
    assert len(psi) == len(d)


def test_uniqueness_join_plan_shape(tokens, result):
    """The scale claim, pinned on the physical plan: below the counted
    dup threshold the verdicts/violations actions use a broadcast-hash
    join of the dup set (no full-table shuffle); forcing the fallback
    switches to one shared persisted shuffle join."""
    # the dupes join lives in the violations frame (the ONE full-frame
    # action; verdicts now derive from its persisted output)
    plan = result.violations._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert result.flagged_cache is not None  # cached dup set handle

    fallback = validate_tokens(
        tokens, domain=DOMAIN, compute_drift=False,
        broadcast_dupes_threshold=0,
    )
    # no forced hint in the fallback: AQE is free to pick the strategy
    # (on tiny test data it converts to broadcast at runtime); the
    # structural guarantee is the SHARED persisted join result
    assert fallback.flagged_cache is not None
    assert fallback.flagged_cache.storageLevel.useMemory  # persisted
    assert fallback.verdicts.count() > 0
    fallback.unpersist()


def test_driver_drift_matches_spark_formulation(tokens, result):
    """The pipeline's drift table equals a standalone drift_scores on
    the pipeline's own summary, value-for-value."""
    import numpy as np

    from gate_spark.operators.drift import drift_scores

    a = _sorted(result.drift.toPandas(), ["partition"])
    b = _sorted(drift_scores(result.summary, k=3).toPandas(), ["partition"])
    assert a["partition"].tolist() == b["partition"].tolist()
    assert np.allclose(a["score"], b["score"], rtol=1e-9, equal_nan=True)
    assert np.allclose(
        a["score_percentile"], b["score_percentile"], rtol=1e-12
    )
    assert a["is_drifted"].tolist() == b["is_drifted"].tolist()


def test_metadata_frames_are_jvm_local_scans(result):
    """No per-pass metadata-scale frame may be Python-RDD-backed:
    a `Scan ExistingRDD` over parallelized pickles schedules Python
    workers whose creation serializes under the PythonWorkerFactory
    monitor (jstack-profiled at 37-45 s per force at 64M rows). The
    verdicts / distribution / drift outputs must be LocalTableScan —
    serialized once driver-side, scanned pure-JVM."""
    for name in ("verdicts", "distribution", "drift"):
        frame = getattr(result, name)
        plan = frame._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan, (name, plan)
        assert "ExistingRDD" not in plan, (name, plan)


def test_non_integral_vocab_bound_rejected(tokens):
    """A vocab bound that is not an integer is an error: truncating
    hi=100.5 to 100 would flag token 100 as out of range."""
    for vocab in ((0, 100.5), (0.5, 100)):
        with pytest.raises(ValueError, match="vocab"):
            validate_tokens(tokens, vocab=vocab)


def test_empty_domain_flags_every_row(spark):
    """An empty source domain admits no partition: every row violates
    membership (the generated SQL must not render ``IN ()``)."""
    t = token_table(spark, 300, seed=3, num_partitions=2)
    r = validate_tokens(t, domain=(), compute_drift=False)
    v = r.verdicts.where(F.col("constraint") == "source_membership").toPandas()
    assert (v["violation_count"] == v["row_count"]).all()
    assert v["row_count"].sum() == 300
    r.unpersist()


def test_domain_literals_match_column_isin(spark):
    """None, NaN, +/-inf, quotes and plain values in the domain render
    as typed SQL literals: the membership verdicts equal the Column-API
    ``isin`` over the same values, for a string and a double key."""
    t = token_table(spark, 300, seed=3, num_partitions=2).withColumn(
        "sid", F.expr("CAST(substr(source, 4) AS DOUBLE)")
    )
    for key, domain in (
        ("source", ("src0", None, "it's", "src2")),
        ("sid", (0.0, None, float("nan"), float("inf"), -float("inf"), 2)),
    ):
        r = validate_tokens(t, partition_key=key, domain=domain, compute_drift=False)
        got = (
            r.verdicts.where(F.col("constraint") == "source_membership")
            .select("partition", "violation_count").toPandas()
        )
        member = F.coalesce(F.col(key).isin(list(domain)), F.lit(False))
        want = (
            t.groupBy(F.col(key).alias("partition"))
            .agg(F.sum((~member).cast("long")).alias("violation_count"))
            .toPandas()
        )
        as_dict = lambda pdf: {str(p): int(v) for p, v in pdf.values.tolist()}
        assert as_dict(got) == as_dict(want), key
        assert 0 < got["violation_count"].sum() < 300, key
        r.unpersist()


def test_sql_literals_match_column_lit(spark):
    """_sql_lit renders each value with the type and value F.lit gives it."""
    import datetime as dt
    import math

    from gate_spark.operators.summarize import _sql_lit

    values = [None, True, 7, -(2**31), 2**40, 0.1, -2.5e300, float("nan"),
              float("inf"), -float("inf"), "a'b\\c`", "ünï", dt.date(2024, 2, 29)]
    one = spark.range(1)
    for v in values:
        a = one.selectExpr(f"{_sql_lit(v)} AS x")
        b = one.select(F.lit(v).alias("x"))
        assert a.schema["x"].dataType == b.schema["x"].dataType or v is None, v
        x, y = a.first()["x"], b.first()["x"]
        assert x == y or (isinstance(x, float) and math.isnan(x) and math.isnan(y)), v


def test_null_partition_gets_distribution_row(tokens):
    """A null partition key is a partition of its own in PSI/KS and in
    drift: the distribution and the drift table have one row per verdict
    partition, null included (as NULL, not a filled-in value); the
    distribution equals the standalone operator on the same edges (so
    every other partition's holdout counts the null partition's rows)."""
    from gate_spark import distribution_drift

    t = tokens.withColumn(
        "source",
        F.when(F.pmod(F.xxhash64("doc_id"), F.lit(7)) == 0, F.lit(None))
        .otherwise(F.col("source")),
    )
    r = validate_tokens(t, domain=DOMAIN)
    verdict_parts = {row["partition"] for row in r.verdicts.collect()}
    assert None in verdict_parts
    drift_parts = [row["partition"] for row in r.drift.collect()]
    assert len(drift_parts) == len(verdict_parts)
    assert set(drift_parts) == verdict_parts
    rows = r.distribution.collect()
    assert len(rows) == len(verdict_parts)
    by_part = lambda rs: {row["partition"]: tuple(row) for row in rs}
    got = by_part(rows)
    assert set(got) == verdict_parts
    want = distribution_drift(t, "source", "n_tok", edges=r.hist_edges)
    assert got == by_part(want.collect())
    r.unpersist()


def test_all_null_n_tok_unit_range_edges(spark):
    """With no n_tok value to take a range from, the default edges span
    [0, 1] and the distribution is empty but keeps its schema."""
    t = token_table(spark, 300, seed=3, num_partitions=2).withColumn(
        "n_tok", F.lit(None).cast("int")
    )
    r = validate_tokens(t, compute_drift=False)
    assert r.hist_edges == [i * 0.1 for i in range(1, 10)]
    assert r.distribution.columns == [
        "partition", "psi", "ks", "psi_drifted", "ks_drifted"
    ]
    assert r.distribution.count() == 0
    r.unpersist()
