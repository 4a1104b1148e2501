"""Wide-table scale shape from the reference's largest exercised
workload (tests/test_multiple_dfs.py:44-93): 300 columns (100 int +
100 float + 100 string) x 30 partitions — verifies Catalyst handles
the ~2400-expression fused aggregation and the 300-arm occurrence
cascade, plus the 50-column injected-drift detection.

Data is generated as pure Catalyst expressions over a crossJoin (no
driver-side materialization): per-row values depend only on the row
id, so partitions hold IDENTICAL data (the reference's no-drift
construction) except the last, where 50 int columns are shifted.
ONE summarize serves both the drift and the no-drift assertion (the
non-drifted partitions are identical twins, so any of them scores an
exact 0 against its neighbors) — the 300-column aggregation is the
expensive part of this test and runs once.
"""

import os

import pytest
from pyspark.sql import functions as F

from gate_spark import detect_drift, summarize

NUM_COLS = 100  # of each type -> 300 total
# The reference runs 10k rows/partition; the Catalyst stress being
# verified here is PLAN WIDTH (~2400 fused aggregate expressions +
# the 300-arm occurrence cascade), which is row-count independent —
# 2k rows keeps the suite inside the CI budget at local[8].
ROWS_PER_PART = 2_000
PARTS = 30
DRIFT_COLS = 50


def _wide_df(spark, drift_cols: int = 0, rows_per_part: int = ROWS_PER_PART):
    abc = F.array(F.lit("A"), F.lit("B"), F.lit("C"))
    base = spark.range(rows_per_part).select(F.col("id").alias("rid"))
    dates = spark.createDataFrame(
        [(f"2022-01-{d + 1:02d}",) for d in range(PARTS)], ["date"]
    )
    last = f"2022-01-{PARTS:02d}"
    grid = dates.crossJoin(base)
    cols = []
    for i in range(NUM_COLS):
        ival = F.pmod(F.xxhash64("rid", F.lit(i)), F.lit(10)).cast("int")
        if i < drift_cols:
            ival = F.when(F.col("date") == last, F.lit(1000)).otherwise(ival)
        cols.append(ival.alias(f"int_col_{i}"))
        cols.append(
            (
                F.pmod(F.xxhash64("rid", F.lit(10_000 + i)), F.lit(1_000_000))
                / 1_000_000.0
            ).alias(f"float_col_{i}")
        )
        cols.append(
            F.element_at(
                abc,
                (F.pmod(F.xxhash64("rid", F.lit(20_000 + i)), F.lit(3)) + 1).cast(
                    "int"
                ),
            ).alias(f"string_col_{i}")
        )
    return grid.select("date", *cols)


def _run_wide(spark, rows_per_part: int):
    df = _wide_df(spark, drift_cols=DRIFT_COLS, rows_per_part=rows_per_part)
    columns = [c for c in df.columns if c != "date"]
    assert len(columns) == 3 * NUM_COLS
    s = summarize(
        df,
        columns=columns,
        partition_key="date",
        quantile_mode="approx",
    )
    assert len(s.partitions()) == PARTS

    # 50-column injected drift in the last partition is detected, with
    # clustering engaged (>=10 columns)
    r = detect_drift(s)
    assert r.score_percentile > 0.85
    dc = r.drifted_columns()
    assert dc.index.values[0].startswith("int_col_")

    # no-drift sanity at the same width: every other partition is an
    # identical twin of 28 siblings, so its kNN drift score is exactly 0
    r0 = detect_drift(s, current_partition="2022-01-15", cluster=False)
    assert r0.score < 1e-7
    s.unpersist()


def test_wide_300_columns(spark):
    _run_wide(spark, ROWS_PER_PART)


@pytest.mark.skipif(
    not os.environ.get("GATE_SPARK_SLOW"),
    reason="reference row count (10k rows/partition, tests/"
    "test_multiple_dfs.py:44-49) is opt-in: GATE_SPARK_SLOW=1",
)
def test_wide_300_columns_reference_rowcount(spark):
    """The reference's full 10k rows/partition, including the no-drift
    percentile sanity — statistical assertions reproduced at the exact
    reference scale (plan width itself is row-count independent; the
    default-suite variant covers it at CI cost)."""
    _run_wide(spark, 10_000)
