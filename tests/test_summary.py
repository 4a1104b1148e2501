"""Summarize correctness — cell-exact assertions mirroring the
reference's tests/test_summary.py plus DuckDB differentials."""

import math

import duckdb
import numpy as np
import pytest

from gate_spark import GATE_STATISTICS, summarize

F32 = np.float32


def _rows(summary, partition=None):
    pdf = summary.value(partition)
    return {r["column"]: r for _, r in pdf.iterrows()}


def test_summarize_tiny_exact(tiny_df):
    """Exact float32 values from the reference fixture
    (reference tests/test_summary.py:19-52, FIXTURES.md F2)."""
    s = summarize(
        tiny_df,
        columns=["string_col", "int_col", "float_col"],
        partition_key="grp",
        quantile_mode="nearest",
    )
    pdf = s.value()
    assert list(pdf.columns) == ["grp", "column"] + GATE_STATISTICS
    assert len(pdf) == 3
    rows = _rows(s)

    f = rows["float_col"]
    assert f["coverage"] == F32(1.0)
    assert f["mean"] == F32(0.1)
    assert f["p50"] == F32(0.1)
    assert f["p95"] == F32(0.2)
    assert math.isnan(f["num_unique_values"]) and math.isnan(f["occurrence_ratio"])

    i = rows["int_col"]
    assert i["coverage"] == F32(2 / 3)
    assert i["mean"] == F32(0.5)
    assert i["p50"] == F32(1.0)  # nearest-rank: round_half_up(0.5*(2-1)) = idx 1
    assert i["p95"] == F32(1.0)
    assert i["num_unique_values"] == F32(2.0)
    assert i["occurrence_ratio"] == F32(0.5)

    st = rows["string_col"]
    assert st["coverage"] == F32(1.0)
    assert st["num_unique_values"] == F32(2.0)
    assert st["occurrence_ratio"] == F32(2 / 3)
    assert math.isnan(st["mean"]) and math.isnan(st["p50"]) and math.isnan(st["p95"])


def test_reserved_partition_key(tiny_df):
    with pytest.raises(ValueError):
        summarize(tiny_df.withColumnRenamed("grp", "group"),
                  columns=["int_col"], partition_key="group")


def test_missing_columns(tiny_df):
    with pytest.raises(ValueError):
        summarize(tiny_df, columns=["nope"], partition_key="grp")
    with pytest.raises(ValueError):
        summarize(tiny_df, columns=["int_col"], partition_key="missing_key")
    with pytest.raises(ValueError):
        summarize(tiny_df, partition_key="grp")


def test_unknown_modes_raise(tiny_df):
    """A mode summarize does not implement fails naming the accepted
    values, instead of silently running another mode."""
    with pytest.raises(ValueError, match="approx, nearest, linear, sketch"):
        summarize(tiny_df, columns=["int_col"], partition_key="grp", quantile_mode="exact")
    with pytest.raises(ValueError, match="exact, hash"):
        summarize(tiny_df, columns=["int_col"], partition_key="grp", occ_value_mode="approx")


def test_previous_schema_inheritance(tiny_df, tiny_df_2):
    """reference tests/test_summary.py:57-65."""
    s = summarize(tiny_df, columns=["string_col", "int_col", "float_col"],
                  partition_key="grp")
    s2 = summarize(tiny_df, previous=[s])
    assert set(s2.column_types) == set(s.column_types)
    with pytest.raises(ValueError):
        summarize(tiny_df_2, previous=[s])


def test_multi_partition_and_extras(small_df):
    s = summarize(
        small_df,
        columns=["string_col", "int_col", "float_col"],
        partition_key="grp",
        extras=True,
        quantile_mode="nearest",
    )
    pdf = s.value()
    assert sorted(pdf["grp"].unique()) == list("ABCDE")
    assert len(pdf) == 15
    # coverage + null_fraction = 1 everywhere they're both defined
    both = pdf.dropna(subset=["null_fraction"])
    assert np.allclose(both["coverage"] + both["null_fraction"], 1.0, atol=1e-6)
    # count present for all columns
    assert (pdf["count"] >= 0).all()


def test_bool_and_array_columns(spark):
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "p": ["x", "x", "y", "y"],
            "flag": [True, False, True, True],
            "tokens": [[1, 2, 3], [4, 5], [6], None],
        }
    )
    df = spark.createDataFrame(pdf)
    s = summarize(df, columns=["flag", "tokens"], partition_key="p",
                  quantile_mode="nearest")
    rows = {(r["p"], r["column"]): r for _, r in s.value().iterrows()}
    # bool treated as tinyint (gate/summary.py:188-191)
    assert rows[("x", "flag")]["mean"] == F32(0.5)
    assert rows[("y", "flag")]["mean"] == F32(1.0)
    # token arrays summarized over size(tokens)
    assert rows[("x", "tokens")]["mean"] == F32(2.5)
    assert rows[("y", "tokens")]["coverage"] == F32(0.5)
    assert rows[("y", "tokens")]["p50"] == F32(1.0)


def test_differential_against_duckdb(documents):
    """Pin semantics against an independent engine on real parquet:
    coverage / mean / exact distinct / occurrence_ratio / linear-interp
    quantiles must match DuckDB on sf0.001 documents."""
    s = summarize(
        documents,
        columns=["lang", "n_chars"],
        partition_key="source",
        quantile_mode="linear",
    )
    got = {
        (r["source"], r["column"]): r for _, r in s.value().iterrows()
    }
    con = duckdb.connect()
    exp = con.sql(
        """
        SELECT source,
               avg(CASE WHEN n_chars IS NOT NULL THEN 1.0 ELSE 0.0 END) AS coverage,
               avg(n_chars) AS mean,
               count(DISTINCT n_chars) AS ndv,
               quantile_cont(n_chars, 0.5) AS p50,
               quantile_cont(n_chars, 0.95) AS p95,
               count(DISTINCT lang) AS lang_ndv,
               (SELECT max(c)::DOUBLE / sum(c) FROM (
                   SELECT count(*) AS c FROM read_parquet('/root/testdata/sf0.001/documents.parquet') d2
                   WHERE d2.source = d.source AND lang IS NOT NULL GROUP BY lang)) AS lang_occ
        FROM read_parquet('/root/testdata/sf0.001/documents.parquet') d
        GROUP BY source
        """
    ).fetchall()
    for source, coverage, mean, ndv, p50, p95, lang_ndv, lang_occ in exp:
        r = got[(source, "n_chars")]
        assert r["coverage"] == pytest.approx(coverage, rel=1e-6)
        assert r["mean"] == pytest.approx(mean, rel=1e-6)
        assert r["num_unique_values"] == ndv
        assert r["p50"] == pytest.approx(np.float32(p50), rel=1e-6)
        assert r["p95"] == pytest.approx(np.float32(p95), rel=1e-6)
        rl = got[(source, "lang")]
        assert rl["num_unique_values"] == lang_ndv
        assert rl["occurrence_ratio"] == pytest.approx(np.float32(lang_occ), rel=1e-6)


def test_approx_modes_close_to_exact(documents):
    """Scale-default sketch quantiles stay within tolerance of exact."""
    approx = summarize(documents, columns=["n_chars"], partition_key="source").value()
    exact = summarize(
        documents, columns=["n_chars"], partition_key="source",
        quantile_mode="nearest",
    ).value()
    m = approx.merge(exact, on=["source", "column"], suffixes=("_a", "_e"))
    # both count distinct values in the occurrence cascade
    assert (m["num_unique_values_a"] == m["num_unique_values_e"]).all()
    assert (m["p50_a"] - m["p50_e"]).abs().max() <= 0.05 * m["p50_e"].abs().max() + 1


def test_quantile_columns_subset(spark, small_df):
    """quantile_columns restricts p50/p95 to the named columns (id-like
    high-cardinality columns skip the percentile digest entirely)."""
    from gate_spark.operators.summarize import summarize

    s = summarize(
        small_df, columns=["int_col", "float_col"], partition_key="grp",
        quantile_mode="approx", quantile_columns=["float_col"],
    )
    pdf = s.df.toPandas()
    assert pdf[pdf["column"] == "int_col"]["p50"].isna().all()
    assert pdf[pdf["column"] == "float_col"]["p50"].notna().all()
    # the digest agg must not even appear in the plan for int_col
    plan = s.df._jdf.queryExecution().analyzed().toString()
    assert plan.count("percentile_approx") == 1
    s.unpersist()


def test_occ_value_modes_agree(documents):
    """occ_value_mode="hash" (64-bit value fingerprints in the
    occurrence shuffle, the pipeline scale default) must yield the same
    occurrence_ratio and num_unique_values as "exact" — counts per
    fingerprint equal counts per value up to 2^-64 collisions."""
    kw = dict(columns=["lang", "doc_id", "n_chars"], partition_key="source")
    # nulls in the value columns: a null is no value under either key
    with_nulls = documents.selectExpr(
        "source", "IF(n_chars % 3 = 0, NULL, lang) AS lang",
        "IF(n_chars % 5 = 0, NULL, doc_id) AS doc_id",
        "IF(n_chars % 7 = 0, NULL, n_chars) AS n_chars",
    )
    for df in (documents, with_nulls):
        a = summarize(df, occ_value_mode="hash", **kw)
        b = summarize(df, occ_value_mode="exact", **kw)
        assert "xxhash64" in a.df._jdf.queryExecution().optimizedPlan().toString()
        pa = a.value().sort_values(["source", "column"]).reset_index(drop=True)
        pb = b.value().sort_values(["source", "column"]).reset_index(drop=True)
        assert (pa["occurrence_ratio"].fillna(-1) == pb["occurrence_ratio"].fillna(-1)).all()
        assert (pa["num_unique_values"].fillna(-1) == pb["num_unique_values"].fillna(-1)).all()
        a.unpersist(); b.unpersist()


def test_shared_occ_quantile_pass_matches_split_paths(documents):
    """Columns needing BOTH occurrence_ratio and nearest-rank quantiles
    ride one shared value-keyed pass (the windowed quantile counts frame
    IS the occ cascade's first level). Its statistics must equal the
    split passes other columns take — the occurrence cascade and the
    nearest-rank quantile pass, called directly — cell-identical."""
    from gate_spark.operators.summarize import (
        _nearest_rank_quantiles,
        _occurrence_and_distinct,
    )

    cols = ["doc_id", "n_chars"]
    with_nulls = documents.selectExpr(
        "source", "IF(n_chars % 5 = 0, NULL, doc_id) AS doc_id", "n_chars"
    )
    for df in (documents, with_nulls):
        s = summarize(df, columns=cols, partition_key="source",
                      quantile_mode="nearest")
        got = {(r["source"], r["column"]): r for r in s.df.collect()}
        occ = {(r["source"], r["column"]): r
               for r in _occurrence_and_distinct(df, "source", cols).collect()}
        q = {(r["source"], r["column"]): r for r in _nearest_rank_quantiles(
            df, "source", cols, (0.5, 0.95)).collect()}
        assert set(got) == set(occ) == set(q)
        for key, r in got.items():
            assert r["occurrence_ratio"] == F32(occ[key]["_occ"]), key
            assert r["num_unique_values"] == F32(occ[key]["_ndv"]), key
            assert r["p50"] == F32(q[key]["_p50"]), key
            assert r["p95"] == F32(q[key]["_p95"]), key
        s.unpersist()


def test_integers_past_2_53_keep_distinct_values(spark):
    """Integers beyond double's exact range stay distinct in every
    value-keyed pass: [2^53, 2^53+1, 2^53+1] has 2 distinct values and
    occurrence_ratio 2/3 under the default settings, the shared
    nearest-rank pass, fingerprint keys and the salted path."""
    df = spark.createDataFrame(
        [("a", 2**53), ("a", 2**53 + 1), ("a", 2**53 + 1)], "p string, v long"
    )
    for kw in (
        dict(),
        dict(quantile_mode="nearest"),
        dict(occ_value_mode="hash"),
        dict(skew_salt=2),
    ):
        s = summarize(df, columns=["v"], partition_key="p", **kw)
        (r,) = s.df.collect()
        assert r["num_unique_values"] == 2.0, kw
        assert r["occurrence_ratio"] == F32(2 / 3), kw
        s.unpersist()


def test_null_partition_key_keeps_side_statistics(spark):
    """A null partition key is a partition like any other: the
    side-pass statistics (occurrence_ratio, distinct count, value-keyed
    quantiles) are joined back null-safely, in every mode."""
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "p": [None, None, None, "a", "a"],
            "i": [1, 1, 2, 5, 6],
            "s": ["x", "x", "y", "z", None],
        }
    )
    df = spark.createDataFrame(pdf, "p string, i long, s string")
    for kw in (
        dict(),
        dict(occ_value_mode="hash"),
        dict(quantile_mode="nearest"),
        dict(skew_salt=2),
    ):
        s = summarize(df, columns=["i", "s"], partition_key="p", **kw)
        got = {(r["p"], r["column"]): r for r in s.df.collect()}
        assert got[(None, "i")]["occurrence_ratio"] == F32(2 / 3), kw
        assert got[(None, "i")]["num_unique_values"] == 2.0, kw
        assert got[(None, "i")]["p50"] == 1.0, kw
        assert got[(None, "i")]["p95"] == 2.0, kw
        assert got[(None, "s")]["occurrence_ratio"] == F32(2 / 3), kw
        assert got[(None, "s")]["num_unique_values"] == 2.0, kw
        assert got[("a", "s")]["num_unique_values"] == 1.0, kw
        s.unpersist()


def _mixed16(spark):
    """16 columns in the perfbench gate_history mix: 4 float, 6 int,
    4 string, 2 bool over 5 partitions."""
    import pandas as pd

    rng = np.random.RandomState(5)
    n = 400
    data = {"p": rng.choice(list("abcde"), n)}
    for j in range(4):
        data[f"f{j}"] = rng.normal(0, 1, n)
        data[f"s{j}"] = rng.choice(["u", "v", "w", None], n)
    for j in range(6):
        data[f"i{j}"] = pd.array(
            np.where(rng.rand(n) < 0.1, None, rng.randint(0, 30 * (j + 1), n)),
            dtype="Int64",
        )
    for j in range(2):
        data[f"b{j}"] = rng.rand(n) < 0.3
    pdf = pd.DataFrame(data)
    return pdf, spark.createDataFrame(pdf)


def test_moments_pass_runs_under_codegen(spark):
    """With the percentile digests in their own pass and no HLL, the
    16-column-with-extras moments aggregate is a declarative
    HashAggregate inside whole-stage codegen, and no HLL aggregate is
    planned at all."""
    pdf, df = _mixed16(spark)
    s = summarize(df, columns=[c for c in pdf.columns if c != "p"],
                  partition_key="p", extras=True, persist=False)
    s.df.collect()
    plan = s.df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]  # AQE's executed plan
    aggs = [ln for ln in final.splitlines() if "HashAggregate(" in ln and "stddev_samp" in ln]
    assert len(aggs) == 2, plan  # partial + final
    assert all("*(" in ln and "ObjectHashAggregate" not in ln for ln in aggs), aggs
    assert "approx_count_distinct" not in plan and "hll_" not in plan


def test_approx_mode_distinct_counts_are_exact(spark):
    """With approx quantiles num_unique_values still comes from the
    occurrence cascade: it equals pandas nunique() per partition."""
    pdf, df = _mixed16(spark)
    cols = [c for c in pdf.columns if c != "p"]
    for occ_value_mode in ("exact", "hash"):
        s = summarize(df, columns=cols, partition_key="p",
                      occ_value_mode=occ_value_mode)
        got = {(r["p"], r["column"]): r["num_unique_values"] for r in s.df.collect()}
        for (p, c), v in got.items():
            if c.startswith("f"):
                assert v is None
            else:
                assert v == pdf[pdf["p"] == p][c].nunique(), (p, c, occ_value_mode)
        s.unpersist()
