"""Property-based tests (hypothesis) for the pure-python kernels.

These pin algebraic invariants the example-based suites cannot sweep:
KLL rank-error and merge-order invariance, percentile_of_score's
scipy-rank semantics, histogram-quantile monotonicity/bounds, the
nearest-rank rule, the PSI/KS kernel's identities and bounds, the
z-score kernel and kNN scorer behind every drift entry point, and the
lineage summary_json round trip. No SparkSession — the kernels run
driver-side or inside Arrow batches, so the properties hold wherever
they execute. The exception is the generated-SQL builders
(``_sql_lit``, ``_qident``), checked against the Column API in the
session: one query per example, with bounded ``max_examples``.
"""

from __future__ import annotations

import datetime as dt
import decimal
import json
import math

import numpy as np
import pandas as pd
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gate_spark.checkpoint import summary_from_json, summary_to_json
from gate_spark.kernels import percentile_of_score, psi_ks, zscore_groups
from gate_spark.operators.drift import Z_EPS, _knn_scores
from gate_spark.kll import KLLSketch
from gate_spark.operators.summarize import _qident, _sql_lit
from gate_spark.sketches import quantiles_from_hist

floats = st.floats(
    min_value=-1e9, max_value=1e9, allow_nan=False, allow_infinity=False
)


# --------------------------------------------------------------- KLL


@settings(max_examples=25, deadline=None)
@given(
    data=st.lists(floats, min_size=1, max_size=4000),
    q=st.floats(min_value=0.0, max_value=1.0),
)
def test_kll_rank_error_bound(data, q):
    """KLL quantile answers land within a 10% rank band of the truth at
    k=200 (the paper bound is O(1/k) w.h.p.; 10% is a loose determinism-
    safe envelope for the derandomized compactor)."""
    sk = KLLSketch(200)
    sk.update_many(np.asarray(data))
    est = sk.quantiles([q])[0]
    sv = np.sort(np.asarray(data, dtype=np.float64))
    lo = sv[int(np.floor(max(0.0, q - 0.1) * (len(sv) - 1)))]
    hi = sv[int(np.ceil(min(1.0, q + 0.1) * (len(sv) - 1)))]
    assert lo <= est <= hi


@settings(max_examples=20, deadline=None)
@given(
    data=st.lists(floats, min_size=2, max_size=2000),
    cut=st.integers(min_value=1, max_value=10),
    q=st.floats(min_value=0.0, max_value=1.0),
)
def test_kll_merge_any_split_within_band(data, cut, q):
    """Merging per-chunk partials — any chunking — stays in the rank
    band: the mergeability contract the two-phase Spark path relies on."""
    arr = np.asarray(data, dtype=np.float64)
    chunks = np.array_split(arr, min(cut, len(arr)))
    merged = KLLSketch(200)
    for c in chunks:
        p = KLLSketch(200)
        p.update_many(c)
        merged.merge(KLLSketch.from_json(p.to_json()))
    assert merged.n == len(arr)
    est = merged.quantiles([q])[0]
    sv = np.sort(arr)
    lo = sv[int(np.floor(max(0.0, q - 0.15) * (len(sv) - 1)))]
    hi = sv[int(np.ceil(min(1.0, q + 0.15) * (len(sv) - 1)))]
    assert lo <= est <= hi


@settings(max_examples=20, deadline=None)
@given(data=st.lists(floats, min_size=1, max_size=1500))
def test_kll_uncompacted_is_exact_nearest_rank(data):
    """With k >= n the sketch never compacts: quantiles equal the exact
    nearest-rank rule (round-half-up of q*(n-1)) bit-for-bit — the
    property the summarize_sketch_quantiles oracle gate rests on."""
    arr = np.asarray(data, dtype=np.float64)
    sk = KLLSketch(max(8, len(arr)))
    sk.update_many(arr)
    sv = np.sort(arr)
    for q in (0.0, 0.25, 0.5, 0.95, 1.0):
        idx = int(np.floor(q * (len(sv) - 1) + 0.5))
        assert sk.quantiles([q])[0] == sv[idx]


# ------------------------------------------- percentile_of_score


@settings(max_examples=50, deadline=None)
@given(
    a=st.lists(floats, min_size=1, max_size=300),
    score_idx=st.integers(min_value=0, max_value=299),
)
def test_percentile_of_score_matches_scipy_rank(a, score_idx):
    """kind='rank' definition: (count_less + count_leq + 1_if_any_equal)
    * 50 / n — checked against the direct formula and bounded in
    [0, 100]; a score drawn FROM the array is never below the fraction
    strictly less than it."""
    arr = np.asarray(a, dtype=np.float64)
    score = float(arr[score_idx % len(arr)])
    p = percentile_of_score(arr, score)
    left = float(np.count_nonzero(arr < score))
    right = float(np.count_nonzero(arr <= score))
    expected = (left + right + (1.0 if right > left else 0.0)) * 50.0 / len(arr)
    assert p == expected
    assert 0.0 <= p <= 100.0
    assert p >= left / len(arr) * 100.0


# ------------------------------------------------ histogram quantiles


@settings(max_examples=50, deadline=None)
@given(
    hist=st.lists(st.integers(min_value=0, max_value=1000), min_size=2, max_size=40),
    qpair=st.tuples(
        st.floats(min_value=0.01, max_value=0.99),
        st.floats(min_value=0.01, max_value=0.99),
    ),
)
def test_hist_quantiles_monotone_and_bounded(hist, qpair):
    """Quantiles from a fixed-edge histogram are monotone in q and, for
    q in (0,1), bounded by [vmin, vmax] when provided (open-bin answers
    resolve to the true extrema, never a clamp to an inner edge)."""
    edges = [float(i) for i in range(len(hist) - 1)]  # inner edges
    qs = sorted(qpair)
    vmin, vmax = -5.0, float(len(hist) + 5)
    out = quantiles_from_hist(hist, edges, qs, vmin=vmin, vmax=vmax)
    if sum(hist) == 0:
        assert all(np.isnan(v) for v in out)
        return
    assert out[0] <= out[1]
    for v in out:
        assert vmin <= v <= vmax


# ----------------------------------------------------------- PSI / KS

@st.composite
def count_pair(draw):
    """Two same-length count vectors, each with a positive total."""
    n = draw(st.integers(min_value=1, max_value=40))
    vec = st.lists(
        st.integers(min_value=0, max_value=10_000), min_size=n, max_size=n
    ).map(lambda c: c if sum(c) else [1] + c[1:])
    return draw(vec), draw(vec)


def _one(p, q):
    psi, ks = psi_ks(np.asarray([p]), np.asarray([q]))
    return float(psi[0]), float(ks[0])


@settings(max_examples=100, deadline=None)
@given(pq=count_pair())
def test_psi_ks_identical_is_zero(pq):
    assert _one(pq[0], pq[0]) == (0.0, 0.0)


@settings(max_examples=100, deadline=None)
@given(pq=count_pair())
def test_psi_ks_bounds_and_symmetry(pq):
    """PSI >= 0 and symmetric in its arguments; KS in [0, 1]."""
    p, q = pq
    psi, ks = _one(p, q)
    psi_r, ks_r = _one(q, p)
    assert psi >= 0.0
    assert np.isclose(psi, psi_r, rtol=1e-9, atol=1e-12)
    assert 0.0 <= ks <= 1.0
    assert np.isclose(ks, ks_r, rtol=1e-9, atol=1e-12)


@settings(max_examples=100, deadline=None)
@given(
    pq=count_pair(),
    a=st.integers(min_value=1, max_value=1000),
    b=st.integers(min_value=1, max_value=1000),
)
def test_psi_ks_scale_invariant(pq, a, b):
    """Only proportions matter: scaling either count vector by a
    positive factor leaves PSI and KS unchanged."""
    p, q = pq
    base = _one(p, q)
    scaled = _one([a * c for c in p], [b * c for c in q])
    assert np.allclose(base, scaled, rtol=1e-9, atol=1e-12)


def test_psi_ks_zero_q_row_and_two_bin_example():
    """A row with nothing to compare against scores (0, 0), row-wise,
    and a hand-computed two-bin row: p = (0.5, 0.5), q = (0.25, 0.75)
    gives PSI = 0.25 ln 2 + (-0.25) ln(2/3) = 0.25 ln 3 and KS = 0.25."""
    psi, ks = psi_ks(np.array([[1, 1], [3, 1]]), np.array([[1, 3], [0, 0]]))
    assert np.isclose(psi[0], 0.25 * np.log(3.0), rtol=1e-12)
    assert np.isclose(ks[0], 0.25, rtol=1e-12)
    assert (psi[1], ks[1]) == (0.0, 0.0)


# ------------------------------------------------- z-score / kNN drift

# Dyadic values (multiples of 1/64 below 2^20): sums and squares are
# exact in float64, so the comparisons below test the rule, not the
# summation order of two implementations.
dyadic = st.integers(min_value=-(1 << 20), max_value=1 << 20).map(lambda i: i / 64)


@st.composite
def grouped_values(draw):
    n = draw(st.integers(min_value=1, max_value=200))
    x = np.asarray(draw(st.lists(dyadic, min_size=n, max_size=n)))
    g = draw(st.integers(min_value=1, max_value=8))
    codes = np.asarray(
        draw(st.lists(st.integers(0, g - 1), min_size=n, max_size=n))
    )
    return x, np.unique(codes, return_inverse=True)[1]  # codes 0..G-1


@settings(max_examples=100, deadline=None)
@given(xc=grouped_values())
def test_zscore_groups_matches_pandas_transform(xc):
    """(x - mean) / (std + Z_EPS) per group with pandas' ddof=1 std."""
    x, codes = xc
    g = pd.Series(x).groupby(codes)
    want = (x - g.transform("mean")) / (g.transform("std") + Z_EPS)
    got = zscore_groups(x, codes, Z_EPS)
    np.testing.assert_allclose(got, want.to_numpy(), rtol=0, atol=1e-12)


@settings(max_examples=100, deadline=None)
@given(xc=grouped_values(), seed=st.integers(0, 2**32 - 1))
def test_zscore_groups_permutation_equivariant(xc, seed):
    x, codes = xc
    perm = np.random.default_rng(seed).permutation(len(x))
    np.testing.assert_allclose(
        zscore_groups(x[perm], codes[perm], Z_EPS),
        zscore_groups(x, codes, Z_EPS)[perm],
        rtol=0, atol=1e-12,
    )


def test_zscore_groups_one_value_group_is_nan():
    z = zscore_groups(np.array([1.0, 2.0, 4.0, 7.0]), np.array([0, 0, 1, 0]), Z_EPS)
    assert np.isnan(z[2])
    assert not np.isnan(z[[0, 1, 3]]).any()


@st.composite
def long_features(draw):
    """A long (p, column, statistic, value) frame: up to 10 partitions
    (a null key among them when drawn) over up to 6 features; every
    partition has the first feature, some other cells are missing."""
    parts = [f"p{i}" for i in range(draw(st.integers(2, 10)))]
    if draw(st.booleans()):
        parts.append(None)
    feats = [(f"c{i % 3}", f"s{i}") for i in range(draw(st.integers(1, 6)))]
    rows = [
        (p, c, s, draw(dyadic))
        for p in parts
        for i, (c, s) in enumerate(feats)
        if i == 0 or draw(st.integers(0, 9)) > 0
    ]
    return pd.DataFrame(rows, columns=["p", "column", "statistic", "value"])


@settings(max_examples=60, deadline=None)
@given(z=long_features(), k=st.integers(1, 4), seed=st.integers(0, 2**32 - 1))
def test_knn_scorer_self_distance_permutation_duplicates(z, k, seed):
    """Every partition is its own nearest row (distance 0), and the
    scores do not change when the long frame's rows are shuffled or
    some of them repeated."""
    feats, dists, _, scores = _knn_scores(z, "p", k)
    assert len(feats) == z["p"].nunique(dropna=False)
    assert (dists[:, 0] == 0.0).all()

    rng = np.random.default_rng(seed)
    shuffled = z.iloc[rng.permutation(len(z))]
    repeated = pd.concat([z, z.iloc[rng.integers(0, len(z), size=len(z) // 2)]])
    for other in (shuffled, repeated):
        f2, _, _, s2 = _knn_scores(other, "p", k)
        assert f2.equals(feats)
        np.testing.assert_array_equal(s2, scores)


# ------------------------------------------------- lineage summary_json

SUMMARY_STATS = ["mean", "stddev", "p50"]
f32_cell = st.one_of(
    st.none(),
    st.floats(width=32, allow_nan=True, allow_infinity=True, allow_subnormal=True),
)


@st.composite
def summary_records(draw):
    """Collected summary rows (dicts, as ``Row.asDict()`` gives them)
    for 1-4 partitions keyed by int or string, 1-3 columns each, every
    statistic a float32 value or None."""
    integral = draw(st.booleans())
    ids = draw(st.lists(st.integers(-2**40, 2**40), min_size=1, max_size=4, unique=True))
    rows = [
        {"k": i if integral else f"s{i}", "column": f"c{j}",
         **{s: draw(f32_cell) for s in SUMMARY_STATS}}
        for i in ids
        for j in range(draw(st.integers(1, 3)))
    ]
    return integral, rows


@settings(max_examples=100, deadline=None)
@given(data=summary_records())
@example(data=(True, [{"k": 3, "column": "c", "mean": 1e-45, "stddev": float("inf"),
                       "p50": float("-inf")},
                      {"k": 3, "column": "d", "mean": float("nan"), "stddev": None,
                       "p50": -0.0}]))
def test_summary_json_round_trip_bit_exact(data):
    """summary_json round trip: float32 cells come back bit for bit
    (±inf, subnormals and -0.0 included), NaN and None come back as NaN,
    and keys come back with their own type."""
    integral, rows = data
    pdf = summary_from_json(
        summary_to_json(rows, "k"), "k", T.LongType() if integral else T.StringType()
    )
    assert pdf["k"].tolist() == [r["k"] for r in rows]
    assert pdf["column"].tolist() == [r["column"] for r in rows]
    for s in SUMMARY_STATS:
        got = pdf[s].to_numpy()
        want = np.array([np.nan if r[s] is None else r[s] for r in rows], dtype=np.float32)
        assert got.dtype == np.float32
        nan = np.isnan(want)
        np.testing.assert_array_equal(np.isnan(got), nan)
        np.testing.assert_array_equal(got[~nan].view(np.uint32), want[~nan].view(np.uint32))


def test_summary_json_unknown_format_raises():
    """A payload of any other format fails loudly, naming the partition,
    instead of resuming drift on statistics it cannot read."""
    rows = [{"column": "n_tok", "mean": 1.0}]
    for blob in (json.dumps({"format": 2, "rows": rows}), json.dumps(rows)):
        with pytest.raises(ValueError, match="src3"):
            summary_from_json({"src3": blob}, "source", T.StringType())


# ------------------------------------------------- generated-SQL builders

_INT_EDGES = [0, -1, 2**31 - 1, 2**31, -(2**31), -(2**31) - 1,
              2**63 - 1, 2**63, -(2**63), -(2**63) - 1, 2**70, -(2**70)]
_odd_text = st.text(
    st.one_of(st.sampled_from("'\"\\`.$ é名🙂\n\t"), st.characters(blacklist_categories=("Cs",))),
    max_size=12,
)
sql_values = st.one_of(
    st.none(),
    st.booleans(),
    st.sampled_from(_INT_EDGES),
    st.integers(min_value=-(2**100), max_value=2**100),
    st.floats(allow_nan=True, allow_infinity=True),
    st.sampled_from([float("nan"), float("inf"), float("-inf"), -0.0]),
    _odd_text,
    st.decimals(allow_nan=False, allow_infinity=False, places=4,
                min_value=-(10**20), max_value=10**20),
    # the Column API's date converter cannot format years before 1000
    st.dates(min_value=dt.date(1000, 1, 1)),
    st.datetimes(min_value=dt.datetime(1900, 1, 1), max_value=dt.datetime(2200, 1, 1)),
)


def _same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return a == b and math.copysign(1, a) == math.copysign(1, b) or (a != a and b != b)
    return type(a) is type(b) and a == b


@settings(max_examples=30, deadline=None)
@given(values=st.lists(sql_values, min_size=1, max_size=12))
def test_sql_lit_matches_column_lit(spark, values):
    """``F.expr(_sql_lit(v))`` has the type and value of ``F.lit(v)``:
    None, bools, ints at the int32/int64 edges and past 64 bits, NaN,
    ±inf, -0.0, strings with quotes, backslashes, backticks and
    unicode, Decimal, date and datetime. ``F.lit`` cannot take an int
    past 64 bits, so those compare with ``F.lit(Decimal(v))``. One query
    per example."""
    def column_lit(v):
        wide = isinstance(v, int) and not isinstance(v, bool) and not -(2**63) <= v < 2**63
        return F.lit(decimal.Decimal(v) if wide else v)

    df = spark.range(1).select(
        *[F.expr(_sql_lit(v)).alias(f"e{i}") for i, v in enumerate(values)],
        *[column_lit(v).alias(f"l{i}") for i, v in enumerate(values)],
    )
    row = df.first()
    for i, v in enumerate(values):
        assert df.schema[f"e{i}"].dataType == df.schema[f"l{i}"].dataType, v
        assert _same(row[f"e{i}"], row[f"l{i}"]), v


@settings(max_examples=20, deadline=None)
@given(names=st.lists(st.text(st.sampled_from("`. a_é名'\\-"), min_size=1, max_size=6),
                      min_size=1, max_size=8, unique_by=str.lower))
def test_qident_resolves_odd_column_names(spark, names):
    """``selectExpr(_qident(name))`` resolves column names holding
    backticks, spaces, dots, quotes and unicode. One query per example."""
    df = spark.range(1).select(*[F.lit(i).alias(n) for i, n in enumerate(names)])
    out = df.selectExpr(*[_qident(n) for n in reversed(names)])
    assert out.columns == list(reversed(names))
    assert list(out.first()) == list(reversed(range(len(names))))
