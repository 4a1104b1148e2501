"""The statistic vocabulary: the six gate statistics (reference:
gate/statistics.py:12-49) plus north-rule extras (stddev,
null_fraction, count, min, max), and which apply to which type class.
summarize() builds the aggregates that compute them.
"""

from __future__ import annotations

# gate's statistic set, in gate's (alphabetical) output order
# (reference: gate/summary.py:264-277, tests/test_summary.py:19-54).
GATE_STATISTICS = [
    "coverage",
    "mean",
    "num_unique_values",
    "occurrence_ratio",
    "p50",
    "p95",
]

# north-rule extras (BASELINE.json north_star: count, stddev,
# null-fraction; gate removed stddev — gate/statistics.py:29,40).
EXTRA_STATISTICS = ["count", "max", "min", "null_fraction", "stddev"]

# which statistics apply to which type class
# (reference: gate/statistics.py:24-49).
TYPE_TO_STATISTICS = {
    "int": ["coverage", "mean", "p50", "num_unique_values", "occurrence_ratio", "p95"],
    "float": ["coverage", "mean", "p50", "p95"],
    "string": ["coverage", "num_unique_values", "occurrence_ratio"],
    "bool": ["coverage", "mean", "p50", "num_unique_values", "occurrence_ratio", "p95"],
    # north-rule extension: token arrays summarized over their length
    # (SURVEY.md §1.3 — derived scalars instead of per-dim explode).
    "array": ["coverage", "mean", "p50", "num_unique_values", "occurrence_ratio", "p95"],
}

EXTRA_BY_TYPE = {
    "int": ["count", "max", "min", "null_fraction", "stddev"],
    "float": ["count", "max", "min", "null_fraction", "stddev"],
    "string": ["count", "null_fraction"],
    "bool": ["count", "max", "min", "null_fraction", "stddev"],
    "array": ["count", "max", "min", "null_fraction", "stddev"],
}

