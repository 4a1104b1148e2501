"""gate_spark — a PySpark-native schema/constraint validation + drift engine.

A from-scratch re-expression of the capabilities of dm4ml/gate
(reference: /root/reference, surveyed in SURVEY.md) as an idiomatic
Spark DataFrame engine, extended with the north-rule additions from
BASELINE.json: constraint suites, PSI/KS distribution drift, mergeable
sketches, salted aggregation, checkpoint/resume, and large-scale
training-data operators (dedup, similarity search, text analysis,
multimodal plumbing).

Public API mirrors the reference's three entry points
(reference: gate/__init__.py:1-10) plus the north-rule extensions:

- ``summarize``        — per-partition column summaries (gate/summarize.py:49)
- ``detect_drift``     — kNN drift verdicts (gate/drift.py:328)
- ``type_to_statistics`` — type → statistic mapping (gate/statistics.py:12)
- constraint suite, distribution drift, checkpoint store, datagen.
"""

from gate_spark.operators.summarize import (
    GATE_STATISTICS,
    Summary,
    summarize,
    type_to_statistics,
)
from gate_spark.operators.constraints import (
    Constraint,
    ExpressionConstraint,
    MembershipConstraint,
    NotNullConstraint,
    TokenArrayEquality,
    UniqueConstraint,
    VocabBoundsConstraint,
    evaluate_constraints,
)
from gate_spark.operators.drift import DriftResult, detect_drift, drift_scores
from gate_spark.operators.distribution import distribution_drift
from gate_spark.pipeline import TokenValidationResult, validate_tokens
from gate_spark.session import get_spark
from gate_spark.sketches import (
    column_sketches,
    merge_sketches,
    quantiles_from_hist,
    sketches_from_json,
    sketches_to_json,
)
from gate_spark.checkpoint import (
    CheckpointStore,
    merged_stats_from_lineage,
    resumable_run,
    spec_hash,
)
from gate_spark.iceberg import (
    current_snapshot_id,
    find_iceberg_jar,
    iceberg_available,
    iceberg_session_conf,
    parquet_snapshot_stamp,
    read_table,
    write_table,
)

__all__ = [
    "GATE_STATISTICS",
    "Summary",
    "summarize",
    "type_to_statistics",
    "Constraint",
    "ExpressionConstraint",
    "MembershipConstraint",
    "NotNullConstraint",
    "TokenArrayEquality",
    "UniqueConstraint",
    "VocabBoundsConstraint",
    "evaluate_constraints",
    "DriftResult",
    "detect_drift",
    "drift_scores",
    "distribution_drift",
    "TokenValidationResult",
    "validate_tokens",
    "get_spark",
    "column_sketches",
    "merge_sketches",
    "quantiles_from_hist",
    "sketches_from_json",
    "sketches_to_json",
    "CheckpointStore",
    "merged_stats_from_lineage",
    "resumable_run",
    "spec_hash",
    "current_snapshot_id",
    "find_iceberg_jar",
    "iceberg_available",
    "iceberg_session_conf",
    "parquet_snapshot_stamp",
    "read_table",
    "write_table",
]

__version__ = "0.1.0"
