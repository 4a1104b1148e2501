"""Benchmark harness: headline engine queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec}, "sf": ..., "rows_per_sec": ...}

These run the SCALE paths (HLL distinct, sketch quantiles, xxhash64
dedup) — not the md5/exact oracle-parity modes used by the correctness
gate. Results are forced with the noop sink so every aggregate is
fully evaluated without collect overhead.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from gate_spark.session import get_spark
from gate_spark.operators.summarize import summarize
from gate_spark.operators.drift import drift_scores
from gate_spark.operators.distribution import distribution_drift
from gate_spark.operators.constraints import evaluate_constraints
from gate_spark.operators import dedup as dd
from gate_spark.operators import similarity as sim
from gate_spark.operators import textstats as ts

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def bench_queries(spark):
    t = lambda name: spark.read.parquet(f"{SF_DIR}/{name}.parquet")

    def tokens_view():
        docs = t("documents")
        words = F.split(F.col("text"), r"\s+")
        size = F.size(words)
        return docs.select(
            "doc_id",
            F.transform(words, lambda w: F.length(w).cast("int")).alias("tokens"),
            F.when(F.col("doc_id") % 97 == 0, size + 1).otherwise(size)
            .cast("int").alias("n_tok"),
            "source",
        )

    def q_summarize_lineitem():
        s = summarize(
            t("lineitem"),
            columns=["l_quantity", "l_extendedprice", "l_discount",
                     "l_linenumber", "l_linestatus"],
            partition_key="l_returnflag",
            quantile_mode="approx", extras=True,
        )
        _force(s.df)
        s.unpersist()

    def q_token_validation():
        from gate_spark.pipeline import validate_tokens

        r = validate_tokens(
            tokens_view(),
            domain=tuple(f"src{i}" for i in range(16)),
            vocab=(1, 12),
            compute_drift=True,
        )
        _force(r.summary.df)
        _force(r.verdicts)
        _force(r.violations)
        _force(r.distribution)
        _force(r.drift)
        r.unpersist()

    def q_drift_events():
        day = t("events").select(
            F.date_format("ts", "yyyy-MM-dd").alias("day"),
            "event_type", "value", "user_id",
        )
        s = summarize(
            day, columns=["value", "user_id", "event_type"], partition_key="day",
            quantile_mode="approx",
        )
        _force(drift_scores(s, k=3))
        s.unpersist()

    def q_psi_ks():
        _force(distribution_drift(t("lineitem"), "l_returnflag", "l_quantity"))

    def q_dedup_minhash():
        res = dd.minhash_dedup(
            t("documents"), "doc_id", "text",
            num_perm=32, num_bands=8, threshold=0.7, hash_mode="xxhash",
        )
        _force(res.pairs)
        res.unpersist()

    def q_knn():
        emb = t("embeddings")
        _force(
            sim.cosine_topk(
                emb, emb.where(F.col("vec_id") < 32),
                corpus_id="vec_id", corpus_vec="embedding",
                query_id="vec_id", query_vec="embedding", k=10,
            )
        )

    def q_textstats():
        docs = t("documents")
        _force(ts.text_statistics(docs, "doc_id", "text"))
        _force(ts.language_id(docs, "doc_id", "text"))
        _force(ts.token_counts(docs, "doc_id", "text"))

    return {
        "summarize_lineitem": q_summarize_lineitem,
        "token_validation": q_token_validation,
        "drift_events": q_drift_events,
        "psi_ks": q_psi_ks,
        "dedup_minhash": q_dedup_minhash,
        "knn": q_knn,
        "textstats": q_textstats,
    }


def _precache() -> None:
    """Pull every benched parquet file through the OS page cache —
    a cluster's input comes from distributed storage, not one cold
    local disk, and `.count()` only touches footers."""
    import glob

    for name in ("lineitem", "events", "documents", "embeddings", "orders"):
        for f in glob.glob(f"{SF_DIR}/{name}.parquet/*.parquet") + glob.glob(
            f"{SF_DIR}/{name}.parquet"
        ):
            if os.path.isfile(f):
                with open(f, "rb") as fh:
                    while fh.read(1 << 24):
                        pass


def main() -> None:
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("gate_spark_bench", cores=cores)
    _precache()
    # warm the JVM/parquet footers so timings measure the queries
    spark.read.parquet(f"{SF_DIR}/lineitem.parquet").count()

    # min of PASSES runs per query: this host is a shared VM with
    # bursty neighbor noise (observed 5-6x trial-to-trial); the min is
    # the capacity estimate since noise is strictly additive. Passes
    # are interleaved ROUND-ROBIN (pass p of every query, then pass
    # p+1) so a noise burst lands on at most one pass of each query
    # instead of all back-to-back passes of the same query; round 1
    # doubles as the suite-wide JIT/codegen warm-up.
    passes = int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "3"))
    queries = bench_queries(spark)
    timings: dict[str, float] = {}
    for _ in range(passes):
        for name, fn in queries.items():
            t0 = time.time()
            fn()
            dt = time.time() - t0
            timings[name] = min(timings.get(name, dt), dt)
    timings = {k: round(v, 3) for k, v in timings.items()}

    total = round(sum(timings.values()), 3)
    nrows = (
        spark.read.parquet(f"{SF_DIR}/lineitem.parquet").count()
        + spark.read.parquet(f"{SF_DIR}/events.parquet").count()
        + 5 * spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
        + 2 * spark.read.parquet(f"{SF_DIR}/embeddings.parquet").count()
    )
    print(
        json.dumps(
            {
                "metric": "gate_spark headline suite (summaries+constraints+drift+dedup+knn+text)",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": SF_DIR,
                "cores": cores,
                "rows_per_sec": round(nrows / total, 1) if total else None,
            }
        )
    )


if __name__ == "__main__":
    main()
