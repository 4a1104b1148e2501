"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes every implemented operator from SURVEY.md §2 (plus
the north-rule and training-data-pipeline extensions) as a
(spark, sf_dir) -> DataFrame callable; ``oracle_sql()`` pairs each with
an equivalent DuckDB SQL twin (generated in gate_spark/oracles.py).

Cross-engine float convention (both sides): float32-cast, then
round(_, 6), then float32 — see gate_spark/oracles.py docstring.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from gate_spark import oracles
from gate_spark.operators.summarize import summarize
from gate_spark.operators.drift import (
    cluster_reduced_z,
    drift_scores,
    drifted_columns_df,
    normalize,
)
from gate_spark.operators.distribution import distribution_drift
from gate_spark.operators.constraints import (
    ExpressionConstraint,
    MembershipConstraint,
    NotNullConstraint,
    UniqueConstraint,
    VocabBoundsConstraint,
    evaluate_constraints,
)
from gate_spark.operators import dedup as dd
from gate_spark.operators import similarity as sim
from gate_spark.operators import textstats as ts

GATE_STATS = oracles.GATE_STATS
EXTRA_STATS = oracles.EXTRA_STATS

LINEITEM_COLS = {
    "l_quantity": "float",
    "l_extendedprice": "float",
    "l_discount": "float",
    "l_linenumber": "int",
    "l_linestatus": "string",
}
ORDERS_COLS = {"o_totalprice": "float", "o_custkey": "int", "o_orderstatus": "string"}
EVENTS_COLS = {"value": "float", "user_id": "int", "event_type": "string"}


def _r6(c) -> F.Column:
    """float32 -> round6 -> float32 (twin of oracles._f6)."""
    return F.round(c.cast("float").cast("double"), 6).cast("float")


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _summary_df(spark, sf_dir, table, pk, cols, extras=False) -> DataFrame:
    s = summarize(
        _t(spark, sf_dir, table),
        columns=list(cols),
        partition_key=pk,
        quantile_mode="nearest",
        extras=extras,
        persist=False,
    )
    return s


def _rounded_summary(spark, sf_dir, table, pk, cols, extras=False) -> DataFrame:
    s = _summary_df(spark, sf_dir, table, pk, cols, extras)
    stats = GATE_STATS + (EXTRA_STATS if extras else [])
    return s.df.select(pk, "column", *[_r6(F.col(c)).alias(c) for c in stats])


# --------------------------------------------------------- derived views


def _tokens_view(spark, sf_dir) -> DataFrame:
    """Deterministic token table derived from documents (twin:
    oracles.TOKENS_VIEW_SQL) — the north-rule input shape
    (doc_id, tokens:array<int>, n_tok, source) with injected
    n_tok mismatches on doc_id % 97 == 0."""
    docs = _t(spark, sf_dir, "documents")
    words = F.split(F.col("text"), r"\s+")
    size = F.size(words)
    return docs.select(
        "doc_id",
        F.transform(words, lambda w: F.length(w).cast("int")).alias("tokens"),
        F.when(F.col("doc_id") % 97 == 0, size + 1).otherwise(size)
        .cast("int")
        .alias("n_tok"),
        "source",
    )


def _docs_dup_view(spark, sf_dir) -> DataFrame:
    """documents with injected exact duplicates (twin:
    oracles.DOCS_DUP_VIEW)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "source")
    dups = docs.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text", "source"
    )
    return docs.unionByName(dups)


def _events_day_view(spark, sf_dir) -> DataFrame:
    return _t(spark, sf_dir, "events").select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        "event_type",
        "value",
        "user_id",
    )


TOKEN_CONSTRAINTS = [
    UniqueConstraint(name="unique_doc_id", column="doc_id"),
    ExpressionConstraint(name="token_array_equality", expression="n_tok = size(tokens)"),
    MembershipConstraint(
        name="source_membership", column="source", domain=tuple(oracles.TOKEN_DOMAIN)
    ),
    VocabBoundsConstraint(name="vocab_bounds", tokens_col="tokens", lo=1, hi=12),
]

ORDER_CONSTRAINTS = [
    UniqueConstraint(name="unique_orderkey", column="o_orderkey"),
    NotNullConstraint(name="custkey_not_null", column="o_custkey"),
    ExpressionConstraint(name="positive_totalprice", expression="o_totalprice > 0"),
    MembershipConstraint(name="status_membership", column="o_orderstatus", domain=("F", "O")),
]


# ----------------------------------------------------------- the queries


def q_summarize_lineitem(spark, sf_dir):
    return _rounded_summary(spark, sf_dir, "lineitem", "l_returnflag", LINEITEM_COLS)


def q_summarize_sketch_quantiles(spark, sf_dir):
    """KLL sketch machinery (quantile_mode="sketch", gate_spark/kll.py)
    oracle-gated in its exact regime: with k >= the group row count no
    level ever compacts, so the mapInPandas partial-sketch ->
    applyInPandas merge pipeline returns nearest-rank-exact p50/p95 —
    the approximation is off but every line of sketch
    build/serialize/merge/query code runs and is hash-checked against
    the DuckDB nearest-rank twin. Compacted-regime accuracy is pinned
    separately (test_kll_sketch_mode_differential, ±2% rank band)."""
    s = summarize(
        _t(spark, sf_dir, "lineitem"),
        columns=list(LINEITEM_COLS),
        partition_key="l_returnflag",
        quantile_mode="sketch",
        sketch_k=1 << 17,
        persist=False,
    )
    return s.df.select(
        "l_returnflag", "column", *[_r6(F.col(c)).alias(c) for c in GATE_STATS]
    )


def q_summarize_orders_extras(spark, sf_dir):
    return _rounded_summary(
        spark, sf_dir, "orders", "o_orderpriority", ORDERS_COLS, extras=True
    )


def q_zscores_lineitem(spark, sf_dir):
    s = _summary_df(spark, sf_dir, "lineitem", "l_returnflag", LINEITEM_COLS)
    z = normalize(s.df, "l_returnflag", GATE_STATS)
    return z.select("l_returnflag", "column", "statistic", _r6(F.col("value")).alias("z"))


def q_zscores_clustered(spark, sf_dir):
    """The clustered drift path's feature reduction (D6/D7): mean |z|
    per (partition, cluster, statistic) with a deterministic name-rank
    cluster map — the SQL-reproducible stand-in for the engine's
    similarity-driven clusters (same reduce, pinned in test_drift.py)."""
    s = _summary_df(spark, sf_dir, "lineitem", "l_returnflag", LINEITEM_COLS)
    out = cluster_reduced_z(s, num_clusters=3)
    return out.select(
        "l_returnflag", "cluster", "statistic", _r6(F.col("value")).alias("z")
    )


def q_drifted_columns(spark, sf_dir):
    """The user-facing 'which columns drifted' answer (D13/D16): per-
    column top-|z| with dedup + limit, pinned against
    DriftResult.drifted_columns in test_drift.py."""
    s = _summary_df(spark, sf_dir, "lineitem", "l_returnflag", LINEITEM_COLS)
    out = drifted_columns_df(s, "R", limit=3)
    return out.select("column", "statistic", _r6(F.col("z")).alias("z"), "rank")


def q_drift_scores_events(spark, sf_dir):
    day = _events_day_view(spark, sf_dir)
    s = summarize(
        day,
        columns=list(EVENTS_COLS),
        partition_key="day",
        quantile_mode="nearest",
        persist=False,
    )
    v = drift_scores(s, k=3)
    return v.select(
        "partition",
        _r6(F.col("score")).alias("score"),
        _r6(F.col("score_percentile")).alias("score_percentile"),
        "is_drifted",
    )


def q_psi_ks_lineitem(spark, sf_dir):
    return distribution_drift(
        _t(spark, sf_dir, "lineitem"),
        "l_returnflag",
        "l_quantity",
        edges=[10.0, 20.0, 30.0, 40.0],
    ).select(
        "partition",
        _r6(F.col("psi")).alias("psi"),
        _r6(F.col("ks")).alias("ks"),
        "psi_drifted",
        "ks_drifted",
    )


def q_constraints_orders(spark, sf_dir):
    verdicts, _ = evaluate_constraints(
        _t(spark, sf_dir, "orders"), "o_orderpriority", ORDER_CONSTRAINTS,
        key_column="o_orderkey",
    )
    return verdicts


def q_token_constraints(spark, sf_dir):
    verdicts, _ = evaluate_constraints(
        _tokens_view(spark, sf_dir), "source", TOKEN_CONSTRAINTS, key_column="doc_id"
    )
    return verdicts


def q_token_violations(spark, sf_dir):
    _, violations = evaluate_constraints(
        _tokens_view(spark, sf_dir), "source", TOKEN_CONSTRAINTS, key_column="doc_id"
    )
    # unique_doc_id never fires on this view (doc_id is unique); the
    # oracle twin enumerates the three data-driven constraints.
    return violations.select("partition", "constraint", "key", "detail")


def q_mode_parity_lsh(spark, sf_dir):
    """In-engine parity gate for the LSH scale default (VERDICT r4
    missing-item 1): the symmetric difference of candidate-pair sets
    under bucket_mode="hash" (xxhash64 long bucket keys) vs "concat"
    (oracle strings) over the same signatures. Expected EMPTY — a
    non-empty row names the colliding pair and which mode produced it."""
    from gate_spark.localframe import local_df

    sigs = dd.minhash_signatures(
        _docs_dup_view(spark, sf_dir), "doc_id", "text", 16, 3, "xxhash"
    ).persist()
    try:
        out = {}
        for mode in ("hash", "concat"):
            pairs, _ = dd.lsh_candidate_pairs(
                sigs, "doc_id", num_bands=4, rows_per_band=4, bucket_mode=mode
            )
            out[mode] = pairs.select("id_a", "id_b", "n_bands")
        diff = (
            out["hash"].exceptAll(out["concat"]).withColumn("only_in", F.lit("hash"))
            .unionByName(
                out["concat"].exceptAll(out["hash"]).withColumn(
                    "only_in", F.lit("concat")
                )
            )
        )
        # evaluate the (expected-empty) difference eagerly so the
        # persisted signature frame can be released here instead of
        # leaking past the query's return (round-5 hygiene note)
        rows = diff.collect()
        return local_df(spark, [tuple(r) for r in rows], diff.schema)
    finally:
        sigs.unpersist()


def q_mode_parity_occ(spark, sf_dir):
    """In-engine parity gate for occ_value_mode="hash" (the pipeline
    scale default): summary rows whose occurrence_ratio or
    num_unique_values differ between fingerprint and exact value keys.
    Expected EMPTY."""
    from gate_spark.localframe import local_df

    docs = _t(spark, sf_dir, "documents")
    kw = dict(columns=["lang", "doc_id", "n_chars"], partition_key="source")
    sh = summarize(docs, occ_value_mode="hash", **kw)
    se = summarize(docs, occ_value_mode="exact", **kw)
    try:
        h = sh.df.select("source", "column", "occurrence_ratio", "num_unique_values")
        e = se.df.select("source", "column", "occurrence_ratio", "num_unique_values")
        diff = (
            h.exceptAll(e).withColumn("only_in", F.lit("hash"))
            .unionByName(e.exceptAll(h).withColumn("only_in", F.lit("exact")))
        )
        # eager evaluation for the same persisted-frame hygiene as
        # q_mode_parity_lsh (both summaries are persisted by default)
        rows = diff.collect()
        return local_df(spark, [tuple(r) for r in rows], diff.schema)
    finally:
        sh.unpersist()
        se.unpersist()


def q_dedup_exact(spark, sf_dir):
    return dd.exact_duplicates(
        _docs_dup_view(spark, sf_dir), "doc_id", "text", hash_mode="md5"
    )


def q_dedup_minhash(spark, sf_dir):
    out = dd.minhash_dedup(
        _docs_dup_view(spark, sf_dir),
        "doc_id",
        "text",
        num_perm=16,
        num_bands=4,
        shingle_size=3,
        threshold=0.5,
        hash_mode="md5",
    ).pairs
    return out.select("id_a", "id_b", "n_bands", _r6(F.col("est_jaccard")).alias("est_jaccard"))


def q_dedup_ngram_jaccard(spark, sf_dir):
    out = dd.ngram_jaccard_pairs(
        _docs_dup_view(spark, sf_dir), "doc_id", "text",
        n=3, threshold=0.5, max_gram_df=10_000_000, gram_mode="exact",
    )
    return out.select("id_a", "id_b", _r6(F.col("jaccard")).alias("jaccard"))


def q_simhash(spark, sf_dir):
    return dd.simhash(
        _t(spark, sf_dir, "documents"), "doc_id", "text", bits=16, hash_mode="md5"
    )


def q_fingerprint(spark, sf_dir):
    return ts.fingerprint(
        _t(spark, sf_dir, "documents"), "doc_id", "text", gram_chars=8, hash_mode="md5"
    )


def q_text_quality(spark, sf_dir):
    out = ts.text_statistics(_t(spark, sf_dir, "documents"), "doc_id", "text")
    return out.select(
        "doc_id",
        *[
            _r6(F.col(c)).alias(c)
            for c in [
                "n_chars", "n_words", "avg_word_len", "punct_ratio",
                "stopword_ratio", "quality_score",
            ]
        ],
    )


def q_language_id(spark, sf_dir):
    return ts.language_id(_t(spark, sf_dir, "documents"), "doc_id", "text")


def q_token_counts(spark, sf_dir):
    return ts.token_counts(_t(spark, sf_dir, "documents"), "doc_id", "text")


def q_knn_cosine(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    out = sim.cosine_topk(
        emb,
        emb.where(F.col("vec_id") < 5),
        corpus_id="vec_id",
        corpus_vec="embedding",
        query_id="vec_id",
        query_vec="embedding",
        k=5,
    )
    return out.select(
        "query_id", "neighbor_id", _r6(F.col("cosine")).alias("cosine"), "rank"
    )


def q_embedding_dims(spark, sf_dir):
    s = summarize(
        _t(spark, sf_dir, "embeddings"),
        embedding_column_map={"vec_id": "embedding"},
        partition_key="label",
        quantile_mode="nearest",
        compute_embedding_examples=False,
        persist=False,
    )
    return s.df.select(
        "label", "column", *[_r6(F.col(c)).alias(c) for c in GATE_STATS]
    )


def q_summarize_tokens(spark, sf_dir):
    """The north-star canonical job: per-source summaries of the token
    table (array column summarized over its lengths, SURVEY.md §1.3)."""
    s = summarize(
        _tokens_view(spark, sf_dir),
        columns=["n_tok", "tokens", "doc_id"],
        partition_key="source",
        quantile_mode="nearest",
        persist=False,
    )
    return s.df.select(
        "source", "column", *[_r6(F.col(c)).alias(c) for c in GATE_STATS]
    )


def q_embedding_near_dup(spark, sf_dir):
    """The LSH scale path (not brute force): banded sign-LSH buckets +
    exact cosine verification, with an md5-hash twin in the oracle."""
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    dups = emb.where(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    view = emb.unionByName(dups)
    out = dd.embedding_near_duplicates(
        view,
        "vec_id",
        "embedding",
        threshold=0.99,
        num_planes=8,
        num_bands=4,
        hash_mode="md5",
    ).pairs
    return out.select("id_a", "id_b", _r6(F.col("cosine")).alias("cosine"))


def q_embedding_near_dup_arrow(spark, sf_dir):
    """The ACTUAL Arrow-matmul scale path (_sign_buckets_udf +
    cosine_pairs_udf), oracle-gated: plane weights are md5-derived so
    the DuckDB twin rebuilds the packed bucket keys bit-for-bit."""
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    dups = emb.where(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    view = emb.unionByName(dups)
    out = dd.embedding_near_duplicates(
        view,
        "vec_id",
        "embedding",
        threshold=0.99,
        num_planes=8,
        num_bands=4,
        hash_mode="md5_arrow",
    ).pairs
    return out.select("id_a", "id_b", _r6(F.col("cosine")).alias("cosine"))


def q_ann_ivf(spark, sf_dir):
    """IVF approximate top-k (scale path of knn_cosine), made
    oracle-checkable by fixing deterministic centroids: cell j is the
    embedding of seed vector vec_id=j (the trained-k-means path is
    pinned separately by test_similarity_text.py's recall test)."""
    emb = _t(spark, sf_dir, "embeddings")
    cents = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").cast("int").alias("cell"), F.col("embedding").alias("vec")
    )
    return sim.ivf_topk(
        emb,
        emb.where(F.col("vec_id") < 5),
        corpus_id="vec_id",
        corpus_vec="embedding",
        query_id="vec_id",
        query_vec="embedding",
        k=5,
        nprobe=4,
        centroids=cents,
    ).select("query_id", "neighbor_id", _r6(F.col("cosine")).alias("cosine"), "rank")


SKETCH_EDGES = [100.0, 300.0, 1000.0, 3000.0]


def q_sketch_merge(spark, sf_dir):
    """Mergeable sketch state (north-rule lineage payload): per-source
    sketches of documents merged to GLOBAL stats — exactly-mergeable
    moments plus the merged fixed-edge histogram of n_chars exploded to
    (bin, bin_count) rows. Validates that resume-from-checkpoint
    rebuilds global statistics correctly (gate_spark/sketches.py)."""
    from gate_spark import sketches as sk

    docs = _t(spark, sf_dir, "documents")
    skt = sk.column_sketches(
        docs, ["n_chars", "lang"], "source",
        hist_edges={"n_chars": SKETCH_EDGES},
    )
    m = sk.merge_sketches(skt)
    return m.select(
        "column",
        F.col("rows").alias("n_rows"),
        "n",
        _r6(F.col("coverage")).alias("coverage"),
        _r6(F.col("mean")).alias("mean"),
        _r6(F.col("stddev")).alias("stddev"),
        _r6(F.col("min")).alias("min_v"),
        _r6(F.col("max")).alias("max_v"),
        F.posexplode_outer("hist").alias("bin", "bin_count"),
    )


def q_trailing_zscore_events(spark, sf_dir):
    from pyspark.sql import Window

    daily = (
        _t(spark, sf_dir, "events")
        .groupBy("event_type", F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"), F.avg("value").alias("mean_value"))
    )
    w = Window.partitionBy("event_type").orderBy("day").rowsBetween(-7, -1)
    z = (F.col("n").cast("double") - F.avg(F.col("n").cast("double")).over(w)) / (
        F.stddev_samp(F.col("n").cast("double")).over(w) + F.lit(1e-10)
    )
    return daily.select(
        "event_type",
        "day",
        F.col("n").cast("long").alias("n"),
        _r6(F.col("mean_value")).alias("mean_value"),
        _r6(z).alias("z_n"),
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the per-partition summary in scale mode (sketch
    quantiles; distinct counts from the occurrence pass) over lineitem
    at sf0.001."""
    df = _t(spark, "/root/testdata/sf0.001", "lineitem")
    s = summarize(
        df,
        columns=list(LINEITEM_COLS),
        partition_key="l_returnflag",
        quantile_mode="approx",
        extras=True,
        persist=False,
    )
    return s.df


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "summarize_lineitem": q_summarize_lineitem,
        "summarize_sketch_quantiles": q_summarize_sketch_quantiles,
        "summarize_orders_extras": q_summarize_orders_extras,
        "zscores_lineitem": q_zscores_lineitem,
        "zscores_clustered": q_zscores_clustered,
        "drifted_columns": q_drifted_columns,
        "drift_scores_events": q_drift_scores_events,
        "psi_ks_lineitem": q_psi_ks_lineitem,
        "constraints_orders": q_constraints_orders,
        "token_constraints": q_token_constraints,
        "token_violations": q_token_violations,
        "mode_parity_lsh": q_mode_parity_lsh,
        "mode_parity_occ": q_mode_parity_occ,
        "dedup_exact": q_dedup_exact,
        "dedup_minhash": q_dedup_minhash,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "simhash": q_simhash,
        "fingerprint": q_fingerprint,
        "text_quality": q_text_quality,
        "language_id": q_language_id,
        "token_counts": q_token_counts,
        "knn_cosine": q_knn_cosine,
        "embedding_dims": q_embedding_dims,
        "summarize_tokens": q_summarize_tokens,
        "embedding_near_dup": q_embedding_near_dup,
        "embedding_near_dup_arrow": q_embedding_near_dup_arrow,
        "ann_ivf": q_ann_ivf,
        "sketch_merge": q_sketch_merge,
        "trailing_zscore_events": q_trailing_zscore_events,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "summarize_lineitem": oracles.summary_sql(
            "lineitem", "l_returnflag", LINEITEM_COLS
        ),
        # the sketch query's uncompacted KLL quantiles are bit-identical
        # to nearest-rank exact, so the oracle is the same twin SQL
        "summarize_sketch_quantiles": oracles.summary_sql(
            "lineitem", "l_returnflag", LINEITEM_COLS
        ),
        "summarize_orders_extras": oracles.summary_sql(
            "orders", "o_orderpriority", ORDERS_COLS, extras=True
        ),
        "zscores_lineitem": oracles.zscore_sql(
            oracles.summary_sql("lineitem", "l_returnflag", LINEITEM_COLS, round6=False),
            "l_returnflag",
        ),
        "zscores_clustered": oracles.zscore_clustered_sql(
            oracles.summary_sql("lineitem", "l_returnflag", LINEITEM_COLS, round6=False),
            "l_returnflag",
            num_clusters=3,
        ),
        "drifted_columns": oracles.drifted_columns_sql(
            oracles.summary_sql("lineitem", "l_returnflag", LINEITEM_COLS, round6=False),
            "l_returnflag",
            "R",
            limit=3,
        ),
        "drift_scores_events": oracles.knn_drift_scores_sql(
            oracles.summary_sql(
                f"({oracles.EVENTS_DAY_VIEW})", "day", EVENTS_COLS, round6=False
            ),
            "day",
            k=3,
        ),
        "psi_ks_lineitem": oracles.psi_ks_sql(
            "lineitem", "l_returnflag", "l_quantity", [10.0, 20.0, 30.0, 40.0]
        ),
        "constraints_orders": oracles.orders_constraints_sql(),
        "token_constraints": oracles.token_constraints_sql(),
        "token_violations": oracles.token_violations_sql(),
        # parity gates: the engine computes the symmetric difference of
        # its scale-default hash modes vs the exact modes; the oracle is
        # the EXPECTED-EMPTY relation with the same schema, so any mode
        # divergence fails rows+hash in the driver artifact
        "mode_parity_lsh": (
            "SELECT CAST(NULL AS BIGINT) AS id_a, CAST(NULL AS BIGINT) AS id_b,"
            " CAST(NULL AS BIGINT) AS n_bands, CAST(NULL AS VARCHAR) AS only_in"
            " WHERE 1=0"
        ),
        "mode_parity_occ": (
            "SELECT CAST(NULL AS VARCHAR) AS source, CAST(NULL AS VARCHAR) AS \"column\","
            " CAST(NULL AS REAL) AS occurrence_ratio,"
            " CAST(NULL AS REAL) AS num_unique_values,"
            " CAST(NULL AS VARCHAR) AS only_in WHERE 1=0"
        ),
        "dedup_exact": oracles.exact_duplicates_sql(),
        "dedup_minhash": oracles.minhash_sql(16, 4, 0.5),
        "dedup_ngram_jaccard": oracles.ngram_jaccard_sql(0.5),
        "simhash": oracles.simhash_sql(16),
        "fingerprint": oracles.fingerprint_sql(),
        "text_quality": oracles.text_quality_sql(),
        "language_id": oracles.language_id_sql(),
        "token_counts": oracles.token_counts_sql(),
        "knn_cosine": oracles.knn_cosine_sql(5, 5),
        "embedding_dims": oracles.embedding_dims_sql(64),
        "summarize_tokens": oracles.token_summary_sql(),
        "embedding_near_dup": oracles.embedding_near_dup_sql(
            0.99, num_planes=8, num_bands=4
        ),
        "embedding_near_dup_arrow": oracles.embedding_near_dup_arrow_sql(
            0.99, num_planes=8, num_bands=4
        ),
        "ann_ivf": oracles.ann_ivf_sql(k=5, num_queries=5, num_cells=8, nprobe=4),
        "sketch_merge": oracles.sketch_merge_sql(SKETCH_EDGES),
        "trailing_zscore_events": oracles.trailing_zscore_events_sql(7),
    }
