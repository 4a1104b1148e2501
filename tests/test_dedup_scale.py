"""Scale-safety regressions for the candidate-pair generators:

- ngram_jaccard must not self-join the full gram table (a stopword
  gram shared by every doc used to square the plan);
- sign-LSH recall vs brute force is pinned;
- bucket-cap drops are observable (never silently lost);
- the MinHash signature cache is exposed for unpersist;
- dedup/uniqueness joins complete with dupes ~ N/2 (no forced
  broadcast of an unbounded duplicate set).
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from gate_spark.operators import dedup as dd


def test_ngram_stopword_gram_no_quadratic_stage(spark):
    """1000 docs all share one stopword 3-gram; with a tight
    max_gram_df the only candidates are the planted near-dup pair.
    The optimized plan computes the exact intersection via
    array_intersect on candidate gram-sets — there is no join of the
    full gram table to itself (the old plan materialized
    ~(1000 choose 2) rows for the shared gram before any filter)."""
    rows = [(i, f"the common shared gram plus unique{i} word{i} tail{i}") for i in range(1000)]
    # planted near-dup pair with rare grams
    rows.append((5000, "alpha beta gamma delta epsilon zeta eta theta"))
    rows.append((5001, "alpha beta gamma delta epsilon zeta eta iota"))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = dd.ngram_jaccard_pairs(df, "doc_id", "text", n=3, threshold=0.4, max_gram_df=5)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "array_intersect" in plan  # candidate-scoped exact intersection
    pdf = out.toPandas()
    assert {(a, b) for a, b in zip(pdf["id_a"], pdf["id_b"])} == {(5000, 5001)}
    # 6 shared grams of 6-gram sets: jaccard = 4/8... verify the exact value
    j = float(pdf["jaccard"].iloc[0])
    assert 0.4 <= j < 1.0


def test_ngram_exactness_unaffected_by_gram_df_cap(spark):
    """The df cap bounds candidate GENERATION only; surviving pairs
    still get exact Jaccard over FULL gram sets (including capped
    grams)."""
    # docs 0/1 share a rare gram (candidates) AND a stopword gram
    # shared by everyone (capped out of generation, but it must still
    # count toward the intersection).
    rows = [(i, f"stop word gram filler{i} noise{i}") for i in range(2, 30)]
    rows.append((0, "stop word gram rare anchor phrase one"))
    rows.append((1, "stop word gram rare anchor phrase two"))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = dd.ngram_jaccard_pairs(
        df, "doc_id", "text", n=3, threshold=0.1, max_gram_df=5
    ).toPandas()
    pair = out[(out["id_a"] == 0) & (out["id_b"] == 1)]
    assert len(pair) == 1
    # grams0 = {stop word gram, word gram rare, gram rare anchor,
    #           rare anchor phrase, anchor phrase one} (5 grams);
    # intersection includes the capped 'stop word gram' -> 4 common
    assert abs(float(pair["jaccard"].iloc[0]) - 4.0 / 6.0) < 1e-9


def test_lsh_bucket_drop_is_observable(spark):
    """Oversized buckets drop their members from candidate generation;
    the exclusions are auditable via the dropped_bucket_members
    diagnostic DataFrame."""
    rows = [(i, "identical text for every doc") for i in range(30)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = dd.minhash_dedup(
        df, "doc_id", "text",
        num_perm=16, num_bands=4, threshold=0.0,
        max_bucket_size=10,
    )
    assert pairs.pairs.count() == 0  # every bucket oversize -> all dropped
    # 30 ids x 4 bands, all in oversized buckets
    assert pairs.dropped_bucket_members.count() == 120
    assert pairs.dropped_bucket_members.agg(
        F.max("bucket_size")
    ).first()[0] == 30
    pairs.unpersist()

    # the embedding LSH path exposes the same audit
    import numpy as np

    vecs = [(i, np.ones(8).tolist()) for i in range(25)]
    near = dd.embedding_near_duplicates(
        spark.createDataFrame(vecs, ["vec_id", "vec"]),
        "vec_id", "vec", threshold=0.5,
        num_planes=4, num_bands=2, max_bucket_size=10,
    )
    assert near.pairs.count() == 0  # identical vectors, but buckets capped
    assert near.dropped_bucket_members.count() == 50  # 25 ids x 2 bands


def test_minhash_signature_cache_exposed(spark):
    rows = [(i, f"some text body number {i}") for i in range(20)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    res = dd.minhash_dedup(df, "doc_id", "text", num_perm=16, num_bands=4)
    res.pairs.count()
    sigs = res.signatures
    assert sigs.storageLevel.useMemory  # persisted
    res.unpersist()
    assert not sigs.storageLevel.useMemory


def test_embedding_lsh_recall_vs_brute_force(spark):
    """Banded sign-LSH recall at cosine>=0.95, pinned against the exact
    brute-force pairs: 8 planes x 8 bands => per-pair miss probability
    (1 - (1-acos(c)/pi)^8)^8 ~ 1% at c=0.95, so recall >= 0.9 on 40
    planted pairs is deterministic-safe (hashes and data are seeded)."""
    rng = np.random.RandomState(7)
    dim = 16
    base = rng.standard_normal((200, dim)).astype("float32")
    rows = [(i, base[i].tolist()) for i in range(200)]
    for j in range(40):  # planted near-dups: small perturbation
        v = base[j] + 0.05 * rng.standard_normal(dim).astype("float32")
        rows.append((1000 + j, v.tolist()))
    df = spark.createDataFrame(rows, ["vec_id", "vec"])
    exact = dd.embedding_near_duplicates(
        df, "vec_id", "vec", threshold=0.95, brute_force=True
    ).pairs.toPandas()
    truth = {(a, b) for a, b in zip(exact["id_a"], exact["id_b"])}
    assert len(truth) >= 35  # most perturbations stay above 0.95
    lsh = dd.embedding_near_duplicates(
        df, "vec_id", "vec", threshold=0.95, num_planes=8, num_bands=8
    ).pairs.toPandas()
    got = {(a, b) for a, b in zip(lsh["id_a"], lsh["id_b"])}
    assert got <= truth  # exact verification: no false positives
    assert len(got & truth) / len(truth) >= 0.9


def test_heavy_duplicate_set_completes(spark):
    """dup_frac=0.5 datagen: the duplicated-key side of the uniqueness
    join is ~N/4 rows (unbounded in general) — the plan must not force
    a broadcast of it. Completes and counts exactly."""
    from gate_spark.datagen import token_table
    from gate_spark.pipeline import validate_tokens

    df = token_table(
        spark, 300_000, dup_frac=0.5, mean_len=8, num_partitions=8
    )
    res = validate_tokens(df, compute_drift=False)
    v = res.verdicts.toPandas()
    dup_rows = int(
        v[v["constraint"] == "unique_doc_id"]["violation_count"].sum()
    )
    total = int(v[v["constraint"] == "unique_doc_id"]["row_count"].sum())
    assert total == 300_000
    # doc-k is shared iff row k kept its id (p=1/2) AND row k+1 reused
    # it (p=1/2) -> 1/4 of ids, each contributing 2 violating rows:
    # expect ~150k
    assert 120_000 < dup_rows < 180_000
    res.unpersist()
