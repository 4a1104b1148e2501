"""Similarity search (brute-force vs numpy oracle; IVF recall) and
text-analysis operators."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from gate_spark.operators import similarity as sim
from gate_spark.operators import textstats as ts


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()


def _numpy_topk(mat, ids, qidx, k):
    norms = np.linalg.norm(mat, axis=1)
    out = {}
    for qi in qidx:
        cos = (mat @ mat[qi]) / (norms * norms[qi])
        order = sorted(
            (i for i in range(len(mat)) if i != qi),
            key=lambda i: (-cos[i], ids[i]),
        )
        out[ids[qi]] = [ids[i] for i in order[:k]]
    return out


def test_cosine_topk_matches_numpy(emb):
    pdf = emb.orderBy("vec_id").toPandas()
    mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    ids = pdf["vec_id"].tolist()
    expected = _numpy_topk(mat, ids, range(3), k=5)

    out = sim.cosine_topk(
        emb, emb.where(F.col("vec_id") < 3),
        corpus_id="vec_id", corpus_vec="embedding",
        query_id="vec_id", query_vec="embedding", k=5,
    ).toPandas()
    for qid, grp in out.groupby("query_id"):
        got = grp.sort_values("rank")["neighbor_id"].tolist()
        assert got == expected[qid], f"query {qid}"


def test_cosine_topk_chunked_queries(emb):
    """A query set wider than query_chunk_size must produce the exact
    same top-k as the single-chunk path: the union of per-chunk
    candidate frames is reduced by one exact final top-k, so chunking
    is invisible in the output (the former small-query-batch contract
    cliff is gone)."""
    queries = emb.where(F.col("vec_id") < 9)  # 9 queries, chunk=4 -> 3 chunks
    kw = dict(
        corpus_id="vec_id", corpus_vec="embedding",
        query_id="vec_id", query_vec="embedding", k=5,
    )
    one = sim.cosine_topk(emb, queries, **kw).toPandas()
    chunked = sim.cosine_topk(emb, queries, query_chunk_size=4, **kw).toPandas()
    cols = ["query_id", "rank"]
    one = one.sort_values(cols).reset_index(drop=True)
    chunked = chunked.sort_values(cols).reset_index(drop=True)
    assert one["neighbor_id"].tolist() == chunked["neighbor_id"].tolist()
    assert np.allclose(one["cosine"], chunked["cosine"])


@pytest.mark.parametrize("chunk", [1, 8192])
def test_duplicate_query_ids_rank_each_neighbor_once(emb, chunk):
    """A query id that occurs twice (across chunks at chunk size 1, in
    one chunk at the default) gets each neighbor at one rank: the same
    top-k as the query occurring once at the same chunk size."""
    queries = emb.where(F.col("vec_id") < 3)
    kw = dict(
        corpus_id="vec_id", corpus_vec="embedding",
        query_id="vec_id", query_vec="embedding", k=3, query_chunk_size=chunk,
    )
    cols = ["query_id", "rank"]
    once = sim.cosine_topk(emb, queries, **kw).toPandas().sort_values(cols)
    twice = (
        sim.cosine_topk(emb, queries.unionByName(queries), **kw)
        .toPandas()
        .sort_values(cols)
    )
    assert twice["rank"].tolist() == once["rank"].tolist()
    assert twice["neighbor_id"].tolist() == once["neighbor_id"].tolist()
    assert np.allclose(twice["cosine"], once["cosine"], rtol=1e-12, atol=0)


def test_chunked_broadcasts_do_not_accumulate(emb):
    """Round-4 hygiene item: every multi-chunk broadcast must be
    destroy()ed once its chunk's top-k is materialized — a 1,200-chunk
    run must not hold 1,200 live broadcasts — and the combined plan
    must be a log-depth tree, not a chunks-long union spine."""
    before = dict(sim.BROADCAST_AUDIT)
    queries = emb.where(F.col("vec_id") < 12)  # 12 queries, chunk=2 -> 6 chunks
    out = sim.cosine_topk(
        emb, queries, query_chunk_size=2,
        corpus_id="vec_id", corpus_vec="embedding",
        query_id="vec_id", query_vec="embedding", k=3,
    )
    created = sim.BROADCAST_AUDIT["created"] - before["created"]
    destroyed = sim.BROADCAST_AUDIT["destroyed"] - before["destroyed"]
    assert created == 6
    assert destroyed == created  # zero live broadcasts left behind
    assert out.count() == 12 * 3
    # and the answer still matches the single-chunk path
    one = sim.cosine_topk(
        emb, queries,
        corpus_id="vec_id", corpus_vec="embedding",
        query_id="vec_id", query_vec="embedding", k=3,
    ).toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    many = out.toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    assert one["neighbor_id"].tolist() == many["neighbor_id"].tolist()


def test_ivf_topk_recall(emb):
    exact = sim.cosine_topk(
        emb, emb.where(F.col("vec_id") < 5),
        corpus_id="vec_id", corpus_vec="embedding",
        query_id="vec_id", query_vec="embedding", k=10,
    ).toPandas()
    approx = sim.ivf_topk(
        emb, emb.where(F.col("vec_id") < 5),
        corpus_id="vec_id", corpus_vec="embedding",
        query_id="vec_id", query_vec="embedding",
        k=10, num_cells=8, nprobe=4,
    ).toPandas()
    recalls = []
    for qid in exact["query_id"].unique():
        e = set(exact[exact["query_id"] == qid]["neighbor_id"])
        a = set(approx[approx["query_id"] == qid]["neighbor_id"])
        recalls.append(len(e & a) / len(e))
    # nprobe=4 of 8 cells on random vectors: recall well above chance
    assert np.mean(recalls) >= 0.5


def test_text_statistics_exact(spark):
    df = spark.createDataFrame(
        [(1, "The cat and the dog!"), (2, "word " * 20)], ["doc_id", "text"]
    )
    out = {
        r["doc_id"]: r for r in ts.text_statistics(df, "doc_id", "text").collect()
    }
    r1 = out[1]
    assert r1["n_words"] == 5.0
    assert r1["n_chars"] == 20.0
    # "The cat and the dog!" -> words lens 3,3,3,3,4 = 16/5
    assert abs(r1["avg_word_len"] - 16 / 5) < 1e-9
    assert abs(r1["punct_ratio"] - 1 / 20) < 1e-9
    # stopwords: "the"(x2, case-insensitive) + "and" = 3/5
    assert abs(r1["stopword_ratio"] - 3 / 5) < 1e-9


def test_language_id_heuristic(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat is in the house and it was for sale"),
            (2, "el perro que corre en la casa de los vecinos"),
            (3, "der Hund ist nicht auf der Couch und das Haus"),
            (4, "le chat est dans les jardins du village et une maison"),
            (5, "这是一个中文句子用于测试语言识别功能"),
            (6, "zzz qqq xxx www"),
        ],
        ["doc_id", "text"],
    )
    out = dict(
        (r["doc_id"], r["pred_lang"])
        for r in ts.language_id(df, "doc_id", "text").collect()
    )
    assert out == {1: "en", 2: "es", 3: "de", 4: "fr", 5: "zh", 6: "und"}


def test_token_counts(spark):
    df = spark.createDataFrame([(1, "Hello, world 42!")], ["doc_id", "text"])
    r = ts.token_counts(df, "doc_id", "text").first()
    assert r["ws_tokens"] == 3
    # BPE-ish: Hello , world 4 2 !  -> 6
    assert r["bpe_tokens"] == 6


def test_fingerprint_stability(spark):
    df = spark.createDataFrame(
        [(1, "a" * 50), (2, "a" * 50), (3, "b" * 50)], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r["fingerprint"] for r in ts.fingerprint(df, "doc_id", "text").collect()}
    assert out[1] == out[2]
    assert out[1] != out[3]


def test_cosine_zero_norm_null_both_impls(spark):
    """ADVICE parity pin: a zero-norm vector must yield NULL cosine in
    BOTH impls (HOF try_divide and Arrow NaN->NULL) — never a
    DIVIDE_BY_ZERO error under ANSI mode, never a silent divergence."""
    from gate_spark.operators.similarity import cosine_expr, cosine_pairs_udf

    df = spark.createDataFrame(
        [([0.0, 0.0], [1.0, 2.0]), ([1.0, 0.0], [1.0, 0.0])],
        "a array<double>, b array<double>",
    )
    hof = df.select(cosine_expr(F.col("a"), F.col("b")).alias("c")).collect()
    arrow = df.select(cosine_pairs_udf()(F.col("a"), F.col("b")).alias("c")).collect()
    assert [r["c"] for r in hof] == [r["c"] for r in arrow] == [None, 1.0]


def test_word_length_sum_rewrite_matches_hof(spark):
    """Differential pin for the round-5 avg-word-len rewrite: the
    whitespace-stripped length (codegen) must equal the HOF aggregate
    sum of split-token lengths it replaced, on adversarial
    tokenization cases (attached punctuation, leading/trailing/multi
    whitespace, empty string, hyphenated tokens); and the shipped
    stopword HOF must match a Python reference count."""
    import re

    from gate_spark.operators.textstats import STOPWORDS, WORD_SPLIT_RE, _stopword_hits

    rows = [
        (1, "theory thesis the and androids"),      # prefix traps
        (2, "the, the. the the"),                   # attached punct + adjacent
        (3, "  the   and  "),                       # edge/multi whitespace
        (4, "THE AND Is oF"),                       # case
        (5, ""),                                    # empty
        (6, "of-the-record of the record"),         # hyphenated non-token
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    all_stop = sorted({w for ws in STOPWORDS.values() for w in ws})
    words = F.split(F.lower(F.col("text")), WORD_SPLIT_RE)
    out = df.select(
        "doc_id",
        _stopword_hits(words, all_stop).alias("stop_hits"),
        F.length(F.regexp_replace(F.col("text"), WORD_SPLIT_RE, "")).alias("sum_len_re"),
        F.aggregate(
            F.split(F.col("text"), WORD_SPLIT_RE),
            F.lit(0),
            lambda acc, w: acc + F.length(w),
        ).alias("sum_len_hof"),
    ).collect()
    texts = dict(rows)
    for r in out:
        assert r["sum_len_re"] == r["sum_len_hof"], r
        expected = sum(
            w in all_stop for w in re.split(r"\s+", texts[r["doc_id"]].lower())
        )
        assert r["stop_hits"] == expected, r


def test_fingerprint_arrow_mode(spark):
    """Arrow scale path: equal content -> equal stamp, distinct content
    -> distinct stamp, short/None docs handled, and values are
    deterministic across two separate executions."""
    df = spark.createDataFrame(
        [(1, "a" * 50), (2, "a" * 50), (3, "b" * 50), (4, "xy"), (5, None)],
        ["doc_id", "text"],
    )
    runs = []
    for _ in range(2):
        runs.append({
            r["doc_id"]: r["fingerprint"]
            for r in ts.fingerprint(
                df, "doc_id", "text", hash_mode="arrow"
            ).collect()
        })
    out = runs[0]
    assert out == runs[1]                       # deterministic across runs
    assert out[1] == out[2]
    assert out[1] != out[3]
    assert isinstance(out[4], int)  # short doc: one gram (the doc itself)
    assert out[5] is None           # null text -> null fingerprint
    assert isinstance(out[2], int)
