"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the exactness baseline, and an IVF
(inverted-file) variant as the scale path: vectors are assigned to the
nearest of C coarse centroids (trained on a driver-side sample), the
query probes only the ``nprobe`` nearest cells, and the candidate set
shrinks by ~C/nprobe.

All vector math is Arrow-batched numpy: one ``(batch x dim) @ (dim x
queries)`` matmul per Arrow batch against a broadcast query matrix,
with per-batch partial top-k (``O(batch)`` argpartition-style
selection), so the final shuffle carries ``batches x queries x k``
candidate rows, NOT the ``|corpus| x |queries|`` score table, and no
full sort ever runs over it. ``cosine_expr`` is the Catalyst
sequential-fold twin of the same cosine, whose double-precision
evaluation order a DuckDB ``list_sum(list_transform(...))`` reproduces
bit-for-bit; ``dedup``'s ``"md5"`` oracle mode verifies pairs with it.
"""

from __future__ import annotations

from itertools import islice

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def dot_expr(a: Column, b: Column) -> Column:
    """Sequential-order double-precision dot product (matches a SQL
    oracle's list_sum(list_transform(...)) fold exactly)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm_expr(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )


def cosine_expr(a: Column, b: Column) -> Column:
    # try_divide, not "/": under ANSI mode a zero-norm vector would
    # otherwise throw DIVIDE_BY_ZERO and fail the whole job on one bad
    # row. try_divide yields NULL for a zero denominator — the same
    # observable behavior as the Arrow path (whose NaN becomes SQL NULL
    # across Arrow serialization), so both impls drop zero-norm pairs
    # from >= threshold filters instead of diverging.
    return F.try_divide(dot_expr(a, b), norm_expr(a) * norm_expr(b))


def cosine_pairs_udf():
    """Arrow-batched pairwise cosine: one einsum per batch instead of
    ``dim`` interpreted multiply-adds per row. Float64 throughout.

    Zero-norm semantics (both impls agree): the numpy division yields
    NaN, which Arrow serialization converts to SQL NULL — zero-norm
    pairs are therefore NULL and get dropped by ``>= threshold``
    filters; the HOF path's try_divide returns NULL for the same
    rows."""

    @F.pandas_udf("double")
    def _cos(va: pd.Series, vb: pd.Series) -> pd.Series:
        n = len(va)
        if n == 0:
            return pd.Series(np.zeros(0, dtype=np.float64))
        # null vectors -> null cosine (HOF-division parity); guard also
        # keeps np.array from building a ragged object array
        valid = np.array(
            [a is not None and b is not None for a, b in zip(va, vb)]
        )
        out = np.full(n, np.nan)
        if valid.any():
            x = np.array(va[valid].tolist(), dtype=np.float64)
            y = np.array(vb[valid].tolist(), dtype=np.float64)
            num = np.einsum("ij,ij->i", x, y)
            den = np.linalg.norm(x, axis=1) * np.linalg.norm(y, axis=1)
            with np.errstate(divide="ignore", invalid="ignore"):
                out[valid] = num / den
        return pd.Series(out)

    return _cos


def _partial_topk(scored: DataFrame, k: int) -> DataFrame:
    """Per-Arrow-batch partial top-k over a (query_id, neighbor_id,
    cosine) table: each batch contributes at most k rows per query
    (ordered cosine desc, neighbor_id asc), which is sufficient — every
    global top-k row is by definition within the top-k of its own
    batch. Runs with NO shuffle (mapInPandas is per-partition); the
    downstream exact top-k then sorts only ``batches x queries x k``
    rows instead of the full score table."""
    schema = scored.schema

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            yield (
                pdf.sort_values(["cosine", "neighbor_id"], ascending=[False, True])
                .groupby("query_id", sort=False)
                .head(k)
            )

    return scored.mapInPandas(gen, schema)


# diagnostic counters for the chunked cosine_topk path, updated per
# call: tests assert broadcasts never accumulate (created == destroyed
# on every multi-chunk run).
BROADCAST_AUDIT = {"created": 0, "destroyed": 0}


def _tree_union(dfs: list) -> DataFrame:
    """Balanced union: log-depth plan instead of a left-deep chain —
    a 1,200-chunk run builds a ~11-level tree, not a 1,200-branch
    spine on the driver."""
    while len(dfs) > 1:
        dfs = [
            dfs[i].unionByName(dfs[i + 1]) if i + 1 < len(dfs) else dfs[i]
            for i in range(0, len(dfs), 2)
        ]
    return dfs[0]


def _finish_topk(cand: DataFrame, k: int) -> DataFrame:
    """Exact final top-k over the (already partially-reduced) candidate
    table. The window sort here runs over metadata-scale input. A query
    id that occurs twice yields each neighbor twice: the pair collapses
    to its max cosine, inside the window's one query_id shuffle."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.repartition("query_id")
        .groupBy("query_id", "neighbor_id")
        .agg(F.max("cosine").alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    corpus_id: str,
    corpus_vec: str,
    query_id: str,
    query_vec: str,
    k: int = 10,
    query_chunk_size: int = 8192,
) -> DataFrame:
    """Exact brute-force cosine top-k: (query_id, neighbor_id, cosine,
    rank), rank 1..k, self-match excluded, ties broken by neighbor id.

    Queries are streamed driver-side in bounded chunks of
    ``query_chunk_size`` rows (``toLocalIterator`` — driver peak memory
    is one query partition, never the whole table); each chunk is
    broadcast as one numpy matrix and scored in a single corpus scan,
    so an arbitrarily large query table degrades gracefully to
    ``ceil(|queries|/chunk)`` corpus scans with per-task score-matrix
    width capped at ``batch x chunk`` — no contract cliff.

    Per Arrow batch, scores = ``(X @ Q.T) / outer(|x|, |q|)`` — a
    single BLAS matmul — followed by in-batch partial top-k, so neither
    the |corpus| x |queries| score table nor a full window sort ever
    materializes.
    """
    q = queries.select(
        F.col(query_id).alias("query_id"), F.col(query_vec).alias("_qv")
    )
    spark = corpus.sparkSession
    qid_type = queries.schema[query_id].dataType
    nid_type = corpus.schema[corpus_id].dataType
    out_schema = T.StructType(
        [
            T.StructField("query_id", qid_type),
            T.StructField("neighbor_id", nid_type),
            T.StructField("cosine", T.DoubleType()),
        ]
    )

    def chunk_candidates(chunk_rows):
        qids = np.array([r["query_id"] for r in chunk_rows])
        qmat = np.array([r["_qv"] for r in chunk_rows], dtype=np.float64)
        qnorm = np.linalg.norm(qmat, axis=1)
        bc = spark.sparkContext.broadcast((qids, qmat, qnorm))
        BROADCAST_AUDIT["created"] += 1

        def gen(batches):
            b_qids, b_q, b_qn = bc.value
            nq = len(b_qids)
            for pdf in batches:
                if nq == 0:
                    continue
                pdf = pdf[pdf[corpus_vec].notna()]  # null vectors never rank
                if len(pdf) == 0:
                    continue
                ids = pdf[corpus_id].to_numpy()
                x = np.array(pdf[corpus_vec].tolist(), dtype=np.float64)
                xn = np.linalg.norm(x, axis=1)
                with np.errstate(divide="ignore", invalid="ignore"):
                    scores = (x @ b_q.T) / (xn[:, None] * b_qn[None, :])
                out_q, out_n, out_s = [], [], []
                for j in range(nq):
                    s = scores[:, j]
                    mask = ids != b_qids[j]  # exclude self-match
                    cand_ids, cand_s = ids[mask], s[mask]
                    if len(cand_ids) == 0:
                        continue
                    # exact in-batch top-k under (cosine desc, id asc):
                    # lexsort is stable and vectorized; batch-local n log n.
                    order = np.lexsort((cand_ids, -cand_s))[:k]
                    out_q.extend([b_qids[j]] * len(order))
                    out_n.extend(cand_ids[order])
                    out_s.extend(cand_s[order])
                if out_q:
                    yield pd.DataFrame(
                        {"query_id": out_q, "neighbor_id": out_n, "cosine": out_s}
                    )

        return corpus.select(corpus_id, corpus_vec).mapInPandas(gen, out_schema), bc

    # Stream query chunks with bounded driver memory (toLocalIterator:
    # at most one chunk of rows held at a time). The single-chunk case
    # — the common gate workload — keeps the fully lazy plan with its
    # one broadcast (reclaimed with the session). Multi-chunk runs
    # materialize each chunk's EXACT top-k before moving on: chunks
    # partition the queries disjointly, so the global answer is the
    # union of per-chunk answers, each only |chunk| x k rows; the
    # chunk's broadcast is then destroy()ed, so live broadcasts never
    # accumulate (round-4 hygiene item), and the persisted pieces are
    # combined with a log-depth tree union instead of a
    # chunks-long left-deep spine. On a real cluster, pieces would be
    # scratch-table writes; persisted LocalTableScan-sized frames are
    # the local-mode equivalent.
    chunk_size = max(1, int(query_chunk_size))
    # Single-chunk fast path (the common gate workload): ONE take()
    # job fetches up to chunk+1 rows — toLocalIterator schedules one
    # job per query partition sequentially, which for a small query
    # table meant 2-4 driver-blocking jobs before scoring even started.
    probe = q.take(chunk_size + 1)
    if not probe:  # empty query table
        return _finish_topk(spark.createDataFrame([], out_schema), k)
    if len(probe) <= chunk_size:
        cand, _bc = chunk_candidates(probe)
        return _finish_topk(cand, k)

    # multi-chunk: stream with bounded driver memory as before (the
    # probe rows are discarded — take() and toLocalIterator need not
    # agree on row order, so chunks must all come from one traversal)
    it = q.toLocalIterator()
    first = list(islice(it, chunk_size))
    pieces: list = []

    def run_chunk(rows):
        cand, bc = chunk_candidates(rows)
        # localCheckpoint (eager) TRUNCATES the lineage — a mere
        # persist+count still carries the broadcast in the cached RDD's
        # recovery lineage, and destroy() would then fail later task
        # serialization with INTERNAL_ERROR_BROADCAST. The checkpointed
        # piece is only |chunk| x k rows, so the
        # deserialized-object-row cost that rules localCheckpoint out
        # for data-scale frames (see pipeline.py) is irrelevant here.
        piece = _finish_topk(cand, k).localCheckpoint(eager=True)
        bc.destroy()
        BROADCAST_AUDIT["destroyed"] += 1
        pieces.append(piece)

    run_chunk(first)
    buf: list = []
    for row in it:
        buf.append(row)
        if len(buf) >= chunk_size:
            run_chunk(buf)
            buf = []
    if buf:
        run_chunk(buf)
    # A final exact top-k over the union: a query id duplicated across
    # a chunk boundary has candidates in two pieces. It runs over
    # chunks x |q| x k rows — metadata-scale; for unique ids it
    # re-derives the identical per-chunk ranks.
    return _finish_topk(_tree_union(pieces).drop("rank"), k)


def train_ivf_centroids(
    corpus: DataFrame, vec_col: str, num_cells: int, sample_rows: int = 20000, seed: int = 42
) -> np.ndarray:
    """Coarse centroids from a driver-side k-means over a bounded
    sample (sampling is distributed; the fit is metadata-scale)."""
    n = corpus.count()
    frac = min(1.0, sample_rows / max(n, 1))
    sample = np.array(
        corpus.select(vec_col).sample(frac, seed=seed).limit(sample_rows).collect()
    ).reshape(-1, len(corpus.select(vec_col).first()[0]))
    rng = np.random.RandomState(seed)
    cents = sample[rng.choice(len(sample), size=min(num_cells, len(sample)), replace=False)]
    # ||s-c||^2 = ||s||^2 - 2 s.c + ||c||^2 as matmuls: the distance
    # matrix is (sample x cells), never the (sample x cells x dim)
    # broadcast tensor (which is 100s of GB at the C ~ sqrt(N) cells a
    # real index needs).
    s2 = (sample * sample).sum(axis=1)[:, None]
    for _ in range(10):  # Lloyd iterations on the sample
        d = s2 - 2.0 * (sample @ cents.T) + (cents * cents).sum(axis=1)[None, :]
        assign = d.argmin(1)
        for j in range(len(cents)):
            pts = sample[assign == j]
            if len(pts):
                cents[j] = pts.mean(0)
    return cents


def _nearest_cells_udf(spark, centroids: np.ndarray, nprobe: int):
    """Vectorized (Arrow-batched) nearest-cell assignment against a
    broadcast centroid matrix. Replaces the old literal-expression-tree
    formulation: the plan no longer carries O(num_cells x dim) literals,
    so ``num_cells`` can reach the ~sqrt(N) thousands a real IVF index
    needs — the matrix ships once per executor via a Spark broadcast
    and each Arrow batch is one (batch x dim) @ (dim x cells) matmul.

    Determinism: float64 math, stable argsort, ties broken by lower
    cell id — reproducible by a SQL oracle's ORDER BY dist, cell.
    """
    from pyspark.sql.functions import pandas_udf

    bc = spark.sparkContext.broadcast(np.asarray(centroids, dtype=np.float64))
    take = max(1, nprobe)

    @pandas_udf("array<int>")
    def nearest(v: pd.Series) -> pd.Series:
        cents = bc.value
        x = np.array(v.tolist(), dtype=np.float64)
        # ||x-c||^2 = ||x||^2 - 2 x.c + ||c||^2 ; the ||x||^2 term is
        # constant per row and cannot change the argsort -> omit it.
        d = (cents * cents).sum(axis=1)[None, :] - 2.0 * (x @ cents.T)
        idx = np.argsort(d, axis=1, kind="stable")[:, :take].astype("int32")
        return pd.Series([list(r) for r in idx])

    return nearest


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    corpus_id: str,
    corpus_vec: str,
    query_id: str,
    query_vec: str,
    k: int = 10,
    num_cells: int = 16,
    nprobe: int = 2,
    centroids: np.ndarray | DataFrame | None = None,
) -> DataFrame:
    """Approximate cosine top-k via IVF cells: corpus rows are joined
    only against queries probing their cell. Same output schema as
    :func:`cosine_topk`.

    ``centroids`` may be a (cells x dim) numpy array, a DataFrame with
    columns (cell:int, vec:array) — collected driver-side in cell
    order; centroid tables are metadata-scale by construction — or
    None to train k-means on a corpus sample. Cell ids are row indices
    0..C-1.

    Candidate pairs are scored with the Arrow-batched einsum UDF and
    reduced with per-batch partial top-k before the final
    (metadata-scale) exact top-k.
    """
    spark = corpus.sparkSession
    if centroids is None:
        centroids = train_ivf_centroids(corpus, corpus_vec, num_cells)
    elif isinstance(centroids, DataFrame):
        rows = centroids.orderBy("cell").collect()
        centroids = np.array([r["vec"] for r in rows], dtype=np.float64)
    corpus_cell = _nearest_cells_udf(spark, centroids, 1)
    query_cells = _nearest_cells_udf(spark, centroids, nprobe)
    c = corpus.select(
        F.col(corpus_id).alias("neighbor_id"),
        F.col(corpus_vec).alias("_cv"),
        F.element_at(corpus_cell(F.col(corpus_vec)), 1).alias("cell"),
    )
    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(query_vec).alias("_qv"),
        F.explode(query_cells(F.col(query_vec))).alias("cell"),
    )
    score = cosine_pairs_udf()(F.col("_qv"), F.col("_cv"))
    scored = (
        c.join(F.broadcast(q), "cell")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", score.alias("cosine"))
    )
    return _finish_topk(_partial_topk(scored, k), k)
