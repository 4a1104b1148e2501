"""Driver-side numpy kernels.

The sandbox has no scipy/sklearn; these are small, deterministic,
pure-numpy replacements for the driver-side math the reference runs
on metadata-scale inputs (num_partitions x num_features matrices,
<=2000-point KMeans). Everything distributed stays in Spark; these
kernels only ever see collected summaries.

Reference behaviors reproduced:
- cKDTree(X).query(X, k+1)      -> knn_query          (gate/drift.py:431)
- scipy percentileofscore rank  -> percentile_of_score (gate/drift.py:120)
- sklearn KMeans(k-means++)     -> kmeans              (gate/statistics.py:63-72)
- sklearn PCA elbow             -> pca_elbow_k         (gate/drift.py:556-566)
- sklearn AgglomerativeClustering(average, precomputed)
                                -> agglomerative_average (gate/drift.py:568-573)
- sklearn cosine_similarity     -> cosine_similarity_matrix
- pandas groupby z-score        -> zscore_groups       (gate/drift.py:475-502)

North-rule extras (no reference counterpart):
- PSI / KS of binned counts     -> psi_ks (operators/distribution.py,
                                   streaming.py; SQL twin in oracles.py)
"""

from __future__ import annotations

import numpy as np


def pairwise_euclidean(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """(n,d) x (m,d) -> (n,m) Euclidean distances, float64."""
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    aa = (a * a).sum(axis=1)[:, None]
    bb = (b * b).sum(axis=1)[None, :]
    d2 = aa + bb - 2.0 * (a @ b.T)
    np.maximum(d2, 0.0, out=d2)
    return np.sqrt(d2)


def knn_query(x: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray]:
    """For each row of x, distances+indices of its k nearest rows of x
    (including itself at distance 0, like cKDTree.query(X, k)).

    Ties broken by index (argsort stable), matching KD-tree behavior on
    exact-duplicate rows closely enough for the score (mean of non-self
    distances is tie-invariant).
    """
    d = pairwise_euclidean(x, x)
    k = min(k, d.shape[0])
    order = np.argsort(d, axis=1, kind="stable")[:, :k]
    dists = np.take_along_axis(d, order, axis=1)
    return dists, order


def zscore_groups(x: np.ndarray, codes: np.ndarray, eps: float) -> np.ndarray:
    """Per-group z-score ``(x - mean) / (std + eps)`` with the sample
    standard deviation (ddof=1, like pandas ``std``); ``codes`` holds
    each value's group index in 0..G-1. A single-value group has no
    standard deviation and yields NaN, like pandas."""
    x = np.asarray(x, dtype=np.float64)
    n = np.bincount(codes)
    mean = np.bincount(codes, weights=x) / n
    dev = x - mean[codes]
    with np.errstate(invalid="ignore", divide="ignore"):
        std = np.sqrt(np.bincount(codes, weights=dev * dev) / (n - 1))
    return dev / (std[codes] + eps)


PSI_EPS = 1e-6


def psi_ks(p_counts: np.ndarray, q_counts: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Row-wise PSI and KS between two (rows, bins) count arrays.

    Each row's counts become proportions floored at ``PSI_EPS``; then
    PSI = sum over bins (p - q) * ln(p / q) and KS = max |CDF_p - CDF_q|
    over the bin boundaries. A row whose ``q`` total is 0 has no
    distribution to compare against and scores (0.0, 0.0).
    """
    p = np.asarray(p_counts, dtype=np.float64)
    q = np.asarray(q_counts, dtype=np.float64)
    q_tot = q.sum(axis=1, keepdims=True)
    with np.errstate(invalid="ignore", divide="ignore"):
        p = np.maximum(p / p.sum(axis=1, keepdims=True), PSI_EPS)
        q = np.maximum(q / q_tot, PSI_EPS)
        psi = ((p - q) * np.log(p / q)).sum(axis=1)
        ks = np.abs(np.cumsum(p, axis=1) - np.cumsum(q, axis=1)).max(axis=1)
    empty = q_tot[:, 0] <= 0
    psi[empty] = 0.0
    ks[empty] = 0.0
    return psi, ks


def percentile_of_score(a: np.ndarray, score: float) -> float:
    """scipy.stats.percentileofscore(kind='rank') reimplementation."""
    a = np.asarray(a, dtype=np.float64)
    n = len(a)
    if n == 0:
        return 100.0
    left = float(np.count_nonzero(a < score))
    right = float(np.count_nonzero(a <= score))
    plus1 = 1.0 if right > left else 0.0
    return (left + right + plus1) * 50.0 / n


def kmeans(
    x: np.ndarray, n_clusters: int, seed: int = 42, n_init: int = 4, max_iter: int = 100
) -> tuple[np.ndarray, np.ndarray]:
    """Deterministic k-means++ / Lloyd. Returns (labels, centroids).

    Small-data kernel (reference clusters <=2000 sampled embeddings per
    partition, gate/statistics.py:60-72); runs inside applyInPandas per
    (partition, embedding-key) group or on the driver.
    """
    x = np.asarray(x, dtype=np.float64)
    n = x.shape[0]
    n_clusters = min(n_clusters, n)
    rng = np.random.RandomState(seed)
    best: tuple[float, np.ndarray, np.ndarray] | None = None
    for _ in range(n_init):
        centers = _kmeanspp_init(x, n_clusters, rng)
        for _it in range(max_iter):
            d = pairwise_euclidean(x, centers)
            labels = d.argmin(axis=1)
            new_centers = np.empty_like(centers)
            for j in range(n_clusters):
                mask = labels == j
                if mask.any():
                    new_centers[j] = x[mask].mean(axis=0)
                else:  # re-seed empty cluster at the farthest point
                    new_centers[j] = x[d.min(axis=1).argmax()]
            if np.allclose(new_centers, centers):
                centers = new_centers
                break
            centers = new_centers
        d = pairwise_euclidean(x, centers)
        labels = d.argmin(axis=1)
        inertia = float((d[np.arange(n), labels] ** 2).sum())
        if best is None or inertia < best[0]:
            best = (inertia, labels, centers)
    assert best is not None
    return best[1], best[2]


def _kmeanspp_init(x: np.ndarray, k: int, rng: np.random.RandomState) -> np.ndarray:
    n = x.shape[0]
    centers = np.empty((k, x.shape[1]), dtype=np.float64)
    centers[0] = x[rng.randint(n)]
    d2 = ((x - centers[0]) ** 2).sum(axis=1)
    for j in range(1, k):
        total = d2.sum()
        if total <= 0:
            centers[j:] = x[rng.randint(n, size=k - j)]
            break
        probs = d2 / total
        idx = rng.choice(n, p=probs)
        centers[j] = x[idx]
        d2 = np.minimum(d2, ((x - centers[j]) ** 2).sum(axis=1))
    return centers


def cosine_similarity_matrix(a: np.ndarray, b: np.ndarray | None = None) -> np.ndarray:
    a = np.asarray(a, dtype=np.float64)
    b = a if b is None else np.asarray(b, dtype=np.float64)
    an = a / np.maximum(np.linalg.norm(a, axis=1, keepdims=True), 1e-12)
    bn = b / np.maximum(np.linalg.norm(b, axis=1, keepdims=True), 1e-12)
    return an @ bn.T


def pca_elbow_k(x: np.ndarray, variance_threshold: float = 0.95) -> int:
    """k = first index where cumulative explained variance > threshold,
    plus 1 (reference: gate/drift.py:556-566)."""
    x = np.asarray(x, dtype=np.float64)
    xc = x - x.mean(axis=0, keepdims=True)
    n = max(x.shape[0] - 1, 1)
    s = np.linalg.svd(xc, compute_uv=False)
    ev = (s**2) / n
    total = ev.sum()
    if total <= 0:
        return 1
    ratios = ev / total
    cum = np.cumsum(ratios)
    idx = int(np.searchsorted(cum, variance_threshold, side="right"))
    idx = min(idx, len(cum) - 1)
    return idx + 1


def agglomerative_average(matrix: np.ndarray, n_clusters: int) -> np.ndarray:
    """Average-linkage agglomerative clustering on a precomputed
    'distance' matrix (the reference passes a *similarity* matrix where
    a distance is expected — gate/drift.py:568-573 — we reproduce the
    same convention: smaller value = merged earlier). Returns labels.

    O(n^3) naive implementation; n = number of user-table columns.
    """
    m = np.asarray(matrix, dtype=np.float64).copy()
    n = m.shape[0]
    if n_clusters >= n:
        return np.arange(n)
    clusters: list[list[int]] = [[i] for i in range(n)]
    # average-linkage distance between current clusters
    active = list(range(n))
    dist = m.copy().astype(np.float64)
    np.fill_diagonal(dist, np.inf)
    sizes = np.ones(n)
    alive = np.ones(n, dtype=bool)
    num_alive = n
    while num_alive > n_clusters:
        sub = np.where(alive)[0]
        block = dist[np.ix_(sub, sub)]
        flat = np.argmin(block)
        i_, j_ = np.unravel_index(flat, block.shape)
        a, b = int(sub[i_]), int(sub[j_])
        if a > b:
            a, b = b, a
        # merge b into a with average linkage
        for c in sub:
            if c in (a, b):
                continue
            dist[a, c] = dist[c, a] = (
                sizes[a] * dist[a, c] + sizes[b] * dist[b, c]
            ) / (sizes[a] + sizes[b])
        sizes[a] += sizes[b]
        clusters[a].extend(clusters[b])
        alive[b] = False
        dist[b, :] = np.inf
        dist[:, b] = np.inf
        num_alive -= 1
    labels = np.empty(n, dtype=np.int64)
    next_label = 0
    for i in range(n):
        if alive[i]:
            for member in clusters[i]:
                labels[member] = next_label
            next_label += 1
    return labels


def nanmean_rows(x: np.ndarray) -> np.ndarray:
    with np.errstate(invalid="ignore"):
        return np.nanmean(x, axis=1)
