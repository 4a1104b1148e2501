"""DuckDB oracle SQL generators — one ANSI-SQL twin per engine operator.

Each function returns a SQL string that DuckDB can run against the
driver's pre-registered parquet views (region nation customer supplier
part orders lineitem events documents embeddings) and that reproduces
the matching Spark query in ``__spark_entry__.py`` value-for-value.

Cross-engine determinism conventions (used on BOTH sides):
- every floating output is ``CAST(ROUND(CAST(x AS DOUBLE), 6) AS FLOAT)``
  (absorbs summation-order jitter in the last double bits);
- hashes are 60-bit non-negative ints derived from md5 hex:
  DuckDB ``CAST(concat('0x', substr(md5(s),1,15)) AS BIGINT)`` ==
  Spark ``conv(substring(md5(s),1,15),16,10)`` (verified bit-equal);
- nearest-rank quantile = value at 1-based rank round(q*(n-1))+1 of
  the sorted non-null values (polars "nearest"; round = half away
  from zero in both engines);
- counts stay BIGINT, small ints are cast to INTEGER on both sides.
"""

from __future__ import annotations

GATE_STATS = ["coverage", "mean", "num_unique_values", "occurrence_ratio", "p50", "p95"]
EXTRA_STATS = ["count", "max", "min", "null_fraction", "stddev"]

MD5H = "CAST(concat('0x', substr(md5({s}), 1, 15)) AS BIGINT)"


def _f6(expr: str) -> str:
    """float32-cast FIRST (the engine's summary precision — identical
    across engines for deterministic inputs), then round to 6 decimals
    in double, then back to float32. Mirrors __spark_entry__._r6."""
    return f"CAST(round(CAST(CAST(({expr}) AS FLOAT) AS DOUBLE), 6) AS FLOAT)"


def _f32(expr: str) -> str:
    return f"CAST(({expr}) AS FLOAT)"


def _null_f() -> str:
    return "CAST(NULL AS FLOAT)"


# ---------------------------------------------------------------- summaries


def _summary_block(
    table: str, pk: str, col: str, tclass: str, extras: bool, round6: bool = True
) -> str:
    """One column's per-partition stats as a SELECT block (long format).
    ``round6=False`` emits raw float32 (exactly the engine's Summary.df
    values) for oracles that feed the stats into further math."""
    _w = _f6 if round6 else _f32
    numeric = tclass in ("float", "int")
    has_ndv = tclass in ("int", "string")
    base_aggs = [
        "avg(CASE WHEN {c} IS NOT NULL THEN 1.0 ELSE 0.0 END) AS coverage".format(c=col)
    ]
    if numeric:
        base_aggs.append(f"avg(CAST({col} AS DOUBLE)) AS mean")
    if has_ndv:
        base_aggs.append(f"count(DISTINCT {col}) AS ndv")
    if extras:
        base_aggs.append(f"count({col}) AS cnt")
        base_aggs.append(
            f"avg(CASE WHEN {col} IS NULL THEN 1.0 ELSE 0.0 END) AS nullfrac"
        )
        if numeric:
            base_aggs.append(f"max(CAST({col} AS DOUBLE)) AS vmax")
            base_aggs.append(f"min(CAST({col} AS DOUBLE)) AS vmin")
            base_aggs.append(f"stddev_samp(CAST({col} AS DOUBLE)) AS vstd")
    base = (
        f"SELECT {pk} AS pk, " + ", ".join(base_aggs) + f" FROM {table} GROUP BY {pk}"
    )
    occ = f"""SELECT pk, CAST(max(cnt) AS DOUBLE) / sum(cnt) AS occ FROM (
        SELECT {pk} AS pk, {col} AS v, count(*) AS cnt FROM {table}
        WHERE {col} IS NOT NULL GROUP BY 1, 2) GROUP BY pk"""
    qt = f"""SELECT pk,
        max(CASE WHEN rn = CAST(round(0.5 * (n - 1)) AS BIGINT) + 1 THEN v END) AS p50,
        max(CASE WHEN rn = CAST(round(0.95 * (n - 1)) AS BIGINT) + 1 THEN v END) AS p95
      FROM (SELECT {pk} AS pk, CAST({col} AS DOUBLE) AS v,
              row_number() OVER (PARTITION BY {pk} ORDER BY CAST({col} AS DOUBLE)) AS rn,
              count(*) OVER (PARTITION BY {pk}) AS n
            FROM {table} WHERE {col} IS NOT NULL) GROUP BY pk"""
    sel = [
        f"b.pk AS {pk}",
        f"'{col}' AS \"column\"",
        _w("b.coverage") + " AS coverage",
        (_w("b.mean") if numeric else _null_f()) + " AS mean",
        (_w("b.ndv") if has_ndv else _null_f()) + " AS num_unique_values",
        (_w("o.occ") if tclass in ("int", "string") else _null_f())
        + " AS occurrence_ratio",
        (_w("q.p50") if numeric else _null_f()) + " AS p50",
        (_w("q.p95") if numeric else _null_f()) + " AS p95",
    ]
    if extras:
        sel += [
            _w("b.cnt") + ' AS "count"',
            (_w("b.vmax") if numeric else _null_f()) + ' AS "max"',
            (_w("b.vmin") if numeric else _null_f()) + ' AS "min"',
            _w("b.nullfrac") + " AS null_fraction",
            (_w("b.vstd") if numeric else _null_f()) + " AS stddev",
        ]
    joins = f"({base}) b"
    if tclass in ("int", "string"):
        joins += f" LEFT JOIN ({occ}) o ON b.pk = o.pk"
    if numeric:
        joins += f" LEFT JOIN ({qt}) q ON b.pk = q.pk"
    return "SELECT " + ", ".join(sel) + " FROM " + joins


def summary_sql(
    table: str, pk: str, cols: dict[str, str], extras: bool = False, round6: bool = True
) -> str:
    """Long-format per-partition summary oracle for a column->type-class
    map — the twin of gate_spark.summarize(quantile_mode='nearest')
    with its default exact value keys."""
    blocks = [_summary_block(table, pk, c, t, extras, round6) for c, t in cols.items()]
    return "\nUNION ALL\n".join(blocks)


def zscore_sql(summary_subquery: str, pk: str, stats: list[str] | None = None) -> str:
    """Melt + per-(column, statistic) z-score oracle over a summary
    subquery: the SQL twin of drift.normalize, i.e. of
    kernels.zscore_groups (ddof=1, +1e-10), written as a window."""
    stats = stats or GATE_STATS
    melts = [
        f"SELECT {pk}, \"column\", '{s}' AS statistic, CAST({s} AS DOUBLE) AS value"
        f" FROM summ WHERE {s} IS NOT NULL"
        for s in stats
    ]
    melted = "\nUNION ALL\n".join(melts)
    return f"""WITH summ AS ({summary_subquery}),
melted AS ({melted})
SELECT {pk}, "column", statistic,
  {_f6('(value - avg(value) OVER w) / (stddev_samp(value) OVER w + 1e-10)')} AS z
FROM melted WINDOW w AS (PARTITION BY "column", statistic)"""


def zscore_clustered_sql(
    summary_subquery: str,
    pk: str,
    stats: list[str] | None = None,
    num_clusters: int = 3,
) -> str:
    """Twin of drift.cluster_reduced_z (D6/D7): melt + z-score,
    deterministic name-rank cluster map (dense_rank over sorted column
    names mod ``num_clusters``), then mean |z| per (partition, cluster,
    statistic)."""
    stats = stats or GATE_STATS
    melts = [
        f"SELECT {pk}, \"column\", '{s}' AS statistic, CAST({s} AS DOUBLE) AS value"
        f" FROM summ WHERE {s} IS NOT NULL"
        for s in stats
    ]
    melted = "\nUNION ALL\n".join(melts)
    return f"""WITH summ AS ({summary_subquery}),
melted AS ({melted}),
z AS (
  SELECT {pk}, "column", statistic,
    (value - avg(value) OVER w) / (stddev_samp(value) OVER w + 1e-10) AS value
  FROM melted WINDOW w AS (PARTITION BY "column", statistic)
),
cmap AS (
  SELECT "column",
    CAST((dense_rank() OVER (ORDER BY "column") - 1) % {num_clusters} AS INT) AS cluster
  FROM (SELECT DISTINCT "column" FROM z)
)
SELECT z.{pk}, cmap.cluster, z.statistic, {_f6('avg(abs(z.value))')} AS z
FROM z JOIN cmap USING ("column")
GROUP BY z.{pk}, cmap.cluster, z.statistic"""


def drifted_columns_sql(
    summary_subquery: str,
    pk: str,
    current: str,
    limit: int = 10,
    stats: list[str] | None = None,
) -> str:
    """Twin of drift.drifted_columns_df (D13/D16): current
    partition's z-scores, missing (column, statistic) pairs filled with
    0.0, top-|z| statistic per column (statistic-name tiebreak), ranked
    by |z| desc with column-name tiebreak, cut to ``limit``."""
    stats = stats or GATE_STATS
    melts = [
        f"SELECT {pk}, \"column\", '{s}' AS statistic, CAST({s} AS DOUBLE) AS value"
        f" FROM summ WHERE {s} IS NOT NULL"
        for s in stats
    ]
    melted = "\nUNION ALL\n".join(melts)
    return f"""WITH summ AS ({summary_subquery}),
melted AS ({melted}),
z AS (
  SELECT {pk} AS pk, "column", statistic,
    (value - avg(value) OVER w) / (stddev_samp(value) OVER w + 1e-10) AS z
  FROM melted WINDOW w AS (PARTITION BY "column", statistic)
),
pairs AS (SELECT DISTINCT "column", statistic FROM z),
cur AS (
  SELECT p."column", p.statistic, COALESCE(c.z, 0.0) AS z
  FROM pairs p
  LEFT JOIN (SELECT * FROM z WHERE pk = '{current}') c
    ON p."column" = c."column" AND p.statistic = c.statistic
),
top AS (
  SELECT *, row_number() OVER (
    PARTITION BY "column" ORDER BY abs(z) DESC, statistic ASC
  ) AS rn FROM cur
),
ranked AS (
  SELECT "column", statistic, z, CAST(row_number() OVER (
    ORDER BY abs(z) DESC, "column" ASC
  ) AS INT) AS rank
  FROM top WHERE rn = 1
)
SELECT "column", statistic, {_f6('z')} AS z, rank
FROM ranked WHERE rank <= {limit}"""


def knn_drift_scores_sql(summary_subquery: str, pk: str, k: int = 3,
                         stats: list[str] | None = None) -> str:
    """Twin of gate_spark drift_scores(): z-score features (nulls->0),
    pairwise Euclidean distances between partition vectors, score =
    mean of the k smallest non-self distances, percentile = scipy
    kind='rank' against all OTHER partitions' scores, drifted >= 0.95
    (reference math: gate/drift.py:421-444, 107-126)."""
    stats = stats or GATE_STATS
    melts = [
        f"SELECT {pk} AS p, \"column\" AS c, '{s}' AS s, CAST({s} AS DOUBLE) AS value"
        f" FROM summ WHERE {s} IS NOT NULL"
        for s in stats
    ]
    melted = "\nUNION ALL\n".join(melts)
    return f"""WITH summ AS ({summary_subquery}),
melted AS ({melted}),
z AS (SELECT p, c, s,
        (value - avg(value) OVER w) / (stddev_samp(value) OVER w + 1e-10) AS z
      FROM melted WINDOW w AS (PARTITION BY c, s)),
feats AS (SELECT DISTINCT c, s FROM z),
parts AS (SELECT DISTINCT p FROM z),
dense AS (SELECT parts.p, feats.c, feats.s, coalesce(z.z, 0.0) AS z
          FROM parts CROSS JOIN feats
          LEFT JOIN z ON z.p = parts.p AND z.c = feats.c AND z.s = feats.s),
dists AS (SELECT a.p AS pa, b.p AS pb, sqrt(sum((a.z - b.z) * (a.z - b.z))) AS dist
          FROM dense a JOIN dense b ON a.c = b.c AND a.s = b.s AND a.p <> b.p
          GROUP BY 1, 2),
ranked AS (SELECT pa, dist, row_number() OVER (PARTITION BY pa ORDER BY dist, pb) AS rn
           FROM dists),
scores AS (SELECT pa AS partition, avg(dist) AS score FROM ranked WHERE rn <= {k}
           GROUP BY 1),
pct AS (SELECT s.partition, s.score,
          (SELECT (count(CASE WHEN o.score < s.score THEN 1 END)
                   + count(CASE WHEN o.score <= s.score THEN 1 END)
                   + CASE WHEN count(CASE WHEN o.score = s.score THEN 1 END) > 0
                          THEN 1 ELSE 0 END) * 50.0 / count(*)
           FROM scores o WHERE o.partition <> s.partition) / 100.0 AS p
        FROM scores s)
SELECT CAST(partition AS VARCHAR) AS partition, {_f6('score')} AS score,
       {_f6('p')} AS score_percentile, p >= 0.95 AS is_drifted
FROM pct"""


# ---------------------------------------------------------------- psi / ks


def psi_ks_sql(table: str, pk: str, value_col: str, inner_edges: list[float],
               psi_threshold: float = 0.2, ks_threshold: float = 0.2) -> str:
    """Twin of gate_spark distribution_drift(edges=...): per-partition
    PSI + KS of its histogram vs the pooled histogram of all other
    partitions, epsilon-floored proportions (1e-6)."""
    bin_expr = " + ".join(
        f"(CASE WHEN v >= {float(e)} THEN 1 ELSE 0 END)" for e in inner_edges
    ) or "0"
    return f"""WITH hist AS (
  SELECT {pk} AS partition, {bin_expr} AS bin, count(*) AS bin_count
  FROM (SELECT {pk}, CAST({value_col} AS DOUBLE) AS v FROM {table}
        WHERE {value_col} IS NOT NULL)
  GROUP BY 1, 2),
dense AS (SELECT p.partition, b.bin, coalesce(h.bin_count, 0) AS bin_count
          FROM (SELECT DISTINCT partition FROM hist) p
          CROSS JOIN (SELECT DISTINCT bin FROM hist) b
          LEFT JOIN hist h ON h.partition = p.partition AND h.bin = b.bin),
tot AS (SELECT partition, sum(bin_count) AS part_total FROM dense GROUP BY 1),
gb AS (SELECT bin, sum(bin_count) AS global_bin FROM dense GROUP BY 1),
gt AS (SELECT sum(bin_count) AS gt FROM dense),
enr AS (SELECT d.partition, d.bin,
          greatest(CAST(d.bin_count AS DOUBLE) / t.part_total, 1e-6) AS p,
          greatest(CAST(g.global_bin - d.bin_count AS DOUBLE)
                   / (gt.gt - t.part_total), 1e-6) AS q
        FROM dense d JOIN tot t ON d.partition = t.partition
        JOIN gb g ON d.bin = g.bin CROSS JOIN gt),
cdf AS (SELECT partition, p, q,
          sum(p) OVER (PARTITION BY partition ORDER BY bin) AS cdf_p,
          sum(q) OVER (PARTITION BY partition ORDER BY bin) AS cdf_q
        FROM enr),
agg AS (SELECT partition, sum((p - q) * ln(p / q)) AS psi,
               max(abs(cdf_p - cdf_q)) AS ks
        FROM cdf GROUP BY partition)
SELECT partition, {_f6('psi')} AS psi, {_f6('ks')} AS ks,
       psi >= {psi_threshold} AS psi_drifted, ks >= {ks_threshold} AS ks_drifted
FROM agg"""


# ------------------------------------------------------------- constraints


def orders_constraints_sql() -> str:
    """Twin of the orders constraint-suite verdicts in __spark_entry__."""
    return """WITH dups AS (
  SELECT o_orderkey FROM orders GROUP BY o_orderkey HAVING count(*) > 1),
flags AS (SELECT o_orderpriority AS pk,
    CASE WHEN o_orderkey IN (SELECT o_orderkey FROM dups) THEN 1 ELSE 0 END AS f0,
    CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END AS f1,
    CASE WHEN NOT coalesce(o_totalprice > 0, FALSE) THEN 1 ELSE 0 END AS f2,
    CASE WHEN NOT coalesce(o_orderstatus IN ('F', 'O'), FALSE) THEN 1 ELSE 0 END AS f3
  FROM orders),
agg AS (SELECT pk, count(*) AS rc, sum(f0) AS c0, sum(f1) AS c1, sum(f2) AS c2,
               sum(f3) AS c3 FROM flags GROUP BY pk)
SELECT pk AS partition, 'unique_orderkey' AS constraint,
       CAST(c0 AS BIGINT) AS violation_count, CAST(rc AS BIGINT) AS row_count,
       c0 = 0 AS passed FROM agg
UNION ALL SELECT pk, 'custkey_not_null', CAST(c1 AS BIGINT), CAST(rc AS BIGINT),
       c1 = 0 FROM agg
UNION ALL SELECT pk, 'positive_totalprice', CAST(c2 AS BIGINT), CAST(rc AS BIGINT),
       c2 = 0 FROM agg
UNION ALL SELECT pk, 'status_membership', CAST(c3 AS BIGINT), CAST(rc AS BIGINT),
       c3 = 0 FROM agg"""


TOKENS_VIEW_SQL = """SELECT doc_id,
  list_transform(regexp_split_to_array(text, '\\s+'),
                 w -> CAST(length(w) AS INTEGER)) AS tokens,
  CAST(CASE WHEN doc_id % 97 = 0
            THEN len(regexp_split_to_array(text, '\\s+')) + 1
            ELSE len(regexp_split_to_array(text, '\\s+')) END AS INTEGER) AS n_tok,
  source
FROM documents"""

TOKEN_DOMAIN = [f"src{i}" for i in range(16)]


def token_constraints_sql() -> str:
    """Twin of the token-table constraint verdicts (north_star suite:
    uniqueness, n_tok==size(tokens), source membership, vocab bounds)."""
    domain = ", ".join(f"'{d}'" for d in TOKEN_DOMAIN)
    return f"""WITH tok AS ({TOKENS_VIEW_SQL}),
dups AS (SELECT doc_id FROM tok GROUP BY doc_id HAVING count(*) > 1),
flags AS (SELECT source AS pk,
    CASE WHEN doc_id IN (SELECT doc_id FROM dups) THEN 1 ELSE 0 END AS f0,
    CASE WHEN NOT coalesce(n_tok = len(tokens), FALSE) THEN 1 ELSE 0 END AS f1,
    CASE WHEN NOT coalesce(source IN ({domain}), FALSE) THEN 1 ELSE 0 END AS f2,
    CASE WHEN coalesce(len(list_filter(tokens, t -> t < 1 OR t >= 12)) > 0, FALSE)
         THEN 1 ELSE 0 END AS f3
  FROM tok),
agg AS (SELECT pk, count(*) AS rc, sum(f0) AS c0, sum(f1) AS c1, sum(f2) AS c2,
               sum(f3) AS c3 FROM flags GROUP BY pk)
SELECT pk AS partition, 'unique_doc_id' AS constraint,
       CAST(c0 AS BIGINT) AS violation_count, CAST(rc AS BIGINT) AS row_count,
       c0 = 0 AS passed FROM agg
UNION ALL SELECT pk, 'token_array_equality', CAST(c1 AS BIGINT), CAST(rc AS BIGINT),
       c1 = 0 FROM agg
UNION ALL SELECT pk, 'source_membership', CAST(c2 AS BIGINT), CAST(rc AS BIGINT),
       c2 = 0 FROM agg
UNION ALL SELECT pk, 'vocab_bounds', CAST(c3 AS BIGINT), CAST(rc AS BIGINT),
       c3 = 0 FROM agg"""


def token_violations_sql() -> str:
    """Twin of the materialized token violation rows
    (partition, constraint, key, detail)."""
    domain = ", ".join(f"'{d}'" for d in TOKEN_DOMAIN)
    return f"""WITH tok AS ({TOKENS_VIEW_SQL})
SELECT CAST(source AS VARCHAR) AS partition, 'token_array_equality' AS constraint,
       CAST(doc_id AS VARCHAR) AS key,
       'violated: n_tok = size(tokens)' AS detail
FROM tok WHERE NOT coalesce(n_tok = len(tokens), FALSE)
UNION ALL
SELECT CAST(source AS VARCHAR), 'source_membership', CAST(doc_id AS VARCHAR),
       concat('source not in domain: ', source)
FROM tok WHERE NOT coalesce(source IN ({domain}), FALSE)
UNION ALL
SELECT CAST(source AS VARCHAR), 'vocab_bounds', CAST(doc_id AS VARCHAR),
       concat('token out of [1,12): min=', CAST(list_min(tokens) AS VARCHAR),
              ' max=', CAST(list_max(tokens) AS VARCHAR))
FROM tok WHERE coalesce(len(list_filter(tokens, t -> t < 1 OR t >= 12)) > 0, FALSE)"""


TOKENS_SCALAR_VIEW_SQL = (
    "SELECT source, n_tok, CAST(len(tokens) AS INTEGER) AS tokens, doc_id"
    f" FROM ({TOKENS_VIEW_SQL}) t"
)


def token_summary_sql() -> str:
    """Twin of summarize() over the canonical token table: the engine
    summarizes array columns over their lengths (SURVEY.md §1.3), so
    the oracle view exposes len(tokens) under the same column name."""
    return summary_sql(
        f"({TOKENS_SCALAR_VIEW_SQL})",
        "source",
        {"n_tok": "int", "tokens": "int", "doc_id": "int"},
    )


def sketch_merge_sql(edges: list[float]) -> str:
    """Twin of sketches.column_sketches -> merge_sketches over
    documents: global exactly-mergeable stats per column plus the
    merged fixed-edge histogram of n_chars exploded to (bin, bin_count)
    rows (every bin enumerated, zero counts included — same shape as
    exploding the engine's hist array). NDV is HLL-approximate and is
    pinned in pytest instead of here."""
    bin_expr = " + ".join(
        f"CAST(n_chars >= {float(e)} AS INT)" for e in edges
    )
    nbins = len(edges) + 1
    return f"""WITH stats AS (
  SELECT 'n_chars' AS column, COUNT(*) AS n_rows, COUNT(n_chars) AS n,
         {_f6('COUNT(n_chars)::DOUBLE / COUNT(*)')} AS coverage,
         {_f6('AVG(CAST(n_chars AS DOUBLE))')} AS mean,
         {_f6('STDDEV_SAMP(CAST(n_chars AS DOUBLE))')} AS stddev,
         {_f6('MIN(CAST(n_chars AS DOUBLE))')} AS min_v,
         {_f6('MAX(CAST(n_chars AS DOUBLE))')} AS max_v
  FROM documents
  UNION ALL
  SELECT 'lang', COUNT(*), COUNT(lang),
         {_f6('COUNT(lang)::DOUBLE / COUNT(*)')},
         {_null_f()}, {_null_f()}, {_null_f()}, {_null_f()}
  FROM documents
), allbins AS (
  SELECT CAST(unnest(range({nbins})) AS INTEGER) AS bin
), counted AS (
  SELECT {bin_expr} AS bin, COUNT(*) AS c
  FROM documents WHERE n_chars IS NOT NULL GROUP BY 1
), hist AS (
  SELECT allbins.bin, CAST(coalesce(counted.c, 0) AS BIGINT) AS bin_count
  FROM allbins LEFT JOIN counted ON allbins.bin = counted.bin
)
SELECT s.column, s.n_rows, s.n, s.coverage, s.mean, s.stddev, s.min_v, s.max_v,
       h.bin, h.bin_count
FROM stats s LEFT JOIN hist h ON s.column = 'n_chars'
ORDER BY s.column, h.bin"""


# ------------------------------------------------------------------- dedup

DOCS_DUP_VIEW = """SELECT doc_id, text, source FROM documents
UNION ALL
SELECT doc_id + 1000000 AS doc_id, text, source FROM documents WHERE doc_id % 10 = 0"""


def _md5h(s: str) -> str:
    return MD5H.format(s=s)


def exact_duplicates_sql() -> str:
    h = _md5h("concat('0|', text)")
    return f"""WITH docs AS ({DOCS_DUP_VIEW}),
h AS (SELECT doc_id, {h} AS hh FROM docs),
g AS (SELECT hh, count(*) AS group_size FROM h GROUP BY hh HAVING count(*) > 1)
SELECT h.doc_id, CAST(g.group_size AS BIGINT) AS group_size
FROM h JOIN g ON h.hh = g.hh"""


SHINGLES_3 = """CASE WHEN len(w) < 3 THEN CAST([] AS VARCHAR[])
  ELSE list_distinct(list_transform(range(0, len(w) - 2),
                     i -> array_to_string(w[i + 1:i + 3], ' '))) END"""


def minhash_sql(num_perm: int = 16, num_bands: int = 4, threshold: float = 0.5) -> str:
    rows = num_perm // num_bands
    mins = ", ".join(
        "min({h}) AS m{i}".format(h=_md5h("concat('{0}|', s)".format(i)), i=i)
        for i in range(num_perm)
    )
    band_selects = "\nUNION ALL\n".join(
        "SELECT doc_id, {b} AS band, array_to_string([{ms}], ',') AS bucket FROM sigs".format(
            b=b, ms=", ".join(f"m{b * rows + r}" for r in range(rows))
        )
        for b in range(num_bands)
    )
    sig_list = ", ".join(f"m{i}" for i in range(num_perm))
    return f"""WITH docs AS ({DOCS_DUP_VIEW}),
words AS (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS w FROM docs),
sh AS (SELECT doc_id, unnest({SHINGLES_3}) AS s FROM words),
sigs AS (SELECT doc_id, {mins} FROM sh GROUP BY doc_id),
bands AS ({band_selects}),
pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_bands
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
est AS (SELECT p.id_a, p.id_b, p.n_bands,
          CAST(len(list_filter(range({num_perm}), i -> sa[i + 1] = sb[i + 1]))
               AS DOUBLE) / {num_perm} AS ej
        FROM pairs p
        JOIN (SELECT doc_id, [{sig_list}] AS sa FROM sigs) a ON p.id_a = a.doc_id
        JOIN (SELECT doc_id, [{sig_list}] AS sb FROM sigs) b ON p.id_b = b.doc_id)
SELECT id_a, id_b, CAST(n_bands AS BIGINT) AS n_bands, {_f6('ej')} AS est_jaccard
FROM est WHERE ej >= {threshold}"""


def ngram_jaccard_sql(threshold: float = 0.5) -> str:
    return f"""WITH docs AS ({DOCS_DUP_VIEW}),
words AS (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS w FROM docs),
grams AS (SELECT doc_id, unnest({SHINGLES_3}) AS g FROM words),
sizes AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY doc_id),
common AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
           FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
j AS (SELECT id_a, id_b, CAST(c AS DOUBLE) / (sa.sz + sb.sz - c) AS jac
      FROM common JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b)
SELECT id_a, id_b, {_f6('jac')} AS jaccard FROM j WHERE jac >= {threshold}"""


def simhash_sql(bits: int = 16) -> str:
    h = _md5h("concat('0|', w)")
    sums = ", ".join(
        f"sum(2 * ((hv >> {b}) & 1) - 1) AS s{b}" for b in range(bits)
    )
    fold = " + ".join(
        f"(CASE WHEN s{b} > 0 THEN {2 ** b} ELSE 0 END)" for b in range(bits)
    )
    return f"""WITH wrds AS (
  SELECT doc_id, unnest(regexp_split_to_array(text, '\\s+')) AS w FROM documents),
h AS (SELECT doc_id, {h} AS hv FROM wrds),
sums AS (SELECT doc_id, {sums} FROM h GROUP BY doc_id)
SELECT doc_id, CAST({fold} AS BIGINT) AS simhash FROM sums"""


def fingerprint_sql() -> str:
    h = _md5h("concat('7|', substr(text, CAST(i AS INTEGER) + 1, 8))")
    return f"""SELECT doc_id, min({h}) AS fingerprint
FROM (SELECT doc_id, text,
        unnest(range(0, greatest(length(text) - 8, 0) + 1)) AS i
      FROM documents)
GROUP BY doc_id"""


# ----------------------------------------------------------- text analysis

STOPWORDS = {
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "für"],
    "en": ["the", "and", "is", "of", "to", "in", "that", "it", "was", "for"],
    "es": ["el", "la", "de", "que", "y", "en", "los", "del", "se", "por"],
    "fr": ["le", "la", "et", "les", "des", "est", "un", "une", "du", "dans"],
}
BPE_RE = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"


def text_quality_sql() -> str:
    all_stop = sorted({w for ws in STOPWORDS.values() for w in ws})
    stop_list = ", ".join(f"'{w}'" for w in all_stop)
    return f"""WITH t AS (
  SELECT doc_id, text, regexp_split_to_array(text, '\\s+') AS w FROM documents),
feat AS (SELECT doc_id,
    CAST(length(text) AS DOUBLE) AS n_chars,
    CAST(len(w) AS DOUBLE) AS n_words,
    CAST(list_sum(list_transform(w, x -> CAST(length(x) AS DOUBLE))) AS DOUBLE)
      / greatest(CAST(len(w) AS DOUBLE), 1.0) AS avg_word_len,
    CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE)
      / greatest(CAST(length(text) AS DOUBLE), 1.0) AS punct_ratio,
    CAST(len(list_filter(w, x -> list_contains([{stop_list}], lower(x))))
         AS DOUBLE) / greatest(CAST(len(w) AS DOUBLE), 1.0) AS stopword_ratio
  FROM t)
SELECT doc_id, {_f6('n_chars')} AS n_chars, {_f6('n_words')} AS n_words,
  {_f6('avg_word_len')} AS avg_word_len, {_f6('punct_ratio')} AS punct_ratio,
  {_f6('stopword_ratio')} AS stopword_ratio,
  {_f6('''((CASE WHEN n_words >= 10 AND n_words <= 1000 THEN 1.0 ELSE 0.0 END)
   + (CASE WHEN avg_word_len >= 2.0 AND avg_word_len <= 12.0 THEN 1.0 ELSE 0.0 END)
   + (CASE WHEN punct_ratio <= 0.2 THEN 1.0 ELSE 0.0 END)
   + (CASE WHEN stopword_ratio >= 0.05 THEN 1.0 ELSE 0.0 END)) / 4.0''')} AS quality_score
FROM feat"""


def language_id_sql() -> str:
    hit_exprs = []
    for lang in sorted(STOPWORDS):
        lst = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
        hit_exprs.append(
            f"CAST(len(list_filter(w, x -> list_contains([{lst}], x))) AS INTEGER)"
            f" AS h_{lang}"
        )
    return f"""WITH t AS (
  SELECT doc_id, text, regexp_split_to_array(lower(text), '\\s+') AS w FROM documents),
hits AS (SELECT doc_id,
    CAST(length(regexp_replace(text, '[^一-鿿]', '', 'g')) AS DOUBLE)
      / greatest(CAST(length(text) AS DOUBLE), 1.0) AS cjk_ratio,
    {', '.join(hit_exprs)}
  FROM t)
SELECT doc_id,
  CASE WHEN cjk_ratio >= 0.05 THEN 'zh'
       WHEN greatest(h_de, h_en, h_es, h_fr) <= 0 THEN 'und'
       WHEN h_de = greatest(h_de, h_en, h_es, h_fr) THEN 'de'
       WHEN h_en = greatest(h_de, h_en, h_es, h_fr) THEN 'en'
       WHEN h_es = greatest(h_de, h_en, h_es, h_fr) THEN 'es'
       ELSE 'fr' END AS pred_lang
FROM hits"""


def token_counts_sql() -> str:
    return f"""SELECT doc_id,
  CAST(len(regexp_split_to_array(text, '\\s+')) AS INTEGER) AS ws_tokens,
  CAST(len(regexp_extract_all(text, '{BPE_RE}')) AS INTEGER) AS bpe_tokens
FROM documents"""


# -------------------------------------------------------------- similarity


def knn_cosine_sql(k: int = 5, num_queries: int = 5) -> str:
    dot = (
        "list_sum(list_transform(list_zip(q.embedding, c.embedding),"
        " p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
    )
    nrm = (
        "sqrt(list_sum(list_transform({v}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    )
    return f"""WITH q AS (SELECT vec_id, embedding FROM embeddings
               WHERE vec_id < {num_queries}),
scored AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
    {dot} / ({nrm.format(v='q.embedding')} * {nrm.format(v='c.embedding')}) AS cos
  FROM embeddings c CROSS JOIN q WHERE c.vec_id <> q.vec_id),
r AS (SELECT query_id, neighbor_id, cos,
        row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
      FROM scored)
SELECT query_id, neighbor_id, {_f6('cos')} AS cosine, CAST(rnk AS INTEGER) AS rank
FROM r WHERE rnk <= {k}"""


EMB_DUP_VIEW = """SELECT vec_id, embedding FROM embeddings
UNION ALL
SELECT vec_id + 100000 AS vec_id, embedding FROM embeddings WHERE vec_id % 50 = 0"""


def embedding_near_dup_sql(
    threshold: float = 0.99,
    num_planes: int = 8,
    num_bands: int = 4,
    dim: int = 64,
) -> str:
    """Twin of embedding_near_duplicates (banded sign-LSH path,
    hash_mode='md5') on the dup-injected embeddings view: reproduces the
    plane weights (md5-derived, pmod to [-1,1)), the per-band sign
    buckets, the same-bucket candidate union, and the exact-cosine
    verification — dedup.py:_signature_bucket."""

    def w(seed: int) -> str:
        h = _md5h(f"concat('{seed}|', CAST(i AS VARCHAR))")
        return f"(({h}) % 2000001) / 1000000.0 - 1.0"

    def dot(band: int, p: int) -> str:
        seed = 1000 + band * num_planes + p
        return (
            f"list_sum(list_transform(range({dim}), "
            f"i -> CAST(embedding[CAST(i AS INTEGER) + 1] AS DOUBLE) * ({w(seed)})))"
        )

    def bucket(band: int) -> str:
        bits = ", ".join(
            f"CASE WHEN ({dot(band, p)}) >= 0 THEN '1' ELSE '0' END"
            for p in range(num_planes)
        )
        return f"concat({bits})"

    band_selects = "\nUNION ALL\n".join(
        f"SELECT vec_id, {b} AS band, {bucket(b)} AS bucket FROM e"
        for b in range(num_bands)
    )
    cdot = (
        "list_sum(list_transform(list_zip(a.embedding, b.embedding),"
        " p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
    )
    nrm = (
        "sqrt(list_sum(list_transform({v}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    )
    return f"""WITH e AS ({EMB_DUP_VIEW}),
buckets AS ({band_selects}),
cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         FROM buckets a JOIN buckets b
           ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
scored AS (SELECT cand.id_a, cand.id_b,
    {cdot} / ({nrm.format(v='a.embedding')} * {nrm.format(v='b.embedding')}) AS cos
  FROM cand JOIN e a ON a.vec_id = cand.id_a JOIN e b ON b.vec_id = cand.id_b)
SELECT id_a, id_b, {_f6('cos')} AS cosine FROM scored WHERE cos >= {threshold}"""


def embedding_near_dup_arrow_sql(
    threshold: float = 0.99,
    num_planes: int = 8,
    num_bands: int = 4,
    dim: int = 64,
) -> str:
    """Twin of embedding_near_duplicates(hash_mode='md5_arrow') — the
    ARROW MATMUL scale path (dedup.py:_sign_buckets_udf) with
    md5-derived plane weights: reproduces the (dim x bands*planes)
    plane matrix entry-by-entry from md5, packs each band's sign bits
    into the same bit-weighted BIGINT bucket key (bit p = 2^p), and
    verifies candidates with exact cosine. Any divergence in the
    matmul kernel's bucketing or the einsum cosine breaks this gate."""

    def w(seed: int) -> str:
        h = _md5h(f"concat('{seed}|', CAST(i AS VARCHAR))")
        return f"(({h}) % 2000001) / 1000000.0 - 1.0"

    def dot(band: int, p: int) -> str:
        seed = 1000 + band * num_planes + p
        return (
            f"list_sum(list_transform(range({dim}), "
            f"i -> CAST(embedding[CAST(i AS INTEGER) + 1] AS DOUBLE) * ({w(seed)})))"
        )

    def bucket(band: int) -> str:
        terms = " + ".join(
            f"(CASE WHEN ({dot(band, p)}) >= 0 THEN {1 << p} ELSE 0 END)"
            for p in range(num_planes)
        )
        return f"CAST({terms} AS BIGINT)"

    band_selects = "\nUNION ALL\n".join(
        f"SELECT vec_id, {b} AS band, {bucket(b)} AS bucket FROM e"
        for b in range(num_bands)
    )
    cdot = (
        "list_sum(list_transform(list_zip(a.embedding, b.embedding),"
        " p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
    )
    nrm = (
        "sqrt(list_sum(list_transform({v}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    )
    return f"""WITH e AS ({EMB_DUP_VIEW}),
buckets AS ({band_selects}),
cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         FROM buckets a JOIN buckets b
           ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
scored AS (SELECT cand.id_a, cand.id_b,
    {cdot} / ({nrm.format(v='a.embedding')} * {nrm.format(v='b.embedding')}) AS cos
  FROM cand JOIN e a ON a.vec_id = cand.id_a JOIN e b ON b.vec_id = cand.id_b)
SELECT id_a, id_b, {_f6('cos')} AS cosine FROM scored WHERE cos >= {threshold}"""


def ann_ivf_sql(
    k: int = 5, num_queries: int = 5, num_cells: int = 8, nprobe: int = 4
) -> str:
    """Twin of ivf_topk with deterministic seed-vector centroids
    (cell j = embedding of vec_id j): nearest-cell assignment by
    squared L2 (ties -> lower cell), queries probe their ``nprobe``
    nearest cells, cosine verified on cell-joined candidates."""
    sqd = (
        "list_sum(list_transform(list_zip(e.embedding, c.cv), p ->"
        " (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))"
        " * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))))"
    )
    dot = (
        "list_sum(list_transform(list_zip(q.embedding, c.embedding),"
        " p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
    )
    nrm = (
        "sqrt(list_sum(list_transform({v}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    )
    return f"""WITH cents AS (SELECT CAST(vec_id AS INTEGER) AS cell, embedding AS cv
               FROM embeddings WHERE vec_id < {num_cells}),
d AS (SELECT e.vec_id, c.cell, {sqd} AS dist FROM embeddings e CROSS JOIN cents c),
cc AS (SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
        FROM d) WHERE rn = 1),
qc AS (SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
        FROM d WHERE vec_id < {num_queries}) WHERE rn <= {nprobe}),
scored AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
    {dot} / ({nrm.format(v='q.embedding')} * {nrm.format(v='c.embedding')}) AS cos
  FROM embeddings c
  JOIN cc ON c.vec_id = cc.vec_id
  JOIN qc ON cc.cell = qc.cell
  JOIN embeddings q ON q.vec_id = qc.vec_id
  WHERE c.vec_id <> q.vec_id),
r AS (SELECT query_id, neighbor_id, cos,
        row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
      FROM scored)
SELECT query_id, neighbor_id, {_f6('cos')} AS cosine, CAST(rnk AS INTEGER) AS rank
FROM r WHERE rnk <= {k}"""


def embedding_dims_sql(dim: int = 64) -> str:
    """Twin of the gate embedding summarize (per-label per-dimension
    coverage/mean/p50/p95; nearest-rank quantiles)."""
    return f"""WITH base AS (SELECT label, embedding FROM embeddings),
cov AS (SELECT label, avg(CASE WHEN embedding IS NOT NULL THEN 1.0 ELSE 0.0 END)
          AS coverage FROM base GROUP BY label),
expl AS (SELECT label, CAST(i AS INTEGER) AS i,
           CAST(embedding[CAST(i AS INTEGER) + 1] AS DOUBLE) AS v
         FROM base CROSS JOIN range({dim}) t(i) WHERE embedding IS NOT NULL),
agg AS (SELECT label, i, avg(v) AS mean FROM expl GROUP BY 1, 2),
qt AS (SELECT label, i,
    max(CASE WHEN rn = CAST(round(0.5 * (n - 1)) AS BIGINT) + 1 THEN v END) AS p50,
    max(CASE WHEN rn = CAST(round(0.95 * (n - 1)) AS BIGINT) + 1 THEN v END) AS p95
  FROM (SELECT label, i, v, row_number() OVER (PARTITION BY label, i ORDER BY v) AS rn,
          count(*) OVER (PARTITION BY label, i) AS n FROM expl)
  GROUP BY 1, 2)
SELECT a.label, concat('embedding_', CAST(a.i AS VARCHAR)) AS "column",
  {_f6('c.coverage')} AS coverage, {_f6('a.mean')} AS mean,
  {_null_f()} AS num_unique_values, {_null_f()} AS occurrence_ratio,
  {_f6('q.p50')} AS p50, {_f6('q.p95')} AS p95
FROM agg a JOIN cov c ON a.label = c.label
JOIN qt q ON a.label = q.label AND a.i = q.i"""


# ------------------------------------------------------------------ events

EVENTS_DAY_VIEW = (
    "SELECT strftime(ts, '%Y-%m-%d') AS day, event_type, value, user_id FROM events"
)


def trailing_zscore_events_sql(window: int = 7) -> str:
    """Twin of the trailing-window z-score (north-rule baseline:
    Window.rowsBetween(-W, -1); gate always uses all history)."""
    return f"""WITH daily AS (
  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
         count(*) AS n, avg(value) AS mean_value
  FROM events GROUP BY 1, 2),
z AS (SELECT event_type, day, n, mean_value,
    (CAST(n AS DOUBLE) - avg(CAST(n AS DOUBLE)) OVER w)
      / (stddev_samp(CAST(n AS DOUBLE)) OVER w + 1e-10) AS z_n
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN {window} PRECEDING AND 1 PRECEDING))
SELECT event_type, day, CAST(n AS BIGINT) AS n, {_f6('mean_value')} AS mean_value,
       {_f6('z_n')} AS z_n
FROM z"""
