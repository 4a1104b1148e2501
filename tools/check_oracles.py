"""Local stand-in for the driver's correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` twin on DuckDB at
the same scale factor, compare row counts, column names, and values
(order-insensitive, exact after float32 canonicalization).

Usage: python tools/check_oracles.py [sf_dir] [query ...]

Exits 2 on a query name that ``queries()`` does not define, 1 if any
query fails. The Spark session takes its core count from
$SPARK_GRAFT_CPUS (else all local cores).
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canon(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    for c in pdf.columns:
        if pdf[c].dtype in (np.float32, np.float64):
            pdf[c] = pdf[c].astype(np.float64).round(9)
        elif pdf[c].dtype == object:
            pdf[c] = pdf[c].astype(str)
    pdf = pdf.sort_values(list(pdf.columns), na_position="first").reset_index(drop=True)
    return pdf


def compare(name: str, sdf: pd.DataFrame, odf: pd.DataFrame) -> list[str]:
    problems = []
    if sorted(sdf.columns) != sorted(odf.columns):
        problems.append(f"columns differ: spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}")
        return problems
    if len(sdf) != len(odf):
        problems.append(f"row count differs: spark={len(sdf)} oracle={len(odf)}")
    s, o = canon(sdf), canon(odf)
    if len(s) == len(o):
        for c in s.columns:
            a, b = s[c].to_numpy(), o[c].to_numpy()
            if a.dtype.kind == "f":
                bad = ~(np.isclose(a, b, rtol=0, atol=0, equal_nan=True))
                bad &= ~(pd.isna(a) & pd.isna(b))
            else:
                bad = a != b
            n_bad = int(np.count_nonzero(bad))
            if n_bad:
                i = int(np.argmax(bad))
                problems.append(
                    f"col {c}: {n_bad} mismatches, first at sorted-row {i}:"
                    f" spark={a[i]!r} oracle={b[i]!r}"
                )
    return problems


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as e
    from gate_spark.session import get_spark

    qs, os_ = e.queries(), e.oracle_sql()
    unknown = sorted(only - set(qs))
    if unknown:
        print(f"unknown query names: {unknown}")
        sys.exit(2)

    spark = get_spark("oracle_check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    failed = []
    ran = skipped = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        ran += 1
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as ex:
            print(f"FAIL {name}: spark error: {ex}")
            failed.append(name)
            continue
        sql = os_.get(name)
        if sql is None:
            print(f"SKIP {name}: no oracle ({len(sdf)} rows)")
            skipped += 1
            continue
        try:
            odf = con.execute(sql).fetchdf()
        except Exception as ex:
            print(f"FAIL {name}: duckdb error: {str(ex)[:300]}")
            failed.append(name)
            continue
        problems = compare(name, sdf, odf)
        dt = time.time() - t0
        if problems:
            print(f"FAIL {name} ({len(sdf)} vs {len(odf)} rows, {dt:.1f}s)")
            for p in problems[:6]:
                print(f"   - {p}")
            failed.append(name)
        else:
            print(f"OK   {name} ({len(sdf)} rows, {dt:.1f}s)")
    print()
    if failed:
        print(f"{len(failed)} of {ran} queries FAILED: {failed}")
        sys.exit(1)
    print(f"all {ran - skipped} of {ran} queries match ({skipped} without an oracle)")


if __name__ == "__main__":
    main()
