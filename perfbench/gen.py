"""Seeded input generator for the benchmark (numpy + pyarrow only).

Runs in its own process so no input table is written by the process
that times the passes, and imports nothing from ``gate_spark``: an edit
to the library cannot change the inputs. Every table is written once
per (workload, seed, scale), flushed to disk, and then marked complete;
the expected answers the checks compare against come from here, never
from Spark.

    python3 perfbench/gen.py --workload gate_history --seed 1 --scale 1.0 --out DIR
"""

from __future__ import annotations

import argparse
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = 50257

# daily_resume: SOURCES source partitions of RESUME_ROWS rows each; the
# last one is the pending day, the rest are committed history
SOURCES = 24
RESUME_ROWS = 10_000
# the committed history is one fixed table per scale, so the expensive
# template (a CLI run that commits it) is built once per checkout; the
# pending day, its violations and its collisions with history come
# from --seed
HISTORY_SEED = 20260101

# gate_history: DAYS daily partitions x DAY_ROWS rows x 16 columns
DAYS = 90
DAY_ROWS = 6_000
FLOAT_COLS = ["f0", "f1", "f2", "f3"]
INT_COLS = ["i0", "i1", "i2", "i3", "i4", "i5"]
STR_COLS = ["s0", "s1", "s2", "s3"]
BOOL_COLS = ["b0", "b1"]
# nullable columns and their null rates
NULL_RATE = {"f1": 0.05, "i2": 0.10, "s1": 0.02, "b1": 0.20}
# columns the planted last-day shift moves
SHIFTED = ["f0", "i0", "s0"]


def source_name(i: int) -> str:
    return f"s{i:02d}"


def pending_source() -> str:
    return source_name(SOURCES - 1)


def day_name(i: int) -> str:
    return f"day{i:03d}"


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    with open(path, "rb") as f:
        os.fsync(f.fileno())


def _token_partition(rng: np.random.Generator, n: int, mean_len: float):
    """(lengths, tokens) of one source partition: lognormal lengths
    clipped to [1, 2048], tokens uniform over the vocabulary."""
    lengths = np.clip(
        np.exp(rng.normal(np.log(mean_len), 0.6, n)).astype(np.int64), 1, 2048
    )
    values = rng.integers(0, VOCAB, int(lengths.sum()), dtype=np.int32)
    return lengths, values


def _token_table(ids, lengths, values, n_tok) -> pa.Table:
    offsets = np.zeros(len(lengths) + 1, dtype=np.int32)
    np.cumsum(lengths, out=offsets[1:])
    tokens = pa.ListArray.from_arrays(pa.array(offsets), pa.array(values))
    return pa.table(
        {
            "doc_id": pa.array(ids, type=pa.string()),
            "tokens": tokens,
            "n_tok": pa.array(n_tok, type=pa.int32()),
        }
    )


def history_id(part: int, row: int) -> str:
    return f"h{part:02d}-{row:07d}"


def gen_history(out: str, scale: float) -> None:
    """The committed partitions of the daily_resume table: clean,
    undrifted, fixed for a given scale."""
    rows = max(int(RESUME_ROWS * scale), 50)
    rng = np.random.default_rng(HISTORY_SEED)
    for i in range(SOURCES - 1):
        lengths, values = _token_partition(rng, rows, 128.0)
        ids = np.array([history_id(i, j) for j in range(rows)], dtype=object)
        t = _token_table(ids, lengths, values, lengths.astype(np.int32))
        _write(t, os.path.join(out, f"source={source_name(i)}", "part-0.parquet"))


def gen_pending(out: str, seed: int, scale: float) -> dict:
    """The pending day of daily_resume, drawn from ``seed``: twice the
    history's token lengths (the planted drift) plus injected
    duplicate ids (within the day and against committed history),
    n_tok mismatches and out-of-vocabulary tokens. Returns the expected
    violation count per constraint."""
    rows = max(int(RESUME_ROWS * scale), 50)
    rng = np.random.default_rng(seed)
    lengths, values = _token_partition(rng, rows, 256.0)
    ids = np.array([f"p{seed}-{j:07d}" for j in range(rows)], dtype=object)
    n_dup_in = max(rows // 500, 2)
    n_dup_hist = max(rows // 1000, 2)
    picks = rng.choice(rows, n_dup_in + n_dup_hist, replace=False)
    # a within-day duplicate copies another pending row's id: both rows
    # then carry the key twice and both are flagged
    for r in picks[:n_dup_in]:
        src = int(rng.integers(0, rows))
        while src in picks:
            src = int(rng.integers(0, rows))
        ids[r] = ids[src]
    for r in picks[n_dup_in:]:
        ids[r] = history_id(int(rng.integers(0, SOURCES - 1)), int(rng.integers(0, rows)))
    n_tok = lengths.astype(np.int32).copy()
    mismatch = rng.random(rows) < 0.005
    n_tok[mismatch] += 1
    oov = rng.random(rows) < 0.003
    starts = np.zeros(rows, dtype=np.int64)
    np.cumsum(lengths[:-1], out=starts[1:])
    values[starts[oov]] = VOCAB + 7

    # every row whose id occurs twice in the day, or at all in history
    # (history ids start with "h", the day's own with "p"), is flagged
    uniq, inverse, counts = np.unique(ids, return_inverse=True, return_counts=True)
    in_history = np.char.startswith(ids.astype(str), "h")
    dup_rows = int(((counts[inverse] > 1) | in_history).sum())
    t = _token_table(ids, lengths, values, n_tok)
    _write(t, os.path.join(out, f"source={pending_source()}", "part-0.parquet"))
    return {
        "rows": rows,
        "violations": {
            "unique_doc_id": int(dup_rows),
            "token_array_equality": int(mismatch.sum()),
            "source_membership": 0,
            "vocab_bounds": int(oov.sum()),
        },
    }


def gen_gate_history(out: str, seed: int, scale: float) -> dict:
    """DAYS daily partitions of 16 mixed-type columns; the last day is
    shifted on SHIFTED. Returns exact per-(day, column) non-null
    counts and the shape the checks expect."""
    rows = max(int(DAY_ROWS * scale), 40)
    rng = np.random.default_rng(seed)
    n = DAYS * rows
    day_idx = np.repeat(np.arange(DAYS), rows)
    last = day_idx == DAYS - 1
    cols: dict[str, np.ndarray] = {}
    for j, c in enumerate(FLOAT_COLS):
        cols[c] = rng.normal(10.0 * (j + 1), 2.0 + j, n)
    cols["f0"][last] += 12.0
    cols["i0"] = rng.poisson(20, n).astype(np.int64)
    cols["i0"][last] += 15
    cols["i1"] = rng.integers(0, 1000, n)
    cols["i2"] = rng.integers(-50, 50, n)
    cols["i3"] = rng.zipf(1.5, n).clip(max=10**6)
    cols["i4"] = rng.integers(0, 10**9, n)
    cols["i5"] = rng.binomial(30, 0.3, n).astype(np.int64)
    vocab = np.array([f"cat_{k:03d}" for k in range(200)], dtype=object)
    for j, c in enumerate(STR_COLS):
        width = [8, 50, 200, 20][j]
        cols[c] = vocab[rng.integers(0, width, n)]
    cols["s0"][last] = vocab[rng.integers(150, 200, int(last.sum()))]
    cols["b0"] = rng.random(n) < 0.3
    cols["b1"] = rng.random(n) < 0.6
    masks = {c: rng.random(n) < r for c, r in NULL_RATE.items()}

    arrays = {"day": pa.array(np.array([day_name(d) for d in range(DAYS)])[day_idx])}
    for c, v in cols.items():
        arrays[c] = pa.array(v, mask=masks.get(c))
    table = pa.table(arrays)
    files = 8
    per = -(-DAYS // files)
    for k in range(files):
        lo, hi = k * per * rows, min((k + 1) * per, DAYS) * rows
        if lo < hi:
            _write(table.slice(lo, hi - lo), os.path.join(out, f"part-{k}.parquet"))
    non_null = {
        c: [int(rows - masks[c][d * rows:(d + 1) * rows].sum()) if c in masks else rows
            for d in range(DAYS)]
        for c in cols
    }
    return {
        "rows": n,
        "day_rows": rows,
        "days": [day_name(d) for d in range(DAYS)],
        "drifted_day": day_name(DAYS - 1),
        "shifted_columns": SHIFTED,
        "non_null": non_null,
    }


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=["daily_resume_history", "daily_resume", "gate_history"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--scale", type=float, default=1.0)
    p.add_argument("--out", required=True)
    a = p.parse_args(argv)
    tmp = a.out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    data = os.path.join(tmp, "data")
    if a.workload == "daily_resume_history":
        gen_history(data, a.scale)
        expected = {}
    elif a.workload == "daily_resume":
        expected = gen_pending(data, a.seed, a.scale)
    else:
        expected = gen_gate_history(data, a.seed, a.scale)
    with open(os.path.join(tmp, "expected.json"), "w") as f:
        json.dump(expected, f)
        f.flush()
        os.fsync(f.fileno())
    shutil.rmtree(a.out, ignore_errors=True)
    os.rename(tmp, a.out)
    os.sync()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
