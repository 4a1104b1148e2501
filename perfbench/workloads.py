"""The benchmark's workloads: what one pass runs, and how its outputs are
checked against the generator's expected answers.

Both workloads call gate_spark's public API only, so the library's
internals can change without touching the benchmark.

- ``daily_resume``: one in-process ``gate_spark.cli.main`` incremental
  run (``--lineage --sketch``) over 24 source partitions, 23 already
  committed and 1 pending; the lineage and output directories are
  restored from a template before every pass, untimed.
- ``gate_history``: ``summarize`` (default approx modes) over 90 daily
  partitions x 16 mixed-type columns, then ``detect_drift`` on the
  last day (planted shift) and ``drill_down``.

    python3 perfbench/workloads.py template --work DIR --scale S

builds the daily_resume template in its own process (run.py does this
once per checkout and scale).
"""

from __future__ import annotations

import argparse
import contextlib
import glob
import hashlib
import io
import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pyarrow.parquet as pq

import gen


def digest(paths: list[str]) -> str:
    """Short content hash of files, naming caches that must be rebuilt
    when those files change."""
    h = hashlib.sha1()
    for path in sorted(paths):
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:10]


# cached inputs are rebuilt when the generator changes
GEN_VERSION = digest([gen.__file__])


def library_version(root: str) -> str:
    """Hash of the gate_spark sources: the daily_resume template is
    written by the library, so a changed library rebuilds it."""
    return digest(glob.glob(os.path.join(root, "gate_spark", "**", "*.py"), recursive=True))


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def generate(kind: str, seed: int, scale: float, out: str) -> None:
    """Write one input dataset with gen.py, in its own process, unless
    it is already cached."""
    if os.path.isdir(out):
        return
    log(f"generating {kind} seed={seed}")
    subprocess.run(
        [sys.executable, os.path.abspath(gen.__file__), "--workload", kind,
         "--seed", str(seed), "--scale", repr(scale), "--out", out],
        check=True,
    )


def storage_mb(spark) -> float:
    """Spark storage (memory + disk) held by persisted blocks now."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 2**20


def link_tree(src: str, dst: str) -> None:
    """Hard-link copy: same inodes, so file stamps (size, mtime) and the
    page cache carry over."""
    shutil.rmtree(dst, ignore_errors=True)
    shutil.copytree(src, dst, copy_function=os.link)


def _files_under(paths: list[str]):
    for base in paths:
        for d, _, files in os.walk(base):
            for f in files:
                yield os.path.join(d, f)


class DailyResume:
    name = "daily_resume"

    def __init__(self, work: str, seed: int, scale: float) -> None:
        self.seed, self.scale = seed, scale
        self.base = os.path.join(work, f"daily_resume-{scale:g}-{GEN_VERSION}")
        self.history = os.path.join(self.base, "history")
        self.pending = os.path.join(self.base, f"pending-{seed}")
        self.table = os.path.join(self.base, "table")
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        self.template = os.path.join(self.base, f"template-{library_version(root)}")
        self.out = os.path.join(self.base, "run", "out")
        self.lineage = os.path.join(self.base, "run", "lineage")
        self.expected_path = os.path.join(self.pending, "expected.json")
        self.expected: dict = {}
        self.rows = 0
        self.cache_samples: list[float] = []

    @property
    def cache_mb(self) -> float:
        return max(self.cache_samples, default=0.0)

    def ensure_fixed(self, cores: int) -> None:
        """The seed-independent history and its template: built by the
        first run in a checkout, in their own processes."""
        generate("daily_resume_history", 0, self.scale, self.history)
        if os.path.isdir(self.template):
            return
        log("building the daily_resume template")
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), "template",
             "--work", os.path.dirname(self.base), "--scale", repr(self.scale),
             "--cores", str(cores)],
            check=True,
        )

    def ensure_inputs(self) -> None:
        generate("daily_resume", self.seed, self.scale, self.pending)

    def argv(self, out: str, lineage: str) -> list[str]:
        domain = ",".join(gen.source_name(i) for i in range(gen.SOURCES))
        return [
            "--input", self.table, "--output", out, "--lineage", lineage,
            "--sketch", "--domain", domain,
        ]

    def build_template(self, spark) -> None:
        """Commit the history partitions with the public CLI, then keep
        the lineage and output it leaves as the per-pass template."""
        from gate_spark import cli

        tmp = self.template + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        link_tree(os.path.join(self.history, "data"), self.table)
        with contextlib.redirect_stdout(io.StringIO()) as buf:
            cli.main(self.argv(os.path.join(tmp, "out"), os.path.join(tmp, "lineage")))
        line = json.loads(buf.getvalue().strip().splitlines()[-1])
        if line.get("status") != "completed" or line.get("pending") != gen.SOURCES - 1:
            raise RuntimeError(f"template run did not commit the history: {line}")
        os.sync()
        os.rename(tmp, self.template)

    def input_files(self) -> list[str]:
        return list(_files_under([self.table, self.template]))

    def prepare(self, spark) -> None:
        with open(self.expected_path) as f:
            self.expected = json.load(f)
        self.rows = self.expected["rows"]
        part = f"source={gen.pending_source()}"
        link_tree(os.path.join(self.pending, "data", part), os.path.join(self.table, part))

        from pyspark.sql.readwriter import DataFrameWriter

        orig = DataFrameWriter.parquet
        bench = self

        def parquet(writer, *args, **kwargs):
            # the CLI forces its caches before it writes the outputs and
            # releases them after: the storage held after each write,
            # at its largest, is the pass's peak
            try:
                return orig(writer, *args, **kwargs)
            finally:
                bench.cache_samples.append(storage_mb(spark))

        DataFrameWriter.parquet = parquet
        self._restore = lambda: setattr(DataFrameWriter, "parquet", orig)

    def finish(self) -> None:
        self._restore()

    def before_pass(self) -> None:
        for name, dst in (("out", self.out), ("lineage", self.lineage)):
            shutil.rmtree(dst, ignore_errors=True)
            shutil.copytree(os.path.join(self.template, name), dst)
        os.sync()

    def run_pass(self, spark, span) -> dict:
        from gate_spark import cli

        self.cache_samples = []
        with contextlib.redirect_stdout(io.StringIO()) as buf:
            rc = cli.main(self.argv(self.out, self.lineage))
        return {"rc": rc, "stdout": buf.getvalue()}

    def check(self, res: dict) -> list[str]:
        errs = []
        lines = res["stdout"].strip().splitlines()
        line = json.loads(lines[-1]) if lines else {}
        want = {"status": "completed", "pending": 1, "partitions": gen.SOURCES,
                "global_checks": "unique+drift"}
        for k, v in want.items():
            if line.get(k) != v:
                errs.append(f"cli {k}={line.get(k)!r}, expected {v!r}")
        pend = gen.pending_source()
        verdicts = pq.read_table(os.path.join(self.out, "verdicts")).to_pandas()
        if verdicts["partition"].astype(str).nunique() != gen.SOURCES:
            errs.append("verdicts do not cover every partition")
        got = {
            r.constraint: int(r.violation_count)
            for r in verdicts[verdicts["partition"].astype(str) == pend].itertuples()
        }
        if got != self.expected["violations"]:
            errs.append(f"violations {got} != expected {self.expected['violations']}")
        rc = verdicts[verdicts["partition"].astype(str) == pend]["row_count"]
        if set(rc.tolist()) != {self.rows}:
            errs.append(f"row_count {set(rc.tolist())} != {self.rows}")
        for table, col in (("distribution", "psi_drifted"), ("drift", "is_drifted")):
            t = pq.read_table(os.path.join(self.out, table)).to_pandas()
            flag = t[t["partition"].astype(str) == pend][col].tolist()
            if flag != [True]:
                errs.append(f"{table}.{col} for the drifted day is {flag}")
        if not self.cache_samples:
            errs.append("no output write was seen, so cache_peak_mb was not sampled")
        return errs

    def written(self, since: float) -> tuple[int, float]:
        """(files, MB) the pass wrote into the output and lineage dirs."""
        files = [
            p for p in _files_under([self.out, self.lineage])
            if os.stat(p).st_mtime >= since
        ]
        return len(files), sum(os.path.getsize(p) for p in files) / 2**20


class GateHistory:
    name = "gate_history"
    columns = gen.FLOAT_COLS + gen.INT_COLS + gen.STR_COLS + gen.BOOL_COLS

    def __init__(self, work: str, seed: int, scale: float) -> None:
        self.seed, self.scale = seed, scale
        self.data_dir = os.path.join(
            work, f"gate_history-{scale:g}-{GEN_VERSION}", f"seed-{seed}"
        )
        self.expected_path = os.path.join(self.data_dir, "expected.json")
        self.expected: dict = {}
        self.rows = 0
        self.cache_mb = 0.0

    def ensure_fixed(self, cores: int) -> None:
        pass

    def ensure_inputs(self) -> None:
        generate("gate_history", self.seed, self.scale, self.data_dir)

    def input_files(self) -> list[str]:
        return list(_files_under([self.data_dir]))

    def prepare(self, spark) -> None:
        with open(self.expected_path) as f:
            self.expected = json.load(f)
        self.rows = self.expected["rows"]

    def finish(self) -> None:
        pass

    def before_pass(self) -> None:
        pass

    def run_pass(self, spark, span) -> dict:
        import gate_spark as gs

        df = gs.read_table(spark, os.path.join(self.data_dir, "data"))
        summary = gs.summarize(df, columns=self.columns, partition_key="day", extras=True)
        with span("summarize.agg"):
            values = summary.df.toPandas()
        result = gs.detect_drift(summary)
        ranked = result.drill_down()
        self.cache_mb = storage_mb(spark)
        summary.unpersist()
        return {
            "values": values,
            "verdict": result.verdict(),
            "top_columns": ranked["column"].head(3).tolist(),
        }

    def check(self, res: dict) -> list[str]:
        errs = []
        exp = self.expected
        v = res["values"]
        if len(v) != len(exp["days"]) * len(self.columns):
            errs.append(f"summary has {len(v)} rows")
        rows = exp["day_rows"]
        day_pos = {d: i for i, d in enumerate(exp["days"])}
        for r in v.itertuples():
            nn = exp["non_null"][r.column][day_pos[r.day]]
            if r.count != np.float32(nn) or r.coverage != np.float32(nn / rows):
                errs.append(f"{r.day}/{r.column}: count={r.count} coverage={r.coverage}, expected {nn}/{rows}")
                break
        verdict = res["verdict"]
        if verdict["partition"] != exp["drifted_day"] or not verdict["is_drifted"]:
            errs.append(f"drift verdict {verdict}")
        if res["top_columns"][0] not in exp["shifted_columns"]:
            errs.append(f"drill_down ranks {res['top_columns']} first")
        return errs

    def written(self, since: float) -> tuple[int, float]:
        return 0, 0.0


WORKLOADS = {w.name: w for w in (DailyResume, GateHistory)}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("what", choices=["template"])
    p.add_argument("--work", required=True)
    p.add_argument("--scale", type=float, required=True)
    p.add_argument("--cores", type=int, required=True)
    a = p.parse_args(argv)
    from run import start_session, stop_session

    spark = start_session(a.cores)
    try:
        DailyResume(a.work, 0, a.scale).build_template(spark)
    finally:
        stop_session(spark)
    return 0


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    raise SystemExit(main())
