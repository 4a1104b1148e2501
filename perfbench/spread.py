"""Run-to-run spread of the end-to-end metrics over several seeds.

    python3 perfbench/spread.py --workload gate_history --seeds 1-10 [--seconds 15]

Runs ``run.py`` once per seed, one after another, and prints for each
metric its median and the distance between the first and third
quartiles as a share of the median, plus each run's wall time and the
CPU steal over its timed window. Each result line is appended to
.perfbench/spread-<workload>.jsonl.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--seconds", type=int, default=None,
                   help="defaults to run_seconds in BENCHMARK.json")
    a = p.parse_args()
    if a.seconds is None:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            a.seconds = json.load(f)["run_seconds"]
    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    log = os.path.join(ROOT, ".perfbench", f"spread-{a.workload}.jsonl")
    values: dict[str, list[float]] = {}
    walls = []
    for s in seeds(a.seeds):
        t = time.perf_counter()
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
             "--seed", str(s), "--seconds", str(a.seconds), "--trace", "0"],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
            check=True,
        ).stdout
        walls.append(time.perf_counter() - t)
        res = json.loads(out.strip().splitlines()[-1])
        with open(os.path.join(ROOT, ".perfbench", f"record-{a.workload}-{s}-0.json")) as f:
            steal = json.load(f)["steal_frac"]
        with open(log, "a") as f:
            f.write(json.dumps({"seed": s, "wall_s": walls[-1], **res}) + "\n")
        for k, m in res["metrics"].items():
            values.setdefault(k, []).append(m["value"])
        print(f"seed {s}: wall {walls[-1]:.1f} s steal {steal:.3f} correct={res['correct']} "
              + " ".join(f"{k}={m['value']:.4g}" for k, m in res["metrics"].items()),
              flush=True)
    print(f"{'metric':16s} {'median':>10s} {'iqr/median':>10s}")
    for k, v in values.items():
        med = statistics.median(v)
        if len(v) >= 2:
            q1, _, q3 = statistics.quantiles(v, n=4)
            rel = (q3 - q1) / med if med else float("nan")
        else:
            rel = float("nan")
        print(f"{k:16s} {med:10.4g} {rel:10.4f}")
    print(f"wall per run: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
