"""Small-scale self-test of the benchmark.

    python3 perfbench/selftest.py

For each workload it runs run.py at a small input scale, untraced and
traced, and asserts that every metric BENCHMARK.json names is reported
with its unit and that the outputs pass their checks. It then corrupts
one expected answer of the cached inputs and asserts that the run
reports ``pass_ok_frac`` below 1 and ``correct`` false. Takes a few
minutes (each run starts its own JVMs).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCALE = 0.05
SEED = 9001


def run(workload: str, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(SEED), "--seconds", "1", "--trace", str(trace),
         "--scale", str(SCALE)],
        cwd=ROOT, stdout=subprocess.PIPE, text=True, check=True,
    ).stdout
    return json.loads(out.strip().splitlines()[-1])


def check_metrics(res: dict, declared: list[dict], what: str) -> None:
    got = res["metrics"]
    names = {m["name"] for m in declared}
    missing = names - set(got)
    extra = set(got) - names
    if missing or extra:
        raise AssertionError(f"{what}: missing {sorted(missing)}, undeclared {sorted(extra)}")
    for m in declared:
        if got[m["name"]]["unit"] != m["unit"]:
            raise AssertionError(f"{what}: {m['name']} unit {got[m['name']]['unit']!r}")


def corrupt(workload: str) -> str:
    """Shift one expected answer; returns the dataset dir to drop after."""
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    bench = WORKLOADS[workload](os.path.join(ROOT, ".perfbench"), SEED, SCALE)
    path = bench.expected_path
    with open(path) as f:
        exp = json.load(f)
    if workload == "daily_resume":
        exp["violations"]["vocab_bounds"] += 1
    else:
        exp["non_null"]["f1"][0] += 1
    with open(path, "w") as f:
        json.dump(exp, f)
    return os.path.dirname(path)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for w in [w["name"] for w in spec["workloads"]]:
        res = run(w, 0)
        check_metrics(res, spec["end_to_end"], f"{w} --trace 0")
        assert res["correct"] and res["failed"] == 0, res
        assert res["metrics"]["pass_ok_frac"]["value"] == 1.0, res
        res = run(w, 1)
        check_metrics(res, spec["per_layer"], f"{w} --trace 1")
        assert res["correct"], res
        dataset = corrupt(w)
        try:
            res = run(w, 0)
        finally:
            shutil.rmtree(dataset)
        assert res["metrics"]["pass_ok_frac"]["value"] < 1.0, res
        assert not res["correct"] and res["failed"] > 0, res
        print(f"{w}: ok", flush=True)
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
