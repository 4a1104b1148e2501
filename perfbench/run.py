"""gate_spark benchmark: one workload, one fresh JVM, one JSON result.

    python3 perfbench/run.py --workload {daily_resume,gate_history} \\
        --seed N --seconds S --trace {0,1} [--scale F]

Run from the root of a checkout. Inputs are generated from --seed by
perfbench/gen.py in a separate process and cached under .perfbench/.
The run then

1. starts a cold Spark session (a new JVM) and reports its start time
   plus the library import time as ``setup_s``;
2. runs the first pass in the fresh JVM (``first_pass_s``);
3. times passes for --seconds (at least MIN_TIMED of them) and reports
   their median.

Every pass's outputs are checked against the generator's answers.
With --trace 1 the timed window alternates untraced and traced passes;
the traced ones give the per-layer metrics (see perfbench/README.md)
and the difference of the two medians is the tracing overhead.

The last line on stdout is the JSON result; progress goes to stderr.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# driver heap: the library's 24g default exceeds a 16 GB host
DRIVER_MEM = "4g"
# timed passes per run at least, so an untraced pass_s.p50 is a median
# of three or more. Timing starts at the second pass: on both
# workloads it typically runs 15-30 % slower than the third and
# fourth, but as the slowest of three it does not set their median.
# Timing daily_resume passes 3-5 instead spread as much over ten seeds
# (0.18 against 0.16 for passes 2-4) and adds ~9 s to every run.
MIN_TIMED = 3


def configure_env(work: str) -> int:
    """Pin the deployment settings the library reads (heap, local dirs;
    cores go to ``get_spark``) and keep temporary files inside the
    work dir; returns the core count."""
    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["SPARK_LOCAL_DIRS"], exist_ok=True)
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    return cores


def start_session(cores: int):
    import gate_spark as gs

    return gs.get_spark("perfbench", cores=cores)


def stop_session(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit, so
    the next start is cold."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def read_through(paths: list[str]) -> None:
    """Read every input file once so timed passes find it in the page
    cache."""
    for p in paths:
        with open(p, "rb") as f:
            while f.read(1 << 22):
                pass


def since_process_start() -> float:
    """Seconds since this process started (field 22 of /proc/self/stat,
    in clock ticks since boot)."""
    with open("/proc/self/stat") as f:
        start = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start / os.sysconf("SC_CLK_TCK")


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def mem_total_kb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    return 0


class Runner:
    """Runs, times and checks the passes of one workload in one session."""

    def __init__(self, spark, bench, cores: int, tracer=None) -> None:
        self.spark, self.bench, self.cores, self.tracer = spark, bench, cores, tracer
        self.curve: list[dict] = []
        self.layers: list[dict] = []  # per traced pass
        self.tables: list[dict] = []  # per traced pass
        self.steal = 0.0  # CPU steal share over the timed window

    def one_pass(self, phase: str, traced: bool = False) -> float:
        import tracing
        from workloads import log

        b, tr = self.bench, self.tracer
        b.before_pass()
        if traced:
            tr.pass_started()
            tr.active = True
        span = tr.span if traced else (lambda name: contextlib.nullcontext())
        wall0, cpu0, t0 = time.time(), time.process_time(), time.perf_counter()
        try:
            with span("pass"):
                res = b.run_pass(self.spark, span)
            err = None
        except Exception as e:  # a failed pass is counted, not fatal
            traceback.print_exc(file=sys.stderr)
            res, err = None, f"{type(e).__name__}: {e}"
        dt = time.perf_counter() - t0
        cpu = time.process_time() - cpu0
        if traced:
            tr.active = False
        try:
            errs = [err] if err else b.check(res)
        except Exception as e:  # outputs missing or malformed
            errs = [f"check raised {type(e).__name__}: {e}"]
        if errs:
            log(f"CHECK FAILED {errs}")
        self.curve.append({"phase": phase, "s": dt, "ok": not errs, "errors": errs,
                           "traced": traced, "cache_mb": b.cache_mb})
        if traced:
            spans = tr.pass_spans()
            work = tracing.spark_work(self.spark, [s.group for s in spans])
            files, mb = b.written(wall0)
            self.layers.append(tracing.pass_layers(
                spans, work, dt, cpu, tr.py4j_calls, self.cores, files, mb))
            self.tables.append(tracing.span_table(spans, work))
        log(f"{phase} pass {len(self.curve)}: {dt:.3f} s{' traced' if traced else ''}")
        return dt

    def measure(self, seconds: float) -> tuple[float, list[float], list[float]]:
        """First pass, then the timed window; with a tracer the window
        alternates untraced and traced passes.
        Returns (first, timed, traced)."""
        first = self.one_pass("first")
        timed, traced = [], []
        cpu0 = cpu_times()
        while len(timed) + len(traced) < MIN_TIMED or sum(timed) + sum(traced) < seconds:
            if self.tracer is None:
                timed.append(self.one_pass("timed"))
                continue
            # untraced/traced pairs in ABBA order, so a pass-time curve
            # that still drifts biases neither side
            order = (False, True) if len(timed) % 2 == 0 else (True, False)
            for t in order:
                (traced if t else timed).append(self.one_pass("timed", traced=t))
        cpu1 = cpu_times()
        # field 7 of the cpu line is steal: time the hypervisor ran
        # another guest while this one was runnable
        self.steal = (cpu1[7] - cpu0[7]) / max(sum(cpu1[:8]) - sum(cpu0[:8]), 1)
        return first, timed, traced


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input size factor (1.0 is the benchmark; the self-test uses less)")
    a = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "gate_spark")):
        p.exit(2, f"no gate_spark package under {ROOT}: run from a gate_spark checkout\n")
    sys.path.insert(0, ROOT)
    import gate_spark  # noqa: F401

    # measured before the benchmark's own imports (numpy, pyarrow) so
    # they do not count toward the library's import time
    import_s = since_process_start()
    import tracing
    from workloads import WORKLOADS, log

    if a.workload not in WORKLOADS:
        p.error(f"unknown workload {a.workload!r}; choose from {sorted(WORKLOADS)}")
    t0 = time.perf_counter()
    work = os.path.join(ROOT, ".perfbench")
    cores = configure_env(work)
    # inputs every workload shares across seeds are built by whichever
    # run comes first in a checkout
    for cls in WORKLOADS.values():
        cls(work, a.seed, a.scale).ensure_fixed(cores)
    bench = WORKLOADS[a.workload](work, a.seed, a.scale)
    bench.ensure_inputs()
    read_through(bench.input_files())
    os.sync()
    log(f"inputs ready in {time.perf_counter() - t0:.1f} s")

    t = time.perf_counter()
    spark = start_session(cores)
    session_s = time.perf_counter() - t
    setup_s = import_s + session_s
    log(f"setup {setup_s:.3f} s (import {import_s:.3f} s, session start {session_s:.3f} s)")

    tracer = tracing.Tracer(spark) if a.trace else None
    try:
        if tracer is not None:
            tracer.install()
        bench.prepare(spark)
        r = Runner(spark, bench, cores, tracer)
        first, timed, traced = r.measure(a.seconds)
        bench.finish()
    finally:
        if tracer is not None:
            tracer.uninstall()
            tracing.write_spans(tracer.spans, os.path.join(work, f"spans-{a.workload}-{a.seed}.json"))
        stop_session(spark)

    p50 = statistics.median(timed)
    attempted = len(r.curve)
    failed = sum(not c["ok"] for c in r.curve)
    record = {
        "workload": a.workload, "seed": a.seed, "scale": a.scale, "trace": a.trace,
        "nproc": cores, "mem_total_kb": mem_total_kb(), "steal_frac": r.steal,
        "session_s": session_s, "import_s": import_s, "timed_passes": len(timed),
        "curve": r.curve,
    }
    with open(os.path.join(work, f"record-{a.workload}-{a.seed}-{a.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)
    log("curve " + " ".join(f"{c['s']:.2f}" for c in r.curve))
    log(f"timed passes {len(timed)}, p50 {p50:.3f} s, steal {r.steal:.4f}, "
        f"nproc {cores}, MemTotal {record['mem_total_kb']} kB")

    if a.trace:
        per = {k: statistics.median(s[k] for s in r.layers) for k in r.layers[0]}
        per["trace.pass_s"] = statistics.median(traced)
        per["trace.overhead_s"] = per["trace.pass_s"] - p50
        metrics = {k: {"value": v, "unit": tracing.unit(k)} for k, v in per.items()}
        tracing.print_span_table(r.tables, p50, per["trace.pass_s"])
    else:
        timed_cache = [c["cache_mb"] for c in r.curve if c["phase"] == "timed"]
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "first_pass_s": {"value": first, "unit": "s"},
            "pass_s.p50": {"value": p50, "unit": "s"},
            "rows_per_s": {"value": bench.rows / p50, "unit": "1/s"},
            "cache_peak_mb": {"value": statistics.median(timed_cache), "unit": "MiB"},
            "pass_ok_frac": {"value": (attempted - failed) / attempted, "unit": "ratio"},
        }
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
