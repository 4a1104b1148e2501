"""Spans around calls into gate_spark's public functions, installed from
the benchmark's own files (no tracing code lives in the library).

Each span records (name, start, end, parent) and sets its own Spark job
group for its duration, so the jobs it caused are read back from the
JVM status store after the pass. A counter on the py4j gateway client
counts driver->JVM calls. Spans stay in memory and are written out
when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    group: str = ""
    attrs: dict = field(default_factory=dict)

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


class Tracer:
    """Records spans while ``active``; wrappers installed by
    :meth:`install` call straight through when it is not."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.active = False
        self.spans: list[Span] = []
        self.stack: list[int] = []
        self.py4j_calls = 0
        self._counting = True
        self._seq = 0
        self._patched: list[tuple[object, str, object]] = []

    # -- installation -------------------------------------------------
    def _patch(self, owner, attr: str, name, after=None) -> None:
        """Wrap ``owner.attr`` in a span called ``name`` (or
        ``name(tracer)``). A name the library no longer has is skipped,
        so a refactor loses a span rather than breaking the run."""
        orig = getattr(owner, attr, None)
        if orig is None:
            return
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not tracer.active:
                return orig(*args, **kwargs)
            with tracer.span(name(tracer) if callable(name) else name) as sp:
                out = orig(*args, **kwargs)
                if after is not None:
                    after(sp, out)
                return out

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def install(self) -> None:
        import py4j.java_gateway as jg
        from pyspark.sql.readwriter import DataFrameWriter

        import gate_spark
        from gate_spark import checkpoint, cli, iceberg, pipeline, sketches
        from gate_spark.operators import drift, summarize

        def json_kb(sp, out):
            sp.attrs["json_kb"] = sum(len(v) for v in out.values()) / 1024.0

        targets = [
            (cli, "main", "cli.main"),
            # a parquet write belongs to the layer that asked for it
            (DataFrameWriter, "parquet", lambda t: f"{t.current_layer()}.write"),
            (pipeline, "validate_tokens", "pipeline.validate"),
            (gate_spark, "validate_tokens", "pipeline.validate"),
            (summarize, "summarize", "summarize.build"),
            (pipeline, "summarize", "summarize.build"),
            (gate_spark, "summarize", "summarize.build"),
            (drift, "detect_drift", "drift.detect"),
            (gate_spark, "detect_drift", "drift.detect"),
            (drift.DriftResult, "drill_down", "drift.drill_down"),
            (iceberg, "read_table", "iceberg.read"),
            (gate_spark, "read_table", "iceberg.read"),
            (iceberg, "partition_snapshot_stamps", "iceberg.stamp"),
            (iceberg, "current_snapshot_id", "iceberg.stamp"),
            (checkpoint.CheckpointStore, "pending_by_stamps", "checkpoint.pending"),
            (checkpoint.CheckpointStore, "pending_partitions", "checkpoint.pending"),
            (checkpoint.CheckpointStore, "sketch_state", "checkpoint.sketch_state"),
            (checkpoint.CheckpointStore, "mark_completed", "checkpoint.commit"),
            (sketches, "column_sketches", "sketches.build"),
            (sketches, "sketches_from_json", "sketches.load"),
        ]
        for owner, attr, name in targets:
            self._patch(owner, attr, name)
        self._patch(sketches, "sketches_to_json", "sketches.build", after=json_kb)

        orig_send = jg.GatewayClient.send_command
        tracer = self

        @functools.wraps(orig_send)
        def send_command(client, *args, **kwargs):
            if tracer.active and tracer._counting:
                tracer.py4j_calls += 1
            return orig_send(client, *args, **kwargs)

        self._patched.append((jg.GatewayClient, "send_command", orig_send))
        jg.GatewayClient.send_command = send_command

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # -- spans ----------------------------------------------------------
    def _set_group(self, group: str | None) -> None:
        self._counting = False
        try:
            self.sc.setLocalProperty("spark.jobGroup.id", group)
        finally:
            self._counting = True

    def current_layer(self) -> str:
        return self.spans[self.stack[-1]].layer if self.stack else "bench"

    @contextlib.contextmanager
    def span(self, name: str):
        """Record a span; jobs submitted inside it get its job group."""
        self._seq += 1
        sp = Span(name, time.perf_counter(), parent=self.stack[-1] if self.stack else None,
                  group=f"perfbench-{self._seq}")
        self.spans.append(sp)
        self.stack.append(len(self.spans) - 1)
        self._set_group(sp.group)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self.stack.pop()
            self._set_group(self.spans[self.stack[-1]].group if self.stack else None)

    def pass_started(self) -> None:
        self.pass_from = len(self.spans)
        self.py4j_calls = 0

    def pass_spans(self) -> list[Span]:
        """The last pass's spans, parents re-based onto that slice."""
        k = self.pass_from
        return [
            Span(s.name, s.start, s.end, None if s.parent is None else s.parent - k,
                 s.group, s.attrs)
            for s in self.spans[k:]
        ]


# -- reading the pass back ----------------------------------------------
_STAGE_FIELDS = {
    "tasks": ("numTasks", 1.0),
    "run_s": ("executorRunTime", 1e-3),
    "cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "input_mb": ("inputBytes", 1 / 2**20),
    "shuffle_write_mb": ("shuffleWriteBytes", 1 / 2**20),
    "spill_mb": ("diskBytesSpilled", 1 / 2**20),
}


def spark_work(spark, groups: list[str]) -> dict[str, dict]:
    """Per job group: jobs, stages and summed stage metrics from the
    status store. A stage shared by several jobs is counted once, under
    the first group that ran it."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    seen: set[int] = set()
    out: dict[str, dict] = {}
    for g in groups:
        w = {"jobs": 0, "stages": 0, **{k: 0.0 for k in _STAGE_FIELDS}}
        for jid in tracker.getJobIdsForGroup(g):
            w["jobs"] += 1
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else []:
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    sd = store.lastStageAttempt(sid)
                except Py4JJavaError:  # a stage with no attempt recorded
                    continue
                if sd.status().toString() == "SKIPPED":  # shuffle output reused
                    continue
                w["stages"] += 1
                for k, (getter, scale) in _STAGE_FIELDS.items():
                    w[k] += getattr(sd, getter)() * scale
        out[g] = w
    return out


def self_time(spans: list[Span], i: int) -> float:
    """Span i's duration minus the part of it its children cover."""
    sp = spans[i]
    kids = sorted(
        (s.start, s.end) for s in spans if s.parent == i and s.end > s.start
    )
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in kids:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (sp.end - sp.start) - covered


def write_spans(spans: list[Span], path: str) -> None:
    with open(path, "w") as f:
        json.dump(
            [
                {"name": s.name, "start": s.start, "end": s.end,
                 "parent": s.parent, "attrs": s.attrs}
                for s in spans
            ],
            f,
        )


# unit of each per-layer metric whose name does not end in _s or _mb
UNITS = {
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.busy_frac": "ratio", "driver.py4j_calls": "count",
    "pipeline.jobs": "count", "summarize.jobs": "count", "checkpoint.jobs": "count",
    "sketches.json_kb": "KiB", "cli.files_written": "count",
}


def unit(metric: str) -> str:
    if metric in UNITS:
        return UNITS[metric]
    return "MiB" if metric.endswith("_mb") else "s"


def pass_layers(spans: list[Span], work: dict[str, dict], wall: float, cpu: float,
                py4j_calls: int, cores: int, files: int, written_mb: float) -> dict:
    """One traced pass's per-layer metrics (see README.md). ``spans``
    is the pass's slice of the span list, parents re-based onto it."""
    tot = {k: sum(w[k] for w in work.values()) for k in next(iter(work.values()))}

    def outer(name):
        """Summed duration of the spans called ``name`` that are not
        nested inside another span of the same name."""
        total = 0.0
        for s in spans:
            if s.name != name:
                continue
            p = s.parent
            while p is not None and spans[p].name != name:
                p = spans[p].parent
            if p is None:
                total += s.end - s.start
        return total

    def jobs(layer):
        return sum(work[s.group]["jobs"] for s in spans if s.layer == layer)

    return {
        "spark.jobs": tot["jobs"],
        "spark.stages": tot["stages"],
        "spark.tasks": tot["tasks"],
        "spark.busy_frac": tot["run_s"] / (wall * cores),
        "spark.executor_cpu_s": tot["cpu_s"],
        "spark.gc_s": tot["gc_s"],
        "spark.input_mb": tot["input_mb"],
        "spark.shuffle_write_mb": tot["shuffle_write_mb"],
        "spark.spill_mb": tot["spill_mb"],
        "driver.py4j_calls": py4j_calls,
        "driver.cpu_s": cpu,
        "pipeline.validate_s": outer("pipeline.validate"),
        "pipeline.jobs": jobs("pipeline"),
        "summarize.build_s": outer("summarize.build"),
        "summarize.agg_s": outer("summarize.agg"),
        "summarize.jobs": jobs("summarize"),
        "drift.detect_s": outer("drift.detect"),
        "drift.drill_down_s": outer("drift.drill_down"),
        "iceberg.stamp_s": outer("iceberg.stamp"),
        "iceberg.read_s": outer("iceberg.read"),
        "checkpoint.pending_s": outer("checkpoint.pending"),
        "checkpoint.sketch_state_s": outer("checkpoint.sketch_state"),
        "checkpoint.commit_s": outer("checkpoint.commit"),
        "checkpoint.jobs": jobs("checkpoint"),
        "sketches.build_s": outer("sketches.build"),
        "sketches.load_s": outer("sketches.load"),
        "sketches.json_kb": sum(s.attrs.get("json_kb", 0.0) for s in spans),
        "cli.write_s": outer("cli.write"),
        "cli.files_written": files,
        "cli.written_mb": written_mb,
        "cli.self_s": sum(self_time(spans, i) for i, s in enumerate(spans) if s.name == "cli.main"),
    }


def span_table(spans: list[Span], work: dict[str, dict]) -> dict[str, list[float]]:
    """name -> [calls, total_s, self_s, jobs, stages, tasks] for one
    traced pass."""
    rows: dict[str, list[float]] = {}
    for i, s in enumerate(spans):
        w = work[s.group]
        r = rows.setdefault(s.name, [0, 0.0, 0.0, 0, 0, 0])
        for j, v in enumerate((1, s.end - s.start, self_time(spans, i),
                               w["jobs"], w["stages"], w["tasks"])):
            r[j] += v
    return rows


def print_span_table(tables: list[dict], untraced_p50: float, traced_p50: float) -> None:
    """Mean per traced pass of each span name's row."""
    n = len(tables)
    print(f"per-layer spans, mean per traced pass over {n} passes "
          f"(untraced p50 {untraced_p50:.3f} s, traced p50 {traced_p50:.3f} s, "
          f"overhead {traced_p50 - untraced_p50:+.3f} s)")
    print(f"{'span':28s} {'calls':>6s} {'total_s':>9s} {'self_s':>9s} "
          f"{'jobs':>6s} {'stages':>7s} {'tasks':>7s}")
    for k in sorted({k for t in tables for k in t}):
        v = [sum(t.get(k, [0] * 6)[j] for t in tables) / n for j in range(6)]
        print(f"{k:28s} {v[0]:6.1f} {v[1]:9.3f} {v[2]:9.3f} {v[3]:6.1f} {v[4]:7.1f} {v[5]:7.1f}")
