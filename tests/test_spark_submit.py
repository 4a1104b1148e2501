"""The north-rule deployment path, exercised for real: the validation
job launched via ``spark-submit --py-files gate_spark.zip`` in a fresh
JVM + fresh working directory (so the package genuinely resolves from
the zip, as it would on a cluster's executors), then resumed — the
second submit must find zero pending partitions, and global stats must
be reconstructible from the committed sketch lineage."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pyspark

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
from make_pyfiles import build  # noqa: E402

SPARK_SUBMIT = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _submit(workdir: str, pyz: str, job_args: list[str]) -> dict:
    launcher = os.path.join(workdir, "run_validation.py")
    shutil.copy(os.path.join(REPO, "tools", "run_validation.py"), launcher)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [
            SPARK_SUBMIT,
            "--master", "local[4]",
            "--conf", "spark.driver.memory=4g",
            "--conf", "spark.ui.enabled=false",
            "--conf", "spark.sql.shuffle.partitions=8",
            "--py-files", pyz,
            launcher,
        ]
        + job_args,
        capture_output=True,
        text=True,
        cwd=workdir,  # NOT the repo: gate_spark must come from the zip
        env=env,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-4000:]
    lines = [l for l in proc.stdout.splitlines() if l.startswith("{")]
    assert lines, proc.stdout[-2000:]
    return json.loads(lines[-1])


def test_spark_submit_pyfiles_run_and_resume(spark, tmp_path):
    from gate_spark.datagen import write_token_table
    from gate_spark.checkpoint import CheckpointStore, merged_stats_from_lineage

    data = str(tmp_path / "tokens")
    write_token_table(
        spark, data, 30000,
        mismatch_frac=0.01, oov_frac=0.01, dup_frac=0.0,
        num_partitions=8,
    )
    pyz = build(str(tmp_path / "gate_spark.zip"))
    out = str(tmp_path / "out")
    lineage = str(tmp_path / "lineage")
    args = [
        "--input", data,
        "--output", out,
        "--lineage", lineage,
        "--partition-key", "source",
        "--domain", ",".join(f"src{i}" for i in range(20)),
        "--sketch",
        "--no-drift",
    ]

    first = _submit(str(tmp_path), pyz, args)
    assert first["status"] == "completed"
    assert first["pending"] == first["partitions"] > 0
    assert first["constraint_failures"] > 0  # injected mismatch/oov fire

    verdicts = spark.read.parquet(f"{out}/verdicts")
    assert verdicts.count() == first["partitions"] * 4
    assert spark.read.parquet(f"{out}/summary").count() > 0

    # resume in another fresh JVM: everything is already committed
    second = _submit(str(tmp_path), pyz, args)
    assert second["status"] == "up-to-date"
    assert second["pending"] == 0
    assert second["run_spec"] == first["run_spec"]
    assert second["snapshot"] == first["snapshot"]

    # sketch lineage committed by the submitted job merges to global
    # stats in THIS session with zero data rescan (per-partition stamp
    # commits -> fetch latest per partition, no global snapshot filter)
    store = CheckpointStore(spark, lineage)
    g = {
        r["column"]: r
        for r in merged_stats_from_lineage(store, first["run_spec"]).collect()
    }
    assert g["n_tok"]["rows"] == 30000
    assert g["n_tok"]["min"] is not None and g["n_tok"]["max"] is not None


def test_cli_per_partition_incremental(spark, tmp_path, capsys):
    """Per-partition snapshot stamps: appending data to ONE partition
    re-validates that partition alone on the next run (in-process CLI;
    the spark-submit path above covers the deployment wrapper)."""
    import json as _json

    from gate_spark.cli import main
    from gate_spark.datagen import write_token_table

    data = str(tmp_path / "tok")
    out = str(tmp_path / "out")
    lineage = str(tmp_path / "lineage")
    write_token_table(spark, data, 8000, num_partitions=4)
    args = [
        "--input", data, "--output", out, "--lineage", lineage,
        "--no-drift", "--sketch", "--local-cores", "8",
    ]

    def run():
        assert main(args) == 0
        line = [l for l in capsys.readouterr().out.splitlines() if l.startswith("{")][-1]
        return _json.loads(line)

    j1 = run()
    assert j1["pending"] == j1["partitions"] == 20

    j2 = run()
    assert j2["status"] == "up-to-date" and j2["pending"] == 0

    # append one row to src7 only
    spark.createDataFrame(
        [("doc-appended", [1, 2, 3], 3, "src7")],
        "doc_id string, tokens array<int>, n_tok int, source string",
    ).write.partitionBy("source").mode("append").parquet(data)

    j3 = run()
    assert j3["pending"] == 1  # only src7 re-validates
    # the resumed run must NOT clobber previously validated partitions'
    # outputs: verdicts/summary still cover all 20 partitions
    verdicts = spark.read.parquet(f"{out}/verdicts")
    assert verdicts.select("partition").distinct().count() == 20
    assert verdicts.count() == 20 * 4
    assert (
        spark.read.parquet(f"{out}/summary").select("source").distinct().count()
        == 20
    )
    j4 = run()
    assert j4["status"] == "up-to-date"

    # global uniqueness across the resume boundary: append a doc to
    # src7 whose doc_id already exists in a COMMITTED partition — the
    # pruned run must still flag it (ADVICE r2: resume previously made
    # unique_doc_id partition-local)
    stolen = (
        spark.read.parquet(data)
        .where("source = 'src3'")
        .select("doc_id")
        .first()[0]
    )
    spark.createDataFrame(
        [(stolen, [1, 2, 3], 3, "src7")],
        "doc_id string, tokens array<int>, n_tok int, source string",
    ).write.partitionBy("source").mode("append").parquet(data)
    j5 = run()
    assert j5["pending"] == 1
    assert j5["global_checks"] in ("unique", "unique+drift")
    v7 = (
        spark.read.parquet(f"{out}/verdicts")
        .where("partition = 'src7' AND constraint = 'unique_doc_id'")
        .first()
    )
    assert v7["violation_count"] >= 1 and not v7["passed"]
    viol = spark.read.parquet(f"{out}/violations").where(
        "partition = 'src7' AND constraint = 'unique_doc_id'"
    )
    assert viol.where(viol.key == stolen).count() >= 1


def _cli_runner(capsys, base_args):
    from gate_spark.cli import main

    def run(extra=()):
        assert main([*base_args, "--local-cores", "8", *extra]) == 0
        line = [l for l in capsys.readouterr().out.splitlines() if l.startswith("{")][-1]
        return json.loads(line)

    return run


def test_cli_file_uris_resume(spark, tmp_path, capsys):
    """``file:`` URIs for the input and the lineage store: the stamps
    and the lineage read go through Hadoop's FileSystem API, so the
    second run finds every partition committed."""
    from gate_spark.datagen import write_token_table

    data = str(tmp_path / "tok")
    write_token_table(spark, data, 2000, num_partitions=2)
    run = _cli_runner(capsys, [
        "--input", "file://" + data, "--output", "file://" + str(tmp_path / "out"),
        "--lineage", "file://" + str(tmp_path / "lineage"), "--no-drift",
    ])
    first = run()
    assert first["status"] == "completed" and first["pending"] == 20
    second = run()
    assert second["status"] == "up-to-date" and second["pending"] == 0


def test_cli_snapshot_back_and_forth_revalidates(spark, tmp_path, capsys):
    """``--snapshot S``, then ``T``, then ``S`` again: the third run
    re-validates every partition, because the outputs hold T's verdicts
    (the latest lineage row decides)."""
    from gate_spark.datagen import write_token_table

    data = str(tmp_path / "tok")
    write_token_table(spark, data, 2000, num_partitions=2)
    run = _cli_runner(capsys, [
        "--input", data, "--output", str(tmp_path / "out"),
        "--lineage", str(tmp_path / "lineage"), "--no-drift",
    ])
    assert run(["--snapshot", "S"])["pending"] == 20
    assert run(["--snapshot", "S"])["status"] == "up-to-date"
    assert run(["--snapshot", "T"])["pending"] == 20
    third = run(["--snapshot", "S"])
    assert third["status"] == "completed" and third["pending"] == 20


def test_cli_max_partitions_per_run(spark, tmp_path, capsys):
    """Bounded failure domain: --max-partitions-per-run M validates at
    most M pending partitions per invocation and commits their lineage,
    so a kill between invocations loses only one batch; repeated runs
    drain the backlog deterministically to up-to-date with full output
    coverage."""
    import json as _json

    from gate_spark.cli import main
    from gate_spark.datagen import write_token_table

    data = str(tmp_path / "tok")
    out = str(tmp_path / "out")
    lineage = str(tmp_path / "lineage")
    write_token_table(spark, data, 8000, dup_frac=0.01, num_partitions=4)

    def run(extra):
        assert main([
            "--input", data, "--output", out, "--lineage", lineage,
            "--no-drift", "--sketch", "--local-cores", "8",
        ] + extra) == 0
        line = [l for l in capsys.readouterr().out.splitlines() if l.startswith("{")][-1]
        return _json.loads(line)

    j1 = run(["--max-partitions-per-run", "7"])
    assert j1["status"] == "partial" and j1["pending"] == 7 and j1["deferred"] == 13
    j2 = run(["--max-partitions-per-run", "7"])
    assert j2["status"] == "partial" and j2["pending"] == 7 and j2["deferred"] == 6
    j3 = run([])  # drain the rest uncapped
    assert j3["status"] == "completed" and j3["pending"] == 6
    j4 = run(["--max-partitions-per-run", "7"])
    assert j4["status"] == "up-to-date" and j4["pending"] == 0
    # the cap is an invocation detail, not a validation identity
    assert len({j["run_spec"] for j in (j1, j2, j3, j4)}) == 1
    verdicts = spark.read.parquet(f"{out}/verdicts")
    assert verdicts.select("partition").distinct().count() == 20


def test_cli_resumed_drift_matches_one_shot(spark, tmp_path, capsys):
    """A run that commits 6 partitions and a resume that validates the
    other 2 write the same drift rows for those 2 as one run over all 8:
    the resume scores on the committed partitions' summary rows from
    lineage."""
    import json as _json

    from gate_spark.cli import main

    data = str(tmp_path / "tok")
    rows = [
        (f"d-{s}-{i}", list(range(n)), n, f"src{s}")
        for s in range(8)
        for i in range(120)
        # src6 is shifted longer: the drifted pending partition
        for n in [6 + (i % 12) + (8 if s == 6 else 0)]
    ]
    spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string"
    ).write.partitionBy("source").parquet(data)

    def run(name, extra=()):
        out = str(tmp_path / name)
        assert main([
            "--input", data, "--output", out, "--lineage", str(tmp_path / f"{name}-lin"),
            "--sketch", "--local-cores", "8", *extra,
        ]) == 0
        return _json.loads(
            [l for l in capsys.readouterr().out.splitlines() if l.startswith("{")][-1]
        )

    def drift_rows(name):
        pdf = spark.read.parquet(str(tmp_path / name / "drift")).toPandas()
        pdf = pdf[pdf["partition"].isin(["src6", "src7"])]
        return pdf.sort_values("partition").reset_index(drop=True)

    assert run("resumed", ["--max-partitions-per-run", "6"])["pending"] == 6
    j = run("resumed")
    assert j["pending"] == 2 and j["global_checks"] == "unique+drift"
    assert run("oneshot")["pending"] == 8

    resumed, oneshot = drift_rows("resumed"), drift_rows("oneshot")
    assert resumed["partition"].tolist() == ["src6", "src7"]
    assert resumed["is_drifted"].tolist() == oneshot["is_drifted"].tolist() == [True, False]
    assert resumed["score_percentile"].tolist() == oneshot["score_percentile"].tolist()
    np.testing.assert_allclose(resumed["score"], oneshot["score"], rtol=0, atol=1e-9)


def test_escape_path_name_matches_spark(spark, tmp_path):
    """_drop_partition_dirs must address the SAME escaped directory
    Spark writes for special-character partition values."""
    from gate_spark.cli import _escape_path_name

    out = str(tmp_path / "esc")
    val = "a b:c/d%e"
    spark.createDataFrame([(val, 1)], "source string, x int").write.partitionBy(
        "source"
    ).parquet(out)
    import os

    written = [d for d in os.listdir(out) if d.startswith("source=")]
    assert written == [f"source={_escape_path_name(spark, val)}"]
