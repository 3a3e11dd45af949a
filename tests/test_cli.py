"""spark-submit CLI entry: end-to-end subprocess smoke (fresh JVM, the
deployment-shaped invocation)."""

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_cli_ingest_roundtrip(spark, tmp_lake, tmp_path_factory):
    from runyoro_llm_data_pipeline_spark.cdc.generator import (
        gen_change_log,
        write_batch_files,
    )

    log_dir = str(tmp_path_factory.mktemp("clilog"))
    events, _ = gen_change_log(spark, n_turns=200, n_convs=10, n_batches=2)
    write_batch_files(events, log_dir, files_per_batch=4)
    table = os.path.join(tmp_lake, "t")

    env = dict(os.environ, PYTHONPATH=REPO)
    out = subprocess.run(
        [
            sys.executable, "-m", "runyoro_llm_data_pipeline_spark.cli",
            "--table", table, "--batch-dir", log_dir,
            "--num-buckets", "4", "--master", "local[4]",
        ],
        capture_output=True, text=True, env=env, cwd=REPO, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    rep = json.loads(out.stdout.strip().splitlines()[-1])
    assert rep["batches_applied"] == 2
    assert rep["keys_applied"] > 0
    # rerun in-process: nothing pending
    from runyoro_llm_data_pipeline_spark.cdc.ingest import CdcIngest

    assert CdcIngest(table, log_dir).run(spark) == []


def test_cli_streaming_takes_ledger_and_compaction_options(
    spark, tmp_lake, tmp_path_factory
):
    """``--streaming`` runs the same ingest driver as batch mode, so
    ``--truncate-keep`` bounds its ledger and ``--compact-target-file-rows``
    splits the buckets it compacts. Two invocations, one new batch each,
    give two epochs."""
    from pyspark.sql import functions as F

    from runyoro_llm_data_pipeline_spark.cdc.generator import (
        gen_change_log,
        write_batch_files,
    )
    from runyoro_llm_data_pipeline_spark.lake.table import LakeTable

    log_dir = str(tmp_path_factory.mktemp("clistreamlog"))
    events, _ = gen_change_log(spark, n_turns=200, n_convs=10, n_batches=2)
    table = os.path.join(tmp_lake, "t")
    env = dict(os.environ, PYTHONPATH=REPO)
    for b in (0, 1):
        write_batch_files(
            events.filter(F.col("batch_id") == b), log_dir, files_per_batch=2
        )
        out = subprocess.run(
            [
                sys.executable, "-m", "runyoro_llm_data_pipeline_spark.cli",
                "--table", table, "--batch-dir", log_dir,
                "--streaming", "--checkpoint-dir", os.path.join(tmp_lake, "cp"),
                "--num-buckets", "4", "--master", "local[2]",
                "--truncate-keep", "1", "--compact-max-files", "0",
                "--compact-target-file-rows", "10",
            ],
            capture_output=True, text=True, env=env, cwd=REPO, timeout=300,
        )
        assert out.returncode == 0, out.stderr[-2000:]
        assert json.loads(out.stdout.strip().splitlines()[-1])["batches_applied"] == 1
    snap = LakeTable.load(table).current()
    assert list(snap.applied) == ["1"] and snap.summary["applied_floor"] == 0
    per_bucket = {}
    for f in snap.files:
        assert f["kind"] == "base" and "min_key" in f
        per_bucket[f["bucket"]] = per_bucket.get(f["bucket"], 0) + 1
    assert max(per_bucket.values()) > 1


def test_spark_submit_py_files_separate_executor_jvms(
    spark, tmp_lake, tmp_path_factory
):
    """The north_rule's literal deployment mechanism: package the engine
    as a zip, launch with `spark-submit --py-files engine.zip` on
    local-cluster (separate executor JVMs that must import the package
    from the shipped archive — NOT from the repo checkout: PYTHONPATH is
    stripped from the child env), apply a change log, and verify the
    committed report. Also pins that get_spark respects the
    launcher-provided master and --conf instead of stomping them with
    the local defaults."""
    import zipfile

    import pyspark

    from runyoro_llm_data_pipeline_spark.cdc.generator import (
        gen_change_log,
        write_batch_files,
    )

    log_dir = str(tmp_path_factory.mktemp("submitlog"))
    events, _ = gen_change_log(spark, n_turns=200, n_convs=10, n_batches=2)
    write_batch_files(events, log_dir, files_per_batch=4)
    table = os.path.join(tmp_lake, "submit_t")

    work = tmp_path_factory.mktemp("submitwork")
    zip_path = str(work / "engine.zip")
    pkg = os.path.join(REPO, "runyoro_llm_data_pipeline_spark")
    with zipfile.ZipFile(zip_path, "w") as zf:
        for root, _dirs, files in os.walk(pkg):
            if "__pycache__" in root:
                continue
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    zf.write(full, os.path.relpath(full, REPO))

    submit = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    job = os.path.join(pkg, "cli.py")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    env.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    out = subprocess.run(
        [
            submit,
            "--master", "local-cluster[2,2,1024]",
            "--conf", "spark.sql.shuffle.partitions=4",
            "--conf", "spark.driver.memory=2g",
            "--py-files", zip_path,
            job,
            "--table", table, "--batch-dir", log_dir,
            "--num-buckets", "4",
        ],
        capture_output=True, text=True, env=env, cwd=str(work), timeout=600,
    )
    assert out.returncode == 0, (out.stdout[-1500:], out.stderr[-3000:])
    rep = json.loads(out.stdout.strip().splitlines()[-1])
    assert rep["batches_applied"] == 2
    assert rep["keys_applied"] > 0
    # the launcher's --conf must be the EFFECTIVE value inside the job:
    # get_spark attaches the gateway before reading SparkConf, so the
    # submitted shuffle-partitions setting is seen and never stomped by
    # the local default
    assert rep["shuffle_partitions"] == "4"
    # the submitted master must have survived get_spark (2 executor JVMs)
    from runyoro_llm_data_pipeline_spark.cdc.ingest import CdcIngest

    assert CdcIngest(table, log_dir).run(spark) == []  # exactly-once holds
