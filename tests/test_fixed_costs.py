"""Fixed costs that every Python task or control-plane probe would pay.

- A Python task does not re-read the zip archives on ``sys.path``
  (``airflow_spark.pydaemon``), yet a rewritten ``addPyFile`` archive is
  read again, and workers find the daemon module from any working
  directory.
- ``/health`` counts the stored runs from parquet footers, with no
  Spark job.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
import zipfile

from airflow_spark.pipeline import Pipeline, RunStateStore
from airflow_spark.pipeline.health import health

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_python_task_rereads_no_unchanged_archive(spark):
    def probe(_):
        import importlib
        import zipimport

        read, calls = zipimport._read_directory, []

        def counting(archive):
            calls.append(archive)
            return read(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        yield len(calls), len(zipimport._zip_directory_cache)

    got = spark.sparkContext.parallelize(range(4), 4).mapPartitions(probe).collect()
    # workers import pyspark from pyspark.zip, so each has a cached archive
    assert all(n_cached > 0 for _, n_cached in got), got
    assert [n_reads for n_reads, _ in got] == [0] * 4, got


def test_rewritten_py_file_archive_is_reread(spark, tmp_path):
    archive = tmp_path / "reread_mods.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("reread_mod_a.py", "X = 1\n")
    spark.sparkContext.addPyFile(str(archive))

    def rewrite_then_import(_):
        import importlib

        from pyspark import SparkFiles

        import reread_mod_a  # caches the archive's directory

        with zipfile.ZipFile(SparkFiles.get("reread_mods.zip"), "a") as z:
            z.writestr("reread_mod_b.py", "Y = 2\n")
        importlib.invalidate_caches()  # as at the start of every task
        import reread_mod_b

        yield reread_mod_a.X + reread_mod_b.Y

    rdd = spark.sparkContext.parallelize([0], 1)
    assert rdd.mapPartitions(rewrite_then_import).collect() == [3]


def test_health_counts_runs_without_a_job(spark, tmp_path, untagged_jobs):
    store = RunStateStore(spark, str(tmp_path / "runs"))
    p = Pipeline("footers")

    @p.task
    def t(ctx):
        return {"n": 1}  # also writes an XCom record under ``_xcom``

    for _ in range(2):
        assert p.run(spark, state_store=store).ok
    h, n_jobs = untagged_jobs(lambda: health(spark, state_store=store))
    assert n_jobs == 0
    assert h["state_store"]["status"] == "healthy"
    assert h["state_store"]["n_runs"] == store.runs().count() == 2

    (tmp_path / "runs" / "part-corrupt.snappy.parquet").write_bytes(b"not parquet")
    h = health(spark, state_store=store)
    assert h["state_store"]["status"] == "unhealthy" and h["status"] == "unhealthy"


def test_python_job_runs_from_any_working_directory(tmp_path):
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {ROOT!r})
        from airflow_spark.session import get_session
        spark = get_session(app_name="any-cwd", cpus=2)
        conf = spark.sparkContext.getConf()
        assert conf.get("spark.python.daemon.module") == "airflow_spark.pydaemon"
        print(spark.sparkContext.parallelize([1, 2], 2).map(lambda x: x + 1).sum())
        spark.stop()
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.split()[-1] == "5"
