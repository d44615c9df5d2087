"""SparkSession factory and session normalization.

The engine is designed for a multi-executor cluster; locally we run
``local[N]``. All correctness-relevant session settings are applied
idempotently to *existing* sessions too (the verify driver hands us its
own session), via :func:`normalize_session`.

Sessions built by :func:`get_session` start their Python workers from
``airflow_spark.pydaemon`` (``spark.python.daemon.module``), a wrapper
of ``pyspark.daemon``. On CPython 3.10–3.12 the stock worker re-reads
the central directory of ``pyspark.zip`` 16 times at the start of every
task, about 250 ms against a few ms of task work; the wrapper re-reads
an archive only when it changed. Workers find the module whatever the
JVM's working directory is, because the package root is put on
``spark.executorEnv.PYTHONPATH``. The daemon module is a launch-time
conf, so a session handed in by a caller keeps the stock daemon.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: the directory holding the ``airflow_spark`` package
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: Session-settable confs required for correct + fast execution.
#: - UTC pin: deterministic timestamp semantics vs the DuckDB oracle.
#: - nanosAsLong: Spark 4.x refuses parquet TIMESTAMP(NANOS)
#:   (PARQUET_TYPE_ILLEGAL); we read ns as long and rebuild µs
#:   timestamps in the catalog view (see catalog.py).
#: - AQE: runtime re-planning (coalesce partitions, skew joins) — the
#:   100 TB posture.
#: - parallelismFirst=false: make AQE coalescing respect the advisory
#:   partition SIZE instead of maximizing partition count. The default
#:   (true) re-splits every post-shuffle stage to the full parallelism
#:   even when the data is a few KB, paying task-launch overhead per
#:   stage for nothing; size-based coalescing is the documented
#:   production posture (partitions in the 100 MB–1 GB band at real
#:   scale) and is core-count-independent, so the driver's low-core
#:   scaling leg measures the same plans. Measured at sf0.1/local[32]
#:   on an 18-op subset: 34.2 s vs 37.3 s (and the tiny-shuffle ops up
#:   to 2x: q09 0.38 s vs 0.77 s, op_dedup_minhash 5.9 s vs 9.1 s).
_SESSION_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
    "spark.sql.adaptive.skewJoin.enabled": "true",
}


def normalize_session(spark: SparkSession) -> SparkSession:
    """Apply required session confs to an existing session (idempotent)."""
    for k, v in _SESSION_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Conf not settable at runtime on this build — builder-time
            # sessions from get_session() already carry it.
            pass
    return spark


def default_driver_mem() -> None:
    """Size the local JVM from the host when no size is set: set
    ``SPARK_GRAFT_DRIVER_MEM`` to half of physical memory, capped at
    :func:`get_session`'s 32g default. A 32g heap on a 16 GB host grows
    until the kernel OOM-kills it part way through a long run. Call it
    before the first :func:`get_session`; a set value is kept."""
    if "SPARK_GRAFT_DRIVER_MEM" in os.environ:
        return
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return  # not Linux: keep the session default
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{min(kb // 2048, 32 * 1024)}m"


def get_session(
    app_name: str = "airflow_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Create (or fetch) a normalized local session.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS or all cores. Shuffle
    partitions default to the core count — right-sized for local mode;
    on a real cluster AQE coalescing makes the initial number mostly a
    ceiling.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0)
    master = f"local[{cpus}]" if cpus and cpus > 0 else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus if cpus and cpus > 0 else (os.cpu_count() or 8)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # local-mode "driver" heap IS the whole executor pool: 8g across
        # 32 task threads put long benches under GC pressure (measured
        # 2x run-to-run swings on the LSH tail); the deploy target has
        # 128 GiB, so default to a quarter of it
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g"),
        )
        .config("spark.ui.enabled", "false")
        # keep stage-progress bars off stdout/stderr: the bench contract
        # is ONE parseable JSON line on stdout (builder-time-only conf)
        .config("spark.ui.showConsoleProgress", "false")
        # Python workers skip re-reading unchanged zip archives per task
        .config("spark.python.daemon.module", "airflow_spark.pydaemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
    )
    for k, v in _SESSION_CONFS.items():
        builder = builder.config(k, v)
    return normalize_session(builder.getOrCreate())
