"""Run-state store: the metadata-DB analog (runs + task instances).

The reference persists DAG runs / task instances / XCom in Postgres
(compose.yml:129-145). Here the engine appends one parquet record per
run under a state dir — queryable with the same engine it orchestrates
— plus a retention vacuum (O13/K4 analog: Airflow-Cleanup's 7-day
file retention, dags/Airflow_Cleanup.py:46-58).

Writes and reads take different paths:

- Writes are made in-process with pyarrow (``_write_parquet``), not as
  Spark jobs: a one-row record is all fixed per-job cost. Each write
  goes to a hidden ``.part-<uuid>.snappy.parquet.tmp`` and is renamed
  to ``part-<uuid>.snappy.parquet`` once complete, so readers — Spark's
  parquet reader and ``DatasetTrigger`` both skip ``.``/``_`` names —
  see whole files or nothing, and concurrent writers never collide.
- Reads (``runs()``, ``xcoms()`` and everything built on them) stay
  Spark queries over the directory. The one exception is the run count
  that ``/health`` reports (``n_runs``): it sums the row counts in the
  parquet footers of the files Spark's reader would list, so a probe
  launches no Spark job and a corrupt file still fails it.
- ``vacuum`` writes the kept rows as one new file *before* deleting the
  files it supersedes: a crash in between leaves duplicate rows, never
  lost history.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

RUN_SCHEMA = T.StructType(
    [
        T.StructField("pipeline", T.StringType()),
        T.StructField("run_id", T.StringType()),
        T.StructField("status", T.StringType()),
        T.StructField("started", T.TimestampType()),
        T.StructField("elapsed_s", T.DoubleType()),
        T.StructField("task_statuses", T.StringType()),  # JSON map
    ]
)

XCOM_SCHEMA = T.StructType(
    [
        T.StructField("pipeline", T.StringType()),
        T.StructField("run_id", T.StringType()),
        T.StructField("task", T.StringType()),
        T.StructField("value_json", T.StringType()),
        T.StructField("recorded", T.TimestampType()),
    ]
)

# Arrow types for the store's Spark types. The tz-aware timestamp makes
# Spark read ``TimestampType`` (an instant), not ``TimestampNTZType``.
_ARROW_TYPES = {
    T.StringType(): pa.string(),
    T.DoubleType(): pa.float64(),
    T.TimestampType(): pa.timestamp("us", tz="UTC"),
}


def _write_parquet(dirpath: str, schema: T.StructType, rows) -> None:
    """Append ``rows`` (tuples in ``schema`` order) to the parquet table
    at ``dirpath`` as one new file, written in-process with pyarrow.

    Timestamps go through ``TimestampType.toInternal``, the conversion
    ``createDataFrame`` applies, so a naive value stores the same
    instant Spark would store for it under any process ``TZ``."""
    columns = list(zip(*rows))
    arrays = [
        pa.array(
            [f.dataType.toInternal(v) for v in col]
            if isinstance(f.dataType, T.TimestampType)
            else col,
            type=_ARROW_TYPES[f.dataType],
        )
        for f, col in zip(schema.fields, columns)
    ]
    table = pa.Table.from_arrays(arrays, names=schema.names)
    os.makedirs(dirpath, exist_ok=True)
    name = f"part-{uuid.uuid4()}.snappy.parquet"
    tmp = os.path.join(dirpath, f".{name}.tmp")
    pq.write_table(table, tmp, compression="snappy")
    os.replace(tmp, os.path.join(dirpath, name))


def _data_files(dirpath: str) -> list[str]:
    """Paths of the files Spark's parquet reader lists in ``dirpath``:
    regular files whose names do not start with ``.`` or ``_``, so
    in-flight ``.tmp`` writes and the ``_xcom`` table are left out."""
    return [
        os.path.join(dirpath, f)
        for f in os.listdir(dirpath)
        if not f.startswith((".", "_")) and os.path.isfile(os.path.join(dirpath, f))
    ]


class RunStateStore:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        #: XCom table lives in an underscore-prefixed subdir so the
        #: ``runs()`` parquet read (which treats ``_*`` paths as hidden
        #: metadata) never mixes the two schemas.
        self.xcom_path = os.path.join(path, "_xcom")
        os.makedirs(path, exist_ok=True)

    def record_run(self, pipeline, run) -> None:
        row = [
            (
                pipeline.name,
                run.run_id,
                run.status,
                run.started.replace(tzinfo=None),
                float(run.elapsed),
                json.dumps(
                    {
                        k: {
                            "status": v.status,
                            "attempts": v.attempts,
                            "elapsed_s": v.elapsed,
                            "error": v.error,
                        }
                        for k, v in run.tasks.items()
                    }
                ),
            )
        ]
        _write_parquet(self.path, RUN_SCHEMA, row)
        self._record_xcom(pipeline.name, run)

    # -- XCom persistence (Airflow metadata-DB XCom table analog,
    # compose.yml:129-145): small JSON-serializable task outputs are
    # durable per (pipeline, run_id, task), so a later run / backfill /
    # resume can consume a prior run's outputs via ``xcom_pull`` or
    # ``ctx.xcom_prev``. DataFrames and other non-JSON values are
    # deliberately NOT persisted — heavy data belongs in table sinks,
    # XCom is a control-plane channel.

    def _record_xcom(self, pipeline_name: str, run) -> None:
        outputs = getattr(run, "outputs", None) or {}
        rows = []
        for task, val in outputs.items():
            try:
                payload = json.dumps(val)
            except (TypeError, ValueError):
                continue  # non-JSON output (e.g. a DataFrame): skip
            rows.append(
                (
                    pipeline_name,
                    run.run_id,
                    task,
                    payload,
                    run.started.replace(tzinfo=None),
                )
            )
        if rows:
            _write_parquet(self.xcom_path, XCOM_SCHEMA, rows)

    def task_statuses(self, pipeline: str, run_id: str) -> dict:
        """Per-task status map of one recorded run (parsed from the
        run record's JSON column); {} when the run is unknown."""
        rows = (
            self.runs()
            .where(
                (F.col("pipeline") == pipeline)
                & (F.col("run_id") == run_id)
            )
            .orderBy(F.col("started").desc())
            .limit(1)
            .collect()
        )
        if not rows:
            return {}
        return json.loads(rows[0]["task_statuses"] or "{}")

    def run_ids(self, pipeline: str) -> list[str]:
        """All recorded run ids for a pipeline (collect is bounded by
        run count — control-plane scale, and vacuumed)."""
        return [
            r["run_id"]
            for r in self.runs()
            .where(F.col("pipeline") == pipeline)
            .select("run_id")
            .distinct()
            .collect()
        ]

    def xcoms(self) -> DataFrame:
        return self.spark.read.schema(XCOM_SCHEMA).parquet(self.xcom_path)

    def xcom_pull(
        self,
        pipeline: str,
        task: str,
        run_id: str | None = None,
        default=None,
    ):
        """Value of ``task``'s persisted output for ``run_id`` (or the
        most recent run that recorded one). ``default`` when absent."""
        if not os.path.isdir(self.xcom_path):
            return default
        df = self.xcoms().where(
            (F.col("pipeline") == pipeline) & (F.col("task") == task)
        )
        if run_id is not None:
            df = df.where(F.col("run_id") == run_id)
        rows = df.orderBy(F.col("recorded").desc()).limit(1).collect()
        return json.loads(rows[0]["value_json"]) if rows else default

    def runs(self) -> DataFrame:
        return self.spark.read.schema(RUN_SCHEMA).parquet(self.path)

    def n_runs(self) -> int:
        """``runs().count()`` from the parquet footers, with no Spark job.

        Reads the footers of the files Spark's reader lists in the store
        (``_data_files``). Raises ``OSError`` when the store is gone and
        ``pyarrow``'s error on a corrupt file."""
        return sum(pq.read_metadata(f).num_rows for f in _data_files(self.path))

    def latest(self, pipeline: str):
        df = (
            self.runs()
            .where(F.col("pipeline") == pipeline)
            .orderBy(F.col("started").desc())
            .limit(1)
        )
        rows = df.collect()
        return rows[0] if rows else None

    def vacuum(self, retention: dt.timedelta, now: dt.datetime | None = None) -> int:
        """Drop run and XCom records older than ``retention``
        (rewrite-compact). Returns run rows kept.

        Each table's kept rows become one new file before the files
        they came from are deleted, so a crash in between leaves
        duplicate rows but never loses history. The destructive step is
        this state-table rewrite, never external file deletion."""
        now = now or dt.datetime.now(dt.timezone.utc)
        cutoff = (now - retention).replace(tzinfo=None)
        kept = self._compact(self.path, RUN_SCHEMA, "started", cutoff)
        if os.path.isdir(self.xcom_path):
            self._compact(self.xcom_path, XCOM_SCHEMA, "recorded", cutoff)
        return kept

    def _compact(self, dirpath, schema, ts_col, cutoff) -> int:
        # Only the files listed here are read and then superseded, so a
        # record appended meanwhile is neither duplicated nor deleted.
        # Hidden side files (checksums, markers) go with the data, listed
        # after it; in-flight ``.tmp`` files belong to concurrent writers.
        data = _data_files(dirpath)
        superseded = data + [
            os.path.join(dirpath, f)
            for f in os.listdir(dirpath)
            if f.startswith((".", "_"))
            and not f.endswith(".tmp")
            and os.path.isfile(os.path.join(dirpath, f))
        ]
        rows = (
            self.spark.read.schema(schema)
            .parquet(*data)
            .where(F.col(ts_col) >= F.lit(cutoff))
            .collect()
            if data
            else []
        )
        if rows:
            _write_parquet(dirpath, schema, rows)
        for full in superseded:
            os.remove(full)
        return len(rows)

    # -- run analytics (the Airflow UI "DAG runs" panel as queries over
    # the engine's own store; SLA misses mirror Airflow's sla_miss
    # table, derived instead of event-driven)

    def run_stats(self) -> DataFrame:
        """Per-pipeline run statistics: totals, success rate, duration
        mean/p95, last run time — one grouped aggregate over the run
        records (control-plane-sized)."""
        return (
            self.runs()
            .groupBy("pipeline")
            .agg(
                F.count(F.lit(1)).alias("n_runs"),
                F.sum(
                    F.when(F.col("status") == "success", 1).otherwise(0)
                ).alias("n_success"),
                F.round(
                    F.avg(
                        F.when(F.col("status") == "success", 1.0).otherwise(
                            0.0
                        )
                    ),
                    4,
                ).alias("success_rate"),
                F.round(F.avg("elapsed_s"), 3).alias("mean_elapsed_s"),
                F.round(
                    F.percentile("elapsed_s", F.lit(0.95)), 3
                ).alias("p95_elapsed_s"),
                F.max("started").alias("last_started"),
            )
            .orderBy("pipeline")
        )

    def sla_misses(
        self, pipeline: str, max_duration_s: float
    ) -> DataFrame:
        """Runs that blew their duration SLA (Airflow's sla_miss
        analog, derived from the run records): returns (run_id,
        status, started, elapsed_s, overrun_s) for every run of
        ``pipeline`` slower than ``max_duration_s`` — failed runs
        count too (a failure after the SLA window is still a miss)."""
        return (
            self.runs()
            .where(
                (F.col("pipeline") == pipeline)
                & (F.col("elapsed_s") > float(max_duration_s))
            )
            .select(
                "run_id",
                "status",
                "started",
                "elapsed_s",
                F.round(
                    F.col("elapsed_s") - F.lit(float(max_duration_s)), 3
                ).alias("overrun_s"),
            )
            .orderBy("started")
        )
