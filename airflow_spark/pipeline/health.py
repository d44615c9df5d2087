"""Engine health endpoint (O14).

Reference analog: ``config/healthcheck.sh:20-40`` polls
``/api/v2/monitor/health`` for metadatabase / scheduler / triggerer
status. Here ``health()`` returns the same shape as a dict: Spark
driver liveness, state-store reachability, scheduler registration.
A probe launches no Spark job: the state store's run count comes from
its parquet footers (``RunStateStore.n_runs``).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import SparkSession


def health(
    spark: SparkSession,
    scheduler=None,
    state_store=None,
) -> dict:
    out: dict = {
        "checked_at": dt.datetime.now(dt.timezone.utc).isoformat(),
        "spark": {"status": "unhealthy"},
        "scheduler": {"status": "not_configured"},
        "state_store": {"status": "not_configured"},
    }
    try:
        sc = spark.sparkContext
        out["spark"] = {
            "status": "healthy",
            "version": spark.version,
            "master": sc.master,
            "parallelism": sc.defaultParallelism,
        }
    except Exception as e:  # noqa: BLE001
        out["spark"] = {"status": "unhealthy", "error": str(e)}
    if scheduler is not None:
        try:
            entries = {
                name: (e.last_fire.isoformat() if e.last_fire else None)
                for name, e in dict(scheduler.entries).items()
            }
            out["scheduler"] = {"status": "healthy", "pipelines": entries}
        except Exception as e:  # noqa: BLE001 - a probe must never crash
            out["scheduler"] = {"status": "unhealthy", "error": str(e)}
    if state_store is not None:
        try:
            out["state_store"] = {
                "status": "healthy",
                "path": state_store.path,
                "n_runs": state_store.n_runs(),
            }
        except Exception as e:  # noqa: BLE001
            out["state_store"] = {"status": "unhealthy", "error": str(e)}
    out["status"] = (
        "healthy"
        if all(
            v.get("status") in ("healthy", "not_configured")
            for k, v in out.items()
            if isinstance(v, dict)
        )
        else "unhealthy"
    )
    return out
