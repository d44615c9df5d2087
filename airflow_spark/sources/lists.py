"""Delimited-list and small-list sources (S5/S6).

Reference analog: ``Variable.get("DNS_CLIENTS").split("|")``
(dags/DNS_Requests.py:138, dags/Speedtest.py:40, dags/Backups.py:45).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession


def delimited_list(value: str | None, sep: str = "|") -> list[str]:
    """Split a config value into a clean key list."""
    if not value:
        return []
    return [v for v in (s.strip() for s in value.split(sep)) if v]


def list_to_df(spark: SparkSession, values: list[str], col: str) -> DataFrame:
    """Key list → 1-column string DataFrame (the fan-out frame for
    data-parallel mapped work). Built from an Arrow table, so it is a
    driver-resident ``LocalRelation``, not a Python-fed RDD."""
    return spark.createDataFrame(pa.table({col: pa.array(values, pa.string())}))
