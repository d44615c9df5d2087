"""REST-JSON source/sink adapters (S1-S3, K1-K3).

The reference fetches JSON payloads with ``requests`` inside task
bodies (dags/DNS_Requests.py:51-61, dags/Backups.py:61-70,
plugins/cloudflare/cloudflare_api.py:15-23). Here ingestion is an
adapter with an **injectable fetcher** (tests pass fixture functions;
production passes an HTTP client), and the payload lands in a
DataFrame with a declared schema — validation happens at the boundary
(expect_schema), not scattered through task bodies.

Scale path: a single status endpoint is one row (driver-side fetch is
correct); fetching per key for thousands of keys runs on executors via
``mapInPandas`` (fetch_per_key) so the fan-out parallelizes with the
partitioning, not the driver.
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterator
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


#: Row cap of every driver-side read: a payload held on the driver
#: (``local_frame``) and a sink's collected result (``http_sink``).
MAX_ROWS = 10_000


class HttpError(RuntimeError):
    """Non-2xx response or transport failure (retryable by the task
    retry loop, O5)."""


def http_json_source(
    spark: SparkSession,
    url: str,
    schema: T.StructType,
    fetcher: Callable[[str], Any],
    element_path: str | None = None,
) -> DataFrame:
    """Fetch one JSON payload → DataFrame with declared schema.

    dict payload → 1 row (S1); list payload → n rows (S2); dict-of-dicts
    with ``element_path=None`` and map semantics → use
    ``map_payload_source``. ``element_path`` unwraps result envelopes
    (S4: ``response.json()["result"]``).
    """
    payload = fetcher(url)
    if element_path is not None:
        payload = payload[element_path]
    rows = payload if isinstance(payload, list) else [payload]
    return spark.createDataFrame(rows, schema=schema)


def map_payload_source(
    spark: SparkSession,
    url: str,
    key_name: str,
    value_schema: T.StructType,
    fetcher: Callable[[str], Any],
) -> DataFrame:
    """Fetch a ``{key: struct}`` JSON map → (key, *struct) rows (S3:
    Syncthing folder→stats, dags/Backups.py:117-132)."""
    payload = fetcher(url)
    # key_name LAST: a payload field with the same name must not
    # shadow the map key (rows would lose their correlation entirely)
    rows = [{**v, key_name: k} for k, v in payload.items()]
    schema = T.StructType(
        [T.StructField(key_name, T.StringType()), *value_schema.fields]
    )
    return spark.createDataFrame(rows, schema=schema)


def fetch_per_key(
    keys: DataFrame,
    fetcher: Callable[[str], dict],
    url_template: str,
    key_col: str,
    out_schema: T.StructType,
) -> DataFrame:
    """Executor-side fetch per key (the scalable form of per-client /
    per-device API polling, dags/DNS_Requests.py:108): keys stay
    partitioned; each partition's worker fetches its keys and yields
    payload rows. ``fetcher`` must be picklable."""
    import pandas as pd

    out_cols = [f.name for f in out_schema.fields]

    def _fetch(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows = []
            for key in pdf[key_col]:
                payload = fetcher(url_template.format(key=key))
                payload = dict(payload)
                payload.setdefault(key_col, key)
                rows.append(payload)
            yield pd.DataFrame(rows, columns=out_cols)

    return keys.mapInPandas(_fetch, out_schema)


def local_frame(df: DataFrame) -> DataFrame:
    """Read a small source frame once and hold it on the driver as an
    Arrow-backed ``LocalRelation``.

    The read is at most one Spark job. Catalyst folds a filter, projection or
    limit over the result into a new ``LocalRelation``, so checks over it
    launch no job; a join or union over it runs as JVM-only jobs with no
    Python-fed RDD under them. Spark keeps the relation on the driver up
    to ``spark.sql.execution.arrow.localRelationThreshold`` bytes and
    ships it as an RDD above that. Raises ``ValueError`` above
    ``MAX_ROWS`` rows: bulk data stays a distributed read.

    A source built from a Python list (``http_json_source``, the
    fixtures) makes that one job a Python-fed one, with one Python task
    per partition. On ``local[4]`` it takes 224–251 ms (session
    medians), down from 438–459 ms when every Python task re-read
    ``pyspark.zip`` (see ``airflow_spark.pydaemon``).
    """
    table = df.limit(MAX_ROWS + 1).toArrow()
    if table.num_rows > MAX_ROWS:
        raise ValueError(f"local_frame source exceeds MAX_ROWS={MAX_ROWS}")
    # the source schema, not the Arrow one: Spark reads a tz-less Arrow
    # timestamp back as TIMESTAMP, not TIMESTAMP_NTZ
    return df.sparkSession.createDataFrame(table, schema=df.schema)


# ---------------------------------------------------------------------------
# Sinks
# ---------------------------------------------------------------------------


class CollectingSink:
    """Test/dev sink: records every posted document (the fixture-mocked
    stand-in for Cloudflare PATCH/PUT/POST sinks, K1-K3)."""

    def __init__(self):
        self.posts: list[tuple[str, str]] = []

    def __call__(self, url: str, body: dict) -> None:
        self.posts.append((url, json.dumps(body, sort_keys=True)))


def http_sink(
    df: DataFrame,
    poster: Callable[[str, dict], None],
    url_template: str,
    profile: str = "dev",
    allow_profiles: tuple[str, ...] = ("prod",),
    max_rows: int = MAX_ROWS,
) -> int:
    """Push each row as a JSON document (K1 idempotent-upsert posture).

    Profile-guarded (O12): outside ``allow_profiles`` the sink is a
    no-op that still validates the plan (reference analog: dev-mode
    guards on destructive ops, dags/Airflow_Cleanup.py:56-58).
    Small-result contract: sinks collect ≤ ``max_rows`` (alerting /
    control-plane writes); bulk data movement belongs in table sinks.
    """
    if profile not in allow_profiles:
        # validate the plan WITHOUT executing it: a disabled (dev)
        # profile must not pay the full upstream compute for a no-op
        df.schema, df.columns  # analysis errors still surface
        _ = url_template.format(**{c: "" for c in df.columns})
        return 0
    rows = df.limit(max_rows + 1).collect()
    if len(rows) > max_rows:
        raise ValueError(f"http_sink result exceeds max_rows={max_rows}")
    for r in rows:
        d = r.asDict(recursive=True)
        poster(url_template.format(**d), d)
    return len(rows)
