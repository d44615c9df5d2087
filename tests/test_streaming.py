"""Streaming monitor tests.

Property-based per SURVEY §5.2-3: window counts are conserved vs batch
aggregation; freshness/threshold monitors verified on synthetic fixtures;
the stateful last-seen logic unit-tested with a fake GroupState (the
deterministic path) plus a live availableNow streaming smoke run.
"""

from __future__ import annotations

import datetime as dt

import pandas as pd
import pytest
from pyspark.sql import functions as F

from airflow_spark.catalog import load_table
from airflow_spark.streaming import (
    freshness_monitor,
    session_window_counts,
    sliding_window_counts,
    threshold_monitor,
    tumbling_window_counts,
)
from airflow_spark.streaming.monitors import _last_seen_fn


def _with_event_ts(df):
    """Apply the catalog's events-ts normalization to a raw/stream frame:
    older testdata ships ``ts`` as epoch-nanos bigint, newer as a real
    timestamp. Mirror catalog.load_table's dtype guard so both work."""
    dtype = dict(df.dtypes).get("ts")
    if dtype == "bigint":
        return df.withColumn(
            "ts", F.timestamp_micros((F.col("ts") / 1000).cast("long"))
        )
    if dtype == "timestamp_ntz":
        # watermarks require TIMESTAMP (with local tz); session tz is UTC
        # in tests so the instant is unchanged.
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def test_tumbling_counts_conserved_batch(spark, sf_smoke):
    events = load_table(spark, sf_smoke, "events")
    win = tumbling_window_counts(events, "1 hour")
    total = win.agg(F.sum("cnt").alias("n")).first()["n"]
    assert total == events.count()


def test_sliding_counts_multiplicity(spark, sf_smoke):
    events = load_table(spark, sf_smoke, "events")
    win = sliding_window_counts(events, "1 hour", "30 minutes")
    # every event falls in exactly 2 sliding windows (1h len / 30m slide)
    total = win.agg(F.sum("cnt").alias("n")).first()["n"]
    assert total == 2 * events.count()


def test_session_windows_split_on_gap(spark):
    base = dt.datetime(2026, 1, 1, 12, 0)
    rows = [
        (1, base),
        (1, base + dt.timedelta(minutes=10)),   # same session (gap 30m)
        (1, base + dt.timedelta(hours=2)),      # new session
        (2, base),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts"])
    out = session_window_counts(df, gap="30 minutes").collect()
    per_user = {}
    for r in out:
        per_user.setdefault(r["user_id"], []).append(r["cnt"])
    assert sorted(per_user[1]) == [1, 2]
    assert per_user[2] == [1]


def test_freshness_monitor_stale_and_missing(spark):
    base = dt.datetime(2026, 1, 1, 12, 0)
    events = spark.createDataFrame(
        [(1, base), (2, base - dt.timedelta(hours=3))], ["user_id", "ts"]
    )
    keys = spark.createDataFrame([(1,), (2,), (3,)], ["user_id"])
    cutoff = base - dt.timedelta(hours=1)
    out = {r["user_id"]: r["last_seen"] for r in
           freshness_monitor(events, keys, cutoff).collect()}
    assert set(out) == {2, 3}          # 2 stale, 3 never seen; 1 fresh
    assert out[3] is None


def test_threshold_monitor_per_key_limits(spark):
    readings = spark.createDataFrame(
        [(1, 50.0), (1, 5.0), (2, 3.0)], ["user_id", "value"]
    )
    limits = spark.createDataFrame([(1, 10.0), (2, 1.0)], ["user_id", "limit"])
    out = threshold_monitor(readings, limits).collect()
    assert [(r["user_id"], r["value"]) for r in out] == [(1, 5.0)]


# ---------------------------------------------------------------------------
# Stateful last-seen (unit via fake state + live smoke)
# ---------------------------------------------------------------------------


class FakeState:
    def __init__(self, value=None, timed_out=False):
        self._v = value
        self.hasTimedOut = timed_out
        self.timeout_ms = None
        self.removed = False

    def remove(self):
        self._v = None
        self.removed = True

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        if self._v is None:
            raise ValueError("no state")
        return self._v

    def update(self, v):
        self._v = tuple(v)

    def setTimeoutDuration(self, ms):
        self.timeout_ms = ms


def _run(fn, key, batches, state):
    return list(fn(key, iter(batches), state))


def test_last_seen_alive_then_alert_once_then_rearm():
    fn = _last_seen_fn(stale_after_s=60)
    st = FakeState()
    ts1 = pd.Timestamp("2026-01-01 12:00:00")

    out = _run(fn, (7,), [pd.DataFrame({"ts": [ts1]})], st)
    assert out[0]["status"].iloc[0] == "alive"
    assert st._v[1] is False and st.timeout_ms == 60_000

    # timeout fires → exactly one stale alert, state DROPPED (a key
    # that never returns must not hold state forever)
    st.hasTimedOut = True
    out = _run(fn, (7,), [], st)
    assert out[0]["status"].iloc[0] == "stale_alert"
    assert st.removed and st._v is None

    # key returns → treated as new, alive again
    st.hasTimedOut = False
    ts2 = pd.Timestamp("2026-01-01 13:00:00")
    out = _run(fn, (7,), [pd.DataFrame({"ts": [ts2]})], st)
    assert out[0]["status"].iloc[0] == "alive"
    assert st._v == (ts2, False)


def test_last_seen_keeps_max_ts_across_batches():
    fn = _last_seen_fn(stale_after_s=60)
    st = FakeState(value=(pd.Timestamp("2026-01-01 14:00:00"), False))
    older = pd.Timestamp("2026-01-01 13:00:00")
    out = _run(fn, (7,), [pd.DataFrame({"ts": [older]})], st)
    # state keeps the later timestamp even when the batch is older
    assert st._v[0] == pd.Timestamp("2026-01-01 14:00:00")
    assert out[0]["status"].iloc[0] == "alive"


@pytest.mark.slow
def test_streaming_tumbling_availablenow_conserves_counts(spark, sf_smoke, tmp_path):
    from airflow_spark.streaming import tumbling_window_counts

    batch = load_table(spark, sf_smoke, "events")
    # file-stream source needs a directory: symlink the parquet in
    stream_dir = tmp_path / "events_stream"
    stream_dir.mkdir()
    (stream_dir / "events.parquet").symlink_to(f"{sf_smoke}/events.parquet")
    raw = spark.read.parquet(f"{sf_smoke}/events.parquet")
    stream = (
        _with_event_ts(spark.readStream.schema(raw.schema).parquet(str(stream_dir)))
    )
    q = (
        tumbling_window_counts(stream, "1 hour", watermark="1 hour")
        .writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    total = spark.sql("SELECT sum(cnt) AS n FROM win_counts").first()["n"]
    assert total == batch.count()


def test_alert_stream_notifies_per_violation(spark, sf_smoke, tmp_path):
    """End-to-end streaming alert path: file stream → threshold filter →
    foreachBatch → notifier (availableNow, deterministic)."""
    from airflow_spark.streaming.runner import alert_stream

    stream_dir = tmp_path / "ev"
    stream_dir.mkdir()
    (stream_dir / "events.parquet").symlink_to(f"{sf_smoke}/events.parquet")
    raw = spark.read.parquet(f"{sf_smoke}/events.parquet")
    stream = (
        _with_event_ts(spark.readStream.schema(raw.schema).parquet(str(stream_dir)))
    )
    violations = stream.where(
        (F.col("event_type") == "error") & (F.col("value") < 2.0)
    ).select("event_id", "user_id", "value")

    alerts = []
    q = alert_stream(
        violations,
        alerts.append,
        checkpoint_dir=str(tmp_path / "ckpt"),
        trigger_available_now=True,
    )
    q.awaitTermination(120)

    batch = load_table(spark, sf_smoke, "events").where(
        (F.col("event_type") == "error") & (F.col("value") < 2.0)
    )
    assert len(alerts) == batch.count() > 0
    assert all("batch_id" in a and "event_id" in a for a in alerts)


def test_dedupe_events_stream_drops_replayed_file(spark, sf_smoke, tmp_path):
    """At-least-once replay: the same parquet delivered twice must not
    double-count after dropDuplicatesWithinWatermark."""
    from airflow_spark.streaming import dedupe_events

    stream_dir = tmp_path / "dup"
    stream_dir.mkdir()
    (stream_dir / "a.parquet").symlink_to(f"{sf_smoke}/events.parquet")
    (stream_dir / "b.parquet").symlink_to(f"{sf_smoke}/events.parquet")
    raw = spark.read.parquet(f"{sf_smoke}/events.parquet")
    stream = _with_event_ts(
        spark.readStream.schema(raw.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stream_dir))
    )
    counts = dedupe_events(stream, watermark="10 years").groupBy().count()
    q = (
        counts.writeStream.format("memory")
        .queryName("dedup_counts")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    total = spark.sql("SELECT max(count) c FROM dedup_counts").first()["c"]
    n_batch = load_table(spark, sf_smoke, "events").count()
    assert total == n_batch  # 2x delivery, 1x counted


def test_dedupe_events_batch(spark):
    df = spark.createDataFrame(
        [(1, dt.datetime(2026, 1, 1)), (1, dt.datetime(2026, 1, 1)), (2, dt.datetime(2026, 1, 1))],
        ["event_id", "ts"],
    )
    from airflow_spark.streaming import dedupe_events

    assert dedupe_events(df).count() == 2


def test_incremental_ingest_exactly_once_across_runs(spark, tmp_path):
    """Two scheduled drains over a growing directory: each run picks up
    only new files; replaying with the same checkpoint adds nothing."""
    from airflow_spark.pipeline import Pipeline
    from airflow_spark.streaming.incremental import incremental_task

    src = tmp_path / "incoming"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "ingested")

    def drop_files(prefix, n):
        df = spark.createDataFrame(
            [(f"{prefix}-{i}", i) for i in range(n)], ["name", "v"]
        )
        df.coalesce(1).write.mode("append").parquet(str(src))

    drop_files("a", 5)
    p = Pipeline("ingest", schedule="*/5 * * * *")
    p.task(name="drain")(
        incremental_task(str(src), "name string, v bigint", ckpt, out)
    )

    run1 = p.test(spark)
    assert run1.ok, run1.tasks["drain"].error
    assert spark.read.parquet(out).count() == 5

    drop_files("b", 3)  # new arrivals between schedule fires
    run2 = p.test(spark)
    assert run2.ok
    assert spark.read.parquet(out).count() == 8

    run3 = p.test(spark)  # nothing new → no duplicates
    assert run3.ok
    assert spark.read.parquet(out).count() == 8


def test_stream_stream_join_batch_parity(spark):
    """Batch semantics: right rows within [left_ts, left_ts + 1h) on
    the same key, nothing outside."""
    import datetime as dt

    from airflow_spark.streaming.monitors import stream_stream_join

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def ts(m):
        return t0 + dt.timedelta(minutes=m)

    clicks = spark.createDataFrame(
        [(1, ts(0), "c1"), (2, ts(0), "c2")], ["user_id", "ts", "click_id"]
    )
    convs = spark.createDataFrame(
        [
            (1, ts(30), "v_in"),     # inside window
            (1, ts(90), "v_late"),   # outside (>= +1h)
            (2, ts(-5), "v_early"),  # before click
        ],
        ["user_id", "ts_r", "conv_id"],
    )
    out = stream_stream_join(clicks, convs, within="INTERVAL 1 HOUR").collect()
    assert [(r["click_id"], r["conv_id"]) for r in out] == [("c1", "v_in")]


def test_stream_stream_join_streaming_run(spark, sf_smoke, tmp_path):
    """Real two-stream run (availableNow): purchases joined to errors
    within 2h per user — result equals the batch join of the same
    frames."""
    from airflow_spark.streaming.monitors import stream_stream_join

    raw = spark.read.parquet(f"{sf_smoke}/events.parquet")

    def mkstream(name, typ, cols):
        d = tmp_path / name
        d.mkdir()
        (d / "events.parquet").symlink_to(f"{sf_smoke}/events.parquet")
        s = (
            _with_event_ts(
                spark.readStream.schema(raw.schema).parquet(str(d))
            ).where(F.col("event_type") == typ)
        )
        return s.select(*[F.col(a).alias(b) for a, b in cols])

    left = mkstream(
        "purchases", "purchase",
        [("user_id", "user_id"), ("event_id", "purchase_id"), ("ts", "ts")],
    )
    right = mkstream(
        "errors", "error",
        [("user_id", "user_id"), ("event_id", "error_id"), ("ts", "ts_r")],
    )
    q = (
        stream_stream_join(left, right, within="INTERVAL 2 HOUR")
        .writeStream.format("memory")
        .queryName("ss_join")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql(
        "SELECT purchase_id, error_id FROM ss_join ORDER BY 1, 2"
    ).collect()

    b = _with_event_ts(raw)
    bl = b.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), "ts"
    )
    br = b.where(F.col("event_type") == "error").select(
        "user_id", F.col("event_id").alias("error_id"), F.col("ts").alias("ts_r")
    )
    want = (
        stream_stream_join(bl, br, within="INTERVAL 2 HOUR")
        .select("purchase_id", "error_id")
        .orderBy("purchase_id", "error_id")
        .collect()
    )
    assert len(got) > 0
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_enrich_stream_static_dim(spark, sf_smoke, tmp_path):
    """Stream-static join: a user dimension broadcast onto the event
    stream; row count conserved for a left join on the key."""
    from airflow_spark.streaming.monitors import enrich_stream

    raw = spark.read.parquet(f"{sf_smoke}/events.parquet")
    d = tmp_path / "ev"
    d.mkdir()
    (d / "events.parquet").symlink_to(f"{sf_smoke}/events.parquet")
    stream = spark.readStream.schema(raw.schema).parquet(str(d))
    dim = raw.groupBy("user_id").count().withColumnRenamed("count", "n_total")
    q = (
        enrich_stream(stream, dim, "user_id")
        .writeStream.format("memory")
        .queryName("enriched")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT count(*) AS n, count(n_total) AS hit FROM enriched").first()
    assert got["n"] == raw.count()
    assert got["hit"] == got["n"]  # every event's user exists in the dim


def test_drift_alert_stream_flags_shifted_group_only(spark, tmp_path):
    """Per-micro-batch PSI drift: a group whose incoming values shifted
    +300 vs baseline alerts; an unchanged group stays quiet."""
    from airflow_spark.streaming.runner import drift_alert_stream

    baseline = spark.createDataFrame(
        [("stable", float(v % 100)) for v in range(200)]
        + [("shifty", float(v % 100)) for v in range(200)],
        ["event_type", "value"],
    )
    incoming = spark.createDataFrame(
        [("stable", float(v % 100)) for v in range(200)]
        + [("shifty", float(v % 100) + 300.0) for v in range(200)],
        ["event_type", "value"],
    )
    stream_dir = tmp_path / "in"
    incoming.coalesce(1).write.parquet(str(stream_dir))
    stream = spark.readStream.schema(incoming.schema).parquet(str(stream_dir))

    alerts = []
    q = drift_alert_stream(
        stream,
        baseline,
        alerts.append,
        lo=0.0,
        hi=500.0,
        nbins=10,
        psi_threshold=0.25,
        checkpoint_dir=str(tmp_path / "ckpt"),
        trigger_available_now=True,
    )
    q.awaitTermination(120)

    assert [a["event_type"] for a in alerts] == ["shifty"]
    assert alerts[0]["psi"] > 0.25 and "batch_id" in alerts[0]


def test_dedup_ingest_across_batches(spark, tmp_path):
    """Streaming exact-dedup ingest: duplicates are dropped both within
    a micro-batch and against the history built by earlier runs."""
    from airflow_spark.streaming.incremental import dedup_ingest

    src = tmp_path / "docs_in"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    hist = str(tmp_path / "history")

    def drop(rows):
        spark.createDataFrame(rows, ["doc_id", "text"]).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))

    # run 1: 4 docs, one in-batch dup pair -> 3 survivors
    drop([(1, "alpha"), (2, "beta"), (3, "alpha"), (4, "gamma")])
    assert dedup_ingest(
        spark, str(src), "doc_id bigint, text string", ckpt, hist,
        key="text", expected_items=1000,
    )
    got1 = {r["text"]: r["doc_id"] for r in spark.read.parquet(hist).collect()}
    assert got1 == {"alpha": 1, "beta": 2, "gamma": 4}

    # run 2: two dups of history + one genuinely new -> only it survives
    drop([(10, "alpha"), (11, "delta"), (12, "gamma")])
    assert dedup_ingest(
        spark, str(src), "doc_id bigint, text string", ckpt, hist,
        key="text", expected_items=1000,
    )
    after = {r["text"]: r["doc_id"] for r in spark.read.parquet(hist).collect()}
    assert after == {"alpha": 1, "beta": 2, "gamma": 4, "delta": 11}

    # run 3: nothing new -> history unchanged
    assert dedup_ingest(
        spark, str(src), "doc_id bigint, text string", ckpt, hist,
        key="text", expected_items=1000,
    )
    assert spark.read.parquet(hist).count() == 4


def test_stream_stream_left_outer_emits_nulls_after_watermark(spark, tmp_path):
    """Left-outer stream-stream join: a click with no conversion inside
    its window emits (click, NULL) once the watermark passes the
    window's end — the state-eviction semantics that keep outer-join
    state bounded on an infinite stream. Two availableNow runs over one
    checkpoint: run 1 sees the in-window match; run 2's later data
    advances the watermark, evicting run-1 state and completing the
    unmatched click with nulls."""
    import datetime as dt

    from pyspark.sql.types import (
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from airflow_spark.streaming.monitors import stream_stream_join

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def ts(m):
        return t0 + dt.timedelta(minutes=m)

    lschema = StructType(
        [
            StructField("user_id", StringType()),
            StructField("ts", TimestampType()),
            StructField("click_id", StringType()),
        ]
    )
    rschema = StructType(
        [
            StructField("user_id", StringType()),
            StructField("ts_r", TimestampType()),
            StructField("conv_id", StringType()),
        ]
    )
    ldir, rdir, ck, out = (
        tmp_path / "l",
        tmp_path / "r",
        tmp_path / "ck",
        tmp_path / "out",
    )

    def run(qname):
        # file sink (memory sink can't recover from a checkpoint)
        left = spark.readStream.schema(lschema).parquet(str(ldir))
        right = spark.readStream.schema(rschema).parquet(str(rdir))
        q = (
            stream_stream_join(
                left,
                right,
                within="INTERVAL 1 HOUR",
                watermark="30 minutes",
                how="leftOuter",
            )
            .select("click_id", "conv_id")
            .writeStream.format("parquet")
            .option("path", str(out))
            .outputMode("append")
            .option("checkpointLocation", str(ck))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {
            (r["click_id"], r["conv_id"])
            for r in spark.read.parquet(str(out)).collect()
        }

    # phase 1: matched click c1, unmatched click c2
    spark.createDataFrame(
        [("u1", ts(0), "c1"), ("u2", ts(0), "c2")], lschema
    ).write.parquet(str(ldir))
    spark.createDataFrame([("u1", ts(10), "v1")], rschema).write.parquet(
        str(rdir)
    )
    got1 = run("ssj_outer_1")
    assert ("c1", "v1") in got1
    assert ("c2", None) not in got1  # watermark hasn't passed c2's window

    # phase 2: push both watermarks far past c2's window end
    spark.createDataFrame([("u8", ts(600), "c8")], lschema).write.mode(
        "append"
    ).parquet(str(ldir))
    spark.createDataFrame([("u9", ts(600), "v9")], rschema).write.mode(
        "append"
    ).parquet(str(rdir))
    got2 = run("ssj_outer_2")
    assert ("c2", None) in got2  # evicted left state completed with NULL


def test_stream_stream_left_outer_batch_parity(spark):
    """The same function on batch frames gives plain left-outer rows."""
    import datetime as dt

    from airflow_spark.streaming.monitors import stream_stream_join

    t0 = dt.datetime(2024, 1, 1)
    clicks = spark.createDataFrame(
        [("u1", t0, "c1"), ("u2", t0, "c2")], ["user_id", "ts", "click_id"]
    )
    convs = spark.createDataFrame(
        [("u1", t0 + dt.timedelta(minutes=10), "v1")],
        ["user_id", "ts_r", "conv_id"],
    )
    got = {
        (r["click_id"], r["conv_id"])
        for r in stream_stream_join(
            clicks, convs, within="INTERVAL 1 HOUR", how="leftOuter"
        ).collect()
    }
    assert got == {("c1", "v1"), ("c2", None)}


def test_idempotent_batch_writer_replay_safe(spark, tmp_path):
    """Replaying a micro-batch (foreachBatch's at-least-once failure
    mode) overwrites its own batch partition instead of duplicating."""
    from airflow_spark.streaming.incremental import idempotent_batch_writer

    out = str(tmp_path / "sink")
    write = idempotent_batch_writer(out)
    b0 = spark.range(5).withColumnRenamed("id", "v")
    write(b0, 0)
    write(b0, 0)  # replay of batch 0
    write(spark.range(5, 8).withColumnRenamed("id", "v"), 1)
    got = spark.read.parquet(out)
    assert got.count() == 8  # 5 + 3, replay did not duplicate
    assert got.select("batch_id").distinct().count() == 2


def test_windowed_distinct_batch_tolerance_and_streaming_run(
    spark, sf_smoke, tmp_path
):
    """approx distinct per window: batch estimate within tolerance of
    exact; the same code runs as a real availableNow stream (exact
    count(DISTINCT) cannot) and matches its own batch output."""
    from airflow_spark.streaming.monitors import windowed_distinct_counts

    batch = _with_event_ts(spark.read.parquet(f"{sf_smoke}/events.parquet"))
    got = windowed_distinct_counts(batch, "user_id", "6 hours").collect()
    exact = {
        (r["win"], r["event_type"]): r["n"]
        for r in batch.groupBy(
            F.window("ts", "6 hours").alias("win"), "event_type"
        )
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert got
    for r in got:
        e = exact[(r["win"], r["event_type"])]
        assert abs(r["n_distinct"] - e) <= max(1, 0.1 * e)

    stream_dir = tmp_path / "ev"
    stream_dir.mkdir()
    (stream_dir / "events.parquet").symlink_to(f"{sf_smoke}/events.parquet")
    raw = spark.read.parquet(f"{sf_smoke}/events.parquet")
    stream = _with_event_ts(
        spark.readStream.schema(raw.schema).parquet(str(stream_dir))
    )
    q = (
        windowed_distinct_counts(stream, "user_id", "6 hours")
        .writeStream.format("memory")
        .queryName("wdc")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = {
        (r["win"], r["event_type"]): (r["n_distinct"], r["cnt"])
        for r in spark.sql("SELECT * FROM wdc").collect()
    }
    assert streamed == {
        (r["win"], r["event_type"]): (r["n_distinct"], r["cnt"]) for r in got
    }


def test_stateful_ewma_fold_across_batches():
    """The streaming EWMA must continue the recursion across batches
    (state carries acc/n), fold within-batch rows in ts order, and be
    replay-deterministic."""
    from airflow_spark.streaming.monitors import _ewma_fn

    fn = _ewma_fn(alpha=0.25)
    st = FakeState()
    t = pd.Timestamp

    # batch 1: values 10, 20 (out of ts order in the frame)
    out = _run(
        fn,
        (7,),
        [pd.DataFrame({"ts": [t("2026-01-01 01:00"), t("2026-01-01 00:00")],
                       "value": [20.0, 10.0]})],
        st,
    )
    # fold in ts order: acc = 10; then .75*10+.25*20 = 12.5
    assert out[0]["ewma"].iloc[0] == 12.5
    assert st._v == (12.5, 2)

    # batch 2 continues from state: .75*12.5 + .25*40 = 19.375
    out = _run(
        fn, (7,),
        [pd.DataFrame({"ts": [t("2026-01-01 02:00")], "value": [40.0]})], st,
    )
    assert out[0]["ewma"].iloc[0] == 19.375
    assert st._v == (19.375, 3)

    # empty batch for this key: no emission, state intact
    assert _run(fn, (7,), [], st) == []
    assert st._v == (19.375, 3)


def test_token_bucket_rate_limiter_fold():
    """Event-time token bucket: burst drains the bucket, refill
    restores allowance, state carries across batches, replays are
    deterministic."""
    from airflow_spark.streaming.monitors import _token_bucket_fn

    fn = _token_bucket_fn(capacity=2.0, refill_per_s=1.0)
    st = FakeState()
    t = pd.Timestamp

    # burst of 3 at the same second: capacity 2 → third throttled
    out = _run(
        fn,
        (5,),
        [pd.DataFrame({"ts": [t("2026-01-01 00:00:00")] * 3})],
        st,
    )
    assert list(out[0]["allowed"]) == [True, True, False]

    # 1.5 s later: 1.5 tokens refilled → one allowed, next throttled
    out = _run(
        fn,
        (5,),
        [pd.DataFrame({"ts": [t("2026-01-01 00:00:01.5"),
                              t("2026-01-01 00:00:01.5")]})],
        st,
    )
    assert list(out[0]["allowed"]) == [True, False]

    # long quiet period: refill clamps at capacity (2), not unbounded
    out = _run(
        fn,
        (5,),
        [pd.DataFrame({"ts": [t("2026-01-01 01:00:00")] * 3})],
        st,
    )
    assert list(out[0]["allowed"]) == [True, True, False]

    # within-batch out-of-order rows fold in ts order
    st2 = FakeState()
    out = _run(
        fn,
        (9,),
        [pd.DataFrame({"ts": [t("2026-01-01 00:00:10"),
                              t("2026-01-01 00:00:00"),
                              t("2026-01-01 00:00:00")]})],
        st2,
    )
    assert list(out[0]["allowed"]) == [True, True, True]  # refill between


def test_rate_limit_monitor_streaming_run(spark, tmp_path):
    """Live applyInPandasWithState run: every event gets a verdict,
    per-key allowance matches the event-time bucket exactly."""
    import datetime as dt

    from airflow_spark.streaming.monitors import rate_limit_monitor

    base = dt.datetime(2026, 1, 1)
    rows = [
        # user 1: burst of 4 in one second → 2 allowed (capacity 2)
        *[(1, base) for _ in range(4)],
        # user 2: spaced 5 s apart → all allowed (refill 1/s)
        *[(2, base + dt.timedelta(seconds=5 * i)) for i in range(3)],
    ]
    df = spark.createDataFrame(rows, "user_id LONG, ts TIMESTAMP")
    src = tmp_path / "rl_src"
    df.coalesce(1).write.parquet(str(src))
    stream = spark.readStream.schema(df.schema).parquet(str(src))
    q = (
        rate_limit_monitor(stream, capacity=2.0, refill_per_s=1.0)
        .writeStream.format("memory")
        .queryName("rl_out")
        .outputMode("update")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "rl_ckpt"))
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql("SELECT * FROM rl_out").collect()
    assert len(out) == 7
    per_user = {
        u: sorted(
            (r for r in out if r.user_id == u), key=lambda r: r.ts
        )
        for u in (1, 2)
    }
    assert sum(r.allowed for r in per_user[1]) == 2
    assert all(r.allowed for r in per_user[2])


def test_neardup_ingest_across_batches(spark, tmp_path):
    """Streaming near-dup ingest: within-batch near-copies collapse to
    the min-id survivor, and a later run's near-copy of HISTORY is
    dropped while novel content lands."""
    from airflow_spark.streaming.incremental import neardup_ingest

    src = tmp_path / "nd_in"
    src.mkdir()
    ckpt = str(tmp_path / "nd_ckpt")
    hist = str(tmp_path / "nd_hist")
    sigs = str(tmp_path / "nd_sigs")
    schema = "doc_id LONG, text STRING"

    base = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away into the quiet green forest tonight")
    variant = base.replace("tonight", "today")  # near-dup of base
    other = ("completely different content about distributed query "
             "engines shuffling partitioned columnar batches at scale")

    b1 = spark.createDataFrame(
        [(1, base), (2, variant), (3, other)], schema
    )
    b1.coalesce(1).write.mode("append").parquet(str(src))
    assert neardup_ingest(
        spark, str(src), schema, ckpt, hist, sigs, threshold=0.5
    )
    kept1 = {r.doc_id for r in spark.read.parquet(hist).collect()}
    assert kept1 == {1, 3}  # 2 collapsed into 1

    # run 2: near-copy of historical base + genuinely new doc
    b2 = spark.createDataFrame(
        [(10, base.replace("quiet", "silent")),
         (11, "yet another unrelated document describing window "
              "functions folding running aggregates over event time")],
        schema,
    )
    b2.coalesce(1).write.mode("append").parquet(str(src))
    assert neardup_ingest(
        spark, str(src), schema, ckpt, hist, sigs, threshold=0.5
    )
    kept2 = {r.doc_id for r in spark.read.parquet(hist).collect()}
    assert kept2 == {1, 3, 11}  # 10 dropped against history


def test_neardup_ingest_releases_batch_caches(spark, tmp_path):
    """Each micro-batch's checkpoints and caches (the batch, its pairs,
    the cluster labels, the signatures and the survivors) are released
    once the batch is appended: the persistent-RDD ledger is back at
    its baseline after a first batch and after one against history."""
    from airflow_spark.streaming.incremental import neardup_ingest

    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())

    src = tmp_path / "nd_in"
    src.mkdir()
    args = [str(tmp_path / d) for d in ("nd_ckpt", "nd_hist", "nd_sigs")]
    schema = "doc_id LONG, text STRING"
    base = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away into the quiet green forest tonight")
    before = persisted()
    for rows in (
        [(1, base), (2, base.replace("tonight", "today")),
         (3, "completely different content about query engines")],
        [(10, base.replace("quiet", "silent")), (11, "an unrelated new document")],
    ):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))
        assert neardup_ingest(spark, str(src), schema, *args, threshold=0.5)
        assert persisted() - before == set()
    kept = {r.doc_id for r in spark.read.parquet(args[1]).collect()}
    assert kept == {1, 3, 11}


def test_heavy_hitter_ingest_merges_and_replay_safe(spark, tmp_path):
    """Cross-run Count-Min: two availableNow runs build mergeable
    per-batch sketches; estimates never undercount the true totals,
    and a replayed batch overwrites (not doubles) its partition."""
    from airflow_spark.operators import sketches
    from airflow_spark.streaming.incremental import (
        _write_batch_sketch,
        heavy_hitter_ingest,
        merged_sketch,
    )

    src = tmp_path / "ev_in"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    skdir = str(tmp_path / "sketch")

    def drop(rows):
        spark.createDataFrame(rows, ["event_id", "key"]).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))

    drop([(i, f"k{i % 3}") for i in range(30)])
    assert heavy_hitter_ingest(
        spark, str(src), "event_id bigint, key string", ckpt, skdir,
        "key", depth=4, width=16,
    )
    drop([(100 + i, "k0") for i in range(20)])
    assert heavy_hitter_ingest(
        spark, str(src), "event_id bigint, key string", ckpt, skdir,
        "key", depth=4, width=16,
    )
    sk = merged_sketch(spark, skdir)
    keys = spark.createDataFrame([("k0",), ("k1",), ("k2",)], ["key"])
    est = {
        r["key"]: r["cm_estimate"]
        for r in sketches.countmin_estimate(
            sk, keys, "key", depth=4, width=16
        ).collect()
    }
    # true: k0 = 10 + 20 = 30, k1 = k2 = 10 -> never undercounted
    assert est["k0"] >= 30 and est["k1"] >= 10 and est["k2"] >= 10
    # total counter mass equals total rows (sketch counts every row once)
    mass = sk.agg(F.sum("c")).collect()[0][0]
    assert mass == 4 * 50  # depth rows x 50 events
    # replay safety: rewriting batch 0's sketch does not double-count
    b0 = spark.createDataFrame(
        [(i, f"k{i % 3}") for i in range(30)], ["event_id", "key"]
    )
    _write_batch_sketch(
        sketches.countmin_counts(b0, "key", 4, 16), skdir, 0
    )
    mass2 = merged_sketch(spark, skdir).agg(F.sum("c")).collect()[0][0]
    assert mass2 == mass


def test_write_batch_sketch_restores_unset_overwrite_mode(spark, tmp_path):
    """conf.get(key, None) returns None for a never-set conf, so the
    restore path must UNSET rather than skip — otherwise the session
    is permanently left in 'dynamic' partitionOverwriteMode and later
    plain overwrite+partitionBy writes silently retain stale
    partitions (advisor round-3 finding)."""
    from airflow_spark.streaming.incremental import _write_batch_sketch

    key = "spark.sql.sources.partitionOverwriteMode"
    try:
        spark.conf.unset(key)  # start from the never-set state
    except Exception:
        pass
    sk = spark.createDataFrame([(0, 1, 5)], "row INT, col INT, cnt INT")
    _write_batch_sketch(sk, str(tmp_path / "sketch"), batch_id=0)
    # SQLConf default surfaces once the conf is genuinely unset
    assert spark.conf.get(key).lower() == "static"
    # and the downstream hazard is gone: a plain overwrite+partitionBy
    # write replaces the WHOLE output, not just matching partitions
    out = str(tmp_path / "plain")
    spark.createDataFrame([(1, "a"), (2, "b")], "p INT, v STRING") \
        .write.mode("overwrite").partitionBy("p").parquet(out)
    spark.createDataFrame([(1, "c")], "p INT, v STRING") \
        .write.mode("overwrite").partitionBy("p").parquet(out)
    assert spark.read.parquet(out).count() == 1


# ---------------------------------------------------------------------------
# JVM event-time last-seen (session-window recomposition)
# ---------------------------------------------------------------------------


def test_last_seen_eventtime_batch_sessions(spark):
    """Batch form: one row per (key, quiet-separated activity burst),
    carrying the burst's max ts — the event-time alert surface. Gap
    3600 s: user 1 has two bursts (alert-once + re-arm), user 2 one."""
    from airflow_spark.streaming import last_seen_monitor_eventtime

    base = dt.datetime(2026, 1, 1, 12, 0)
    rows = [
        (1, base),
        (1, base + dt.timedelta(minutes=30)),   # same burst (gap 1h)
        (1, base + dt.timedelta(hours=3)),      # quiet > gap: new burst
        (2, base + dt.timedelta(minutes=5)),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts"])
    out = last_seen_monitor_eventtime(df, stale_after_s=3600).collect()
    got = sorted((r["user_id"], r["last_ts"]) for r in out)
    assert [u for u, _ in got] == [1, 1, 2]
    assert all(r["status"] == "stale_alert" for r in out)
    per_user1 = [t for u, t in got if u == 1]
    assert per_user1 == [base + dt.timedelta(minutes=30),
                         base + dt.timedelta(hours=3)]
    assert got[2][1] == base + dt.timedelta(minutes=5)


def test_last_seen_eventtime_streaming_alert_once_and_rearm(spark, tmp_path):
    """Live availableNow run: only sessions the watermark has CLOSED
    emit (append mode) — user 1's first burst alerts once; the stream's
    final in-flight bursts stay open (the documented finite-replay
    caveat). A later event from user 1 re-armed and re-alerted via the
    second closed burst."""
    from airflow_spark.streaming import last_seen_monitor_eventtime

    base = dt.datetime(2026, 1, 1, 12, 0)
    rows = [
        (1, base),
        (1, base + dt.timedelta(minutes=10)),    # burst 1
        (1, base + dt.timedelta(hours=3)),       # burst 2 (re-arm)
        (2, base + dt.timedelta(minutes=5)),     # burst (closes too)
        # watermark driver: advances event time far enough that every
        # burst above (+ gap + allowance) is final
        (99, base + dt.timedelta(hours=10)),
    ]
    src = tmp_path / "ls_ev"
    src.mkdir()
    spark.createDataFrame(rows, ["user_id", "ts"]).coalesce(1).write.parquet(
        str(src / "chunk"), mode="overwrite"
    )
    raw = spark.read.parquet(str(src / "chunk"))
    stream = spark.readStream.schema(raw.schema).parquet(str(src / "chunk"))
    q = (
        last_seen_monitor_eventtime(stream, stale_after_s=3600)
        .writeStream.format("memory")
        .queryName("ls_eventtime")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["user_id"], r["last_ts"])
        for r in spark.sql("SELECT * FROM ls_eventtime").collect()
    }
    # all three early bursts closed by the watermark driver; 99's own
    # burst is the final in-flight session and must NOT emit
    assert got == {
        (1, base + dt.timedelta(minutes=10)),
        (1, base + dt.timedelta(hours=3)),
        (2, base + dt.timedelta(minutes=5)),
    }
