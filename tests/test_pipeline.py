"""Pipeline engine tests: DAG ordering, retries, timeouts, expand
fan-out isolation, expectations, notifier, params, scheduler cron,
state store + vacuum.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from airflow_spark.pipeline import (
    CollectingNotifier,
    ExpectationFailed,
    Pipeline,
    RunStateStore,
    Scheduler,
    cron_matches,
    expect_empty,
    expect_nonempty,
    expect_schema,
    next_fire,
)
from airflow_spark.pipeline.core import Param
from airflow_spark.pipeline.scheduler import latest_fire_in

UTC = dt.timezone.utc


def test_topo_order_and_xcom(spark):
    p = Pipeline("order")
    seen = []

    @p.task
    def a(ctx):
        seen.append("a")
        return 41

    @p.task(depends_on=["a"])
    def b(ctx):
        seen.append("b")
        return ctx.xcom("a") + 1

    run = p.test(spark)
    assert run.ok and seen == ["a", "b"]


def test_retries_then_success(spark):
    p = Pipeline("retry")
    calls = {"n": 0}

    @p.task(retries=2, retry_delay=0.0)
    def flaky(ctx):
        calls["n"] += 1
        if calls["n"] < 3:
            raise RuntimeError("transient")
        return "ok"

    run = p.test(spark)
    assert run.ok and run.tasks["flaky"].attempts == 3


def test_failure_marks_dependents_and_notifies(spark):
    notifier = CollectingNotifier()
    p = Pipeline("fail", on_failure=notifier)

    @p.task
    def bad(ctx):
        raise ValueError("boom")

    @p.task(depends_on=["bad"])
    def never(ctx):
        raise AssertionError("must not run")

    @p.task
    def independent(ctx):
        return "ran"

    run = p.test(spark)
    assert not run.ok
    assert run.tasks["bad"].status == "failed"
    assert run.tasks["never"].status == "upstream_failed"
    assert run.tasks["independent"].status == "success"
    assert len(notifier.messages) == 1 and "fail" in notifier.messages[0]


def test_expand_per_element_isolation(spark):
    """One bad element fails its instance; others proceed; the error
    reports every failing element (SURVEY §7 hard-part 5)."""
    p = Pipeline("expand")

    @p.task
    def clients(ctx):
        return ["c1", "bad", "c3"]

    @p.task(expand_over="clients")
    def check(ctx, client):
        if client == "bad":
            raise RuntimeError(f"{client} stale")
        return f"{client}-ok"

    run = p.test(spark)
    assert run.tasks["check"].status == "failed"
    el = {e["element"]: e["status"] for e in run.tasks["check"].elements}
    assert el == {"c1": "success", "bad": "failed", "c3": "success"}
    assert "bad" in run.tasks["check"].error


def test_conditional_pruning_when_guard(spark):
    p = Pipeline("prune")

    @p.task(when=lambda ctx: ctx.profile == "prod")
    def prod_only(ctx):
        return "x"

    run = p.test(spark, profile="dev")
    assert run.tasks["prod_only"].status == "skipped"
    assert run.ok  # skip is not failure


def test_params_typed_defaults_and_override(spark):
    p = Pipeline(
        "params",
        params={"outdated_interval": Param(1, type="integer")},
    )
    got = {}

    @p.task
    def read(ctx):
        got["v"] = ctx.param("outdated_interval")

    p.test(spark)
    assert got["v"] == 1
    p.test(spark, params={"outdated_interval": "5"})
    assert got["v"] == 5  # cast to int per Param type


def test_pipeline_timeout_budget(spark):
    import time

    p = Pipeline("budget", timeout_s=0.2)

    @p.task
    def slow(ctx):
        time.sleep(0.4)
        return 1

    @p.task(depends_on=["slow"])
    def after(ctx):
        return 2

    run = p.test(spark)
    assert not run.ok
    assert run.tasks["after"].status in ("failed", "upstream_failed")


def test_expectations(spark):
    df = spark.range(5).withColumn("v", F.col("id") * 2)
    expect_nonempty(df, "should have rows")
    expect_schema(df, {"id": "bigint", "v": "bigint"})
    expect_empty(df.where(F.col("v") > 100), "no big values")
    with pytest.raises(ExpectationFailed, match="negative"):
        expect_empty(df.where(F.col("v") >= 0), "negative check")
    with pytest.raises(ExpectationFailed):
        expect_schema(df, {"missing_col": "string"})


def test_observed_write_piggybacks_metrics(spark, tmp_path):
    from airflow_spark.pipeline.expectations import observed_write

    df = spark.range(10).withColumn(
        "v", F.when(F.col("id") < 8, F.col("id")).otherwise(F.lit(None))
    )
    # passing case: metrics ride the write action, no second scan
    got = observed_write(
        df,
        {
            "n_rows": F.count(F.lit(1)),
            "expect_zero_neg": F.count_if(F.col("id") < 0),
        },
        lambda d: d.write.mode("overwrite").parquet(str(tmp_path / "ok")),
    )
    assert got["n_rows"] == 10 and got["expect_zero_neg"] == 0

    with pytest.raises(ExpectationFailed, match="expect_zero_null_v"):
        observed_write(
            df,
            {"expect_zero_null_v": F.count_if(F.col("v").isNull())},
            lambda d: d.write.mode("overwrite").parquet(str(tmp_path / "bad")),
        )


# ---------------------------------------------------------------------------
# Scheduler
# ---------------------------------------------------------------------------


def test_cron_matching():
    t = dt.datetime(2026, 8, 13, 14, 5, tzinfo=UTC)
    assert cron_matches("*/5 * * * *", t)
    assert not cron_matches("0 * * * *", t)
    assert cron_matches("5 14 13 8 *", t)
    assert cron_matches("@daily", dt.datetime(2026, 8, 13, 0, 0, tzinfo=UTC))
    assert cron_matches("0 */6 * * *", dt.datetime(2026, 8, 13, 18, 0, tzinfo=UTC))


def test_next_fire_and_catchup_latest_only():
    after = dt.datetime(2026, 8, 13, 14, 2, tzinfo=UTC)
    assert next_fire("*/5 * * * *", after) == dt.datetime(
        2026, 8, 13, 14, 5, tzinfo=UTC
    )
    # 3 hours of downtime on an hourly schedule → only the latest fires
    fire = latest_fire_in(
        "0 * * * *",
        dt.datetime(2026, 8, 13, 11, 0, tzinfo=UTC),
        dt.datetime(2026, 8, 13, 14, 30, tzinfo=UTC),
    )
    assert fire == dt.datetime(2026, 8, 13, 14, 0, tzinfo=UTC)


def test_scheduler_fires_and_dedupes(spark):
    p = Pipeline("sched", schedule="0 * * * *")
    fired = []

    @p.task
    def tick(ctx):
        fired.append(ctx.run_ts)

    s = Scheduler(spark)
    s.register(p)
    now = dt.datetime(2026, 8, 13, 15, 30, tzinfo=UTC)
    runs = s.run_pending(now)
    assert len(runs) == 1 and fired[-1] == dt.datetime(2026, 8, 13, 15, 0, tzinfo=UTC)
    # same poll window again → nothing new (catchup=False, already ran)
    assert s.run_pending(now) == []
    # next hour → fires once
    later = dt.datetime(2026, 8, 13, 16, 1, tzinfo=UTC)
    assert len(s.run_pending(later)) == 1


# ---------------------------------------------------------------------------
# State store
# ---------------------------------------------------------------------------


def test_state_store_records_and_vacuums(spark, tmp_path):
    store = RunStateStore(spark, str(tmp_path / "runs"))
    p = Pipeline("stateful")

    @p.task
    def t1(ctx):
        return 1

    p.run(spark, state_store=store)
    p.run(spark, state_store=store)
    assert store.runs().count() == 2
    latest = store.latest("stateful")
    assert latest is not None and latest["status"] == "success"
    # vacuum with generous retention keeps everything
    kept = store.vacuum(dt.timedelta(days=7))
    assert kept == 2
    # zero retention drops all
    kept = store.vacuum(dt.timedelta(seconds=0))
    assert kept == 0


# ---------------------------------------------------------------------------
# Filesystem scan source
# ---------------------------------------------------------------------------


def test_filesystem_scan_and_retention(spark, tmp_path):
    import os
    import time

    from airflow_spark.sources.files import expired_files, filesystem_scan

    old = tmp_path / "old.log"
    new = tmp_path / "new.log"
    old.write_text("x" * 100)
    new.write_text("y" * 10)
    past = time.time() - 30 * 86400
    os.utime(old, (past, past))

    files = filesystem_scan(spark, str(tmp_path), glob="*.log")
    rows = {r["path"].split("/")[-1]: r for r in files.collect()}
    assert set(rows) == {"old.log", "new.log"}
    assert rows["old.log"]["length"] == 100

    cutoff = dt.datetime.now(dt.timezone.utc) - dt.timedelta(days=7)
    expired = expired_files(files, cutoff).collect()
    assert [r["path"].split("/")[-1] for r in expired] == ["old.log"]


def test_independent_tasks_run_concurrently(spark):
    import time as _time

    p = Pipeline("parallel", max_parallel_tasks=4)

    for i in range(3):
        @p.task(name=f"sleep_{i}")
        def s(ctx):
            _time.sleep(0.5)
            return 1

    t0 = _time.monotonic()
    run = p.test(spark)
    wall = _time.monotonic() - t0
    assert run.ok
    # 3 × 0.5s sleeps concurrently: well under the 1.5s sequential time
    assert wall < 1.2, wall


def test_parallel_respects_dependencies_and_failures(spark):
    p = Pipeline("parallel_deps", max_parallel_tasks=4)
    order = []

    @p.task
    def a(ctx):
        order.append("a")
        return 1

    @p.task(depends_on=["a"])
    def b(ctx):
        order.append("b")
        raise ValueError("boom")

    @p.task(depends_on=["b"])
    def c(ctx):
        order.append("c")

    @p.task
    def d(ctx):
        order.append("d")

    run = p.test(spark)
    assert order.index("a") < order.index("b")
    assert "c" not in order
    assert run.tasks["c"].status == "upstream_failed"
    assert run.tasks["d"].status == "success"


def test_task_timeout_cancels_spark_job(spark):
    import time as _time

    p = Pipeline("task_budget")

    @p.task(task_timeout_s=2.0)
    def runaway(ctx):
        # a Spark job that would run for minutes unassisted
        return ctx.spark.range(200_000_000_000, numPartitions=4).filter(
            "id % 7 = 3"
        ).count()

    t0 = _time.monotonic()
    run = p.test(spark)
    wall = _time.monotonic() - t0
    assert run.tasks["runaway"].status == "failed"
    assert "task_timeout_s" in run.tasks["runaway"].error
    assert wall < 30, wall  # cancelled, not run to completion


def test_backfill_runs_each_interval_in_order(spark):
    from airflow_spark.pipeline.scheduler import backfill

    p = Pipeline("bf", schedule="0 * * * *")
    fired = []

    @p.task
    def tick(ctx):
        fired.append(ctx.run_ts)

    runs = backfill(
        spark,
        p,
        dt.datetime(2026, 8, 13, 10, 0, tzinfo=UTC),
        dt.datetime(2026, 8, 13, 13, 0, tzinfo=UTC),
    )
    assert len(runs) == 3 and all(r.ok for r in runs)
    assert fired == [
        dt.datetime(2026, 8, 13, h, 0, tzinfo=UTC) for h in (11, 12, 13)
    ]


def test_retry_on_classifies_exceptions(spark):
    from airflow_spark.sources.http import HttpError

    p = Pipeline("retry_on")
    calls = {"transient": 0, "deterministic": 0}

    @p.task(retries=3, retry_delay=0.0, retry_on=(HttpError,))
    def transient(ctx):
        calls["transient"] += 1
        if calls["transient"] < 3:
            raise HttpError("503")
        return "ok"

    @p.task(retries=3, retry_delay=0.0, retry_on=(HttpError,))
    def deterministic(ctx):
        calls["deterministic"] += 1
        raise ExpectationFailed("data is bad")  # not retryable → 1 attempt

    run = p.test(spark)
    assert run.tasks["transient"].status == "success"
    assert calls["transient"] == 3
    assert run.tasks["deterministic"].status == "failed"
    assert calls["deterministic"] == 1  # failed fast, no retry burn


def test_task_timeout_applies_to_expanded_tasks(spark):
    # task_timeout_s must bound each mapped element, not be silently
    # ignored for expand_over tasks
    import time as _time

    p = Pipeline("expand_budget")

    @p.task
    def items(ctx):
        return ["fast", "slow"]

    @p.task(expand_over="items", task_timeout_s=2.0)
    def work(ctx, el):
        if el == "slow":
            return ctx.spark.range(200_000_000_000, numPartitions=4).filter(
                "id % 7 = 3"
            ).count()
        return el

    t0 = _time.monotonic()
    run = p.test(spark)
    wall = _time.monotonic() - t0
    el = {e["element"]: e["status"] for e in run.tasks["work"].elements}
    assert el["fast"] == "success" and el["slow"] == "failed"
    assert "task_timeout_s" in run.tasks["work"].error
    assert wall < 30, wall  # cancelled, not run to completion


def test_xcom_persists_across_runs(spark, tmp_path):
    # metadata-DB XCom analog: run 1's output is durable; run 2 (a
    # fresh process in production) pulls it via ctx.xcom_prev
    store = RunStateStore(spark, str(tmp_path / "runs"))
    p = Pipeline("xp")

    @p.task
    def counter(ctx):
        return ctx.xcom_prev("counter", default=0) + 10

    @p.task
    def heavy(ctx):
        return ctx.spark.range(3)  # NOT JSON — must be skipped, not crash

    r1 = p.run(spark, state_store=store, run_id="r1")
    r2 = p.run(spark, state_store=store, run_id="r2")
    assert r1.ok and r2.ok
    assert store.xcom_pull("xp", "counter", run_id="r1") == 10
    assert store.xcom_pull("xp", "counter", run_id="r2") == 20
    assert store.xcom_pull("xp", "counter") == 20  # latest wins
    assert store.xcom_pull("xp", "heavy", default="absent") == "absent"
    # runs table unpolluted by the _xcom subdir
    assert store.runs().count() == 2


def test_xcom_vacuum_respects_retention(spark, tmp_path):
    store = RunStateStore(spark, str(tmp_path / "runs"))
    p = Pipeline("xv")

    @p.task
    def t(ctx):
        return "kept"

    old = dt.datetime(2026, 1, 1, tzinfo=UTC)
    new = dt.datetime(2026, 8, 1, tzinfo=UTC)
    p.run(spark, state_store=store, run_id="old", run_ts=old)
    p.run(spark, state_store=store, run_id="new", run_ts=new)
    # make recorded timestamps follow run_ts deterministically: vacuum
    # keys on the run's started wall-clock, both just written, so use a
    # cutoff between "now - huge" and now to drop nothing, then a
    # future cutoff to drop everything
    kept = store.vacuum(dt.timedelta(days=365), now=dt.datetime.now(UTC))
    assert kept == 2 and store.xcoms().count() == 2
    kept = store.vacuum(
        dt.timedelta(seconds=0),
        now=dt.datetime.now(UTC) + dt.timedelta(days=1),
    )
    assert kept == 0
    assert store.xcom_pull("xv", "t", default=None) is None


def _write_with_spark(spark, path, rows, schema):
    """The store's former writer: one Spark job per append."""
    spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(path)


@pytest.mark.parametrize("tz", ["UTC", "America/New_York"])
def test_state_store_arrow_writes_match_spark_writes(spark, tmp_path, monkeypatch, tz):
    import time

    from airflow_spark.pipeline.state import RUN_SCHEMA, XCOM_SCHEMA, _write_parquet

    naive = dt.datetime(2026, 3, 8, 2, 30, 0, 123456)  # in a New York DST gap
    runs = [
        ("p", "r1", "success", naive, 1.5,
         '{"tâche_é✓": {"status": "success", "error": null}}'),
        ("p", "r2", "failed", dt.datetime(2026, 1, 1), 0.25, None),
        ("pïpe", "r3", None, dt.datetime(2025, 11, 2, 1, 30), 3.0, "{}"),
    ]
    xcoms = [
        ("p", "r1", "tâche_é✓", '{"n": 1}', naive),
        ("p", "r2", "t", None, dt.datetime(2026, 1, 1)),
    ]
    monkeypatch.setenv("TZ", tz)
    time.tzset()
    try:
        arrow = RunStateStore(spark, str(tmp_path / "arrow"))
        legacy = RunStateStore(spark, str(tmp_path / "spark"))
        _write_parquet(arrow.path, RUN_SCHEMA, runs)
        _write_parquet(arrow.xcom_path, XCOM_SCHEMA, xcoms)
        _write_with_spark(spark, legacy.path, runs, RUN_SCHEMA)
        _write_with_spark(spark, legacy.xcom_path, xcoms, XCOM_SCHEMA)

        def read(store):
            return (
                store.runs()
                .select("*", F.unix_micros("started"))
                .orderBy("run_id")
                .collect(),
                store.xcoms()
                .select("*", F.unix_micros("recorded"))
                .orderBy("run_id")
                .collect(),
            )

        assert read(arrow) == read(legacy)
        assert arrow.runs().orderBy("run_id").collect()[0]["task_statuses"] == runs[0][5]
    finally:
        monkeypatch.undo()
        time.tzset()


def test_state_store_reads_and_vacuums_legacy_spark_files(spark, tmp_path):
    import os

    from airflow_spark.pipeline.state import RUN_SCHEMA, XCOM_SCHEMA

    store = RunStateStore(spark, str(tmp_path / "runs"))
    old_started = dt.datetime(2026, 1, 1)
    _write_with_spark(
        spark, store.path, [("legacy", "old", "success", old_started, 1.0, "{}")],
        RUN_SCHEMA,
    )
    _write_with_spark(
        spark, store.xcom_path, [("legacy", "old", "t", '"v"', old_started)], XCOM_SCHEMA
    )
    assert "_SUCCESS" in os.listdir(store.path)
    assert any(f.endswith(".crc") for f in os.listdir(store.path))
    p = Pipeline("legacy")

    @p.task
    def t(ctx):
        return "new"

    p.run(spark, state_store=store, run_id="new")
    assert sorted(r["run_id"] for r in store.runs().collect()) == ["new", "old"]
    assert store.xcom_pull("legacy", "t", run_id="old") == "v"
    assert store.xcom_pull("legacy", "t", run_id="new") == "new"

    assert store.vacuum(dt.timedelta(days=3650)) == 2
    for d in (store.path, store.xcom_path):
        files = [f for f in os.listdir(d) if os.path.isfile(os.path.join(d, f))]
        assert len(files) == 1 and files[0].endswith(".snappy.parquet"), files
    assert sorted(r["run_id"] for r in store.runs().collect()) == ["new", "old"]
    assert store.xcoms().count() == 2


def test_state_store_concurrent_records_and_reads(spark, tmp_path):
    import os
    import threading

    store = RunStateStore(spark, str(tmp_path / "runs"))
    p = Pipeline("concurrent")

    @p.task
    def t(ctx):
        return {"ok": True}

    runs = [p.run(spark, run_id=f"r{i}") for i in range(8)]
    done = threading.Event()
    read_errors = []

    def reader():
        while not done.is_set():
            try:
                store.runs().count()
            except Exception as e:  # surfaced by the assert below
                read_errors.append(e)

    r = threading.Thread(target=reader)
    r.start()
    writers = [threading.Thread(target=store.record_run, args=(p, run)) for run in runs]
    try:
        for w in writers:
            w.start()
        for w in writers:
            w.join(timeout=60)
            assert not w.is_alive()
    finally:
        done.set()
        r.join(timeout=60)
    assert not r.is_alive()
    assert read_errors == []
    assert store.runs().count() == 8
    assert store.xcoms().count() == 8
    leftovers = [f for _d, _s, fs in os.walk(store.path) for f in fs if f.endswith(".tmp")]
    assert leftovers == []


def test_record_run_launches_no_spark_job(spark, tmp_path):
    store = RunStateStore(spark, str(tmp_path / "runs"))
    p = Pipeline("jobless")

    @p.task
    def t(ctx):
        return {"n": 1}

    run = p.run(spark, run_id="r1")
    sc = spark.sparkContext
    group = "test-record-run-jobs"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        store.record_run(p, run)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert store.runs().count() == 1 and store.xcom_pull("jobless", "t") == {"n": 1}


def test_run_ids_raises_on_failed_read(spark, tmp_path):
    from py4j.protocol import Py4JJavaError

    store = RunStateStore(spark, str(tmp_path / "runs"))
    assert store.run_ids("p") == []  # an empty store reads as no runs
    (tmp_path / "runs" / "part-corrupt.snappy.parquet").write_bytes(b"not parquet")
    with pytest.raises(Py4JJavaError, match="FAILED_READ_FILE"):
        store.run_ids("p")


# ---------------------------------------------------------------------------
# HTTP control plane
# ---------------------------------------------------------------------------


def _mini_pipeline():
    from airflow_spark.pipeline import Pipeline

    p = Pipeline("api_demo", schedule="0 * * * *", tags=["demo"])

    @p.task
    def first(ctx):
        return ctx.params.get("x", 1) * 2

    @p.task(depends_on=["first"])
    def second(ctx):
        return ctx.xcom("first") + 1

    return p


def test_control_plane_dispatch_routes(spark):
    from airflow_spark.pipeline.api import ControlPlane

    cp = ControlPlane(spark, [_mini_pipeline()])
    st, body = cp.dispatch("GET", "/health")
    assert st == 200 and body["spark"]["status"] == "healthy"
    st, body = cp.dispatch("GET", "/pipelines")
    assert st == 200 and body["pipelines"][0]["name"] == "api_demo"
    st, body = cp.dispatch("GET", "/pipelines/api_demo")
    assert st == 200 and body["tasks"]["second"]["depends_on"] == ["first"]
    st, body = cp.dispatch("GET", "/pipelines/nope")
    assert st == 404
    st, body = cp.dispatch("GET", "/bogus")
    assert st == 404


def test_control_plane_trigger_and_poll(spark):
    import time

    from airflow_spark.pipeline.api import ControlPlane

    cp = ControlPlane(spark, [_mini_pipeline()])
    st, body = cp.dispatch(
        "POST", "/pipelines/api_demo/trigger", {"params": {"x": 5}}
    )
    assert st == 202
    run_id = body["run_id"]
    for _ in range(100):
        st, rec = cp.dispatch("GET", f"/runs/{run_id}")
        if rec["status"] != "running":
            break
        time.sleep(0.1)
    assert rec["status"] == "success"
    assert rec["tasks"] == {"first": "success", "second": "success"}


def test_control_plane_http_round_trip(spark):
    """Real socket: serve on an ephemeral port, trigger via POST, poll
    via GET (urllib — no external client dependency)."""
    import json as _json
    import time
    import urllib.request

    from airflow_spark.pipeline.api import ControlPlane

    cp = ControlPlane(spark, [_mini_pipeline()])
    server = cp.serve()
    port = server.server_address[1]
    base = f"http://127.0.0.1:{port}"
    try:
        with urllib.request.urlopen(f"{base}/health", timeout=10) as r:
            assert _json.loads(r.read())["spark"]["status"] == "healthy"
        req = urllib.request.Request(
            f"{base}/pipelines/api_demo/trigger",
            data=b'{"params": {"x": 2}}',
            headers={"Content-Type": "application/json"},
            method="POST",
        )
        with urllib.request.urlopen(req, timeout=10) as r:
            assert r.status == 202
            run_id = _json.loads(r.read())["run_id"]
        for _ in range(100):
            with urllib.request.urlopen(f"{base}/runs/{run_id}", timeout=10) as r:
                rec = _json.loads(r.read())
            if rec["status"] != "running":
                break
            time.sleep(0.1)
        assert rec["status"] == "success"
    finally:
        server.shutdown()


def test_control_plane_bearer_auth(spark):
    from airflow_spark.pipeline.api import ControlPlane

    cp = ControlPlane(spark, [_mini_pipeline()], auth_token="s3cret")
    # health stays open for probes
    st, _ = cp.dispatch("GET", "/health")
    assert st == 200
    st, body = cp.dispatch("GET", "/pipelines")
    assert st == 401
    st, _ = cp.dispatch(
        "POST", "/pipelines/api_demo/trigger", {}, {"Authorization": "Bearer nope"}
    )
    assert st == 401
    st, body = cp.dispatch(
        "GET", "/pipelines", None, {"Authorization": "Bearer s3cret"}
    )
    assert st == 200 and body["pipelines"]


def test_control_plane_role_based_auth(spark):
    """Admin/Op/Viewer split (reference webserver AUTH_ROLES_MAPPING
    analog): Viewer reads but cannot mutate (403, not 401); Op is
    read-only too (mutations are Admin-only); Admin triggers; unknown
    token is 401; health stays open."""
    from airflow_spark.pipeline.api import ControlPlane, StaticTokenRoles

    cp = ControlPlane(
        spark,
        [_mini_pipeline()],
        role_provider=StaticTokenRoles(
            {
                "v-tok": ("casey", "Viewer"),
                "o-tok": ("op-bot", "Op"),
                "a-tok": ("root", "Admin"),
            }
        ),
    )
    viewer = {"Authorization": "Bearer v-tok"}
    op = {"Authorization": "Bearer o-tok"}
    admin = {"Authorization": "Bearer a-tok"}

    assert cp.dispatch("GET", "/health")[0] == 200  # probes stay open
    assert cp.dispatch("GET", "/pipelines")[0] == 401  # anonymous
    assert cp.dispatch(
        "GET", "/pipelines", None, {"Authorization": "Bearer nope"}
    )[0] == 401

    st, body = cp.dispatch("GET", "/pipelines", None, viewer)
    assert st == 200 and body["pipelines"]
    st, body = cp.dispatch("POST", "/pipelines/api_demo/trigger", {}, viewer)
    assert st == 403 and body["user"] == "casey"
    assert cp.dispatch(
        "POST", "/pipelines/api_demo/trigger", {}, op
    )[0] == 403
    st, body = cp.dispatch("POST", "/pipelines/api_demo/trigger", {}, admin)
    assert st == 202 and body["run_id"]
    # wait for the daemon-thread run so the session isn't torn down
    # mid-flight by a later test
    import time as _time

    for _ in range(100):
        if cp.dispatch("GET", f"/runs/{body['run_id']}", None, viewer)[1][
            "status"
        ] != "running":
            break
        _time.sleep(0.1)


def test_serve_entrypoint_wiring(spark, tmp_path, monkeypatch):
    """The container entrypoint's exact wiring (serve.build): pipeline
    factory loaded from module:callable, cron entries registered with
    the scheduler, RBAC provider from SPARK_GRAFT_API_ROLES, state
    store only when configured."""
    (tmp_path / "user_pipes.py").write_text(
        "from airflow_spark.pipeline import Pipeline\n"
        "def build_all(spark):\n"
        "    cronned = Pipeline('cronned', schedule='0 * * * *')\n"
        "    cronned.task(lambda ctx: {}, name='t')\n"
        "    adhoc = Pipeline('adhoc')\n"
        "    adhoc.task(lambda ctx: {}, name='t')\n"
        "    return [cronned, (adhoc, {})]\n"
    )
    monkeypatch.syspath_prepend(str(tmp_path))
    monkeypatch.setenv("SPARK_GRAFT_API_ROLES", "ro=Viewer,rw=Admin")
    monkeypatch.delenv("SPARK_GRAFT_STATE_DIR", raising=False)
    from airflow_spark.serve import build

    _, plane, sched, state = build(spark, pipelines_spec="user_pipes:build_all")
    assert state is None
    assert list(sched.entries) == ["cronned"]  # adhoc: API-trigger only
    assert plane.dispatch("GET", "/pipelines")[0] == 401
    st, body = plane.dispatch(
        "GET", "/pipelines", None, {"Authorization": "Bearer ro"}
    )
    assert st == 200 and {p["name"] for p in body["pipelines"]} == {
        "cronned", "adhoc",
    }
    assert plane.dispatch(
        "POST", "/pipelines/adhoc/trigger", {}, {"Authorization": "Bearer ro"}
    )[0] == 403


def test_unmapped_role_is_403_not_500(spark):
    """A pluggable provider returning a role outside the lattice (e.g.
    GroupRoleMapper.role_for -> None for unmapped groups) must be an
    authz denial, never a KeyError/500."""
    from airflow_spark.pipeline.api import ControlPlane

    class NoneRoleProvider:
        def authenticate(self, headers):
            return {"user": "stray", "role": None}

    cp = ControlPlane(spark, [_mini_pipeline()],
                      role_provider=NoneRoleProvider())
    st, body = cp.dispatch("GET", "/pipelines", None, {})
    assert st == 403 and "stray" in body["error"]


def test_serve_refuses_anonymous_nonloopback_bind(spark, monkeypatch):
    """Fail-secure packaging: the entrypoint must not expose an
    unauthenticated (implicit-Admin) plane on a non-loopback interface
    (the container default is 0.0.0.0)."""
    from airflow_spark import serve

    for var in ("SPARK_GRAFT_API_ROLES", "SPARK_GRAFT_API_TOKEN",
                "SPARK_GRAFT_ALLOW_ANON", "SPARK_GRAFT_PIPELINES",
                "SPARK_GRAFT_STATE_DIR"):
        monkeypatch.delenv(var, raising=False)
    monkeypatch.setenv("SPARK_GRAFT_API_HOST", "0.0.0.0")
    assert serve.main([]) == 2
    monkeypatch.setenv("SPARK_GRAFT_API_ROLES", "tok=Admin")
    monkeypatch.setenv("SPARK_GRAFT_API_PORT", "0")
    assert serve.main(["--once"]) == 0  # authed: binds and exits clean


def test_group_role_mapper_highest_wins():
    from airflow_spark.pipeline.api import GroupRoleMapper

    m = GroupRoleMapper(
        {"platform-admins": "Admin", "eng": "Op", "everyone": "Viewer"}
    )
    assert m.role_for(["everyone"]) == "Viewer"
    assert m.role_for(["everyone", "platform-admins"]) == "Admin"
    assert m.role_for(["eng", "everyone"]) == "Op"
    assert m.role_for(["strangers"]) is None
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown role"):
        GroupRoleMapper({"g": "Root"})


def test_evaluate_rules_one_pass_report(spark):
    from pyspark.sql import functions as F

    from airflow_spark.pipeline.expectations import evaluate_rules

    df = spark.createDataFrame(
        [(1, 10.0), (2, -1.0), (None, 5.0)], ["id", "v"]
    )
    got = {
        r["rule"]: (r["n_pass"], r["n_violations"])
        for r in evaluate_rules(
            df,
            [
                ("id_not_null", F.col("id").isNotNull()),
                ("v_positive", F.col("v") > 0),
                ("null_pred_is_violation", F.col("id") > 1),  # NULL row
            ],
        ).collect()
    }
    assert got["id_not_null"] == (2, 1)
    assert got["v_positive"] == (2, 1)
    assert got["null_pred_is_violation"] == (1, 2)  # NULL counts as violation


def test_expect_plan_clean_gates_and_allows(spark):
    from pyspark.sql import functions as F

    from airflow_spark.pipeline.expectations import (
        ExpectationFailed,
        expect_plan_clean,
    )

    a = spark.range(10).select(F.col("id").alias("x"))
    b = spark.range(10).select(F.col("id").alias("y"))
    import pytest as _pytest

    with _pytest.raises(ExpectationFailed, match="plan lint"):
        expect_plan_clean(a.crossJoin(b))
    expect_plan_clean(a.crossJoin(b), allow={"bnl-join", "cartesian-product"})
    expect_plan_clean(a.where(F.col("x") > 3))  # clean plan passes


def test_api_dispatch_query_string_and_bad_body(spark):
    """Routing must ignore query strings, and a valid-JSON non-object
    body must get a 400, not a connection-killing AttributeError."""
    from airflow_spark.pipeline.api import ControlPlane

    cp = ControlPlane(spark, pipelines={})
    status, payload = cp.dispatch("GET", "/health?probe=1")
    assert status == 200
    status, payload = cp.dispatch("POST", "/pipelines/x/trigger", body=[1, 2])
    assert status == 400 and "object" in payload["error"]


def test_cron_sunday_alias_and_out_of_range(spark):
    import datetime as dt

    import pytest as _pytest

    from airflow_spark.pipeline.scheduler import cron_matches

    sunday = dt.datetime(2026, 8, 16, 0, 0)  # a Sunday
    assert cron_matches("0 0 * * 7", sunday)  # dow 7 = Sunday alias
    assert cron_matches("0 0 * * 0", sunday)
    with _pytest.raises(ValueError, match="outside"):
        cron_matches("60 0 * * *", sunday)  # minute typo errors loudly


def test_param_boolean_string_parsing():
    import pytest as _pytest

    from airflow_spark.pipeline.core import Param

    p = Param(default=False, type="boolean")
    assert p.resolve("false") is False
    assert p.resolve("0") is False
    assert p.resolve("true") is True
    assert p.resolve(True) is True
    with _pytest.raises(ValueError):
        p.resolve("maybe")


def test_skipped_producer_prunes_expanded_dependent(spark):
    """A when-guarded (skipped) upstream must skip its expand_over
    dependent, not fail the run."""
    import datetime as dt

    from airflow_spark.pipeline.core import Pipeline

    p = Pipeline("prune")

    @p.task(when=lambda ctx: False)
    def src(ctx):
        return [1, 2, 3]

    @p.task(expand_over="src", depends_on=["src"])
    def mapped(ctx, el):
        return el * 2

    run = p.test(spark, run_ts=dt.datetime(2026, 1, 1))
    assert run.tasks["src"].status == "skipped"
    assert run.tasks["mapped"].status == "skipped"
    assert run.status == "success"


def test_expand_over_non_iterable_fails_task_not_run(spark):
    import datetime as dt

    from airflow_spark.pipeline.core import Pipeline

    p = Pipeline("bad-expand")

    @p.task()
    def src(ctx):
        return 5  # not a list

    @p.task(expand_over="src", depends_on=["src"])
    def mapped(ctx, el):
        return el

    run = p.test(spark, run_ts=dt.datetime(2026, 1, 1))
    assert run.tasks["mapped"].status == "failed"
    assert "non-iterable" in run.tasks["mapped"].error
    assert run.status == "failed"  # recorded, notifier path — no raise


def test_resume_skips_succeeded_tasks_and_reuses_xcom(spark, tmp_path):
    """A failed run resumed via the state store: succeeded tasks with
    persisted XCom do NOT re-execute (their outputs are injected);
    the failed task and its dependents run; the resumed attempt gets
    its own run record."""
    from airflow_spark.pipeline import Pipeline
    from airflow_spark.pipeline.state import RunStateStore

    store = RunStateStore(spark, str(tmp_path / "state"))
    calls = {"a": 0, "b": 0, "c": 0}
    flaky = {"fail": True}
    p = Pipeline("resumable")

    @p.task()
    def a(ctx):
        calls["a"] += 1
        return {"rows": 7}

    @p.task(depends_on=["a"])
    def b(ctx):
        calls["b"] += 1
        if flaky["fail"]:
            raise RuntimeError("transient outage")
        return {"ok": True, "upstream": ctx.xcom("a")}

    @p.task(depends_on=["b"])
    def c(ctx):
        calls["c"] += 1
        return {"done": True}

    run1 = p.run(spark, run_id="r1", state_store=store)
    assert run1.status == "failed"
    assert run1.tasks["a"].status == "success"
    assert run1.tasks["c"].status == "upstream_failed"

    flaky["fail"] = False
    run2 = p.resume(spark, store, "r1")
    assert run2.status == "success"
    assert run2.run_id == "r1__r2"
    assert calls == {"a": 1, "b": 2, "c": 1}  # a did NOT re-run
    assert run2.tasks["a"].status == "success"
    assert run2.outputs["b"]["upstream"] == {"rows": 7}  # injected XCom

    # resuming an unknown run is a loud error, not a silent fresh run
    import pytest as _pytest

    with _pytest.raises(KeyError):
        p.resume(spark, store, "no-such-run")


def test_resume_reruns_success_with_unpersistable_output(spark, tmp_path):
    """A succeeded task whose output was a DataFrame (not XCom-able)
    re-runs on resume — a dependent may need the live object."""
    from airflow_spark.pipeline import Pipeline
    from airflow_spark.pipeline.state import RunStateStore

    store = RunStateStore(spark, str(tmp_path / "state2"))
    calls = {"frame": 0}
    flaky = {"fail": True}
    p = Pipeline("resumable2")

    @p.task()
    def frame(ctx):
        calls["frame"] += 1
        return ctx.spark.range(3)  # DataFrame: not persisted to XCom

    @p.task(depends_on=["frame"])
    def consume(ctx):
        if flaky["fail"]:
            raise RuntimeError("boom")
        return {"n": ctx.xcom("frame").count()}

    assert p.run(spark, run_id="q1", state_store=store).status == "failed"
    flaky["fail"] = False
    run2 = p.resume(spark, store, "q1")
    assert run2.status == "success"
    assert calls["frame"] == 2  # re-ran: live object re-created
    assert run2.outputs["consume"]["n"] == 3


def test_control_plane_resume_route(spark, tmp_path):
    """POST /pipelines/{name}/resume/{run_id}: async clear-and-rerun
    through the API, polled to completion via /runs."""
    import time as _time

    from airflow_spark.pipeline import Pipeline
    from airflow_spark.pipeline.api import ControlPlane
    from airflow_spark.pipeline.state import RunStateStore

    store = RunStateStore(spark, str(tmp_path / "apistate"))
    flaky = {"fail": True}
    p = Pipeline("api_resume")

    @p.task()
    def a(ctx):
        return {"v": 1}

    @p.task(depends_on=["a"])
    def b(ctx):
        if flaky["fail"]:
            raise RuntimeError("boom")
        return {"v": 2}

    assert p.run(spark, run_id="ar1", state_store=store).status == "failed"
    flaky["fail"] = False

    cp = ControlPlane(spark, [p], state_store=store)
    st, body = cp.dispatch("POST", "/pipelines/api_resume/resume/ar1", {})
    assert st == 202 and body["resumed_from"] == "ar1"
    handle = body["run_id"]
    for _ in range(100):
        st, rec = cp.dispatch("GET", f"/runs/{handle}")
        if rec["status"] != "running":
            break
        _time.sleep(0.2)
    assert rec["status"] == "success"
    assert rec["tasks"]["b"] == "success"

    # unknown run id surfaces as a failed record, not a hang
    st, body = cp.dispatch("POST", "/pipelines/api_resume/resume/nope", {})
    assert st == 202
    for _ in range(100):
        st, rec = cp.dispatch("GET", f"/runs/{body['run_id']}")
        if rec["status"] != "running":
            break
        _time.sleep(0.2)
    assert rec["status"] == "failed"

    # no state store → 409
    cp2 = ControlPlane(spark, [p])
    st, body = cp2.dispatch("POST", "/pipelines/api_resume/resume/ar1", {})
    assert st == 409


def test_run_stats_and_sla_misses(spark, tmp_path):
    from airflow_spark.pipeline import Pipeline
    from airflow_spark.pipeline.state import RunStateStore

    store = RunStateStore(spark, str(tmp_path / "obs_state"))
    flaky = {"fail": True}
    p = Pipeline("observed")

    @p.task()
    def work(ctx):
        import time as _t

        _t.sleep(0.05)
        if flaky["fail"]:
            raise RuntimeError("nope")
        return {"ok": True}

    p.run(spark, run_id="o1", state_store=store)
    flaky["fail"] = False
    p.run(spark, run_id="o2", state_store=store)
    p.run(spark, run_id="o3", state_store=store)

    stats = {r.pipeline: r for r in store.run_stats().collect()}
    s = stats["observed"]
    assert s.n_runs == 3 and s.n_success == 2
    assert abs(s.success_rate - 0.6667) < 1e-4
    assert s.p95_elapsed_s >= s.mean_elapsed_s * 0.5

    # every run slept ≥50ms → all miss a 1ms SLA; none miss a 100s SLA
    misses = store.sla_misses("observed", 0.001).collect()
    assert {r.run_id for r in misses} == {"o1", "o2", "o3"}
    assert all(r.overrun_s > 0 for r in misses)
    assert store.sla_misses("observed", 100.0).count() == 0


def test_control_plane_stats_route(spark, tmp_path):
    from airflow_spark.pipeline import Pipeline
    from airflow_spark.pipeline.api import ControlPlane
    from airflow_spark.pipeline.state import RunStateStore

    store = RunStateStore(spark, str(tmp_path / "cps"))
    p = Pipeline("statsy")

    @p.task()
    def a(ctx):
        return {"ok": 1}

    p.run(spark, run_id="s1", state_store=store)
    cp = ControlPlane(spark, [p], state_store=store)
    st, body = cp.dispatch("GET", "/stats")
    assert st == 200
    assert body["pipelines"][0]["pipeline"] == "statsy"
    assert body["pipelines"][0]["n_runs"] == 1
    assert ControlPlane(spark, [p]).dispatch("GET", "/stats")[0] == 409


def test_pool_limits_concurrency(spark):
    """Tasks sharing a pool never exceed the pool size in flight, even
    with free global slots; unpooled tasks are unaffected."""
    import threading
    import time as _time

    from airflow_spark.pipeline import Pipeline

    peak = {"now": 0, "max": 0}
    lock = threading.Lock()
    p = Pipeline("pooled", max_parallel_tasks=8, pools={"api": 2})

    def body(ctx):
        with lock:
            peak["now"] += 1
            peak["max"] = max(peak["max"], peak["now"])
        _time.sleep(0.2)
        with lock:
            peak["now"] -= 1
        return {}

    for i in range(6):
        p.task(name=f"t{i}", pool="api")(body)
    run = p.run(spark)
    assert run.ok
    assert peak["max"] <= 2  # the pool cap held with 8 global slots


def test_priority_orders_submission_under_full_executor(spark):
    """With one executor slot, higher-priority ready tasks run first."""
    from airflow_spark.pipeline import Pipeline

    order = []
    p = Pipeline("prio", max_parallel_tasks=1)

    def make(name):
        def body(ctx):
            order.append(name)
            return {}

        return body

    p.task(name="low", priority=1)(make("low"))
    p.task(name="high", priority=10)(make("high"))
    p.task(name="mid", priority=5)(make("mid"))
    run = p.run(spark)
    assert run.ok
    assert order == ["high", "mid", "low"]


def test_poke_until_and_sensors(spark, tmp_path):
    from airflow_spark.pipeline.sensors import (
        SensorTimeout,
        high_water_sensor,
        path_sensor,
        poke_until,
    )

    # deterministic clock: no real sleeping
    t = {"now": 0.0}
    slept = []

    def clock():
        return t["now"]

    def sleep(s):
        slept.append(s)
        t["now"] += s

    state = {"tries": 0}

    def flaky():
        state["tries"] += 1
        return state["tries"] >= 3

    assert poke_until(flaky, poke_interval_s=5, timeout_s=60,
                      clock=clock, sleep=sleep)
    assert state["tries"] == 3 and slept == [5, 5]

    import pytest as _pytest

    with _pytest.raises(SensorTimeout):
        poke_until(lambda: False, poke_interval_s=5, timeout_s=12,
                   clock=clock, sleep=sleep)

    # path sensor: false until data lands, then true
    pth = str(tmp_path / "sensed")
    cond = path_sensor(spark, pth)
    assert not cond()
    spark.range(3).write.parquet(pth)
    assert cond()
    hw = high_water_sensor(spark, pth, "id", 2)
    assert hw()
    assert not high_water_sensor(spark, pth, "id", 99)()


def test_dataset_trigger_fires_on_change_only(spark, tmp_path):
    import datetime as dt

    from airflow_spark.pipeline import Pipeline
    from airflow_spark.pipeline.sensors import DatasetTrigger
    from airflow_spark.pipeline.scheduler import Scheduler

    ds_path = tmp_path / "ds"
    trig = DatasetTrigger(str(ds_path))
    assert not trig.should_fire()  # absent: no fire

    calls = []
    p = Pipeline("data_driven")  # NO cron — dataset is the only trigger

    @p.task()
    def consume(ctx):
        calls.append(ctx.run_ts)
        return {}

    sched = Scheduler(spark)
    sched.register(p, dataset=trig)
    now = dt.datetime(2026, 3, 1, tzinfo=dt.timezone.utc)

    sched.run_pending(now)
    assert calls == []  # still no data

    ds_path.mkdir()
    (ds_path / "part-0.parquet").write_bytes(b"x" * 10)
    sched.run_pending(now)
    assert len(calls) == 1  # first sight fires

    sched.run_pending(now)
    assert len(calls) == 1  # unchanged: no refire

    (ds_path / "part-1.parquet").write_bytes(b"y" * 20)
    sched.run_pending(now)
    assert len(calls) == 2  # new file → new fingerprint → fire


def test_deferrable_sensors_do_not_occupy_worker_slots(spark):
    """Triggerer semantics: with max_parallel_tasks=1, THREE deferrable
    sensors wait concurrently while regular tasks keep flowing through
    the single worker slot; each sensor fires once its condition turns
    true and its output is the condition's truthy value."""
    from airflow_spark.pipeline import Pipeline

    flags = {}
    p = Pipeline("deferred_sensors", max_parallel_tasks=1)

    for i in range(3):
        def build(ctx, _i=i):
            return lambda: flags.get(_i)

        p.sensor(build, name=f"wait{i}", poke_interval_s=0.02, timeout_s=10)

    order = []

    @p.task()
    def work_a(ctx):
        order.append("a")
        return "a-done"

    @p.task(depends_on=["work_a"])
    def work_b(ctx):
        order.append("b")
        # tasks ran to completion while all three sensors still waited;
        # now satisfy them
        for i in range(3):
            flags[i] = f"ready-{i}"
        return "b-done"

    @p.task(depends_on=["wait0", "wait1", "wait2"])
    def after_sensors(ctx):
        order.append("after")
        return [ctx.outputs[f"wait{i}"] for i in range(3)]

    run = p.run(spark)
    assert run.ok, run.tasks
    assert order == ["a", "b", "after"]
    assert run.outputs["after_sensors"] == ["ready-0", "ready-1", "ready-2"]
    assert all(run.tasks[f"wait{i}"].attempts >= 1 for i in range(3))


def test_deferrable_sensor_timeout_fails_task_not_pipeline_hang(spark):
    from airflow_spark.pipeline import Pipeline

    p = Pipeline("sensor_timeout")
    p.sensor(
        lambda ctx: (lambda: False),
        name="never",
        poke_interval_s=0.02,
        timeout_s=0.1,
    )

    @p.task(depends_on=["never"])
    def downstream(ctx):
        return {}

    run = p.run(spark)
    assert not run.ok
    assert run.tasks["never"].status == "failed"
    assert "SensorTimeout" in run.tasks["never"].error
    assert run.tasks["downstream"].status == "upstream_failed"


def test_blocking_sensor_mode_still_works(spark, tmp_path):
    """deferrable=False keeps the classic in-worker poke_until path."""
    from airflow_spark.pipeline import Pipeline
    from airflow_spark.pipeline.sensors import path_sensor

    pth = str(tmp_path / "landed")
    spark.range(3).write.parquet(pth)
    p = Pipeline("blocking_sensor")
    p.sensor(
        lambda ctx: path_sensor(ctx.spark, pth),
        name="wait_path",
        poke_interval_s=0.02,
        timeout_s=5,
        deferrable=False,
    )
    run = p.run(spark)
    assert run.ok and run.outputs["wait_path"] is True


def test_dataset_trigger_retries_failed_run_and_cron_absorbs(spark, tmp_path):
    """Two-phase fingerprint commit: (a) a dataset-triggered run whose
    start RAISES is retried next poll (fingerprint not consumed);
    (b) a cron fire absorbs a pending dataset change so the next poll
    does not redundantly re-fire for data the cron run already saw."""
    import datetime as dt

    from airflow_spark.pipeline import Pipeline
    from airflow_spark.pipeline.scheduler import Scheduler
    from airflow_spark.pipeline.sensors import DatasetTrigger

    ds_path = tmp_path / "ds3"
    ds_path.mkdir()
    (ds_path / "part-0.parquet").write_bytes(b"x")

    # (a) run() raising → fingerprint stays pending → retried
    calls = []
    p = Pipeline("flaky_consumer")

    @p.task()
    def consume(ctx):
        calls.append(1)
        return {}

    trig = DatasetTrigger(str(ds_path))
    sched = Scheduler(spark)
    sched.register(p, dataset=trig)
    now = dt.datetime(2026, 3, 1, tzinfo=dt.timezone.utc)

    real_run = p.run
    p.run = lambda *a, **kw: (_ for _ in ()).throw(RuntimeError("boom"))
    sched.run_pending(now)
    assert calls == []  # raised before any task ran
    p.run = real_run
    sched.run_pending(now + dt.timedelta(minutes=1))
    assert len(calls) == 1  # retried: change was not consumed by failure
    sched.run_pending(now + dt.timedelta(minutes=2))
    assert len(calls) == 1  # consumed after the successful run

    # (b) cron + dataset: a cron fire consumes the pending change
    calls2 = []
    p2 = Pipeline("cron_and_data", schedule="0 * * * *")

    @p2.task()
    def consume2(ctx):
        calls2.append(ctx.run_ts)
        return {}

    trig2 = DatasetTrigger(str(ds_path))  # fresh: change pending
    sched2 = Scheduler(spark)
    sched2.register(p2, dataset=trig2)
    t0 = dt.datetime(2026, 3, 1, 5, 0, 30, tzinfo=dt.timezone.utc)
    sched2.run_pending(t0)  # cron 05:00 fires AND absorbs the change
    assert len(calls2) == 1
    sched2.run_pending(t0 + dt.timedelta(minutes=1))
    assert len(calls2) == 1  # no redundant dataset-driven second run
    (ds_path / "part-1.parquet").write_bytes(b"y")
    sched2.run_pending(t0 + dt.timedelta(minutes=2))
    assert len(calls2) == 2  # genuinely new data still fires mid-hour


def test_priority_holds_for_later_ready_tasks(spark):
    """A high-priority task that becomes ready LATER still preempts
    queued low-priority work (tasks are never queued beyond free
    workers, so each freed slot re-consults the priority order)."""
    from airflow_spark.pipeline import Pipeline

    order = []
    p = Pipeline("prio2", max_parallel_tasks=1)

    def make(name):
        def body(ctx):
            order.append(name)
            return {}

        return body

    p.task(name="root")(make("root"))
    for i in range(3):
        p.task(name=f"low{i}", priority=0)(make(f"low{i}"))
    p.task(name="critical", priority=100, depends_on=["root"])(
        make("critical")
    )
    run = p.run(spark)
    assert run.ok
    # critical runs right after root completes, before remaining lows
    assert order.index("critical") == order.index("root") + 1


def test_unknown_pool_raises(spark):
    from airflow_spark.pipeline import Pipeline

    p = Pipeline("typo", pools={"api": 2})

    @p.task(pool="apis")  # typo: undeclared pool
    def t(ctx):
        return {}

    import pytest as _pytest

    with _pytest.raises(ValueError, match="undeclared pool|names pool"):
        p.run(spark)


def test_dataset_trigger_ignores_metadata_and_races(tmp_path):
    from airflow_spark.pipeline.sensors import DatasetTrigger

    ds = tmp_path / "ds2"
    ds.mkdir()
    (ds / "part-0.parquet").write_bytes(b"data")
    trig = DatasetTrigger(str(ds))
    assert trig.should_fire()
    # metadata/temp churn must NOT refire (in-progress Spark write)
    (ds / "_SUCCESS").write_bytes(b"")
    (ds / ".part-1.crc").write_bytes(b"c")
    tmpdir = ds / "_temporary"
    tmpdir.mkdir()
    (tmpdir / "chunk").write_bytes(b"partial")
    assert not trig.should_fire()
    # real data change still fires
    (ds / "part-1.parquet").write_bytes(b"more")
    assert trig.should_fire()


# ---------------------------------------------------------------------------
# OIDC/JWT auth provider (reference webserver_config.py:93-118 analog)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def rsa_keypair():
    from cryptography.hazmat.primitives.asymmetric import rsa

    key = rsa.generate_private_key(public_exponent=65537, key_size=2048)
    return key, key.public_key()


def _jwt_provider(rsa_keypair, clock, **kw):
    from airflow_spark.pipeline.auth import (
        JwksRoleProvider,
        jwk_from_public_key,
    )

    _, pub = rsa_keypair
    jwks = {"keys": [jwk_from_public_key(pub, kid="k1")]}
    kw.setdefault("roles_mapping", {"eng-admins": "Admin",
                                    "analysts": "Viewer"})
    return JwksRoleProvider(jwks, clock=clock, **kw)


def test_jwt_valid_viewer_reads_and_admin_mutates(spark, rsa_keypair):
    """The verdict's done-bar: valid-JWT Viewer reads (200), viewer
    mutation 403, group->Admin mutation 202; groups resolve through
    the same GroupRoleMapper lattice as the static provider."""
    from airflow_spark.pipeline.api import ControlPlane
    from airflow_spark.pipeline.auth import mint_rs256_jwt

    key, _ = rsa_keypair
    now = 1_700_000_000
    prov = _jwt_provider(rsa_keypair, clock=lambda: now)
    cp = ControlPlane(spark, [_mini_pipeline()], role_provider=prov)

    viewer_tok = mint_rs256_jwt(key, {
        "sub": "u1", "preferred_username": "casey",
        "groups": ["analysts"], "exp": now + 600,
    }, kid="k1")
    admin_tok = mint_rs256_jwt(key, {
        "sub": "u2", "preferred_username": "root",
        "groups": ["analysts", "eng-admins"],  # highest role wins
        "exp": now + 600,
    }, kid="k1")
    viewer = {"Authorization": f"Bearer {viewer_tok}"}
    admin = {"Authorization": f"Bearer {admin_tok}"}

    st, body = cp.dispatch("GET", "/pipelines", None, viewer)
    assert st == 200 and body["pipelines"]
    st, body = cp.dispatch("POST", "/pipelines/api_demo/trigger", {}, viewer)
    assert st == 403 and body["user"] == "casey"
    st, body = cp.dispatch("POST", "/pipelines/api_demo/trigger", {}, admin)
    assert st == 202 and body["run_id"]
    import time as _time
    for _ in range(100):
        if cp.dispatch("GET", f"/runs/{body['run_id']}", None, viewer)[1][
            "status"
        ] != "running":
            break
        _time.sleep(0.1)


def test_jwt_expired_and_tampered_are_401(spark, rsa_keypair):
    from airflow_spark.pipeline.api import ControlPlane
    from airflow_spark.pipeline.auth import mint_rs256_jwt

    key, _ = rsa_keypair
    now = 1_700_000_000
    prov = _jwt_provider(rsa_keypair, clock=lambda: now)
    cp = ControlPlane(spark, [_mini_pipeline()], role_provider=prov)

    expired = mint_rs256_jwt(key, {
        "sub": "u1", "groups": ["analysts"], "exp": now - 120,
    }, kid="k1")
    assert cp.dispatch("GET", "/pipelines", None,
                       {"Authorization": f"Bearer {expired}"})[0] == 401

    good = mint_rs256_jwt(key, {
        "sub": "u1", "groups": ["analysts"], "exp": now + 600,
    }, kid="k1")
    # tamper with the PAYLOAD (signature no longer covers it)
    import base64 as _b64
    import json as _json
    h, p, s = good.split(".")
    claims = _json.loads(_b64.urlsafe_b64decode(p + "=" * (-len(p) % 4)))
    claims["groups"] = ["eng-admins"]
    p2 = _b64.urlsafe_b64encode(
        _json.dumps(claims).encode()
    ).rstrip(b"=").decode()
    assert cp.dispatch("GET", "/pipelines", None,
                       {"Authorization": f"Bearer {h}.{p2}.{s}"})[0] == 401
    # missing exp entirely is also a 401 (exp is REQUIRED)
    noexp = mint_rs256_jwt(key, {"sub": "u1", "groups": ["analysts"]},
                           kid="k1")
    assert cp.dispatch("GET", "/pipelines", None,
                       {"Authorization": f"Bearer {noexp}"})[0] == 401


def test_jwt_alg_downgrade_rejected(rsa_keypair):
    """alg comes from the attacker-controlled header: alg=none and the
    RS->HS256 key-confusion downgrade must fail before any crypto."""
    import base64 as _b64
    import hashlib
    import hmac
    import json as _json

    from cryptography.hazmat.primitives import serialization

    def enc(b):
        return _b64.urlsafe_b64encode(b).rstrip(b"=").decode()

    now = 1_700_000_000
    prov = _jwt_provider(rsa_keypair, clock=lambda: now)
    claims = enc(_json.dumps(
        {"sub": "mallory", "groups": ["eng-admins"], "exp": now + 600}
    ).encode())

    none_tok = enc(b'{"alg":"none","typ":"JWT"}') + "." + claims + "."
    assert prov.authenticate(
        {"Authorization": f"Bearer {none_tok}"}) is None

    # HS256 signed with the PUBLIC key bytes as the HMAC secret
    _, pub = rsa_keypair
    pem = pub.public_bytes(
        serialization.Encoding.PEM,
        serialization.PublicFormat.SubjectPublicKeyInfo,
    )
    hs_head = enc(b'{"alg":"HS256","typ":"JWT","kid":"k1"}')
    si = f"{hs_head}.{claims}"
    sig = enc(hmac.new(pem, si.encode(), hashlib.sha256).digest())
    assert prov.authenticate(
        {"Authorization": f"Bearer {si}.{sig}"}) is None


def test_jwt_issuer_audience_and_unmapped_groups(spark, rsa_keypair):
    from airflow_spark.pipeline.api import ControlPlane
    from airflow_spark.pipeline.auth import mint_rs256_jwt

    key, _ = rsa_keypair
    now = 1_700_000_000
    prov = _jwt_provider(
        rsa_keypair, clock=lambda: now,
        issuer="https://idp.local", audience="engine",
    )
    cp = ControlPlane(spark, [_mini_pipeline()], role_provider=prov)

    def tok(**over):
        c = {"sub": "u1", "groups": ["analysts"], "exp": now + 600,
             "iss": "https://idp.local", "aud": ["engine", "other"]}
        c.update(over)
        return {"Authorization":
                "Bearer " + mint_rs256_jwt(key, c, kid="k1")}

    assert cp.dispatch("GET", "/pipelines", None, tok())[0] == 200
    assert cp.dispatch("GET", "/pipelines", None,
                       tok(iss="https://evil"))[0] == 401
    assert cp.dispatch("GET", "/pipelines", None,
                       tok(aud="other-api"))[0] == 401
    # valid signature, no mapped group: authenticated but roleless
    # -> 403 (authz), NOT 401 (authn) — same split as the static path
    assert cp.dispatch("GET", "/pipelines", None,
                       tok(groups=["strangers"]))[0] == 403


def test_jwt_logout_revocation(rsa_keypair):
    """Logout analog: a revoked token is rejected until its exp, and
    the revocation entry self-expires afterwards (bounded list)."""
    from airflow_spark.pipeline.auth import mint_rs256_jwt

    key, _ = rsa_keypair
    now = [1_700_000_000]
    prov = _jwt_provider(rsa_keypair, clock=lambda: now[0])
    tok = mint_rs256_jwt(key, {
        "sub": "u1", "jti": "abc-123", "groups": ["analysts"],
        "exp": now[0] + 600,
    }, kid="k1")
    hdr = {"Authorization": f"Bearer {tok}"}
    assert prov.authenticate(hdr)["role"] == "Viewer"
    prov.revoke(tok)
    assert prov.authenticate(hdr) is None
    assert len(prov._revoked) == 1
    now[0] += 700  # past exp+leeway: entry garbage-collects
    prov.revoke(mint_rs256_jwt(key, {
        "sub": "u2", "jti": "z", "groups": ["analysts"],
        "exp": now[0] + 60,
    }, kid="k1"))
    assert "jti:abc-123" not in prov._revoked


def test_jwt_non_object_header_and_claims_are_401(spark, rsa_keypair):
    """A bearer token whose header (or claims) segment is valid JSON
    but NOT an object (e.g. base64url of '[]') must be a clean 401 —
    not an AttributeError escaping authenticate() and killing the
    dispatch thread (advisor finding, auth.py json.loads sites)."""
    import base64 as _b64

    from airflow_spark.pipeline.api import ControlPlane
    from airflow_spark.pipeline.auth import mint_rs256_jwt

    key, _ = rsa_keypair
    now = 1_700_000_000
    prov = _jwt_provider(rsa_keypair, clock=lambda: now)

    def enc(b: bytes) -> str:
        return _b64.urlsafe_b64encode(b).rstrip(b"=").decode()

    good = mint_rs256_jwt(key, {
        "sub": "u1", "groups": ["analysts"], "exp": now + 600,
    }, kid="k1")
    _, payload, sig = good.split(".")
    for bad_header in (b"[]", b'"str"', b"3", b"null"):
        tok = f"{enc(bad_header)}.{payload}.{sig}"
        assert prov.authenticate(
            {"Authorization": f"Bearer {tok}"}
        ) is None
        prov.revoke(tok)  # must not raise either
    # non-object CLAIMS: re-sign so only the claims shape is at fault
    header = enc(b'{"alg":"RS256","kid":"k1"}')
    from cryptography.hazmat.primitives import hashes
    from cryptography.hazmat.primitives.asymmetric import padding
    for bad_claims in (b"[]", b"17"):
        si = f"{header}.{enc(bad_claims)}"
        s = key.sign(si.encode(), padding.PKCS1v15(), hashes.SHA256())
        assert prov.authenticate(
            {"Authorization": f"Bearer {si}.{enc(s)}"}
        ) is None
    # and the control plane stays alive end-to-end
    cp = ControlPlane(spark, [_mini_pipeline()], role_provider=prov)
    st, _ = cp.dispatch(
        "GET", "/pipelines", None,
        {"Authorization": f"Bearer {enc(b'[]')}.{payload}.{sig}"},
    )
    assert st == 401
    st, body = cp.dispatch(
        "GET", "/pipelines", None, {"Authorization": f"Bearer {good}"}
    )
    assert st == 200 and body["pipelines"]


def test_jwt_key_rotation_grace_window(rsa_keypair):
    """Kid rollover (reference webserver_config.py:60-141 analog): a
    token signed with the RETIRING key verifies during the grace
    window, 401s after it; the new key verifies throughout; an
    unknown kid always 401s."""
    from cryptography.hazmat.primitives.asymmetric import rsa as _rsa

    from airflow_spark.pipeline.auth import (
        JwksRoleProvider,
        jwk_from_public_key,
        mint_rs256_jwt,
    )

    old_key, old_pub = rsa_keypair
    new_key = _rsa.generate_private_key(
        public_exponent=65537, key_size=2048
    )
    now = [1_700_000_000]
    prov = JwksRoleProvider(
        {"keys": [jwk_from_public_key(old_pub, kid="k1")]},
        roles_mapping={"analysts": "Viewer"},
        clock=lambda: now[0],
    )
    claims = {"sub": "u", "groups": ["analysts"], "exp": now[0] + 86_400}
    old_tok = {"Authorization": "Bearer " + mint_rs256_jwt(
        old_key, claims, kid="k1")}
    new_tok = {"Authorization": "Bearer " + mint_rs256_jwt(
        new_key, claims, kid="k2")}
    stranger = {"Authorization": "Bearer " + mint_rs256_jwt(
        new_key, claims, kid="k9")}

    assert prov.authenticate(old_tok)["role"] == "Viewer"
    assert prov.authenticate(new_tok) is None  # k2 not installed yet

    prov.rotate(
        {"keys": [jwk_from_public_key(new_key.public_key(), kid="k2")]},
        grace_s=3600,
    )
    # during grace: BOTH kids verify; unknown kid still 401s
    assert prov.authenticate(old_tok)["role"] == "Viewer"
    assert prov.authenticate(new_tok)["role"] == "Viewer"
    assert prov.authenticate(stranger) is None
    now[0] += 3601  # past grace: retiring key is dead, new key lives
    assert prov.authenticate(old_tok) is None
    assert prov.authenticate(new_tok)["role"] == "Viewer"
    # constructor form: old+new docs as a retiring/current pair
    prov2 = JwksRoleProvider(
        {"keys": [jwk_from_public_key(new_key.public_key(), kid="k2")]},
        roles_mapping={"analysts": "Viewer"},
        clock=lambda: now[0],
        retiring_jwks={"keys": [jwk_from_public_key(old_pub, kid="k1")]},
        rotation_grace_s=600,
    )
    assert prov2.authenticate(old_tok)["role"] == "Viewer"
    now[0] += 601
    assert prov2.authenticate(old_tok) is None
    # a LIST of documents merges into the current set (multi-doc JWKS)
    prov3 = JwksRoleProvider(
        [
            {"keys": [jwk_from_public_key(old_pub, kid="k1")]},
            {"keys": [jwk_from_public_key(new_key.public_key(),
                                          kid="k2")]},
        ],
        roles_mapping={"analysts": "Viewer"},
        clock=lambda: now[0],
    )
    assert prov3.authenticate(old_tok)["role"] == "Viewer"
    assert prov3.authenticate(new_tok)["role"] == "Viewer"


def test_serve_wires_jwks_provider_from_env(
    spark, tmp_path, monkeypatch, rsa_keypair
):
    """Container wiring: SPARK_GRAFT_API_JWKS + SPARK_GRAFT_API_GROUPS
    stand up the OIDC provider; JWKS takes precedence over the static
    token list."""
    import json as _json

    from airflow_spark.pipeline.auth import (
        jwk_from_public_key,
        mint_rs256_jwt,
    )

    key, pub = rsa_keypair
    jwks_file = tmp_path / "jwks.json"
    jwks_file.write_text(
        _json.dumps({"keys": [jwk_from_public_key(pub, kid="k1")]})
    )
    monkeypatch.setenv("SPARK_GRAFT_API_JWKS", str(jwks_file))
    monkeypatch.setenv("SPARK_GRAFT_API_GROUPS", "readers=Viewer")
    monkeypatch.setenv("SPARK_GRAFT_API_ROLES", "ro=Viewer")  # shadowed
    monkeypatch.delenv("SPARK_GRAFT_STATE_DIR", raising=False)
    from airflow_spark.serve import build

    _, plane, _, _ = build(spark, pipelines_spec=None)
    assert plane.dispatch(
        "GET", "/pipelines", None, {"Authorization": "Bearer ro"}
    )[0] == 401  # the static token is NOT honored
    import time as _time
    tok = mint_rs256_jwt(key, {
        "sub": "u", "groups": ["readers"],
        "exp": int(_time.time()) + 600,
    }, kid="k1")
    assert plane.dispatch(
        "GET", "/pipelines", None, {"Authorization": f"Bearer {tok}"}
    )[0] == 200
