"""Parity tests for the six reference-DAG pipelines: pass case + every
failure mode the reference checks (SURVEY.md §5.2-4).
"""

from __future__ import annotations

import datetime as dt

import pytest

from airflow_spark.pipeline import CollectingNotifier
from airflow_spark.pipelines import (
    build_airflow_cleanup,
    build_backups,
    build_cloudflare_apps,
    build_cloudflare_ddns,
    build_dns_requests,
    build_speedtest,
)
from airflow_spark.sources import CollectingSink
from airflow_spark.sources import fixtures as fx

RUN_TS = fx.BASE_TS.replace(tzinfo=dt.timezone.utc)


# ---------------------------------------------------------------------------
# DNS-Requests
# ---------------------------------------------------------------------------


def _dns_sources(spark, **kw):
    return {
        "adguard_status": kw.get("status", fx.adguard_status(spark)),
        "adguard_querylog": kw.get("querylog", fx.adguard_querylog(spark)),
    }


def test_dns_requests_pass(spark):
    p = build_dns_requests(_dns_sources(spark))
    run = p.test(spark, variables={"DNS_CLIENTS": "c1|c2"}, run_ts=RUN_TS)
    assert run.ok, {k: (v.status, v.error) for k, v in run.tasks.items()}


def test_dns_requests_not_running_fails(spark):
    p = build_dns_requests(
        _dns_sources(spark, status=fx.adguard_status(spark, running=False))
    )
    run = p.test(spark, variables={"DNS_CLIENTS": "c1"}, run_ts=RUN_TS)
    assert run.tasks["check_protection"].status == "failed"
    assert "not running" in run.tasks["check_protection"].error
    assert run.tasks["check_requests"].status == "upstream_failed"


def test_dns_requests_protection_disabled_forever_fails(spark):
    p = build_dns_requests(
        _dns_sources(
            spark,
            status=fx.adguard_status(spark, protection_enabled=False, duration=0),
        )
    )
    run = p.test(spark, variables={"DNS_CLIENTS": "c1"}, run_ts=RUN_TS)
    assert run.tasks["check_protection"].status == "failed"


def test_dns_requests_temporary_disable_allowed(spark):
    # duration > 0 means protection re-enables itself — allowed (:89-95)
    p = build_dns_requests(
        _dns_sources(
            spark,
            status=fx.adguard_status(spark, protection_enabled=False, duration=600),
        )
    )
    run = p.test(spark, variables={"DNS_CLIENTS": "c1"}, run_ts=RUN_TS)
    assert run.ok


def test_dns_requests_stale_client_reported(spark):
    notifier = CollectingNotifier()
    p = build_dns_requests(
        _dns_sources(
            spark, querylog=fx.adguard_querylog(spark, fresh=("c1",), stale=("c2",))
        ),
        on_failure=notifier,
    )
    run = p.test(spark, variables={"DNS_CLIENTS": "c1|c2"}, run_ts=RUN_TS)
    assert run.tasks["check_requests"].status == "failed"
    assert "c2" in run.tasks["check_requests"].error
    assert len(notifier.messages) == 1  # O9 fired once


def test_dns_requests_param_widens_freshness(spark):
    # a 3h-old client is fine when outdated_interval=6 (param override)
    p = build_dns_requests(
        _dns_sources(spark, querylog=fx.adguard_querylog(spark, fresh=(), stale=("c1",)))
    )
    run = p.test(
        spark,
        variables={"DNS_CLIENTS": "c1"},
        params={"outdated_interval": 6},
        run_ts=RUN_TS,
    )
    assert run.ok


def test_dns_requests_missing_payload_key_fails(spark):
    # drop a required column → schema expectation fails (P6, :63-75)
    bad = fx._provider(spark, [(True,)], "running boolean")
    p = build_dns_requests({**_dns_sources(spark), "adguard_status": bad})
    run = p.test(spark, variables={"DNS_CLIENTS": "c1"}, run_ts=RUN_TS)
    assert run.tasks["check_protection"].status == "failed"
    assert "missing" in run.tasks["check_protection"].error


# ---------------------------------------------------------------------------
# Speedtest
# ---------------------------------------------------------------------------


def test_speedtest_pass_and_threshold_fail(spark):
    src = {"ha_entities": fx.ha_entities(spark, {"dev1": ("50.5", "200.0"),
                                                 "dev2": ("8.0", "90.0")})}
    p = build_speedtest(src)
    variables = {
        "SPEEDTEST_DEVICES": "dev1|dev2",
        "SPEEDTEST_dev1_UPLOAD": "10.0",
        "SPEEDTEST_dev1_DOWNLOAD": "100.0",
        "SPEEDTEST_dev2_UPLOAD": "10.0",   # dev2 upload 8.0 < 10.0 → fail
        "SPEEDTEST_dev2_DOWNLOAD": "50.0",
    }
    run = p.test(spark, variables=variables, run_ts=RUN_TS)
    assert run.tasks["speed_test"].status == "failed"
    el = {e["element"]: e["status"] for e in run.tasks["speed_test"].elements}
    assert el == {"dev1": "success", "dev2": "failed"}  # per-device isolation


def test_speedtest_noncastable_state_uses_default(spark):
    # 'unavailable' → 0.0 (F8); with limit 0.0 that's not a violation
    src = {"ha_entities": fx.ha_entities(spark, {"dev1": ("unavailable", "5.0")})}
    p = build_speedtest(src)
    run = p.test(
        spark, variables={"SPEEDTEST_DEVICES": "dev1"}, run_ts=RUN_TS
    )  # limits default 0.0 (:53)
    assert run.ok


def test_speedtest_resume_after_threshold_fix(spark, tmp_path):
    # the shared entities read is a DataFrame output: not persisted, so
    # the resumed run re-reads it for the devices that re-run
    from airflow_spark.pipeline.state import RunStateStore

    store = RunStateStore(spark, str(tmp_path / "state"))
    src = {"ha_entities": fx.ha_entities(spark, {"dev1": ("50.5", "200.0"),
                                                 "dev2": ("8.0", "90.0")})}
    p = build_speedtest(src)
    variables = {
        "SPEEDTEST_DEVICES": "dev1|dev2",
        "SPEEDTEST_dev2_UPLOAD": "10.0",   # dev2 upload 8.0 < 10.0 → fail
    }
    run = p.run(spark, run_id="s1", state_store=store, variables=variables,
                run_ts=RUN_TS)
    assert run.tasks["speed_test"].status == "failed"
    variables["SPEEDTEST_dev2_UPLOAD"] = "5.0"
    run2 = p.resume(spark, store, "s1", variables=variables, run_ts=RUN_TS)
    assert run2.ok, {k: (v.status, v.error) for k, v in run2.tasks.items()}


def test_speedtest_no_devices_fails(spark):
    p = build_speedtest({"ha_entities": fx.ha_entities(spark)})
    run = p.test(spark, variables={}, run_ts=RUN_TS)
    assert run.tasks["devices"].status == "failed"
    assert run.tasks["entities"].status == "upstream_failed"  # no read


# ---------------------------------------------------------------------------
# Backups
# ---------------------------------------------------------------------------


def _backup_sources(spark, **kw):
    return {
        "syncthing_health": kw.get("health", fx.syncthing_health(spark)),
        "syncthing_folders": kw.get("folders", fx.syncthing_folders(spark)),
        "syncthing_folder_stats": kw.get("stats", fx.syncthing_folder_stats(spark)),
    }


def test_backups_pass(spark):
    p = build_backups(_backup_sources(spark))
    run = p.test(spark, variables={"BACKUP_DEVICES": "nas|offsite"}, run_ts=RUN_TS)
    assert run.ok, {k: (v.status, v.error) for k, v in run.tasks.items()}


def test_backups_unhealthy_device_blocks_downstream(spark):
    p = build_backups(
        _backup_sources(
            spark, health=fx.syncthing_health(spark, {"nas": "OK", "offsite": "DOWN"})
        )
    )
    run = p.test(spark, variables={"BACKUP_DEVICES": "nas|offsite"}, run_ts=RUN_TS)
    assert run.tasks["health_checks"].status == "failed"
    assert run.tasks["paused_folders"].status == "upstream_failed"
    assert run.tasks["folder_status"].status == "upstream_failed"


def test_backups_paused_folder_fails(spark):
    p = build_backups(
        _backup_sources(
            spark, folders=fx.syncthing_folders(spark, paused_labels=("media",))
        )
    )
    run = p.test(spark, variables={"BACKUP_DEVICES": "nas|offsite"}, run_ts=RUN_TS)
    assert run.tasks["paused_folders"].status == "failed"
    assert "media" in run.tasks["paused_folders"].error


def test_backups_stale_folder_fails_fresh_param_passes(spark):
    src = _backup_sources(
        spark, stats=fx.syncthing_folder_stats(spark, fresh=("docs",), stale=("media",))
    )
    run = build_backups(src).test(
        spark, variables={"BACKUP_DEVICES": "nas|offsite"}, run_ts=RUN_TS
    )
    assert run.tasks["folder_status"].status == "failed"
    # widening the staleness param (5h-old folder, interval 8h) passes
    run2 = build_backups(src).test(
        spark,
        variables={"BACKUP_DEVICES": "nas|offsite"},
        params={"outdated_interval": 8},
        run_ts=RUN_TS,
    )
    assert run2.ok


# ---------------------------------------------------------------------------
# Cloudflare-Apps / DDNS
# ---------------------------------------------------------------------------


def _cf_sources(spark):
    return {
        "ip_inventory": fx.ip_inventory(spark),
        "cloudflare_dns_records": fx.cloudflare_dns_records(spark),
        "cloudflare_policies": fx.cloudflare_policies(spark),
    }


def test_cloudflare_apps_updates_only_drifted_records(spark):
    sink = CollectingSink()
    p = build_cloudflare_apps(_cf_sources(spark), sink)
    run = p.test(spark, run_ts=RUN_TS, profile="prod")
    assert run.ok, {k: (v.status, v.error) for k, v in run.tasks.items()}
    urls = [u for u, _ in sink.posts]
    # only the drifted A record updated; current records untouched
    assert "records/rec-a-vps" in urls
    assert not any("rec-aaaa-vps" in u or "rec-a-iowa" in u for u in urls)
    # policy rebuild posted with nested include structs (4 allowed ips)
    assert sum(u.startswith("policies/pol-1") for u in urls) == 4


@pytest.mark.parametrize(
    "names, policy",
    [
        (["deny", "Default Allow List", "ALLOW"], "pol-1"),
        (["deny", "ALLOW"], "pol-1"),
        (["deny"], None),
    ],
)
def test_cloudflare_apps_policy_match_ignores_case(spark, names, policy):
    # the first policy whose name contains "allow" in any case (:120-137)
    src = _cf_sources(spark)
    src["cloudflare_policies"] = fx.cloudflare_policies(
        spark, [(f"pol-{i}", n) for i, n in enumerate(names)]
    )
    sink = CollectingSink()
    run = build_cloudflare_apps(src, sink).test(spark, run_ts=RUN_TS, profile="prod")
    posted = {u.split("/")[1] for u, _ in sink.posts if u.startswith("policies/")}
    if policy is None:
        assert run.tasks["rebuild_policy"].status == "failed"
        assert "no matching policy" in run.tasks["rebuild_policy"].error
        assert posted == set()
    else:
        assert run.ok and posted == {policy}


def test_cloudflare_apps_dev_profile_posts_nothing(spark):
    sink = CollectingSink()
    p = build_cloudflare_apps(_cf_sources(spark), sink)
    run = p.test(spark, run_ts=RUN_TS, profile="dev")  # O12 guard
    assert run.ok
    assert sink.posts == []


def test_cloudflare_apps_missing_record_fails(spark):
    sources = _cf_sources(spark)
    sources["cloudflare_dns_records"] = fx.cloudflare_dns_records(
        spark, rows=[("rec-a-iowa", "iowa.example.net", "A", "203.0.113.20")]
    )
    sink = CollectingSink()
    p = build_cloudflare_apps(sources, sink)
    run = p.test(spark, run_ts=RUN_TS, profile="prod")
    assert run.tasks["update_dns_records"].status == "failed"
    assert "not found" in run.tasks["update_dns_records"].error


def test_cloudflare_apps_resume_after_record_fix(spark, tmp_path):
    # ``ip_inventory`` succeeded but its frame is not persisted: the
    # resumed run re-reads it for ``update_dns_records``
    from airflow_spark.pipeline.state import RunStateStore

    store = RunStateStore(spark, str(tmp_path / "state"))
    records = {"current": fx.cloudflare_dns_records(
        spark, rows=[("rec-a-iowa", "iowa.example.net", "A", "203.0.113.20")]
    )}
    sources = _cf_sources(spark)
    sources["cloudflare_dns_records"] = lambda ctx: records["current"](ctx)
    sink = CollectingSink()
    p = build_cloudflare_apps(sources, sink)
    run = p.run(spark, run_id="c1", state_store=store, run_ts=RUN_TS,
                profile="prod")
    assert run.tasks["update_dns_records"].status == "failed"
    assert run.tasks["rebuild_policy"].status == "success"
    records["current"] = fx.cloudflare_dns_records(spark)
    run2 = p.resume(spark, store, "c1", run_ts=RUN_TS, profile="prod")
    assert run2.ok, {k: (v.status, v.error) for k, v in run2.tasks.items()}
    assert "records/rec-a-vps" in [u for u, _ in sink.posts]


def test_cloudflare_ddns_posts_and_null_fails(spark):
    sink = CollectingSink()
    p = build_cloudflare_ddns({"own_ip": fx.own_ip(spark)}, sink)
    run = p.test(spark, run_ts=RUN_TS, profile="prod")
    assert run.ok and sink.posts[0][0] == "ddns?ip=2001:db8::99"

    p2 = build_cloudflare_ddns({"own_ip": fx.own_ip(spark, ipv6=None)}, sink)
    run2 = p2.test(spark, run_ts=RUN_TS, profile="prod")
    assert run2.tasks["update_ddns"].status == "failed"


# ---------------------------------------------------------------------------
# Airflow-Cleanup
# ---------------------------------------------------------------------------


def test_cleanup_deletes_only_expired_in_prod(spark):
    deleted = []
    p = build_airflow_cleanup(
        {"files": fx.files_listing(spark), "disk": fx.disk_usage(spark)},
        deleter=deleted.append,
    )
    run = p.test(spark, run_ts=RUN_TS, profile="prod", variables={"HOST": "x"})
    assert run.ok
    assert sorted(deleted) == ["/data/old_0.log", "/data/old_1.log"]


def test_cleanup_dev_profile_no_delete(spark):
    deleted = []
    p = build_airflow_cleanup(
        {"files": fx.files_listing(spark), "disk": fx.disk_usage(spark)},
        deleter=deleted.append,
    )
    run = p.test(spark, run_ts=RUN_TS, profile="dev", variables={"HOST": "x"})
    assert run.ok and deleted == []


def test_cleanup_disk_threshold_and_host_skip(spark):
    p = build_airflow_cleanup(
        {"files": fx.files_listing(spark), "disk": fx.disk_usage(spark, used=80)},
        deleter=lambda _: None,
    )
    run = p.test(spark, run_ts=RUN_TS, variables={"HOST": "x"})
    assert run.tasks["check_disk_usage"].status == "failed"
    # on the guarded host the check is pruned entirely (P11, :75-76)
    run2 = p.test(spark, run_ts=RUN_TS, variables={"HOST": "prod-host"})
    assert run2.tasks["check_disk_usage"].status == "skipped" and run2.ok


def test_cleanup_job_count_reads_expired_once(spark, untagged_jobs):
    # the disk check is skipped on prod-host, so the run is cleanup_data
    for profile in ("dev", "prod"):
        deleted = []
        p = build_airflow_cleanup(
            {"files": fx.files_listing(spark), "disk": fx.disk_usage(spark)},
            deleter=deleted.append,
        )
        run, n = untagged_jobs(lambda: p.test(
            spark, run_ts=RUN_TS, profile=profile, variables={"HOST": "prod-host"}
        ))
        assert run.ok and n == 1, (profile, n)
        assert run.outputs["_n_expired"] == 2
        assert len(deleted) == (run.outputs["_n_expired"] if profile == "prod" else 0)


# ---------------------------------------------------------------------------
# Job-count contract
# ---------------------------------------------------------------------------

#: Most untagged Spark jobs one pass-case run of each DAG may launch on
#: its fixtures, with every small payload held on the driver
#: (``local_frame``). A rise means a check scans a Spark source again.
JOB_BUDGETS = {
    "DNS-Requests": 5,
    "Speedtest": 5,
    "Backups": 6,
    "Cloudflare-Apps": 6,
    "Cloudflare-DDNS": 1,
    "Airflow-Cleanup": 3,
}


def _pass_case(spark, name):
    """(pipeline, ``Pipeline.test`` kwargs) of one DAG's pass case."""
    if name == "DNS-Requests":
        return build_dns_requests(_dns_sources(spark)), {
            "variables": {"DNS_CLIENTS": "c1|c2"}}
    if name == "Speedtest":
        src = {"ha_entities": fx.ha_entities(spark, {"dev1": ("50.5", "200.0"),
                                                     "dev2": ("80.0", "90.0")})}
        return build_speedtest(src), {"variables": {
            "SPEEDTEST_DEVICES": "dev1|dev2",
            "SPEEDTEST_dev1_UPLOAD": "10.0",
            "SPEEDTEST_dev2_DOWNLOAD": "50.0",
        }}
    if name == "Backups":
        return build_backups(_backup_sources(spark)), {
            "variables": {"BACKUP_DEVICES": "nas|offsite"}}
    if name == "Cloudflare-Apps":
        return build_cloudflare_apps(_cf_sources(spark), CollectingSink()), {
            "profile": "prod"}
    if name == "Cloudflare-DDNS":
        return build_cloudflare_ddns({"own_ip": fx.own_ip(spark)}, CollectingSink()), {
            "profile": "prod"}
    return build_airflow_cleanup(
        {"files": fx.files_listing(spark), "disk": fx.disk_usage(spark)},
        deleter=lambda _: None,
    ), {"profile": "prod", "variables": {"HOST": "x"}}


@pytest.mark.parametrize("name", list(JOB_BUDGETS))
def test_reference_dag_job_count(spark, untagged_jobs, name):
    p, kw = _pass_case(spark, name)
    assert p.name == name
    run, n = untagged_jobs(lambda: p.test(spark, run_ts=RUN_TS, **kw))
    assert run.ok, {k: (v.status, v.error) for k, v in run.tasks.items()}
    assert 0 < n <= JOB_BUDGETS[name]


# ---------------------------------------------------------------------------
# Corpus-prep pipeline (LLM ops composed through the orchestrator)
# ---------------------------------------------------------------------------


def test_corpus_pipeline_end_to_end(spark, tmp_path):
    from pyspark.sql import functions as F

    from airflow_spark.pipelines.corpus import build_corpus_pipeline

    base = (
        "the quick brown fox jumps over the lazy dog and runs far away into "
        "the deep green forest while the sun slowly sets behind the hills"
    )
    rows = [
        (0, base),
        (1, base),                                  # exact dup → dropped
        (2, base.replace("quick", "swift")),        # near dup → dropped
        (3, "a longer piece of reasonable english text about engines that "
            "keeps the stopword ratio and the word lengths in a sane band "
            "so the quality gate is happy with it overall"),
        (4, "@@ ## $$ 11 %% ^^ && 99 !!"),          # junk → quality-filtered
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"]).withColumn(
        "doc_id", F.col("doc_id").cast("bigint")
    )
    out_path = str(tmp_path / "corpus_out")
    p = build_corpus_pipeline(lambda ctx: docs, output_path=out_path)
    run = p.test(spark, params={"min_quality": 0.5, "near_dup_threshold": 0.6})
    assert run.ok, {k: (v.status, v.error) for k, v in run.tasks.items()}

    published = spark.read.parquet(out_path)
    kept = sorted(r["doc_id"] for r in published.select("doc_id").collect())
    assert kept == [0, 3]  # dups and junk gone, survivors annotated
    cols = set(published.columns)
    assert {"lang_pred", "n_tokens_ws", "fp_md5", "quality_score"} <= cols


def test_speedtest_missing_sensor_counts_as_zero(spark):
    # a device with NO speedtest sensor rows: the reference defaults
    # the reading to 0.0 and fails a nonzero limit — absence must be a
    # violation, not a silent pass
    df = spark.createDataFrame(
        [("dev1", "sensor.unrelated", "1.0")],
        "device string, entity_id string, state string",
    )
    p = build_speedtest({"ha_entities": lambda ctx: df})
    run = p.test(
        spark,
        variables={"SPEEDTEST_DEVICES": "dev1", "SPEEDTEST_dev1_UPLOAD": "10.0"},
        run_ts=RUN_TS,
    )
    assert run.tasks["speed_test"].status == "failed"
    assert "below threshold" in run.tasks["speed_test"].error


def test_training_data_pipeline_end_to_end(spark, tmp_path):
    """decontaminate → repetition gate → mixture → split → pack →
    publish, with the attrition funnel visible in task outputs."""
    from pyspark.sql import functions as F

    from airflow_spark.pipelines.training_data import build_training_data_pipeline

    bench_text = "held out benchmark question about ancient roman aqueducts"
    rows = []
    for i in range(40):
        lang = "en" if i % 2 == 0 else "de"
        rows.append((i, f"document number {i} with plain ordinary content "
                        f"for training purposes in band {i % 5}", lang))
    rows.append((100, f"leaked copy: {bench_text} hidden inside", "en"))
    rows.append((101, "spam " * 40, "en"))  # maximal repetition
    docs = (
        spark.createDataFrame(rows, ["doc_id", "text", "lang"])
        .withColumn("doc_id", F.col("doc_id").cast("bigint"))
        .withColumn("n_chars", F.length("text"))
    )
    bench = spark.createDataFrame([(0, bench_text)], ["doc_id", "text"])
    out_path = str(tmp_path / "training_out")
    p = build_training_data_pipeline(
        lambda ctx: docs,
        lambda ctx: bench,
        output_path=out_path,
        mixture={"en": 0.6, "de": 0.4},
        total_rows=30,
    )
    run = p.test(spark, params={"max_dup_word_frac": 0.8})
    assert run.ok, {k: (v.status, v.error) for k, v in run.tasks.items()}

    assert run.outputs["decontaminate"]["n_after_decontam"] == 41  # leak gone
    assert run.outputs["repetition_gate"]["n_after_repetition"] == 40  # spam gone
    assert run.outputs["mixture_sample"]["n_after_mixture"] == 30  # 18 en + 12 de
    assert run.outputs["pack"]["n_packs"] >= 1

    published = spark.read.parquet(out_path)
    assert published.count() == 30
    assert set(r["split"] for r in published.select("split").distinct().collect()) \
        <= {"train", "val", "test"}
    assert 100 not in {r["doc_id"] for r in published.collect()}
    mix = {r["lang"]: r["n"] for r in
           published.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert mix == {"en": 18, "de": 12}


def test_ingest_pipeline_two_batches(spark, tmp_path):
    """Round-2 composition: markup strip + PII redact + quality gate +
    bloom dedup against the history built by the previous run."""
    from pyspark.sql import functions as F

    from airflow_spark.pipelines.corpus import build_ingest_pipeline

    hist = str(tmp_path / "curated")
    body = (
        "a perfectly reasonable training document, long enough to pass "
        "the quality gate, with plain sentences about data engineering."
    )

    def batch1(ctx):
        return ctx.spark.createDataFrame(
            [
                (1, f"<p>{body}</p>"),
                (2, f"{body} contact me at a@b.com"),
                (3, f"<b>{body}</b>"),  # dup of 1 after markup strip
            ],
            ["doc_id", "text"],
        )

    p1 = build_ingest_pipeline(batch1, hist)
    run1 = p1.test(spark)
    assert run1.ok, {k: t.error for k, t in run1.tasks.items()}
    assert run1.outputs["pii_audit"]["pii_hits_redacted"] >= 1
    assert run1.outputs["publish"]["n_published"] == 2  # 3 minus dup

    published = spark.read.parquet(hist)
    assert published.where(F.col("text").contains("a@b.com")).count() == 0
    assert published.where(F.col("text").contains("<EMAIL>")).count() == 1
    assert published.where(F.col("text").contains("<p>")).count() == 0

    def batch2(ctx):
        return ctx.spark.createDataFrame(
            [
                (10, f"<p>{body}</p>"),  # dup of history after strip
                (11, f"{body} but this one is genuinely new content"),
            ],
            ["doc_id", "text"],
        )

    run2 = build_ingest_pipeline(batch2, hist).test(spark)
    assert run2.ok
    assert run2.outputs["publish"]["n_published"] == 1
    assert spark.read.parquet(hist).count() == 3


def test_training_data_pipeline_bpe_token_budget(spark, tmp_path):
    """tokenizer='bpe': packs respect a REAL subword-token budget —
    every pack's summed n_tokens (excluding oversized single docs)
    stays within it."""
    from pyspark.sql import functions as F

    from airflow_spark.pipelines.training_data import (
        build_training_data_pipeline,
    )

    rows = [
        (i, "the quick brown fox jumps over the lazy dog " * (1 + i % 3),
         "en")
        for i in range(30)
    ]
    docs = (
        spark.createDataFrame(rows, ["doc_id", "text", "lang"])
        .withColumn("doc_id", F.col("doc_id").cast("bigint"))
        .withColumn("n_chars", F.length("text"))
    )
    bench = spark.createDataFrame([(0, "unrelated bench")], ["doc_id", "text"])
    out_path = str(tmp_path / "bpe_out")
    p = build_training_data_pipeline(
        lambda ctx: docs,
        lambda ctx: bench,
        output_path=out_path,
        mixture={"en": 1.0},
        total_rows=30,
    )
    run = p.test(
        spark, params={"tokenizer": "bpe", "pack_budget": 120}
    )
    assert run.ok, {k: (v.status, v.error) for k, v in run.tasks.items()}
    assert run.outputs["pack"]["budget_col"] == "n_tokens"

    published = spark.read.parquet(out_path)
    assert "n_tokens" in published.columns
    sums = (
        published.groupBy("pack_id")
        .agg(F.sum("n_tokens").alias("s"), F.count("*").alias("n"))
        .collect()
    )
    assert len(sums) > 1  # the budget actually split the corpus
    for r in sums:
        assert r.n == 1 or r.s <= 120 + published.agg(
            F.max("n_tokens")
        ).first()[0]
