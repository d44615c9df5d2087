"""The six reference DAGs, re-expressed Spark-first.

Each ``build_*`` factory takes ``sources`` — a dict of named
DataFrame *providers* ``Callable[[Context], DataFrame]`` (fixture
readers in tests; HTTP adapters in production) — and returns a
:class:`Pipeline` whose tasks compute the same checks with DataFrame
logic. Citations reference the behavior being matched.

Small REST payloads are held on the driver. A payload that a task
filters, projects, limits or reads more than once is read once with
``local_frame`` into an Arrow-backed ``LocalRelation``; Catalyst folds
a filter, projection or limit over it, so such a check launches no
Spark job, and a join over it runs as JVM-only jobs. Key lists
(``list_to_df``) are local the same way. Four sources stay Spark reads:
``files`` is the distributed ``binaryFile`` listing in production
(``sources/files.py``), and ``adguard_querylog``,
``syncthing_folder_stats`` and ``disk`` are each read by exactly one
aggregate, where a pull to the driver would add a job, not save one.

Two fan-out styles are demonstrated deliberately:
- **data-parallel** (DNS freshness, Backups folder staleness): every
  key is checked by one grouped aggregate over the Spark source (DNS
  joins it to the local client list); per-key verdicts are reported
  together in the expectation error (SURVEY.md §7 hard-part 5);
- **mapped task** (Speedtest per-device): ``expand_over`` runs the
  task body once per element with per-element failure isolation —
  Airflow's ``.expand`` semantics (O4) for when each element is a
  genuinely separate unit of work. The elements share one read of the
  source, held by an upstream task, so a device adds no Spark job.
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..pipeline.core import Context, Param, Pipeline
from ..pipeline.expectations import expect_empty, expect_nonempty, expect_schema
from ..sources.http import http_sink, local_frame
from ..sources.lists import delimited_list, list_to_df

Provider = Callable[[Context], DataFrame]


# ---------------------------------------------------------------------------
# DNS-Requests (dags/DNS_Requests.py:20-141)
# ---------------------------------------------------------------------------


def build_dns_requests(sources: dict[str, Provider], **pipeline_kw) -> Pipeline:
    """Protection check + per-client query-log freshness.

    - check_protection ↔ dags/DNS_Requests.py:43-95: server must be
      running; protection disabled with duration==0 is a failure
      (temporary disables with duration>0 are allowed).
    - check_requests ↔ dags/DNS_Requests.py:97-136: per client, the
      newest query-log entry must be younger than
      run_ts − outdated_interval hours. Data-parallel: one grouped agg
      over all clients; every stale client is reported.
    """
    p = Pipeline(
        "DNS-Requests",
        schedule="0 * * * *",
        params={"outdated_interval": Param(1, type="integer")},
        timeout_s=60,
        **pipeline_kw,
    )

    @p.task
    def check_protection(ctx: Context) -> None:
        status = local_frame(sources["adguard_status"](ctx))
        expect_schema(
            status,
            {
                "running": "boolean",
                "protection_enabled": "boolean",
                "protection_disabled_duration": "bigint",
            },
            "status payload missing required keys",  # :63-75
        )
        expect_empty(
            status.where(~F.col("running")), "DNS server is not running"  # :85-87
        )
        expect_empty(
            status.where(
                (~F.col("protection_enabled"))
                & (F.col("protection_disabled_duration") == 0)
            ),
            "protection disabled with no re-enable timer",  # :89-95
        )

    @p.task
    def clients(ctx: Context) -> list[str]:
        cl = delimited_list(ctx.var("DNS_CLIENTS"))  # :138
        if not cl:
            raise ValueError("no DNS clients configured")
        return cl

    @p.task(depends_on=["check_protection", "clients"])
    def check_requests(ctx: Context) -> None:
        querylog = sources["adguard_querylog"](ctx)
        hours = int(ctx.param("outdated_interval"))
        cutoff = ctx.run_ts - dt.timedelta(hours=hours)  # :102-104
        expected = list_to_df(ctx.spark, ctx.xcom("clients"), "client")
        latest = querylog.groupBy("client").agg(F.max("oldest").alias("last_seen"))
        stale = (
            expected.join(latest, "client", "left")
            .where(
                F.col("last_seen").isNull()
                | (F.col("last_seen") < F.lit(cutoff.replace(tzinfo=None)))
            )
        )
        expect_empty(stale, f"clients with no DNS requests since {cutoff}")  # :134-136

    return p


# ---------------------------------------------------------------------------
# Speedtest (dags/Speedtest.py:20-99)
# ---------------------------------------------------------------------------


def build_speedtest(sources: dict[str, Provider], **pipeline_kw) -> Pipeline:
    """Per-device speed threshold assertions (mapped task ↔ .expand,
    dags/Speedtest.py:98-99)."""
    p = Pipeline("Speedtest", schedule="0 */6 * * *", timeout_s=60, **pipeline_kw)

    @p.task
    def devices(ctx: Context) -> list[str]:
        devs = delimited_list(ctx.var("SPEEDTEST_DEVICES"))  # :40
        if not devs:
            raise ValueError("no speedtest devices configured")  # :43-44
        return devs

    @p.task(depends_on=["devices"])
    def entities(ctx: Context) -> DataFrame:
        # read once per run, not once per device: held on the driver; a
        # DataFrame output is not persisted, so a resumed run re-reads it
        return local_frame(sources["ha_entities"](ctx))

    @p.task(expand_over="devices", depends_on=["entities"])
    def speed_test(ctx: Context, device: str) -> None:
        entities = ctx.xcom("entities").where(F.col("device") == device)
        # tolerant float cast, default 0.0 on non-castable (:70-89, F8)
        val = F.coalesce(F.col("state").try_cast("double"), F.lit(0.0))
        # The reference defaults a missing sensor reading to 0.0 and
        # fails the assert when a nonzero limit is set (:70-89) — so an
        # absent entity must surface as speed 0.0, not as "no row":
        # left-join the expected entity set to the readings.
        expected = list_to_df(
            ctx.spark,
            ["sensor.speedtest_upload", "sensor.speedtest_download"],
            "entity_id",
        )
        readings = entities.where(
            F.col("entity_id").isin(
                "sensor.speedtest_upload", "sensor.speedtest_download"  # :74,82
            )
        ).select(F.col("entity_id"), val.alias("speed"))
        speeds = expected.join(readings, "entity_id", "left").select(
            "entity_id", F.coalesce(F.col("speed"), F.lit(0.0)).alias("speed")
        )
        limits = {
            "sensor.speedtest_upload": float(
                ctx.var(f"SPEEDTEST_{device}_UPLOAD", "0.0")  # :52-57
            ),
            "sensor.speedtest_download": float(
                ctx.var(f"SPEEDTEST_{device}_DOWNLOAD", "0.0")
            ),
        }
        limit = F.when(
            F.col("entity_id") == "sensor.speedtest_upload",
            limits["sensor.speedtest_upload"],
        ).otherwise(limits["sensor.speedtest_download"])
        expect_empty(
            speeds.where(F.col("speed") < limit),  # :91-96
            f"{device}: speed below threshold",
        )

    return p


# ---------------------------------------------------------------------------
# Backups (dags/Backups.py:20-153)
# ---------------------------------------------------------------------------


def build_backups(sources: dict[str, Provider], **pipeline_kw) -> Pipeline:
    """Syncthing health equality, no-paused-folder invariant, and
    per-folder staleness."""
    p = Pipeline(
        "Backups",
        schedule="0 * * * *",
        params={"outdated_interval": Param(2, type="integer")},  # :29-31
        timeout_s=60,
        **pipeline_kw,
    )

    @p.task
    def devices(ctx: Context) -> list[str]:
        devs = delimited_list(ctx.var("BACKUP_DEVICES"))  # :45
        if not devs:
            raise ValueError("no backup devices configured")  # :48-49
        return devs

    @p.task(depends_on=["devices"])
    def health_checks(ctx: Context) -> None:
        health = local_frame(sources["syncthing_health"](ctx))
        # exact-document equality: status must be exactly 'OK' (:63, P7)
        expect_empty(
            health.where(F.col("status") != "OK"),
            "unhealthy backup devices",
        )
        # every configured device must report (A5 emptiness analog)
        expected = list_to_df(ctx.spark, ctx.xcom("devices"), "device")
        missing = expected.join(health, "device", "left_anti")
        expect_empty(missing, "devices with no health report")

    @p.task(depends_on=["health_checks"])
    def paused_folders(ctx: Context) -> None:
        folders = local_frame(sources["syncthing_folders"](ctx))
        expect_schema(folders, {"label": "string", "paused": "boolean"})  # :98-100
        expect_empty(
            folders.where(F.col("paused")), "paused backup folders"  # :101, A3
        )

    @p.task(depends_on=["health_checks"])
    def folder_status(ctx: Context) -> None:
        stats = sources["syncthing_folder_stats"](ctx)
        hours = int(ctx.param("outdated_interval"))
        cutoff = ctx.run_ts - dt.timedelta(hours=hours)  # :113-115
        stale = stats.groupBy("device", "folder").agg(
            F.max("lastScan").alias("last_scan")
        ).where(F.col("last_scan") < F.lit(cutoff.replace(tzinfo=None)))  # :136-139
        expect_empty(stale, f"folders not scanned since {cutoff}")

    return p


# ---------------------------------------------------------------------------
# Cloudflare-Apps (dags/Cloudflare_Apps.py:51-145 + plugins/cloudflare)
# ---------------------------------------------------------------------------


def build_cloudflare_apps(
    sources: dict[str, Provider],
    sink: Callable[[str, dict], None],
    **pipeline_kw,
) -> Pipeline:
    """IP inventory → DNS record updates → allow-list policy rebuild.

    The lookup joins of plugins/cloudflare/cloudflare_api.py become
    broadcast equi-joins; the per-ip fan-out (dags/Cloudflare_Apps.py:145)
    becomes one joined frame pushed through a guarded sink.
    """
    p = Pipeline("Cloudflare-Apps", schedule="*/5 * * * *", timeout_s=60,
                 default_retries=1, **pipeline_kw)

    @p.task
    def ip_inventory(ctx: Context) -> DataFrame:
        ips = local_frame(sources["ip_inventory"](ctx))
        expect_nonempty(ips, "no IPs returned")  # cloudflare_api.py:51-54
        return ips  # not persisted: a resumed run re-reads it

    @p.task(depends_on=["ip_inventory"])
    def update_dns_records(ctx: Context) -> None:
        ips: DataFrame = ctx.xcom("ip_inventory")
        # CASE mapping id → dns name, unknown → null (:79-90, P12)
        dns_name = (
            F.when(F.col("id") == "racknerd", "vps.example.net")
            .when(F.col("id") == "iowa", "iowa.example.net")
            .when(F.col("id") == "chicago", "chicago.example.net")
            .otherwise(F.lit(None))
        )
        named = ips.withColumn("dns_name", dns_name).where(
            F.col("dns_name").isNotNull()  # unknown ids are skipped
        )
        # A records from ipv4; AAAA from non-null ipv6 (:134-136, P2 + union)
        a_recs = named.select(
            "dns_name", F.lit("A").alias("rtype"), F.col("ipv4_address").alias("ip")
        )
        aaaa_recs = named.where(F.col("ipv6_address").isNotNull()).select(
            "dns_name", F.lit("AAAA").alias("rtype"), F.col("ipv6_address").alias("ip")
        )
        wanted = a_recs.unionAll(aaaa_recs)
        # compound-key lookup join against existing records (J2,
        # cloudflare_api.py:58-81): broadcast the record inventory
        records = local_frame(sources["cloudflare_dns_records"](ctx))
        # held on the driver: read by the existence check and the sink
        joined = local_frame(
            wanted.join(
                F.broadcast(
                    records.withColumnsRenamed({"name": "dns_name", "type": "rtype"})
                ),
                ["dns_name", "rtype"],
                "left",
            )
        )
        # absence of a record id is a config error (J5 existence check)
        expect_empty(
            joined.where(F.col("record_id").isNull()),
            "DNS record not found for (name, type)",  # :79-81
        )
        # only update records whose content drifted (idempotent upsert);
        # stamped comment ↔ f"...{datetime.now()}" (cloudflare_api.py:101,
        # F13) — from the injected run_ts, never wall-clock
        updates = joined.where(F.col("content") != F.col("ip")).select(
            "record_id",
            "dns_name",
            "rtype",
            "ip",
            F.date_format(
                F.lit(ctx.run_ts.replace(tzinfo=None)), "yyyy-MM-dd HH:mm:ss"
            ).alias("comment"),
        )
        n = http_sink(
            updates, sink, "records/{record_id}", profile=ctx.profile
        )
        ctx.outputs["_n_updates"] = n

    @p.task(depends_on=["ip_inventory"])
    def rebuild_policy(ctx: Context) -> None:
        ips: DataFrame = ctx.xcom("ip_inventory")
        # UNION ALL of ipv4 + non-null ipv6 (:134-136)
        allowed = ips.select(F.col("ipv4_address").alias("ip")).unionAll(
            ips.where(F.col("ipv6_address").isNotNull()).select(
                F.col("ipv6_address").alias("ip")
            )
        )
        # policy lookup by case-insensitive substring (J3/P10, :120-137)
        policies = local_frame(sources["cloudflare_policies"](ctx))
        # ``rlike("(?i)allow")`` matches the names ``lower(name)
        # .contains("allow")`` does, without the 1.3–1.9 s that the first
        # ``lower`` of a JVM costs
        match = policies.where(F.col("name").rlike("(?i)allow"))
        expect_nonempty(match, "no matching policy")
        policy_id = match.limit(1).collect()[0]["id"]  # first-match (T2)
        # nested include construction {"ip": {"ip": x}} (F12, :148-156)
        include = allowed.select(
            F.struct(F.struct(F.col("ip").alias("ip")).alias("ip")).alias("include")
        )
        http_sink(
            include.select(F.lit(policy_id).alias("policy_id"), "include"),
            sink,
            "policies/{policy_id}",
            profile=ctx.profile,
        )

    return p


# ---------------------------------------------------------------------------
# Cloudflare-DDNS (dags/Cloudflare_DDNS.py:21-74)
# ---------------------------------------------------------------------------


def build_cloudflare_ddns(
    sources: dict[str, Provider],
    sink: Callable[[str, dict], None],
    **pipeline_kw,
) -> Pipeline:
    p = Pipeline("Cloudflare-DDNS", schedule="*/5 * * * *", timeout_s=60,
                 default_retries=1, **pipeline_kw)

    @p.task
    def update_ddns(ctx: Context) -> None:
        own = local_frame(sources["own_ip"](ctx))  # 1-row frame with ipv6 (:39-46)
        expect_empty(
            own.where(F.col("ipv6").isNull()), "no IPv6 address detected"  # F14
        )
        http_sink(own, sink, "ddns?ip={ipv6}", profile=ctx.profile)

    return p


# ---------------------------------------------------------------------------
# Airflow-Cleanup (dags/Airflow_Cleanup.py:25-76)
# ---------------------------------------------------------------------------


def build_airflow_cleanup(
    sources: dict[str, Provider],
    deleter: Callable[[str], None],
    **pipeline_kw,
) -> Pipeline:
    """Retention delete of old files + disk-usage threshold."""
    p = Pipeline("Airflow-Cleanup", schedule="@daily", timeout_s=60, **pipeline_kw)

    @p.task
    def cleanup_data(ctx: Context) -> None:
        files = sources["files"](ctx)  # (path, mtime) rows (S7, :46-54)
        cutoff = ctx.run_ts - dt.timedelta(days=7)  # :52
        expired = files.where(F.col("mtime") < F.lit(cutoff.replace(tzinfo=None)))
        # one read: the count reports exactly the paths deleted
        paths = [row["path"] for row in expired.select("path").collect()]
        # destructive delete is prod-only (O12 dev guard, :56-58)
        if ctx.profile == "prod":
            for path in paths:
                deleter(path)
        ctx.outputs["_n_expired"] = len(paths)

    @p.task(when=lambda ctx: ctx.var("HOST") != "prod-host")  # skip guard (:75-76)
    def check_disk_usage(ctx: Context) -> None:
        disk = sources["disk"](ctx)  # (used_bytes, total_bytes)
        pct = disk.select(
            F.round(100.0 * F.sum("used_bytes") / F.sum("total_bytes"), 2).alias(
                "pct"
            )
        )
        expect_empty(pct.where(F.col("pct") > 75.0), "disk usage above 75%")  # :71-72

    return p
