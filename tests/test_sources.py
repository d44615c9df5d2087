"""Source/sink adapter tests (S1-S4 payload shapes, executor-side
per-key fetch, sink guards) and the health endpoint (O14)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from airflow_spark.pipeline import Pipeline, RunStateStore, Scheduler
from airflow_spark.pipeline.health import health
from airflow_spark.sources import (
    CollectingSink,
    delimited_list,
    fetch_per_key,
    http_json_source,
    http_sink,
    list_to_df,
    local_frame,
)
from airflow_spark.sources.http import MAX_ROWS, map_payload_source

DICT_SCHEMA = T.StructType(
    [
        T.StructField("running", T.BooleanType()),
        T.StructField("protection_enabled", T.BooleanType()),
    ]
)


def test_http_json_source_dict_payload(spark):
    df = http_json_source(
        spark,
        "http://dns/status",
        DICT_SCHEMA,
        fetcher=lambda url: {"running": True, "protection_enabled": True},
    )
    assert df.count() == 1 and df.first()["running"] is True


def test_http_json_source_list_and_envelope(spark):
    schema = "id string, name string"
    # array payload (S2)
    df = http_json_source(
        spark, "u", schema, fetcher=lambda u: [{"id": "1", "name": "a"}]
    )
    assert df.count() == 1
    # result-envelope unwrap (S4: cloudflare_api.py result lists)
    df2 = http_json_source(
        spark,
        "u",
        schema,
        fetcher=lambda u: {"result": [{"id": "1", "name": "a"},
                                      {"id": "2", "name": "b"}]},
        element_path="result",
    )
    assert df2.count() == 2


def test_map_payload_source(spark):
    # {folder: stats} map → (folder, *stats) rows (S3)
    df = map_payload_source(
        spark,
        "u",
        "folder",
        T.StructType([T.StructField("errors", T.LongType())]),
        fetcher=lambda u: {"docs": {"errors": 0}, "media": {"errors": 2}},
    )
    got = {r["folder"]: r["errors"] for r in df.collect()}
    assert got == {"docs": 0, "media": 2}


def test_fetch_per_key_runs_on_executors(spark):
    # closure (not module-level fn): cloudpickle ships it by value, so
    # executors don't need the test module on their path
    def fake_querylog(url: str) -> dict:
        client = url.rsplit("=", 1)[-1]
        return {"client": client, "n": len(client)}

    keys = list_to_df(spark, ["c1", "c22", "c333"], "client")
    out = fetch_per_key(
        keys,
        fake_querylog,
        "http://dns/querylog?search={key}",
        key_col="client",
        out_schema=T.StructType(
            [
                T.StructField("client", T.StringType()),
                T.StructField("n", T.LongType()),
            ]
        ),
    )
    got = {r["client"]: r["n"] for r in out.collect()}
    assert got == {"c1": 2, "c22": 3, "c333": 4}


def test_http_sink_profile_guard_and_cap(spark):
    df = spark.createDataFrame([("r1", "1.2.3.4")], ["record_id", "ip"])
    sink = CollectingSink()
    assert http_sink(df, sink, "rec/{record_id}", profile="dev") == 0
    assert sink.posts == []
    assert http_sink(df, sink, "rec/{record_id}", profile="prod") == 1
    assert sink.posts[0][0] == "rec/r1"
    big = spark.range(20).withColumnRenamed("id", "record_id")
    with pytest.raises(ValueError, match="max_rows"):
        http_sink(big, sink, "rec/{record_id}", profile="prod", max_rows=10)


def _plan_root(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().nodeName()


@pytest.mark.parametrize("tz", ["UTC", "America/New_York"])
def test_local_frame_round_trip(spark, monkeypatch, tz):
    import time

    gap = dt.datetime(2026, 3, 8, 2, 30, 0, 123456)  # in a New York DST gap
    rows = [
        ("a", 1, 1.5, True, gap, gap),
        (None, None, None, None, None, None),
        ("tâche_é✓", -(2**63), -0.0, False,
         dt.datetime(2025, 11, 2, 1, 30), dt.datetime(1969, 12, 31, 23, 59, 59)),
    ]
    schema = "s string, n bigint, x double, b boolean, t timestamp, ntz timestamp_ntz"
    monkeypatch.setenv("TZ", tz)
    time.tzset()
    try:
        src = spark.createDataFrame(rows, schema)
        local = local_frame(src)

        def read(df):
            return df.select("*", F.unix_micros("t")).orderBy("n").collect()

        assert local.dtypes == src.dtypes
        assert read(local) == read(src)
    finally:
        monkeypatch.undo()
        time.tzset()


def test_local_frame_empty_keeps_schema(spark):
    src = spark.createDataFrame([], "s string, n bigint, t timestamp")
    local = local_frame(src)
    assert local.schema == src.schema
    assert local.collect() == []


def test_local_frame_checks_launch_no_job(spark, untagged_jobs):
    src = spark.createDataFrame([(i, f"k{i}") for i in range(8)], "n bigint, k string")
    # control: a passing empty check over a multi-partition scan
    _, n_scan = untagged_jobs(lambda: src.where(F.col("n") < 0).limit(5).collect())
    assert n_scan >= 2
    local, n_pull = untagged_jobs(lambda: local_frame(src))
    assert n_pull <= 1
    assert _plan_root(local) == "LocalRelation"
    checks = [
        lambda: local.where(F.col("n") < 0).limit(5).collect(),
        lambda: local.where(F.col("n") > 5).select("k").limit(1).collect(),
        lambda: local.collect(),
        lambda: local.isEmpty(),
    ]
    results = [untagged_jobs(c) for c in checks]
    assert [n for _, n in results] == [0, 0, 0, 0]
    assert [r for r, _ in results] == [[], [("k6",)], src.collect(), False]


def test_local_frame_rejects_above_max_rows(spark):
    with pytest.raises(ValueError, match=f"MAX_ROWS={MAX_ROWS}"):
        local_frame(spark.range(MAX_ROWS + 1))
    assert local_frame(spark.range(MAX_ROWS)).count() == MAX_ROWS


def test_list_to_df_is_a_local_frame(spark, untagged_jobs):
    keys, n = untagged_jobs(lambda: list_to_df(spark, ["c1", "c2"], "client"))
    assert n == 0
    assert _plan_root(keys) == "LocalRelation"
    assert keys.dtypes == [("client", "string")]
    assert list_to_df(spark, [], "client").dtypes == [("client", "string")]


def test_delimited_list_edge_cases():
    assert delimited_list("a|b|c") == ["a", "b", "c"]
    assert delimited_list(" a | b ") == ["a", "b"]
    assert delimited_list("") == []
    assert delimited_list(None) == []
    assert delimited_list("a||b") == ["a", "b"]


def test_health_endpoint(spark, tmp_path):
    h = health(spark)
    assert h["status"] == "healthy" and h["spark"]["status"] == "healthy"

    store = RunStateStore(spark, str(tmp_path / "runs"))
    p = Pipeline("hp", schedule="0 * * * *")

    @p.task
    def t(ctx):
        return 1

    p.run(spark, state_store=store)
    sched = Scheduler(spark)
    sched.register(p)
    h2 = health(spark, scheduler=sched, state_store=store)
    assert h2["state_store"]["n_runs"] == 1
    assert "hp" in h2["scheduler"]["pipelines"]


def test_write_partitioned_prunes_and_compacts(spark, tmp_path):
    from airflow_spark.catalog import load_tables
    from airflow_spark.plans import audit_plan
    from airflow_spark.sources.tables import compact, write_partitioned

    events = load_tables(spark, "/root/testdata/sf0.001").events
    out = str(tmp_path / "events_by_type")
    write_partitioned(
        events.withColumn("etype", events.event_type), out, ["etype"]
    )
    back = spark.read.parquet(out)
    assert back.count() == events.count()
    # partition pruning reaches the scan for a partition-key filter
    pruned = back.where(back.etype == "error")
    a = audit_plan(pruned)
    assert "PartitionFilters" in a["plan"] and "etype" in a["plan"]
    # compacting a partitioned tree without its partition columns would
    # flatten the layout — refused loudly
    import pytest as _pytest

    with _pytest.raises(ValueError, match="partition_by"):
        compact(spark, out, target_file_bytes=10 * 1024 * 1024)
    n_files = compact(
        spark, out, target_file_bytes=10 * 1024 * 1024, partition_by=["etype"]
    )
    assert n_files >= 1
    back2 = spark.read.parquet(out)
    assert back2.count() == events.count()
    # the partition layout (and pruning) survives the rewrite
    a2 = audit_plan(back2.where(back2.etype == "error"))
    assert "PartitionFilters" in a2["plan"] and "etype" in a2["plan"]


def test_upsert_parquet_replace_keep_insert(spark, tmp_path):
    from airflow_spark.sources.tables import upsert_parquet

    path = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)], ["id", "name", "v"]
    )
    n = upsert_parquet(spark, path, base, "id")
    assert n == 3

    updates = spark.createDataFrame(
        [(2, "b2", 20.0), (4, "d", 4.0)], ["id", "name", "v"]
    )
    n = upsert_parquet(spark, path, updates, "id")
    assert n == 4
    got = {r["id"]: (r["name"], r["v"]) for r in spark.read.parquet(path).collect()}
    assert got == {1: ("a", 1.0), 2: ("b2", 20.0), 3: ("c", 3.0), 4: ("d", 4.0)}

    # idempotence: replaying the same updates changes nothing
    n = upsert_parquet(spark, path, updates, "id")
    assert n == 4
    got2 = {r["id"]: (r["name"], r["v"]) for r in spark.read.parquet(path).collect()}
    assert got2 == got


# ---------------------------------------------------------------------------
# requests-backed client against a local stub server
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def stub_server():
    """Tiny local HTTP server reproducing the reference API shapes:
    a result-envelope GET, a flaky endpoint, and a PATCH mutation whose
    200 body can still report success=false (cloudflare_api.py:112)."""
    import json as _json
    import threading
    from http.server import BaseHTTPRequestHandler, HTTPServer

    state = {"patches": [], "flaky_calls": 0}

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):  # quiet
            pass

        def _reply(self, code, obj):
            body = _json.dumps(obj).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_GET(self):
            if self.path == "/zones":
                self._reply(
                    200,
                    {"result": [{"id": "z1", "name": "example.com"}]},
                )
            elif self.path == "/flaky":
                state["flaky_calls"] += 1
                if state["flaky_calls"] < 3:
                    self._reply(503, {"error": "warming up"})
                else:
                    self._reply(200, {"ok": True})
            elif self.path == "/secret":
                if self.headers.get("Authorization") == "Bearer tok":
                    self._reply(200, {"granted": True})
                else:
                    self._reply(403, {"error": "forbidden"})
            else:
                self._reply(404, {"error": "not found"})

        def do_PATCH(self):
            n = int(self.headers.get("Content-Length", 0))
            body = _json.loads(self.rfile.read(n))
            state["patches"].append((self.path, body))
            self._reply(200, {"success": body.get("content") != "bad"})

    srv = HTTPServer(("127.0.0.1", 0), Handler)
    thread = threading.Thread(target=srv.serve_forever, daemon=True)
    thread.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}", state
    srv.shutdown()


def test_requests_fetcher_envelope_and_errors(spark, stub_server):
    from airflow_spark.sources.http import HttpError
    from airflow_spark.sources.http_client import RequestsFetcher

    base, _ = stub_server
    fetcher = RequestsFetcher()
    df = http_json_source(
        spark, f"{base}/zones", "id string, name string",
        fetcher=fetcher, element_path="result",
    )
    assert [r["id"] for r in df.collect()] == ["z1"]
    # non-2xx carries status + body (cloudflare_api.py:15-23 semantics)
    with pytest.raises(HttpError, match="404"):
        fetcher(f"{base}/nope")
    # transport failure (nothing listening) is also HttpError
    with pytest.raises(HttpError, match="transport"):
        RequestsFetcher(timeout_s=0.5)("http://127.0.0.1:9/x")


def test_requests_fetcher_bearer_and_retry_loop(spark, stub_server):
    from airflow_spark.pipeline import Pipeline
    from airflow_spark.sources.http import HttpError
    from airflow_spark.sources.http_client import RequestsFetcher

    base, state = stub_server
    with pytest.raises(HttpError, match="403"):
        RequestsFetcher()(f"{base}/secret")
    assert RequestsFetcher(bearer_token="tok")(f"{base}/secret") == {
        "granted": True
    }

    # the O5 retry loop turns transient 5xx into eventual success
    state["flaky_calls"] = 0
    p = Pipeline("flaky")

    @p.task(retries=3, retry_on=(HttpError,))
    def poll(ctx):
        return RequestsFetcher()(f"{base}/flaky")

    run = p.test(spark)
    assert run.ok and run.tasks["poll"].attempts == 3


def test_requests_poster_success_flag_and_sink(spark, stub_server):
    from airflow_spark.sources.http import HttpError
    from airflow_spark.sources.http_client import RequestsPoster

    base, state = stub_server
    poster = RequestsPoster(method="PATCH", success_flag="success")
    df = spark.createDataFrame(
        [("r1", "1.2.3.4")], ["record_id", "content"]
    )
    n = http_sink(
        df, poster, base + "/records/{record_id}", profile="prod"
    )
    assert n == 1
    path, body = state["patches"][-1]
    assert path == "/records/r1" and body["content"] == "1.2.3.4"
    # 200-but-success=false raises (cloudflare_api.py:112-115)
    with pytest.raises(HttpError, match="success=False"):
        poster(base + "/records/r2", {"content": "bad"})


def test_requests_fetcher_is_picklable():
    import pickle

    from airflow_spark.sources.http_client import RequestsFetcher

    f = RequestsFetcher(bearer_token="tok", timeout_s=5.0)
    f._sess()  # materialize the live session, then drop it on pickle
    g = pickle.loads(pickle.dumps(f))
    assert g.headers["Authorization"] == "Bearer tok" and g._session is None


# ---------------------------------------------------------------------------
# Text-format ingestion (CSV / JSONL / raw text)
# ---------------------------------------------------------------------------


def _docs_schema():
    from pyspark.sql import types as T

    return T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )


def test_read_csv_quarantines_bad_rows(spark, tmp_path):
    from airflow_spark.sources.text_formats import (
        corrupt_fraction,
        read_csv,
        split_corrupt,
    )

    p = tmp_path / "in.csv"
    p.write_text("doc_id,text\n1,hello\nnot_a_number,world\n3,ok\n")
    df = read_csv(spark, str(p), _docs_schema())
    clean, corrupt = split_corrupt(df)
    assert sorted(r["doc_id"] for r in clean.collect()) == [1, 3]
    assert corrupt.count() == 1
    assert 0.3 < corrupt_fraction(df) < 0.4


def test_read_jsonl_schema_and_quarantine(spark, tmp_path):
    from airflow_spark.sources.text_formats import read_jsonl, split_corrupt

    p = tmp_path / "in.jsonl"
    p.write_text('{"doc_id": 1, "text": "a"}\n{broken\n{"doc_id": 2, "text": "b"}\n')
    clean, corrupt = split_corrupt(read_jsonl(spark, str(p), _docs_schema()))
    assert sorted(r["doc_id"] for r in clean.collect()) == [1, 2]
    assert corrupt.count() == 1


def test_read_text_docs_line_and_whole_modes(spark, tmp_path):
    from airflow_spark.sources.text_formats import read_text_docs

    d = tmp_path / "corpus"
    d.mkdir()
    (d / "a.txt").write_text("line one\nline two\n")
    (d / "b.txt").write_text("single doc body\n")

    lines = read_text_docs(spark, str(d))
    assert lines.count() == 3
    assert lines.select("doc_id").distinct().count() == 3

    whole = read_text_docs(spark, str(d), whole_files=True)
    rows = whole.collect()
    assert len(rows) == 2
    texts = sorted(r["text"] for r in rows)
    assert texts[0].startswith("line one") or texts[1].startswith("line one")

    # ids are stable across re-reads (no zipWithIndex nondeterminism)
    again = {r["source"]: r["doc_id"] for r in read_text_docs(
        spark, str(d), whole_files=True).collect()}
    first = {r["source"]: r["doc_id"] for r in rows}
    assert again == first


def test_write_dataset_with_manifest_parquet(spark, tmp_path):
    from airflow_spark.sources.tables import read_manifest, write_dataset_with_manifest

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    n = docs.count()
    path = str(tmp_path / "ds")
    m = write_dataset_with_manifest(
        docs, path, max_records_per_file=100, sort_within_by="n_chars"
    )
    assert m["total_rows"] == n
    assert m["n_files"] >= 2  # maxRecordsPerFile forced a split
    assert m["total_bytes"] == sum(f["bytes"] for f in m["files"])
    assert read_manifest(path) == m
    assert spark.read.parquet(path).count() == n


def test_write_dataset_with_manifest_orc_roundtrip(spark, tmp_path):
    from airflow_spark.sources.tables import write_dataset_with_manifest

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    path = str(tmp_path / "ds_orc")
    m = write_dataset_with_manifest(docs, path, fmt="orc")
    back = spark.read.orc(path)
    assert m["format"] == "orc" and m["n_files"] >= 1
    assert back.count() == docs.count()
    assert set(back.columns) == set(docs.columns)
    # values survive the roundtrip
    assert (
        back.select("doc_id", "n_chars")
        .exceptAll(docs.select("doc_id", "n_chars"))
        .count()
        == 0
    )


# ---------------------------------------------------------------------------
# schema-evolution ingest (sources/evolution.py)
# ---------------------------------------------------------------------------


def _write_drifting_batches(spark, tmp_path):
    from pyspark.sql import types as T

    b1 = tmp_path / "b1"
    b2 = tmp_path / "b2"
    s1 = T.StructType(
        [
            T.StructField("id", T.IntegerType()),
            T.StructField("name", T.StringType()),
        ]
    )
    s2 = T.StructType(
        [
            T.StructField("id", T.LongType()),          # widened
            T.StructField("name", T.StringType()),
            T.StructField("score", T.DoubleType()),     # added
        ]
    )
    spark.createDataFrame([(1, "a"), (2, "b")], s1).write.parquet(str(b1))
    spark.createDataFrame([(3, "c", 0.5)], s2).write.parquet(str(b2))
    return str(b1), str(b2)


def test_read_evolving_aligns_all_batches(spark, tmp_path):
    from pyspark.sql import types as T

    from airflow_spark.sources.evolution import read_evolving

    b1, b2 = _write_drifting_batches(spark, tmp_path)
    target = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("score", T.DoubleType()),
        ]
    )
    out = read_evolving(spark, [b1, b2], target)
    assert out.schema == target
    rows = {r["id"]: (r["name"], r["score"]) for r in out.collect()}
    assert rows == {1: ("a", None), 2: ("b", None), 3: ("c", 0.5)}


def test_align_strict_raises_on_narrowing_try_cast_otherwise(spark):
    from pyspark.sql import types as T

    from airflow_spark.sources.evolution import align_to_schema

    df = spark.createDataFrame([("7",), ("oops",)], ["v"])
    target = T.StructType([T.StructField("v", T.IntegerType())])
    with pytest.raises(ValueError, match="narrowing"):
        align_to_schema(df, target)
    got = [r["v"] for r in align_to_schema(df, target, strict=False).collect()]
    assert got == [7, None]  # try_cast quarantines the bad row's value


def test_align_is_projection_only(spark, tmp_path):
    from pyspark.sql import types as T

    from airflow_spark.plans.audit import audit_plan
    from airflow_spark.sources.evolution import read_evolving

    b1, b2 = _write_drifting_batches(spark, tmp_path)
    target = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("score", T.DoubleType()),
        ]
    )
    rep = audit_plan(read_evolving(spark, [b1, b2], target))
    assert rep["n_shuffles"] == 0
    assert not rep["has_cartesian"]


def test_schema_drift_report(spark, tmp_path):
    from pyspark.sql import types as T

    from airflow_spark.sources.evolution import schema_drift_report

    b1, b2 = _write_drifting_batches(spark, tmp_path)
    target = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("flag", T.BooleanType()),
        ]
    )
    rep = {
        (r["batch"], r["column"], r["drift"]): (
            r["batch_type"],
            r["target_type"],
            r["lossy"],
        )
        for r in schema_drift_report(
            spark, {"b1": b1, "b2": b2}, target
        ).collect()
    }
    assert rep[("b1", "id", "retyped")] == ("int", "bigint", False)  # widening
    assert rep[("b1", "flag", "missing")] == (None, "boolean", None)
    assert rep[("b2", "score", "added")] == ("double", None, None)
    assert rep[("b2", "flag", "missing")] == (None, "boolean", None)
    assert ("b2", "id", "retyped") not in rep  # b2 already matches


# ---------------------------------------------------------------------------
# WARC ingestion
# ---------------------------------------------------------------------------


def _warc_record(wtype, uri, block: bytes, extra: str = "") -> bytes:
    head = (
        f"WARC/1.0\r\nWARC-Type: {wtype}\r\n"
        f"WARC-Target-URI: {uri}\r\n"
        "WARC-Date: 2026-01-01T00:00:00Z\r\n"
        f"{extra}"
        f"Content-Length: {len(block)}\r\n\r\n"
    )
    return head.encode() + block + b"\r\n\r\n"


def _http_block(body: str, status: int = 200) -> bytes:
    return (
        f"HTTP/1.1 {status} OK\r\nContent-Type: text/html\r\n\r\n{body}"
    ).encode()


class TestWarc:
    def test_parses_records_and_strips_http_headers(self, spark, tmp_path):
        from airflow_spark.sources.warc import read_warc

        shard = (
            _warc_record("warcinfo", "-", b"software: test\r\n")
            + _warc_record(
                "response",
                "https://a.example/page",
                _http_block("<html>hello A</html>"),
                extra="Content-Type: application/http; msgtype=response\r\n",
            )
            + _warc_record(
                "response",
                "https://b.example/miss",
                _http_block("gone", status=404),
                extra="Content-Type: application/http; msgtype=response\r\n",
            )
        )
        d = tmp_path / "warcs"
        d.mkdir()
        (d / "shard0.warc").write_bytes(shard)
        out = read_warc(spark, str(d)).orderBy("record_idx").collect()
        assert [r.warc_type for r in out] == ["warcinfo", "response", "response"]
        assert out[1].target_uri == "https://a.example/page"
        assert out[1].http_status == 200
        assert out[1].body == "<html>hello A</html>"  # headers stripped
        assert out[2].http_status == 404
        assert all(r.parse_error is None for r in out)

    def test_gzip_members_and_document_projection(self, spark, tmp_path):
        import gzip

        from airflow_spark.sources.warc import (
            read_warc,
            responses_as_documents,
        )

        recs = [
            _warc_record(
                "response",
                f"https://site{i}.example/",
                _http_block(f"body number {i}", status=200 if i != 1 else 500),
                extra="Content-Type: application/http; msgtype=response\r\n",
            )
            for i in range(3)
        ]
        # member-per-record gzip, Common Crawl style
        blob = b"".join(gzip.compress(r) for r in recs)
        d = tmp_path / "warcs_gz"
        d.mkdir()
        (d / "shard0.warc.gz").write_bytes(blob)
        records = read_warc(spark, str(d))
        docs = responses_as_documents(records).collect()
        # the 500 is filtered; ids are stable across reruns
        assert sorted(r.url for r in docs) == [
            "https://site0.example/", "https://site2.example/",
        ]
        again = responses_as_documents(read_warc(spark, str(d))).collect()
        assert {r.doc_id for r in docs} == {r.doc_id for r in again}

    def test_malformed_shard_quarantines_not_crashes(self, spark, tmp_path):
        from airflow_spark.sources.warc import read_warc

        good = _warc_record(
            "response",
            "https://ok.example/",
            _http_block("fine"),
            extra="Content-Type: application/http; msgtype=response\r\n",
        )
        bad = good + b"GARBAGE WITHOUT A HEADER"
        d = tmp_path / "warcs_bad"
        d.mkdir()
        (d / "bad.warc").write_bytes(bad)
        out = read_warc(spark, str(d)).orderBy("record_idx").collect()
        assert out[0].parse_error is None and out[0].body == "fine"
        assert out[1].parse_error is not None  # quarantined, task alive

    def test_body_containing_warc_bytes_is_framed_correctly(
        self, spark, tmp_path
    ):
        from airflow_spark.sources.warc import read_warc

        trap = "WARC/1.0\r\nWARC-Type: response\r\n\r\n fake inner record"
        shard = _warc_record(
            "response",
            "https://trap.example/",
            _http_block(trap),
            extra="Content-Type: application/http; msgtype=response\r\n",
        ) + _warc_record(
            "response",
            "https://after.example/",
            _http_block("after"),
            extra="Content-Type: application/http; msgtype=response\r\n",
        )
        d = tmp_path / "warcs_trap"
        d.mkdir()
        (d / "trap.warc").write_bytes(shard)
        out = read_warc(spark, str(d)).orderBy("record_idx").collect()
        assert len(out) == 2  # Content-Length framing, not regex
        assert out[0].body == trap
        assert out[1].body == "after"


def test_read_xml_parses_rows_and_quarantines(spark, tmp_path):
    from pyspark.sql import types as T
    from airflow_spark.sources.text_formats import (
        read_xml,
        split_corrupt,
    )

    p = tmp_path / "feed.xml"
    p.write_text(
        "<docs>"
        "<doc><id>1</id><text>hello world</text></doc>"
        "<doc><id>2</id><text>second</text></doc>"
        "<doc><id>not-a-number</id><text>bad row</text></doc>"
        "</docs>"
    )
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    df = read_xml(spark, str(p), schema, row_tag="doc")
    clean, corrupt = split_corrupt(df)
    got = {r["id"]: r["text"] for r in clean.collect()}
    assert got == {1: "hello world", 2: "second"}
    assert corrupt.count() == 1
