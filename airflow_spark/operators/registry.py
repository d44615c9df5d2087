"""Driver-facing registry for the LLM-data-pipeline operators.

Each entry is a ``(spark, sf_dir) -> DataFrame`` callable over the
driver testdata, and EVERY entry carries a DuckDB oracle
(``OPERATOR_ORACLE_SQL`` has the same keys): approximate families
(LSH, sketches, greedy MMR) attest through exact SQL twins plus
accuracy-bound booleans rather than direct value equality. The
LLM-op families are additionally property-tested in
``tests/test_llm_ops.py``.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import load_tables, register_views
from ..functions import text as textfn
from . import (
    corpus_stats,
    curation,
    inference,
    privacy,
    dedup,
    pq,
    sketches,
    funnel,
    graph,
    layout,
    linkage,
    profile,
    relational,
    sampling,
    similarity,
    text,
    timeseries,
    versioning,
)
from .pystage import long_schema, map_rows

# ---------------------------------------------------------------------------
# SQL-expressible operator queries (oracle-checked)
# ---------------------------------------------------------------------------


def op_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-content dedup groups: one keep-id per distinct md5(text)."""
    t = load_tables(spark, sf_dir)
    return (
        dedup.exact_text_groups(t.documents)
        .select("keep_id", "n_copies")
        .orderBy("keep_id")
        .limit(200)
    )


def op_bloom_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-pruned incremental exact dedup: docs split 2:1 into
    history/new on doc_id; new rows whose 12-char text prefix is absent
    from history (min-id per key within the batch). The bloom filter is
    pure pruning — the result is exact, so the oracle is the plain
    NOT EXISTS twin."""
    t = load_tables(spark, sf_dir)
    hist = t.documents.where(F.col("doc_id") % 3 != 0)
    new = t.documents.where(F.col("doc_id") % 3 == 0)
    key = F.substring("text", 1, 12)
    # oversizing the filter costs KBs; undersizing costs false-positive
    # candidates that all probe the history — size for the largest sf
    return (
        dedup.bloom_dedup_new(new, hist, key, expected_items=50_000)
        .select("doc_id", key.alias("prefix_key"))
        .orderBy("doc_id")
    )


def op_text_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markup strip + entity decode + whitespace collapse (the
    web-corpus boilerplate-strip pass), plus char-entropy gibberish
    signal — both expression-only, no UDF, no shuffle beyond the final
    presentation sort. Markup is synthesized around the doc text so
    the strip path is actually exercised on this corpus."""
    t = load_tables(spark, sf_dir)
    html = F.concat(
        F.lit("<p>"), F.substring("text", 1, 80), F.lit("</p> &amp; <b>tail</b>")
    )
    return (
        t.documents.select(
            "doc_id",
            textfn.strip_markup(html).alias("cleaned"),
            F.round(textfn.char_entropy("text"), 4).alias("entropy"),
        )
        .orderBy("doc_id")
        .limit(200)
    )


def op_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 max-abs quantization roundtrip diagnostics per embedding:
    scale, max reconstruction error, nonzero-code count. All metrics
    are order-independent (max / count — no FP-sum over a list whose
    reduction order an engine could pick differently), so the values
    hash-match the DuckDB twin exactly."""
    from ..functions import vectors as vec

    t = load_tables(spark, sf_dir)
    v = F.transform("embedding", lambda x: x.cast("double"))
    q = vec.quantize_int8("embedding")
    deq = vec.dequantize_int8(q)
    err = F.array_max(F.zip_with(v, deq, lambda a, b: F.abs(a - b)))
    return (
        t.embeddings.select(
            "vec_id",
            F.round(q.getField("scale"), 6).alias("scale"),
            F.round(err, 6).alias("max_abs_err"),
            F.size(F.filter(q.getField("codes"), lambda c: c != 0))
            .cast("long")
            .alias("n_nonzero"),
        )
        .orderBy("vec_id")
        .limit(200)
    )


def op_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token counts (space-arithmetic form: portable SQL)."""
    t = load_tables(spark, sf_dir)
    c = F.col("text")
    return (
        t.documents.select(
            "doc_id",
            (F.length(c) - F.length(F.replace(c, F.lit(" "), F.lit(""))) + 1).alias(
                "n_tokens"
            ),
        )
        .orderBy("doc_id")
        .limit(200)
    )


def op_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-content fingerprints (md5 hex)."""
    t = load_tables(spark, sf_dir)
    return (
        t.documents.select(
            "doc_id", F.md5(F.col("text").cast("binary")).alias("fp_md5")
        )
        .orderBy("doc_id")
        .limit(200)
    )


def op_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable quality features: length, space count, word density."""
    t = load_tables(spark, sf_dir)
    c = F.col("text")
    n_spaces = F.length(c) - F.length(F.replace(c, F.lit(" "), F.lit("")))
    return (
        t.documents.select(
            "doc_id",
            F.length(c).alias("n_chars_calc"),
            n_spaces.alias("n_spaces"),
            F.round(
                (n_spaces + 1).cast("double") / F.greatest(F.length(c), F.lit(1)), 4
            ).alias("word_density"),
        )
        .orderBy("doc_id")
        .limit(200)
    )


def op_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join: each error event matched to the latest
    preceding purchase by the same user (merge-join formulation, one
    shuffle — the DuckDB oracle uses native ASOF JOIN)."""
    t = load_tables(spark, sf_dir)
    errors = t.events.where(F.col("event_type") == "error").select(
        "user_id", "event_id", "ts"
    )
    purchases = t.events.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_event"), "ts"
    )
    joined = relational.asof_join(
        errors, purchases, key="user_id", right_cols=["purchase_event"]
    )
    return (
        joined.where(F.col("purchase_event_r").isNotNull())
        .select("event_id", "user_id", F.col("purchase_event_r").alias("purchase_id"))
        .orderBy("event_id")
        .limit(200)
    )


def op_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval (range) join via bucketed equi-join: error events inside
    [purchase_ts, purchase_ts + 2h) windows of the same user."""
    t = load_tables(spark, sf_dir)
    errors = t.events.where(F.col("event_type") == "error").select(
        "user_id", "event_id", "ts"
    )
    windows = t.events.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("start"),
        (F.col("ts") + F.expr("INTERVAL 2 HOUR")).alias("end"),
    )
    joined = relational.interval_join(
        errors, windows, key="user_id", bucket="1 hour"
    )
    return (
        joined.select("event_id", "purchase_id")
        .orderBy("event_id", "purchase_id")
        .limit(200)
    )


def op_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4 frame-spec window: cumulative customer spend over time."""
    t = load_tables(spark, sf_dir)
    out = relational.running_total(
        t.orders.select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice"),
        key="o_custkey",
        order_by=["o_orderdate", "o_orderkey"],
        value_col="o_totalprice",
    )
    return (
        out.select(
            "o_custkey", "o_orderkey", F.round("running_total", 2).alias("running_total")
        )
        .orderBy("o_custkey", "o_orderkey")
        .limit(200)
    )


def op_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets over order status × priority."""
    t = load_tables(spark, sf_dir)
    return (
        t.orders.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(
            F.col("o_orderstatus").asc_nulls_last(),
            F.col("o_orderpriority").asc_nulls_last(),
        )
    )


def op_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: per-user event-type counts as columns (explicit value
    list keeps the plan one-pass — no distinct-values pre-query)."""
    t = load_tables(spark, sf_dir)
    return (
        t.events.groupBy("user_id")
        .pivot("event_type", ["click", "view", "purchase", "signup", "error"])
        .agg(F.count(F.lit(1)))
        .na.fill(0)
        .orderBy("user_id")
    )


def op_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack documents into ~2000-char budgets (n_chars as the token
    proxy) — the *sharded* form: shard = pmod(doc_id, 4), each shard
    packs independently in parallel (no global single-partition sort),
    pack ids globally unique as shard*1e9 + local. Deterministic in
    (shard, doc_id) order and reproducible in ANSI SQL."""
    from . import packing

    t = load_tables(spark, sf_dir)
    docs = t.documents.select("doc_id", "n_chars").withColumn(
        "shard", F.pmod(F.col("doc_id"), F.lit(4))
    )
    packed = packing.pack_sequences(docs, "n_chars", 2000, shard_col="shard")
    return (
        packing.pack_stats(packed, "n_chars")
        .select("pack_id", "n_docs", "n_tokens")
        .orderBy("pack_id")
        .limit(200)
    )


def op_stratified_take(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language sample of documents (training-data
    stratified take: window rank over the unique key)."""
    t = load_tables(spark, sf_dir)
    return (
        sampling.stratified_take(
            t.documents.select("doc_id", "lang"), "lang", 10, order_by="doc_id"
        )
        .orderBy("lang", "doc_id")
    )


def op_above_own_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-subquery shape (orders above their customer's own
    average) expressed as a window aggregate — the decorrelated plan
    Catalyst would build, stated directly: one shuffle on the key
    instead of a per-row subquery."""
    from pyspark.sql import Window

    t = load_tables(spark, sf_dir)
    w = Window.partitionBy("o_custkey")
    return (
        t.orders.withColumn("cust_avg", F.avg("o_totalprice").over(w))
        .where(F.col("o_totalprice") > F.col("cust_avg"))
        .select("o_orderkey")
        .orderBy("o_orderkey")
        .limit(200)
    )


def _percentile_anchors(events: DataFrame, qs: dict[str, float]) -> DataFrame:
    """Per event_type: group size ``n`` plus, for each named quantile,
    the two BRACKETING data values at sorted ranks floor(q·(n−1))+1 and
    ceil(q·(n−1))+1 — together they determine the exact continuous
    percentile (value = lo + frac·(hi−lo)), but every attested cell is
    a raw parquet double, bit-identical cross-engine. The interpolated
    midpoint itself is NOT hashed: cents-granular values put it exactly
    on a %.2f rounding tie where engine round() builds legitimately
    disagree (the r8 holt-class flake; found by scripts/tie_audit.py).

    Scale posture: rank-per-group windows sort each group on one
    reducer — the same memory shape as Spark's exact ``percentile``
    buffer, fine for attestation and low-cardinality groups; the
    100 TB quantile path stays ``op_approx_percentile``'s mergeable GK
    sketch (whose accuracy THESE anchors attest)."""
    wk = Window.partitionBy("event_type")
    ranked = (
        # NULLs out BEFORE ranking: F.percentile ignores them, and the
        # engines rank them on opposite ends (Spark NULLS FIRST,
        # DuckDB NULLS LAST) — with any NULL present the anchors would
        # silently pick different data values per engine
        events.select("event_type", "value")
        .where(F.col("value").isNotNull())
        .withColumn("__rn", F.row_number().over(wk.orderBy("value")))
        .withColumn("__n", F.count(F.lit(1)).over(wk))
    )
    aggs = [F.max("__n").cast("long").alias("n")]
    for name, q in qs.items():
        pos = F.lit(q) * (F.col("__n") - 1).cast("double")
        lo_idx = F.floor(pos) + 1
        hi_idx = F.ceil(pos) + 1
        aggs.append(
            F.max(F.when(F.col("__rn") == lo_idx, F.col("value"))).alias(
                f"{name}_lo"
            )
        )
        aggs.append(
            F.max(F.when(F.col("__rn") == hi_idx, F.col("value"))).alias(
                f"{name}_hi"
            )
        )
    return ranked.groupBy("event_type").agg(*aggs)


def op_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact continuous percentiles per key, attested tie-safely via
    their bracketing sorted-rank data values (see
    :func:`_percentile_anchors`; semantic equivalence to
    ``F.percentile`` is property-tested)."""
    t = load_tables(spark, sf_dir)
    return _percentile_anchors(t.events, {"p50": 0.5, "p95": 0.95}).orderBy(
        "event_type"
    )


def op_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-function breadth: trim/pad/replace/substr/reverse over
    part names (all portable built-ins, F-family coverage)."""
    t = load_tables(spark, sf_dir)
    name = F.col("p_name")
    return (
        t.part.select(
            "p_partkey",
            F.trim(name).alias("t"),
            F.lpad(F.col("p_brand"), 12, "_").alias("padded"),
            F.replace(name, F.lit(" "), F.lit("-")).alias("dashed"),
            F.reverse(F.substring(name, 1, 6)).alias("rev6"),
        )
        .orderBy("p_partkey")
        .limit(100)
    )


def op_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F11 JSON path extraction over events.props (different dialect
    functions, identical values: Spark get_json_object vs DuckDB
    json_extract_string)."""
    t = load_tables(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        t.events.select((k % 10).alias("k_mod"))
        .groupBy("k_mod")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("k_mod")
    )


#: mixture weights for op_sample_mixture (sums to 1 over the corpus langs)
_MIX_WEIGHTS = {"en": 0.5, "de": 0.2, "fr": 0.15, "es": 0.1, "zh": 0.05}
#: split weights for op_split_by_group
_SPLIT_WEIGHTS = {"train": 0.8, "val": 0.1, "test": 0.1}
#: query terms for op_keyword_search (present in the synthetic corpus)
_SEARCH_TERMS = ["spark", "join", "vector"]


def op_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-session rollups over events (30-min inactivity gap)."""
    t = load_tables(spark, sf_dir)
    return (
        timeseries.session_stats(t.events, gap_minutes=30)
        .select("user_id", "session_idx", "n_events", "span_s")
        .orderBy("user_id", "session_idx")
        .limit(300)
    )


def op_last_seen_eventtime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time staleness alerts in batch: one row per (user,
    activity burst separated by > 1 h of quiet) carrying the burst's
    last event time — the batch surface of
    ``streaming.last_seen_monitor_eventtime`` and the registry's
    attestation of Spark's built-in ``session_window`` aggregation
    (op_sessionize covers the lag/cumsum composition; this covers the
    native operator the streaming form relies on). Boundary semantics:
    an event exactly ``gap`` after the previous one MERGES into the
    session (strict-> for a new burst) — verified empirically and
    mirrored in the oracle's epoch_us comparison."""
    from ..streaming.monitors import last_seen_monitor_eventtime

    t = load_tables(spark, sf_dir)
    return (
        last_seen_monitor_eventtime(t.events, stale_after_s=3600)
        .orderBy("user_id", "last_ts")
        .limit(300)
    )


def op_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals per document, attested as
    tie-safe fixed point: the ratios are single correctly-rounded IEEE
    divisions of exact integers (bit-identical cross-engine), but
    small-integer ratios like 7/32 land exactly on 4-decimal rounding
    ties where engine round() builds disagree (tie_audit warn) — so
    the hash sees floor(x·2^20) BIGINTs instead."""
    t = load_tables(spark, sf_dir)
    scale = F.lit(float(2**20))
    return (
        curation.repetition_signals(t.documents, decimals=None)
        .select(
            "id",
            F.floor(F.col("dup_word_frac") * scale).alias("dup_word_fp"),
            F.floor(F.col("top_bigram_frac") * scale).alias(
                "top_bigram_fp"
            ),
        )
        .orderBy("id")
        .limit(200)
    )


def op_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: word-3-gram overlap of the corpus
    against the held-out slice doc_id % 97 == 0."""
    t = load_tables(spark, sf_dir)
    bench = t.documents.where(F.col("doc_id") % 97 == 0)
    corpus = t.documents.where(F.col("doc_id") % 97 != 0)
    return curation.decontaminate(corpus, bench).orderBy("id").limit(300)


def op_sample_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture sampling: deterministic per-lang quotas."""
    t = load_tables(spark, sf_dir)
    return (
        curation.sample_mixture(
            t.documents, "lang", _MIX_WEIGHTS, total_rows=200, order_by="doc_id"
        )
        .select("doc_id", "lang")
        .orderBy("lang", "doc_id")
    )


def op_split_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe split assignment: every doc of a source lands in
    the same split via a portable md5 group hash."""
    t = load_tables(spark, sf_dir)
    return (
        curation.split_by_group_hash(t.documents, "source", _SPLIT_WEIGHTS)
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("source").alias("n_groups"),
        )
        .orderBy("split")
    )


def op_kfold_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe deterministic 5-fold CV assignment: every doc of a
    source lands in the same fold via the portable md5 group hash
    (projection-only — folds are stable under corpus growth)."""
    t = load_tables(spark, sf_dir)
    return (
        curation.kfold_splits(t.documents, "source", k=5)
        .groupBy("fold")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("source").alias("n_groups"),
        )
        .orderBy("fold")
    )


def op_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planning (the OPTIMIZE bin-packing step)
    over a synthetic file listing (doc_id, n_chars as bytes):
    largest-first running-cumsum binning to ~10 kB targets within 8
    portable-hash shards (each shard plans in parallel — no global
    single-partition sort), reported per bin. DataFrame-planned — no
    driver loop over file names."""
    from . import layout

    t = load_tables(spark, sf_dir)
    files = t.documents.select(
        F.col("doc_id").alias("file_id"),
        F.col("n_chars").alias("size_bytes"),
    )
    plan = layout.compaction_plan(
        files, "size_bytes", target_bytes=10_000, id_col="file_id",
        n_shards=8,
    )
    return (
        plan.groupBy("bin_id")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("size_bytes").alias("bin_bytes"),
            F.min("file_id").alias("first_file"),
        )
        .orderBy("bin_id")
        .limit(300)
    )


def op_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty: share of word 3-gram shingles unseen in
    any earlier (smaller-id) document — the redundancy-contribution
    curation signal, one inverted-index aggregate, no pair joins."""
    t = load_tables(spark, sf_dir)
    return (
        corpus_stats.ngram_novelty(t.documents, shingle_n=3)
        .orderBy("id")
        .limit(300)
    )


def op_pack_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-loader layout for packed sequences: each doc's START
    OFFSET inside its pack (within-pack cumulative token sum) — the
    piece a dataloader needs to build boundary-aware attention masks
    without re-scanning text. Same sharded packing as
    op_sequence_pack; the offset window partitions by pack (bounded
    partitions, no global sort)."""
    from . import packing

    t = load_tables(spark, sf_dir)
    docs = t.documents.select("doc_id", "n_chars").withColumn(
        "shard", F.pmod(F.col("doc_id"), F.lit(4))
    )
    packed = packing.pack_sequences(docs, "n_chars", 2000, shard_col="shard")
    from pyspark.sql import Window as W

    w = (
        W.partitionBy("pack_id")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    return (
        packed.select(
            "doc_id",
            "pack_id",
            (F.sum("n_chars").over(w) - F.col("n_chars"))
            .cast("long")
            .alias("start_pos"),
            F.col("n_chars").alias("n_tokens"),
        )
        .orderBy("doc_id")
        .limit(300)
    )


def op_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf power-law fit over the corpus frequency distribution
    (alpha ≈ 1 for natural text; template floods drift it) — OLS on
    the log-log top-500 rank/frequency curve, corpus touched once."""
    t = load_tables(spark, sf_dir)
    return corpus_stats.zipf_fit(t.documents, top_k=500)


def op_keyword_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top-20 documents for a 3-term query."""
    t = load_tables(spark, sf_dir)
    return curation.tfidf_keyword_search(t.documents, _SEARCH_TERMS, k=20)


def op_rolling_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-10 rolling stats per user over event values.

    Attested tie-safely (the r10 driver red row was ``round(avg, 4)``
    landing on an exact 4th-decimal half-tie — TIE_AUDIT
    ``min_scaled_dist: 0.0`` at sf0.01): all doubles are restated as
    exact fixed-point BIGINTs ``floor(x·2^20)`` and the mean as the
    integer pair ``(roll_sum_fp, n_w)``, so no ``round(double, d)``
    half-tie or windowed-avg accumulation order can flip the hash."""
    t = load_tables(spark, sf_dir)
    out = timeseries.rolling_stats(
        t.events.where(F.col("user_id") < 20),
        "user_id",
        "ts",
        "value",
        quantize_pow2=20,
    )
    return out.orderBy("user_id", "ts").limit(300)


def op_zscore_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events ≥ 3 population stddevs from their event_type mean."""
    t = load_tables(spark, sf_dir)
    return (
        timeseries.zscore_anomalies(t.events, "event_type", "value", 3.0)
        .select("event_id", "event_type", "z")
        .orderBy("event_id")
        .limit(300)
    )


def op_dup_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top repeated word-5-gram passages shared by ≥ 2 documents."""
    t = load_tables(spark, sf_dir)
    return curation.duplicated_passages(
        t.documents, shingle_n=5, min_docs=2, k=100
    )


def op_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI drift of event values (early half vs late half of the
    event-time range) per event_type — fixed bins [0, 500) × 10."""
    t = load_tables(spark, sf_dir)
    ev = t.events.select(
        "event_type", "value", F.unix_timestamp("ts").alias("__e")
    )
    # epoch midpoint as a 1-row broadcast: keeps the split inside one
    # lazy plan (no driver-side collect of min/max)
    mm = F.broadcast(ev.agg(F.min("__e").alias("__mn"), F.max("__e").alias("__mx")))
    period = F.when(
        F.col("__e") < (F.col("__mn") + F.col("__mx")) / 2.0, F.lit("a")
    ).otherwise(F.lit("b"))
    split = ev.crossJoin(mm).select(
        "event_type", "value", period.alias("period")
    )
    return timeseries.distribution_psi(
        split, "event_type", "period", "value", lo=0.0, hi=500.0, nbins=10
    )


def op_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level dedup, removal half: cut corpus-duplicated
    3-word segments out of every document and reassemble the rest."""
    t = load_tables(spark, sf_dir)
    return (
        curation.remove_duplicated_segments(
            t.documents, seg_words=3, min_docs=2
        )
        .orderBy("id")
        .limit(200)
    )


# ---------------------------------------------------------------------------
# Rows-only operator queries (deterministic, but not portable SQL)
# ---------------------------------------------------------------------------


def op_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct estimate. The estimator differs across
    engines, so the raw estimate is not oracle-hashable; instead the
    registry entry emits a DERIVED CHECK the oracle can reproduce: the
    exact distinct count plus a boolean attesting the HLL estimate
    landed within 2x its configured rsd (0.02). The oracle emits the
    same exact count and literal TRUE — the hash matches iff the
    sketch met its accuracy contract on this data."""
    t = load_tables(spark, sf_dir)
    return t.orders.agg(
        F.count_distinct("o_custkey").alias("n_exact"),
        (
            F.abs(
                F.approx_count_distinct("o_custkey", rsd=0.02)
                - F.count_distinct("o_custkey")
            )
            <= F.lit(0.04) * F.count_distinct("o_custkey")
        ).alias("within_tol"),
    )


def op_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping character chunking (200-char chunks, 50 overlap)."""
    t = load_tables(spark, sf_dir)
    return (
        curation.chunk_documents(t.documents, chunk_chars=200, overlap=50)
        .orderBy("doc_id", "chunk_idx")
        .limit(400)
    )


def op_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram LM quality score per document (corpus-trained)."""
    t = load_tables(spark, sf_dir)
    return curation.unigram_logprob_score(t.documents).orderBy("id").limit(200)


# Same SQL text runs verbatim in Spark and DuckDB (GROUPING SETS +
# grouping() are common dialect) — the engine side goes through
# catalog.register_views + spark.sql.
_GROUPING_SETS_SQL = """
SELECT r_name, n_name, CAST(count(*) AS BIGINT) AS cnt,
       CAST(grouping(r_name) AS BIGINT) AS g_r,
       CAST(grouping(n_name) AS BIGINT) AS g_n
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY GROUPING SETS ((r_name), (n_name), ())
ORDER BY g_r, g_n, r_name NULLS LAST, n_name NULLS LAST
"""


def op_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed GROUPING SETS aggregate with grouping() indicators —
    complements the ROLLUP (q25) and CUBE (op_cube) coverage."""
    register_views(spark, sf_dir)
    return spark.sql(_GROUPING_SETS_SQL)


def op_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long UNPIVOT of a per-status metrics table (ids stay,
    metric names become rows) — `df.unpivot` / SQL UNPIVOT breadth."""
    t = load_tables(spark, sf_dir)
    wide = t.orders.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("double").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        F.round(F.avg("o_totalprice"), 2).alias("avg_price"),
    )
    return wide.unpivot(
        ["o_orderstatus"],
        ["n_orders", "sum_price", "avg_price"],
        "metric",
        "val",
    ).orderBy("o_orderstatus", "metric")


def op_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (listagg/string_agg): sorted CSV of
    nation names per region. Spark spells it
    array_join(array_sort(collect_list(...))) — order-deterministic by
    construction, unlike a bare collect_list."""
    t = load_tables(spark, sf_dir)
    return (
        t.nation.join(
            t.region, t.nation.n_regionkey == t.region.r_regionkey
        )
        .groupBy("r_name")
        .agg(
            F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias(
                "nations"
            ),
            F.count(F.lit(1)).alias("n_nations"),
        )
        .orderBy("r_name")
    )


def op_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group winsorization: clip event values into the group's
    [p05, p95] — DISCRETE percentile bounds (smallest value whose
    cume_dist reaches q, i.e. actual data values) broadcast back as
    clip limits, then a pure projection (the outlier-capping pass
    before loss-weighting / normalization). Discrete bounds keep every
    output cell a raw parquet double: interpolated bounds put clipped
    rows exactly on a %.2f rounding tie for cents data (the r8
    holt-class hash flake; found by scripts/tie_audit.py), so nothing
    here is rounded at all."""
    t = load_tables(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("value")
    # NULLs out before ranking — the engines sort them on opposite
    # ends, which would shift every cume_dist value (same guard as
    # _percentile_anchors)
    cd = (
        t.events.select("event_type", "value")
        .where(F.col("value").isNotNull())
        .withColumn("__cd", F.cume_dist().over(w))
    )
    pct = cd.groupBy("event_type").agg(
        F.min(F.when(F.col("__cd") >= 0.05, F.col("value"))).alias("__lo"),
        F.min(F.when(F.col("__cd") >= 0.95, F.col("value"))).alias("__hi"),
    )
    # NULL measurements stay NULL explicitly: least/greatest SKIP
    # nulls in both engines (they don't propagate), so an unguarded
    # clip would silently fabricate the p05 bound for a NULL value
    clip = F.when(
        F.col("value").isNotNull(),
        F.least(F.greatest(F.col("value"), F.col("__lo")), F.col("__hi")),
    )
    return (
        t.events.join(F.broadcast(pct), "event_type")
        .select("event_id", "event_type", clip.alias("v_winsorized"))
        .orderBy("event_id")
        .limit(200)
    )


def op_null_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-handling breadth: nullif / coalesce / least / greatest."""
    t = load_tables(spark, sf_dir)
    return (
        t.orders.select(
            "o_orderkey",
            F.nullif(F.col("o_orderstatus"), F.lit("O")).alias("st_or_null"),
            F.coalesce(
                F.nullif(F.col("o_orderstatus"), F.lit("O")), F.lit("OPEN")
            ).alias("st_mapped"),
            F.round(F.least(F.col("o_totalprice"), F.lit(50000.0)), 2).alias(
                "price_capped"
            ),
            F.greatest(F.length("o_orderpriority"), F.lit(8))
            .cast("long")
            .alias("prio_len_floor"),
        )
        .orderBy("o_orderkey")
        .limit(100)
    )


def op_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-function breadth: last_day, quarter, add_months (month-end
    clamping), day difference from an epoch date."""
    t = load_tables(spark, sf_dir)
    d = F.col("o_orderdate")
    return (
        t.orders.select(
            "o_orderkey",
            d.alias("o_orderdate"),
            F.last_day(d).alias("month_end"),
            F.quarter(d).cast("long").alias("q"),
            F.add_months(d, 3).alias("plus3m"),
            F.datediff(d, F.lit("1995-01-01").cast("date"))
            .cast("long")
            .alias("days_since_95"),
        )
        .orderBy("o_orderkey")
        .limit(100)
    )


def op_dq_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality report over orders: four rules, ONE
    corpus pass (conditional sums), rows = rules."""
    from ..pipeline.expectations import evaluate_rules

    t = load_tables(spark, sf_dir)
    rules = [
        ("key_not_null", F.col("o_orderkey").isNotNull()),
        ("status_known", F.col("o_orderstatus").isin("F", "O", "P")),
        ("price_positive", F.col("o_totalprice") > 0),
        ("priority_format", F.col("o_orderpriority").rlike("^[1-5]-")),
    ]
    return evaluate_rules(t.orders, rules).orderBy("rule")


def op_bitwise_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise breadth: xor / and / or / shifts / bit_count — the
    primitives the SimHash/bloom operators are built from, exercised
    directly."""
    t = load_tables(spark, sf_dir)
    k = F.col("o_orderkey")
    c = F.col("o_custkey")
    return (
        t.orders.select(
            "o_orderkey",
            k.bitwiseXOR(c).alias("x_xor"),
            k.bitwiseAND(F.lit(255)).alias("x_and"),
            k.bitwiseOR(F.lit(1)).alias("x_or"),
            F.shiftleft(k, 3).alias("x_shl"),
            F.shiftright(k, 2).alias("x_shr"),
            F.bit_count(k).cast("int").alias("x_pop"),
        )
        .orderBy("o_orderkey")
        .limit(100)
    )


def op_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-function breadth: build a per-region name→key map
    (map_from_entries over a SORTED entry array — collect_list order is
    not deterministic, array_sort makes it so), then drive every result
    column through map operators: size, map_keys, map_filter +
    map_values under a higher-order fold, element_at by computed key.
    The oracle computes the same scalars relationally — attesting the
    map semantics, not a map render. Map build cost is bounded by group
    cardinality (nations per region), never corpus size."""
    t = load_tables(spark, sf_dir)
    m = t.nation.groupBy("n_regionkey").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("n_name", "n_nationkey")))
        ).alias("m")
    )
    return (
        m.select(
            "n_regionkey",
            F.size("m").alias("n_nations"),
            F.array_min(F.map_keys("m")).alias("first_nation"),
            F.aggregate(
                F.map_values(
                    F.map_filter("m", lambda k, v: k.startswith("A"))
                ),
                F.lit(0),
                lambda acc, x: acc + x,
            ).alias("sum_a_keys"),
            F.element_at(F.col("m"), F.array_min(F.map_keys("m"))).alias(
                "first_key_id"
            ),
        )
        .orderBy("n_regionkey")
    )


def op_array_set_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array set-operation breadth: union / intersect / except (all
    distinct-producing), membership, position — sorted and rendered to
    strings so element order can't diverge between engines."""
    t = load_tables(spark, sf_dir)
    k = (F.col("o_orderkey") % 10).cast("long")
    c = (F.col("o_custkey") % 10).cast("long")
    a = F.array(k, c, F.lit(3).cast("long"))
    b = F.array(c, F.lit(5).cast("long"))
    u = F.array_sort(F.array_union(a, b))

    def _s(arr):
        return F.array_join(F.transform(arr, lambda x: x.cast("string")), ",")

    return (
        t.orders.select(
            "o_orderkey",
            _s(u).alias("u_str"),
            _s(F.array_sort(F.array_intersect(a, b))).alias("i_str"),
            _s(F.array_sort(F.array_except(a, b))).alias("e_str"),
            F.array_contains(b, k).alias("has_k"),
            F.array_position(u, F.lit(5).cast("long")).alias("pos5"),
        )
        .orderBy("o_orderkey")
        .limit(100)
    )


def op_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts on a deterministic synthetic graph
    derived from orders (edges (o_custkey%40, o_orderkey%40)) — the
    compact-forward two-join enumeration, oracle-mirrored in SQL."""
    t = load_tables(spark, sf_dir)
    edges = t.orders.select(
        (F.col("o_custkey") % 40).alias("src"),
        (F.col("o_orderkey") % 40).alias("dst"),
    )
    return graph.triangle_count(edges).orderBy("node")


def op_struct_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Struct/JSON codec breadth: build a nested struct (scalar +
    array field), serialize with to_json, re-parse with from_json
    against a declared schema, and extract every field — the oracle
    computes the same fields directly, so any roundtrip corruption
    (type mangling, array order, null handling) breaks the hash."""
    t = load_tables(spark, sf_dir)
    s = F.struct(
        F.col("n_nationkey").alias("k"),
        F.upper("n_name").alias("nm"),
        F.array(F.col("n_regionkey"), F.col("n_nationkey")).alias("tags"),
    )
    parsed = F.from_json(
        F.to_json(s), "struct<k:int,nm:string,tags:array<int>>"
    )
    return t.nation.select(
        "n_nationkey",
        parsed["k"].alias("k2"),
        parsed["nm"].alias("nm2"),
        F.element_at(parsed["tags"], 1).alias("tag1"),
        F.get_json_object(F.to_json(s), "$.nm").alias("nm3"),
        F.size(parsed["tags"]).alias("n_tags"),
    ).orderBy("n_nationkey")


def op_stable_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense 0..n-1 row ids in doc_id order WITHOUT a global
    single-partition window: range-shard → parallel in-shard ranks →
    broadcast per-shard offsets (``sampling.assign_contiguous_ids``).
    The oracle is the naive global ROW_NUMBER the distributed form must
    exactly reproduce."""
    t = load_tables(spark, sf_dir)
    return (
        sampling.assign_contiguous_ids(t.documents, "doc_id")
        .select("doc_id", "row_idx")
        .orderBy("doc_id")
        .limit(200)
    )


def op_try_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-handling breadth: the ``try_*`` family returns NULL where
    the plain operator would throw — division by zero, bigint overflow,
    out-of-bounds element, unparseable timestamp. The row-level
    quarantine semantics a 100 TB ingest needs (one poison row must
    not kill a stage); extends q21's try_cast coverage."""
    t = load_tables(spark, sf_dir)
    return (
        t.orders.select(
            "o_orderkey",
            F.round(
                F.try_divide(F.col("o_totalprice"), F.col("o_custkey") % 3), 4
            ).alias("d_ok"),
            F.try_add(
                F.col("o_orderkey") + F.lit(1), F.lit(9223372036854775807)
            ).alias("add_ovf"),
            F.try_element_at(F.array(F.col("o_orderkey")), F.lit(5)).alias(
                "elem_oob"
            ),
            F.try_to_timestamp(F.lit("nope")).alias("ts_bad"),
            F.try_to_timestamp(
                F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss")
            ).alias("ts_ok"),
        )
        .orderBy("o_orderkey")
        .limit(100)
    )


def op_rollup_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The continuous-aggregate bucket table (hypertable rollup):
    hourly mergeable stats per event_type. The incremental refresh +
    hybrid raw/rollup query path around this aggregate is exercised in
    tests (operators/rollup.py)."""
    from . import rollup

    t = load_tables(spark, sf_dir)
    return (
        rollup.bucket_aggregate(t.events)
        .select(
            "bucket",
            "event_type",
            F.col("n").cast("long").alias("n"),
            F.round("sum_v", 2).alias("sum_v"),
            F.round("min_v", 2).alias("min_v"),
            F.round("max_v", 2).alias("max_v"),
        )
        .orderBy("bucket", "event_type")
        .limit(300)
    )


def op_feature_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8-bucket hashing-trick TF vector per document (md5 bucket mode
    so the oracle reproduces the exact counts; integer output — no FP
    anywhere)."""
    t = load_tables(spark, sf_dir)
    v = text.hashed_tf("text", dim=8, hash_fn="md5")
    return (
        t.documents.select(
            "doc_id", *[v.getItem(i).alias(f"d{i}") for i in range(8)]
        )
        .orderBy("doc_id")
        .limit(200)
    )


def op_range_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-based RANGE frame: rolling trailing-1-hour event count per
    user (the rate-limit / burst-detection window). RANGE over integer
    epoch seconds — tie rows share a frame, so the result is
    deterministic without an event_id tiebreak."""
    from pyspark.sql import Window

    t = load_tables(spark, sf_dir)
    epoch = F.floor(F.unix_timestamp("ts")).cast("long")
    w = (
        Window.partitionBy("user_id")
        .orderBy(epoch)
        .rangeBetween(-3599, 0)
    )
    return (
        t.events.select(
            "event_id",
            "user_id",
            F.count(F.lit(1)).over(w).alias("n_last_hour"),
        )
        .orderBy("event_id")
        .limit(300)
    )


def op_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-total window (ratio_to_report): each nation's share
    of its region's customer balance."""
    from pyspark.sql import Window

    t = load_tables(spark, sf_dir)
    per_nation = (
        t.customer.join(
            F.broadcast(t.nation), t.customer.c_nationkey == t.nation.n_nationkey
        )
        .join(F.broadcast(t.region), t.nation.n_regionkey == t.region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.sum("c_acctbal").alias("bal"))
    )
    w = Window.partitionBy("r_name")
    return per_nation.select(
        "r_name",
        "n_name",
        F.round(F.lit(100.0) * F.col("bal") / F.sum("bal").over(w), 4).alias(
            "pct_of_region"
        ),
    ).orderBy("r_name", "n_name")


def op_pii_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII audit counts per document (email/card/ssn/phone/ip regex
    hits). Deterministic PII is synthesized around the doc text so the
    counting path is exercised on this corpus; the oracle synthesizes
    identically."""
    t = load_tables(spark, sf_dir)
    synth = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +1 (555) 010-"),
        F.col("doc_id").cast("string"),
        F.lit(" from 10.0.0."),
        (F.col("doc_id") % 256).cast("string"),
    )
    c = textfn.pii_hit_counts(synth)
    return (
        t.documents.select(
            "doc_id",
            c.getField("n_email").alias("n_email"),
            c.getField("n_card").alias("n_card"),
            c.getField("n_ssn").alias("n_ssn"),
            c.getField("n_phone").alias("n_phone"),
            c.getField("n_ip").alias("n_ip"),
        )
        .orderBy("doc_id")
        .limit(200)
    )


def op_robust_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/IQR robust scaling per event_type (outlier-insensitive
    normalization): exact grouped quantiles broadcast back, then a
    projection."""
    t = load_tables(spark, sf_dir)
    q = t.events.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("__med"),
        F.percentile("value", F.lit(0.25)).alias("__p25"),
        F.percentile("value", F.lit(0.75)).alias("__p75"),
    )
    iqr = F.col("__p75") - F.col("__p25")
    scaled = F.when(iqr > 0, (F.col("value") - F.col("__med")) / iqr).otherwise(
        F.lit(0.0)
    )
    return (
        t.events.join(F.broadcast(q), "event_type")
        .select(
            "event_id",
            "event_type",
            F.round(scaled, 4).alias("v_scaled"),
        )
        .orderBy("event_id")
        .limit(200)
    )


def op_k_suppress(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity suppression over (lang, source) quasi-identifiers
    with k=3: under-k combinations are nulled and flagged, all rows
    kept."""
    t = load_tables(spark, sf_dir)
    return (
        privacy.k_suppress(
            t.documents.select("doc_id", "lang", "source"),
            ["lang", "source"],
            k=3,
        )
        .orderBy("doc_id")
        .limit(200)
    )


def op_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense hourly resample + forward fill for users 0-9 — gaps carry
    the last observation, flagged. The carried observation is attested
    as the exact integer pair (sum·100 cents, count): the bucket MEAN
    of cents data is a half-cent, exactly on a %.2f rounding tie where
    engine round() builds disagree (tie_audit hazard at sf0.01/0.1);
    the pair determines the mean and has no FP surface at all."""
    t = load_tables(spark, sf_dir)
    return (
        timeseries.gap_fill(
            t.events.where(F.col("user_id") < 10),
            agg_cols={
                "v_cents": F.round(F.sum("value") * 100, 0).cast("long"),
                "n_obs": F.count(F.lit(1)),
            },
        )
        .select("user_id", "bucket", "v_cents", "n_obs", "was_filled")
        .orderBy("user_id", "bucket")
        .limit(500)
    )


def op_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnosis over events.event_type."""
    t = load_tables(spark, sf_dir)
    return curation.key_skew_stats(t.events, "event_type", top_n=5)


def op_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile sketch per event_type (Greenwald-Khanna style
    percentile_approx, accuracy 10k): single-pass, mergeable partials —
    the 100 TB quantile path where exact percentile's full sort per
    group is off the table. The sketch output is algorithm-specific,
    so the registry entry emits a DERIVED CHECK: the exact quantiles
    (hash-attested against DuckDB quantile_cont, same as
    op_percentile) plus booleans attesting the sketch landed within
    5% relative error of each (the bound covers the small-n regime
    where exact percentile interpolates between samples but the
    sketch returns an actual sample: measured worst-case 4.0% at
    n=199, 0.6% at n=2k, 0.2% at n=20k). Oracle emits literal TRUE
    for the booleans — hash matches iff the sketch met the bound.
    The exact quantiles are attested via bracketing rank anchors
    (raw data doubles) rather than the interpolated midpoint, which
    sits exactly on a %.2f rounding tie for cents data (tie_audit)."""
    t = load_tables(spark, sf_dir)

    def ok(q: float) -> Column:
        approx = F.percentile_approx("value", F.lit(q), F.lit(10000))
        exact = F.percentile("value", F.lit(q))
        return F.abs(approx - exact) <= F.lit(0.05) * F.abs(exact)

    anchors = _percentile_anchors(t.events, {"p50": 0.5, "p95": 0.95})
    bounds = t.events.groupBy("event_type").agg(
        ok(0.5).alias("p50_ok"), ok(0.95).alias("p95_ok")
    )
    return anchors.join(F.broadcast(bounds), "event_type").orderBy(
        "event_type"
    )


def op_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidates verified by exact Jaccard ≥ 0.8 (char
    5-gram shingles). Hash-attestable: the oracle recomputes exact
    all-pairs Jaccard in SQL; equality also attests banding recall = 1.0
    on this corpus (verified locally before declaring)."""
    t = load_tables(spark, sf_dir)
    # jaccard is ONE IEEE division of identical BIGINT counts on both
    # engines; floor(x*2^20) is exact, so the attested BIGINT carries
    # no round(double, d) half-tie surface (r10 tie-audit hardening)
    return (
        dedup.dedup_minhash_verified(t.documents, threshold=0.8)
        .select(
            "id_a",
            "id_b",
            F.floor(F.col("jaccard") * F.lit(1048576.0)).alias("jaccard_fp"),
        )
        .orderBy("id_a", "id_b")
    )


def op_dedup_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus collapse — the composed dedup a training-data
    pipeline actually executes: MinHash-LSH verified pairs (exact
    Jaccard ≥ 0.8, char 5-gram shingles) → connected components
    (min-label propagation, :func:`dedup.dedup_clusters`) → ONE row per
    duplicate cluster with the min-id survivor, member count, and the
    member-id sum. The id_sum column attests the exact component
    membership (not just sizes) against the oracle's ``WITH RECURSIVE``
    min-label closure. Singleton documents (no near-dup edge) are not
    emitted — the output is the collapse plan, one row per group that
    actually loses members.

    Scale shape: pairs come from the banded/bucket-capped LSH path (no
    all-pairs), components converge in O(log diameter) rounds on the
    pair graph only (near-dup components are shallow), and the final
    rollup is one groupBy on a pairs-sized frame — never corpus-wide."""
    t = load_tables(spark, sf_dir)
    pairs = dedup.dedup_minhash_verified(t.documents, threshold=0.8).select(
        "id_a", "id_b"
    )
    clusters = dedup.dedup_clusters(pairs)
    return (
        clusters.groupBy(F.col("cluster").alias("keep_id"))
        .agg(
            F.count("*").alias("n_members"),
            F.sum("id").alias("id_sum"),
        )
        .orderBy("keep_id")
    )


def op_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup SURVIVORSHIP — the emit side of the corpus
    collapse (``op_dedup_collapse`` says which groups exist; this op
    emits the kept corpus): same MinHash-verified pair graph →
    min-label components, then within each cluster keep the
    HIGHEST-quality member (quality = char length here; ties →
    smallest doc_id) — "of these near-copies, keep the longest" —
    with singletons passing through as their own one-member cluster.
    Output: one row per kept document (keep_id, cluster_id,
    n_members, quality), hash-attested against the oracle's
    ``WITH RECURSIVE`` closure + window rank.

    Scale shape: the component loop runs on the pairs-sized graph
    only; the survivor pick is ONE window over the cluster-joined
    corpus (cluster cardinality per partition, never corpus-wide) —
    the same plan ``dedup.keep_best_representatives`` ships."""
    from pyspark.sql import Window

    t = load_tables(spark, sf_dir)
    pairs = dedup.dedup_minhash_verified(t.documents, threshold=0.8).select(
        "id_a", "id_b"
    )
    clusters = dedup.dedup_clusters(pairs)
    members = (
        t.documents.select(
            "doc_id", F.length("text").cast("long").alias("quality")
        )
        .join(clusters.withColumnRenamed("id", "doc_id"), "doc_id", "left")
        .withColumn("cluster_id", F.coalesce("cluster", "doc_id"))
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("quality").desc(), F.col("doc_id").asc()
    )
    return (
        members.withColumn("rn", F.row_number().over(w))
        .withColumn(
            "n_members", F.count("*").over(Window.partitionBy("cluster_id"))
        )
        .where(F.col("rn") == 1)
        .select(
            F.col("doc_id").alias("keep_id"),
            "cluster_id",
            "n_members",
            "quality",
        )
        .orderBy("cluster_id")
    )


def op_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (Hamming ≤ 3) over documents, portable
    md5-derived 60-bit signatures so the oracle can recompute the exact
    same bits; 4×15-bit banding recall is exactly 1.0 by pigeonhole —
    PROVIDED no bucket is dropped by the hot-bucket cap. The largest
    bucket at sf0.1 is 269 docs (a 256 cap silently cost 14 true pairs
    there), so the attested op runs with max_bucket=1024: recall stays
    complete at every tested scale while the cap still bounds the
    worst-case bucket join at ~0.5M pairs."""
    sigs = dedup.simhash_signatures(
        load_tables(spark, sf_dir).documents, hash_fn="md5"
    )
    return dedup.simhash_neardup_pairs(
        sigs, num_bits=60, max_bucket=1024
    ).orderBy("id_a", "id_b")


def op_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard pairs ≥ 0.8 over documents (word 3-grams:
    selective even on small-vocabulary corpora)."""
    t = load_tables(spark, sf_dir)
    return (
        dedup.ngram_jaccard_pairs(
            t.documents, threshold=0.8, mode="word", shingle_k=3,
            on_over_budget="lsh",
        )
        .select(
            "id_a",
            "id_b",
            F.floor(F.col("jaccard") * F.lit(1048576.0)).alias("jaccard_fp"),
        )
        .orderBy("id_a", "id_b")
    )


def op_dedup_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtered (PPJoin-style) exact Jaccard pairs ≥ 0.8 — same
    answer as ``op_dedup_ngram_jaccard`` with a ~5× smaller inverted
    index (only rarest-first prefixes are indexed); attested against
    the identical all-pairs SQL oracle."""
    t = load_tables(spark, sf_dir)
    return (
        dedup.ngram_jaccard_pairs_prefix(
            t.documents, threshold=0.8, mode="word", shingle_k=3,
            on_over_budget="lsh",
        )
        .select(
            "id_a",
            "id_b",
            F.floor(F.col("jaccard") * F.lit(1048576.0)).alias("jaccard_fp"),
        )
        .orderBy("id_a", "id_b")
    )


def op_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment pairs ≥ 0.6 (word 3-grams): subset
    duplication — short docs embedded in longer ones — that the
    symmetric Jaccard threshold misses."""
    t = load_tables(spark, sf_dir)
    return (
        dedup.ngram_containment_pairs(
            t.documents, threshold=0.6, shingle_n=3, on_over_budget="lsh"
        )
        .select(
            "id_a",
            "id_b",
            F.floor(F.col("containment") * F.lit(1048576.0)).alias(
                "containment_fp"
            ),
            F.floor(F.col("jaccard") * F.lit(1048576.0)).alias("jaccard_fp"),
        )
        .orderBy("id_a", "id_b")
        .limit(300)
    )


def op_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 neighbors of vec_id=0."""
    t = load_tables(spark, sf_dir)
    qv = [float(x) for x in t.embeddings.where(F.col("vec_id") == 0).first()["embedding"]]
    return similarity.cosine_topk(
        t.embeddings.where(F.col("vec_id") != 0), qv, k=10
    )


def op_similarity_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-10 for the same probe vector."""
    t = load_tables(spark, sf_dir)
    qv = [float(x) for x in t.embeddings.where(F.col("vec_id") == 0).first()["embedding"]]
    return similarity.ann_topk(
        t.embeddings.where(F.col("vec_id") != 0), qv, k=10, num_bits=8, n_probe=4
    )


def op_similarity_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-cell approximate top-10 for the same probe vector (k-means
    cells trained on a seeded sample; deterministic)."""
    t = load_tables(spark, sf_dir)
    qv = [float(x) for x in t.embeddings.where(F.col("vec_id") == 0).first()["embedding"]]
    corpus = t.embeddings.where(F.col("vec_id") != 0)
    index = similarity.IVFIndex.train(corpus, k=8, seed=42, id_col="vec_id")
    return similarity.ivf_topk(corpus, qv, k=10, index=index, n_probe=3)


def _pq_index_cached(spark, sf_dir: str):
    """Codes table computed ONCE per corpus and served from parquet —
    the production shape ``PQIndex`` documents: train + encode are an
    index-build step, queries are an ADC scan over the 32×-compressed
    codes. Cache keyed on the corpus file identity (path + mtime) so a
    regenerated corpus re-trains; the codebooks sidecar is written last
    as the completeness marker."""
    import hashlib
    import tempfile

    src = os.path.join(sf_dir, "embeddings.parquet")
    try:
        mtime = os.stat(src).st_mtime_ns
    except OSError:
        mtime = 0
    key = hashlib.sha1(
        f"{os.path.realpath(src)}:{mtime}:m8:k16:s42:ex0".encode()
    ).hexdigest()[:16]
    root = os.path.join(tempfile.gettempdir(), "spark_graft_pq", key)
    if not os.path.exists(os.path.join(root, "codebooks.json")):
        corpus = load_tables(spark, sf_dir).embeddings.where(
            F.col("vec_id") != 0
        )
        index = pq.PQIndex.train(
            corpus, m=8, ksub=16, seed=42, id_col="vec_id"
        )
        pq.pq_save_codes(corpus, index, root)
    return pq.pq_load_codes(spark, root)


def op_similarity_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization compressed-domain top-10 for the same probe
    vector (m=8 subspaces × ksub=16 codes trained on the id-sorted
    sample — 32× compression of the 64-dim float32 corpus; ADC scoring
    is m literal-table lookups per row). The codes table is persisted
    once per corpus (:func:`_pq_index_cached`) so the per-query cost is
    the ADC scan, not retrain+re-encode. Deterministic end-to-end, so
    the DuckDB twin re-derives identical codebooks + table from the
    parquet itself."""
    t = load_tables(spark, sf_dir)
    qv = [
        float(x)
        for x in t.embeddings.where(F.col("vec_id") == 0).first()["embedding"]
    ]
    index, codes = _pq_index_cached(spark, sf_dir)
    return pq.pq_adc_topk(codes, qv, k=10, index=index)


def op_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count rollup: per-nation HLL customer
    sketches UNIONED up to region level (the re-aggregation COUNT
    DISTINCT doesn't allow) — raw data read once, the merge touches
    only ~KB sketches. Attestation follows the approx-sketch derived-
    check pattern: the EXACT per-region distinct hash-attests, and the
    sketch estimate attests through an accuracy-bound boolean (HLL
    lgk=12 leaves its sparse-exact regime at sf0.1's ~3k distincts/
    region — measured max rel err 1.63%, within the 1σ≈1.6% bound —
    so a raw-estimate hash is exact only for sf ≤ 0.01; the bound
    column keeps the attestation meaningful at every scale)."""
    t = load_tables(spark, sf_dir)
    cust = t.customer.join(
        F.broadcast(t.nation),
        t.customer.c_nationkey == t.nation.n_nationkey,
    )
    per_nation = sketches.hll_rollup(
        cust, "c_custkey", ["n_nationkey", "n_regionkey"]
    )
    per_region = sketches.hll_merge_rollup(per_nation, ["n_regionkey"])
    exact = cust.groupBy("n_regionkey").agg(
        F.countDistinct("c_custkey").alias("n_customers")
    )
    return (
        per_region.join(exact, "n_regionkey")
        .join(
            F.broadcast(t.region),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select(
            "r_name",
            "n_customers",
            (
                F.abs(F.col("distinct_est") - F.col("n_customers"))
                <= F.col("n_customers") * 0.025
            ).alias("hll_within_2_5pct"),
        )
        .orderBy("r_name")
    )


def op_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the sign-LSH ANN path against exact brute-force for
    the standard probe vector — the retrieval-eval harness attested
    end-to-end (the oracle recomputes BOTH result lists and the overlap
    in SQL from the same parquet)."""
    t = load_tables(spark, sf_dir)
    qv = [
        float(x)
        for x in t.embeddings.where(F.col("vec_id") == 0).first()["embedding"]
    ]
    corpus = t.embeddings.where(F.col("vec_id") != 0)
    brute = similarity.cosine_topk(corpus, qv, k=10)
    ann = similarity.ann_topk(corpus, qv, k=10, num_bits=8, n_probe=4)
    return similarity.recall_at_k(ann, brute, k=10)


def op_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR-diversified top-10 for vec_id=0's query vector (pool=100,
    λ=0.7). The greedy MMR sequence is not SQL-expressible, so the
    registry entry emits a DERIVED CHECK the oracle reproduces
    exactly: the selected-set invariants (k rows, all distinct) plus
    the first pick's id and relevance — MMR's first selection is by
    construction the pure-relevance argmax, which the oracle recomputes
    with the same portable cosine spelling as op_similarity_topk.
    Diversity-vs-top-k behavior is property-tested on planted
    clusters (tests/test_llm_ops.py)."""
    from ..functions.vectors import cosine_similarity, lit_vector

    t = load_tables(spark, sf_dir)
    qv = [
        float(x)
        for x in t.embeddings.where(F.col("vec_id") == 0).first()["embedding"]
    ]
    corpus = t.embeddings.where(F.col("vec_id") != 0)
    res = similarity.mmr_topk(corpus, qv, k=10, pool=100)
    agg = res.agg(
        F.count("id").alias("n_selected"),
        F.count_distinct("id").alias("n_distinct"),
        F.min(F.when(F.col("rank") == 1, F.col("id"))).alias("top1_id"),
    )
    # join BEFORE computing the cosine so the expensive expression runs
    # on the single matched row, not a second full-corpus pass
    return (
        corpus.withColumnRenamed("vec_id", "top1_id")
        .join(F.broadcast(agg), "top1_id")
        .select(
            "n_selected",
            "n_distinct",
            "top1_id",
            F.round(
                cosine_similarity(F.col("embedding"), lit_vector(qv)), 6
            ).alias("top1_rel"),
        )
    )


def op_label_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 embeddings farthest from their own label centroid
    (mislabel / OOD mining). Hash-attestable: the distance is spelled
    as dot products (v·v − 2·v·c + c·c) so the DuckDB twin reproduces
    the exact FP sequence (same trick as the ANN oracle)."""
    t = load_tables(spark, sf_dir)
    return similarity.label_outliers(t.embeddings, k=20)


def op_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-duplicate pairs (cosine ≥ 0.95) via sign-LSH.
    The driver corpus has no planted vector near-dups (max pairwise
    cosine ≈ 0.51), so the oracle attests the empty result exactly;
    nonzero-output coverage lives in the planted-cluster property tests
    and ``op_embedding_bucket_stats``."""
    t = load_tables(spark, sf_dir)
    return similarity.cosine_neardup_pairs(t.embeddings, threshold=0.95, dim=64).orderBy(
        "id_a", "id_b"
    )


def op_kmeans_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide k-means clustering rollup (k=8 spherical cells,
    trained on the id-sorted sample — reproducible parquet-side for the
    oracle)."""
    t = load_tables(spark, sf_dir)
    index = similarity.IVFIndex.train(
        t.embeddings, k=8, seed=42, id_col="vec_id"
    )
    return similarity.kmeans_cluster_stats(t.embeddings, index).orderBy("cluster")


def op_embedding_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucket occupancy over the embeddings corpus — the
    layout-planning view for a bucket-partitioned ANN corpus, and a
    hash-attestable probe of the same ``bucket_col`` expression used by
    ``ann_topk`` / ``cosine_neardup_pairs``."""
    t = load_tables(spark, sf_dir)
    return similarity.lsh_bucket_stats(t.embeddings, num_bits=8, seed=42).orderBy(
        "bucket"
    )


def op_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus snapshot diff (added/removed/changed) between two derived
    versions of ``documents``: the "old" snapshot drops every 7th doc
    and upper-cases every 5th text (a stale edit), the "new" snapshot
    drops every 11th doc. One hash-compare full-outer join."""
    t = load_tables(spark, sf_dir)
    docs = t.documents
    old = docs.where(F.col("doc_id") % 7 != 0).withColumn(
        "text",
        F.when(F.col("doc_id") % 5 == 0, F.upper("text")).otherwise(F.col("text")),
    )
    new = docs.where(F.col("doc_id") % 11 != 0)
    return versioning.snapshot_diff(
        old, new, key_cols=["doc_id"], compare_cols=["text", "n_chars"]
    ).orderBy("doc_id")


def op_regexp_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regexp-function breadth over documents: run counting, group
    extraction, global replace — JVM regex vs RE2 agree on this ASCII
    subset (the portability boundary the oracle attests)."""
    t = load_tables(spark, sf_dir)
    c = F.col("text")
    return (
        t.documents.select(
            "doc_id",
            F.regexp_count(c, F.lit("[0-9]+")).cast("bigint").alias("n_num_runs"),
            F.regexp_extract(c, "([A-Za-z]+)", 1).alias("first_word"),
            F.length(F.regexp_replace(c, "[aeiou]", "")).alias("n_no_vowels"),
        )
        .orderBy("doc_id")
        .limit(200)
    )


def op_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most frequent rounded value per event_type with a DETERMINISTIC
    tie-break (highest count, then smallest value) — engine-native
    mode() functions leave ties unspecified, so the portable spelling
    is count + rank."""
    from pyspark.sql import Window

    t = load_tables(spark, sf_dir)
    counts = (
        t.events.groupBy(
            "event_type", F.round(F.col("value"), 0).alias("v")
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("cnt").desc(), F.col("v").asc()
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("event_type", F.col("v").alias("mode_value"), "cnt")
        .orderBy("event_type")
    )


def op_window_funcs2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second window-function breadth set: offset lag with default,
    lead, first/last value with explicit frames and ignore-nulls."""
    from pyspark.sql import Window

    t = load_tables(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    frame = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ev = t.events.where(F.col("user_id") < 10)
    return (
        ev.select(
            "user_id",
            "ts",
            F.round("value", 4).alias("value"),
            F.round(F.lag("value", 2, 0.0).over(w), 4).alias("lag2"),
            F.round(F.lead("value", 1).over(w), 4).alias("lead1"),
            F.round(F.first("value").over(frame), 4).alias("first_v"),
            F.round(F.last("value").over(frame), 4).alias("last_v"),
            F.round(
                F.first(
                    F.when(F.col("value") > 100, F.col("value")),
                    ignorenulls=True,
                ).over(frame),
                4,
            ).alias("first_big"),
        )
        .orderBy("user_id", "ts")
        .limit(300)
    )


def op_weighted_sample_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified PPS: 20 documents per language drawn with probability
    ∝ n_chars — the per-group sequential-Poisson form (one window over
    the group shuffle, no global sort)."""
    t = load_tables(spark, sf_dir)
    return (
        sampling.weighted_sample_per_group(
            t.documents.select("doc_id", "lang", "n_chars"),
            "lang",
            "n_chars",
            20,
            "doc_id",
        )
        .orderBy("doc_id")
    )


def op_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic PPS sample: 100 documents drawn with probability
    ∝ n_chars via sequential Poisson priorities (portable md5 uniform —
    same draw in any engine)."""
    t = load_tables(spark, sf_dir)
    return (
        sampling.weighted_sample(
            t.documents.select("doc_id", "n_chars"), "n_chars", 100, "doc_id"
        )
        .orderBy("doc_id")
    )


def op_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view→click→purchase funnel over the event log (step i
    strictly after the user's step i−1; per-step grouped aggregates,
    no global sort)."""
    t = load_tables(spark, sf_dir)
    return funnel.funnel_counts(t.events, ["view", "click", "purchase"])


def op_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention triangle over the event log."""
    t = load_tables(spark, sf_dir)
    return funnel.cohort_retention(t.events, bucket="week")


def op_scd2_apply_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC apply-changes: history = open rows for docs%7!=0 (every 5th
    text upper-cased); the change feed carries only docs%3==0 —
    upserts, except docs%9==0 which are tombstones. Keys outside the
    feed stay untouched (the partial-feed contract scd2_merge lacks)."""
    t = load_tables(spark, sf_dir)
    docs = t.documents
    history = docs.where(F.col("doc_id") % 7 != 0).select(
        "doc_id",
        F.when(F.col("doc_id") % 5 == 0, F.upper("text"))
        .otherwise(F.col("text"))
        .alias("text"),
        F.to_timestamp(F.lit("2026-01-01 00:00:00")).alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    changes = docs.where(F.col("doc_id") % 3 == 0).select(
        "doc_id", "text", (F.col("doc_id") % 9 == 0).alias("is_del")
    )
    out = versioning.scd2_apply_changes(
        history, changes, ["doc_id"], ["text"],
        "2026-02-01 00:00:00", delete_col="is_del",
    )
    return out.orderBy("doc_id", "valid_from", "is_current")


def op_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-round PageRank over the (symmetric) customer↔supplier graph
    induced by orders⋈lineitem — the iterative-loop-of-joins shape,
    hash-attested against an unrolled SQL twin. Node ids: customer →
    2·custkey, supplier → 2·suppkey+1."""
    t = load_tables(spark, sf_dir)
    pairs = (
        t.orders.join(
            t.lineitem, t.orders.o_orderkey == t.lineitem.l_orderkey
        )
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    # both directions from ONE explode pass — a self-union would
    # evaluate the orders⋈lineitem+distinct subtree twice
    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("src"), F.col("dst")),
                F.struct(
                    F.col("dst").alias("src"), F.col("src").alias("dst")
                ),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    # distinct+symmetric hold by construction: pairs is distinct and
    # the reversed direction is disjoint (even->odd vs odd->even ids)
    return (
        graph.pagerank(edges, iters=3, edges_distinct=True, symmetric=True)
        .select("node", F.round("rank", 6).alias("rank"))
        .orderBy("node")
        .limit(200)
    )


def op_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-label connected components over PATH graphs (consecutive-id
    chains within each exact-duplicate text group) — transitivity is
    exercised hop by hop Spark-side; the oracle labels each member
    with its group min directly."""
    from pyspark.sql import Window

    t = load_tables(spark, sf_dir)
    w = Window.partitionBy("text").orderBy("doc_id")
    chain = (
        t.documents.select(
            "text",
            F.col("doc_id").alias("dst"),
            F.lag("doc_id").over(w).alias("src"),
        )
        .where(F.col("src").isNotNull())
        .select("src", "dst")
    )
    return graph.connected_components(chain).orderBy("node")


def op_normalize_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation z-score of customer balances — the expression form of
    the grouped-custom-logic pattern (window mean/std, no Python)."""
    from . import grouped

    t = load_tables(spark, sf_dir)
    return (
        grouped.normalize_per_key(
            t.customer.select("c_custkey", "c_nationkey", "c_acctbal"),
            "c_nationkey",
            "c_acctbal",
        )
        .select("c_custkey", "c_nationkey", F.round("z", 4).alias("z"))
        .orderBy("c_custkey")
        .limit(200)
    )


def op_grouped_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-status exact quantiles of order totals (single grouped
    percentile agg — per-key custom stats without applyInPandas)."""
    from . import grouped

    t = load_tables(spark, sf_dir)
    q = grouped.grouped_quantiles(
        t.orders, "o_orderstatus", "o_totalprice", probs=[0.5, 0.95, 0.99]
    )
    return q.select(
        "o_orderstatus",
        F.round("p50", 4).alias("p50"),
        F.round("p95", 4).alias("p95"),
        F.round("p99", 4).alias("p99"),
    ).orderBy("o_orderstatus")


def op_window_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-window breadth: ntile / percent_rank / cume_dist /
    nth_value per nation over customer balances (single Window node;
    deterministic unique ordering)."""
    from pyspark.sql import Window

    t = load_tables(spark, sf_dir)
    w = Window.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    return (
        t.customer.select(
            "c_custkey",
            "c_nationkey",
            F.ntile(4).over(w).alias("quartile"),
            F.round(F.percent_rank().over(w), 4).alias("pct_rank"),
            # cume_dist = k/n lands machine-exactly on 4th-decimal
            # half-ties for dyadic partition sizes (r10 tie audit);
            # floor fixed-point of the single-division double is exact
            F.floor(F.cume_dist().over(w) * F.lit(1048576.0)).alias(
                "cume_fp"
            ),
            F.nth_value("c_custkey", 2)
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .alias("second_poorest"),
        )
        .orderBy("c_custkey")
        .limit(200)
    )


def op_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array-function breadth over embeddings: fold
    (aggregate), zip_with, filter-count, slice — the building blocks
    the vector ops compose, attested directly."""
    t = load_tables(spark, sf_dir)
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    return (
        t.embeddings.select(
            "vec_id",
            F.round(
                F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x), 4
            ).alias("v_sum"),
            F.round(
                F.aggregate(
                    F.zip_with(v, v, lambda a, b: a * b),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
                4,
            ).alias("v_dot_self"),
            F.size(F.filter(v, lambda x: x > 0)).cast("bigint").alias("n_pos"),
            F.round(
                F.aggregate(F.slice(v, 1, 8), F.lit(0.0), lambda acc, x: acc + x),
                4,
            ).alias("head8_sum"),
        )
        .orderBy("vec_id")
        .limit(200)
    )


def op_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-20 over documents for the standard term set
    (length-normalized ranking; same one-pass shape as TF-IDF)."""
    t = load_tables(spark, sf_dir)
    return curation.bm25_keyword_search(t.documents, _SEARCH_TERMS, k=20)


def op_quantile_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-quartile binning of order totals: one percentile agg
    broadcast as boundaries, bucket assignment as a projection."""
    t = load_tables(spark, sf_dir)
    return curation.quantile_bins(t.orders, "o_totalprice")


def op_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-value computation over (custkey, orderkey) low bits — attests
    the bit-interleave math behind ``layout.write_zordered``."""
    t = load_tables(spark, sf_dir)
    x = F.col("o_custkey") % 16
    y = F.col("o_orderkey") % 16
    return (
        t.orders.select(
            "o_orderkey",
            layout.zorder_value([x, y], bits=4).cast("bigint").alias("zval"),
        )
        .orderBy("o_orderkey")
        .limit(200)
    )


def op_reduced_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join-reduced fact⋈dim: orders pruned by a broadcast of the
    filtered customers' keys before the payload join (the explicit form
    of runtime bloom-filter pruning — exact, and the fact-side shuffle
    carries only survivors)."""
    t = load_tables(spark, sf_dir)
    dim = t.customer.where(F.col("c_acctbal") > 9000).withColumnRenamed(
        "c_custkey", "o_custkey"
    )
    out = relational.reduced_join(t.orders, dim, on=["o_custkey"])
    return (
        out.select("o_orderkey", "c_name", "o_totalprice")
        .orderBy("o_orderkey")
        .limit(200)
    )


def op_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance self-linkage over distinct part names: SymSpell
    delete-variant blocking + exact levenshtein verify, no cross join."""
    t = load_tables(spark, sf_dir)
    names = t.part.select(F.col("p_name").alias("name"))
    return linkage.fuzzy_self_pairs(names, "name", max_distance=2).orderBy(
        "name_a", "name_b"
    )


def op_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass column profile (nulls / distincts / extrema) of orders."""
    t = load_tables(spark, sf_dir)
    return profile.profile_columns(
        t.orders,
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate"],
    ).orderBy("col_name")


def op_scd2_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 merge of a document snapshot into a versioned history:
    history = open rows for docs%7!=0 (every 5th text upper-cased, so it
    will differ) plus a pre-closed v0 for docs%13==0; snapshot drops
    every 11th doc. Changed docs close + reopen, removed docs close,
    new docs open; the pre-closed partition passes through untouched."""
    t = load_tables(spark, sf_dir)
    docs = t.documents
    base = docs.where(F.col("doc_id") % 7 != 0)
    hist_open = base.select(
        "doc_id",
        F.when(F.col("doc_id") % 5 == 0, F.upper("text"))
        .otherwise(F.col("text"))
        .alias("text"),
        F.to_timestamp(F.lit("2026-01-01 00:00:00")).alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    hist_closed = base.where(F.col("doc_id") % 13 == 0).select(
        "doc_id",
        F.concat(F.lit("v0:"), F.col("text")).alias("text"),
        F.to_timestamp(F.lit("2025-01-01 00:00:00")).alias("valid_from"),
        F.to_timestamp(F.lit("2026-01-01 00:00:00")).alias("valid_to"),
        F.lit(False).alias("is_current"),
    )
    history = hist_open.unionByName(hist_closed)
    snap = docs.where(F.col("doc_id") % 11 != 0).select("doc_id", "text")
    out = versioning.scd2_merge(
        history, snap, key_cols=["doc_id"], compare_cols=["text"],
        run_ts="2026-02-01 00:00:00",
    )
    return out.orderBy("doc_id", "valid_from")


def op_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicted-language distribution over documents (width-guarded:
    the per-row stopword-profile expression is heavy enough that a
    1-file scan would run it on one core)."""
    from .width import ensure_wide

    t = load_tables(spark, sf_dir)
    return (
        text.with_lang_id(ensure_wide(t.documents, "doc_id"))
        .groupBy("lang_pred")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang_pred")
    )


def op_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-score distribution (bucketed to 0.1) over documents."""
    t = load_tables(spark, sf_dir)
    return (
        text.with_quality_score(t.documents)
        .groupBy(F.round(F.floor(F.col("quality_score") * 10) / 10, 1).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("bucket")
    )


def op_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-10 EWMA (α=0.25 — binary-exact weights) per user over
    event values; the collect+fold spelling reproduces bit-for-bit in
    the oracle's list_reduce, and the fold is attested as the tie-safe
    fixed-point BIGINT ``floor(x·2^20)`` (the r10 tie audit found
    exact 6th-decimal half-ties in the rounded spelling)."""
    t = load_tables(spark, sf_dir)
    out = timeseries.ewma(
        t.events.where(F.col("user_id") < 20),
        "user_id",
        "ts",
        "value",
        alpha=0.25,
        window_rows=10,
        order_cols=["event_id"],
        quantize_pow2=20,
    )
    return out.select(
        "user_id", "ts", F.round("value", 4).alias("value"), "ewma_fp"
    ).orderBy("user_id", "ts").limit(300)


def op_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion of the TF-IDF and BM25
    top-50 lists for the standard term set — rank-only combination, no
    score calibration; fused top-20."""
    t = load_tables(spark, sf_dir)
    tfidf = curation.tfidf_keyword_search(t.documents, _SEARCH_TERMS, k=50)
    bm25 = curation.bm25_keyword_search(t.documents, _SEARCH_TERMS, k=50)
    return curation.rrf_fuse([tfidf, bm25], id_col="id", k0=60, k=20)


def op_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC bars per event_type — metric-stream downsampling
    with row_number-picked open/close folded into one grouped agg."""
    t = load_tables(spark, sf_dir)
    return (
        timeseries.ohlc_bars(
            t.events, "event_type", "ts", "value", order_cols=["event_id"]
        )
        .limit(300)
    )


def op_period_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month event-volume growth per event type. The bucket
    is cast to DATE: DuckDB's date_trunc('month') yields DATE while
    Spark's yields timestamp."""
    t = load_tables(spark, sf_dir)
    out = timeseries.period_growth(t.events, "event_type", "ts", "month")
    return out.withColumn("bucket", F.col("bucket").cast("date"))


def op_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Levenshtein distance between neighboring customer names within
    a nation (data-entry QA shape: compare each record to its sort
    neighbor, never all pairs). Exact dynamic-programming distance —
    identical in both engines."""
    from pyspark.sql import Window

    t = load_tables(spark, sf_dir)
    w = Window.partitionBy("c_nationkey").orderBy("c_custkey")
    return (
        t.customer.select(
            "c_custkey",
            "c_name",
            F.lead("c_name").over(w).alias("nn"),
        )
        .where(F.col("nn").isNotNull())
        .select(
            "c_custkey", F.levenshtein("c_name", "nn").alias("dist")
        )
        .orderBy("c_custkey")
        .limit(200)
    )


def op_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly time-weighted average per user — the irregular-sampling
    TSDB aggregate (each value held until the next observation)."""
    t = load_tables(spark, sf_dir)
    return (
        timeseries.time_weighted_avg(
            t.events.where(F.col("user_id") < 20),
            "user_id",
            "ts",
            "value",
            order_cols=["event_id"],
        )
        .limit(300)
    )


def op_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over session baskets: support /
    directional confidence / lift per co-occurring event-type pair."""
    t = load_tables(spark, sf_dir)
    return funnel.association_rules(
        t.events, gap_minutes=30, min_pair_baskets=5, k=50
    )


def op_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM drift statistic (ref 100, alarm above 500) per
    user over a trailing-20 frame — change detection via the same
    bounded-fold spelling as EWMA."""
    t = load_tables(spark, sf_dir)
    out = timeseries.cusum_alarms(
        t.events.where(F.col("user_id") < 20),
        "user_id",
        "ts",
        "value",
        ref=100.0,
        threshold=500.0,
        window_rows=20,
        order_cols=["event_id"],
    )
    return (
        out.select(
            "user_id", "ts", F.round("value", 4).alias("value"),
            "cusum", "alarm",
        )
        .orderBy("user_id", "ts")
        .limit(300)
    )


def op_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted shortest paths (≤ 3 hops) from node 0 on a thinned
    orders graph with integer-valued weights (exact path sums) —
    Bellman-Ford rounds vs a weighted WITH RECURSIVE oracle."""
    t = load_tables(spark, sf_dir)
    edges = t.orders.where(F.col("o_orderkey") % 13 == 0).select(
        (F.col("o_custkey") % 300).alias("src"),
        (F.col("o_orderkey") % 300).alias("dst"),
        ((F.col("o_orderkey") % 7) + 1).cast("double").alias("w"),
    )
    return graph.sssp_bounded(edges, source=0, rounds=3).orderBy("node")


def op_bfs_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unweighted shortest-path hops from node 0 on the orders-derived
    mod-300 graph (depth ≤ 3) — the bounded-iteration answer to a
    recursive CTE, hash-attested against a real WITH RECURSIVE twin."""
    t = load_tables(spark, sf_dir)
    edges = t.orders.select(
        (F.col("o_custkey") % 300).alias("src"),
        (F.col("o_orderkey") % 300).alias("dst"),
    )
    return graph.bfs_distances(edges, source=0, max_depth=3).orderBy("node")


def op_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most common 3-step opening journeys across 30-min sessions —
    path discovery next to the predeclared-step funnel."""
    t = load_tables(spark, sf_dir)
    return funnel.top_paths(
        t.events, gap_minutes=30, n_steps=3, k=20, order_cols=["event_id"]
    )


def op_agg_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modern aggregate breadth: count_if / bool_and / bool_or /
    max_by / median per event_type. max_by's ordering key is made
    UNIQUE (cents·10¹⁰ + event_id — monotone in (value, id)) because
    an argmax on a tied key is nondeterministic in both engines.
    Median is attested as half-cents (round(median·200) BIGINT):
    cents-granular values make the even-count midpoint an exact
    half-cent, i.e. exactly on a %.2f rounding tie where engine
    round() builds disagree — scaled by 200 it is an exact integer,
    ulps away from any tie (tie_audit class fix)."""
    t = load_tables(spark, sf_dir)
    key = (
        F.round(F.col("value") * 100).cast("bigint")
        * F.lit(10_000_000_000)
        + F.col("event_id")
    )
    return (
        t.events.groupBy("event_type")
        .agg(
            F.count_if(F.col("value") > 100).alias("n_big"),
            F.bool_and(F.col("value") > 0).alias("all_pos"),
            F.bool_or(F.col("value") > 450).alias("any_huge"),
            F.max_by("event_id", key).alias("top_event"),
            F.round(F.median("value") * 200, 0)
            .cast("long")
            .alias("med_halfcents"),
        )
        .orderBy("event_type")
    )


def op_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact trailing-10 rolling median per user — the percentile
    window aggregate Spark lacks, spelled as a bounded collect+sort
    frame that the oracle reproduces list-for-list."""
    t = load_tables(spark, sf_dir)
    out = timeseries.rolling_median(
        t.events.where(F.col("user_id") < 20),
        "user_id",
        "ts",
        "value",
        window_rows=10,
        order_cols=["event_id"],
    )
    return (
        out.select(
            "user_id", "ts", F.round("value", 4).alias("value"), "roll_median"
        )
        .orderBy("user_id", "ts")
        .limit(300)
    )


def op_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (bottom-k) distinct-user sketches per event_type plus the
    merged all-types rollup — the mergeable distinct sketch with set
    operations (unlike HLL), built on a portable md5 hash so the
    sketch AND its estimate hash-attest exactly against the oracle."""
    t = load_tables(spark, sf_dir)
    sk = sketches.kmv_sketch(t.events, "user_id", ["event_type"], k=64)
    fine = sketches.kmv_estimate(sk, 64).select(
        "event_type", "n_kept", "distinct_est"
    )
    merged = sketches.kmv_estimate(sketches.kmv_merge(sk, [], k=64), 64).select(
        F.lit("__all__").alias("event_type"), "n_kept", "distinct_est"
    )
    return fine.unionByName(merged).orderBy("event_type")


def op_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top word-bigram collocations by lift (= exp PMI): boilerplate /
    merge-candidate mining over the corpus. Exact integer counts + one
    IEEE division keep the score hash-portable (no libm ln)."""
    t = load_tables(spark, sf_dir)
    return corpus_stats.bigram_lift(t.documents, min_count=5, k=100)


def op_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document OOV rate against the corpus top-20 vocabulary
    (two-pass: tiny vocab broadcast back over one corpus walk)."""
    t = load_tables(spark, sf_dir)
    return (
        corpus_stats.vocab_coverage(t.documents, vocab_size=20)
        .orderBy("doc_id")
        .limit(200)
    )


def op_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent tokens above 2% support, exact counts + shares, each
    attested present in the one-pass lossy-counting sketch
    (DataFrame.freqItems superset guarantee → in_sketch TRUE, which
    the oracle emits literally)."""
    from ..functions.text import tokens_ws

    t = load_tables(spark, sf_dir)
    toks = t.documents.select(
        F.explode(tokens_ws(F.lower(F.col("text")))).alias("tok")
    )
    return corpus_stats.heavy_hitters(toks, "tok", support=0.02)


def op_link_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor link prediction (Jaccard of neighborhoods) on
    the deterministic orders-derived graph (mod 300 — sparse enough at
    driver scale to have non-edges worth scoring)."""
    t = load_tables(spark, sf_dir)
    edges = t.orders.select(
        (F.col("o_custkey") % 300).alias("src"),
        (F.col("o_orderkey") % 300).alias("dst"),
    )
    return graph.link_predict_common_neighbors(edges, k=100)


def op_interval_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union-of-intervals coverage islands per user (each event opens a
    15-minute activity window; overlapping windows merge) — the
    ``range_agg`` aggregate, integer-exact epoch arithmetic."""
    t = load_tables(spark, sf_dir)
    return (
        timeseries.merge_intervals(t.events, "user_id", "ts", pad_s=900)
        .select(
            "user_id", "island_idx", "n_events", "start_s", "covered_s"
        )
        .orderBy("user_id", "island_idx")
        .limit(300)
    )


def op_state_durations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-length encoding of each user's event_type stream: one row
    per consecutive same-state run with its span (uptime/state-machine
    view). Tie-broken on event_id for determinism."""
    t = load_tables(spark, sf_dir)
    return (
        timeseries.state_durations(
            t.events, "user_id", "ts", "event_type", order_cols=["event_id"]
        )
        .select(
            "user_id", "run_idx", "state", "n_events", "duration_s"
        )
        .orderBy("user_id", "run_idx")
        .limit(300)
    )


def op_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type OLS trend of value over time via the built-in
    regr_* aggregate family (one pass, mergeable partials): the
    distributed closed-form fit, no iteration."""
    t = load_tables(spark, sf_dir)
    x = (F.floor(F.unix_timestamp("ts")).cast("long") / F.lit(86400.0))
    staged = t.events.select(
        "event_type", x.alias("__x"), F.col("value").alias("__y")
    )
    out = inference.grouped_regression(staged, "event_type", "__x", "__y")
    return out.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.round("slope", 6).alias("slope"),
        F.round("intercept", 2).alias("intercept"),
        F.round("r2", 6).alias("r2"),
    ).orderBy("event_type")


def op_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence of documents.lang × documents.source:
    one contingency count pass, marginals as window sums over the tiny
    cell frame, χ² = Σ (o−e)²/e with closed-form dof."""
    t = load_tables(spark, sf_dir)
    out = inference.chisq_report(t.documents, "lang", "source")
    return out.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.col("n_cells").cast("long").alias("n_cells"),
        F.col("n_total").cast("long").alias("n_total"),
        "chisq",
        F.col("dof").cast("long").alias("dof"),
    )


def op_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-absolute-deviation outlier counts per event_type — the
    robust twin of op_zscore_anomalies (immune to the outliers
    themselves): two exact-percentile passes + a flagging projection."""
    t = load_tables(spark, sf_dir)
    return inference.mad_outliers(t.events, "event_type", "value", 3.0)


def op_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit distribution of o_totalprice vs
    Benford's law (fraud/corruption smell test). Digit from the
    integer rendering — no log10 FP edge at powers of ten."""
    t = load_tables(spark, sf_dir)
    return inference.benford_digits(t.orders, "o_totalprice")


def op_downsample_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinMax viz downsampling: 20 equal time buckets per user (users
    0-9), keeping the min- and max-value point of each — the
    shuffle-once two-window form (no LTTB sequential dependence)."""
    t = load_tables(spark, sf_dir)
    out = timeseries.downsample_minmax(
        t.events.where(F.col("user_id") < 10), "user_id", "ts", "value",
        n_buckets=20,
    )
    return (
        out.select(
            "user_id",
            "bucket_idx",
            "kind",
            F.round("value", 4).alias("value"),
        )
        .orderBy("user_id", "bucket_idx", "kind")
        .limit(500)
    )


def op_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlations of the four lineitem numeric
    columns in ONE aggregate pass (six corr aggregates share the scan
    and the partial-agg shuffle)."""
    out = inference.corr_matrix(
        load_tables(spark, sf_dir).lineitem,
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
    )
    return out.select(
        "col_a", "col_b", F.round("corr_ab", 6).alias("corr_ab")
    ).orderBy("col_a", "col_b")


def op_id_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Missing-range audit over a deterministically thinned orderkey
    sequence (every 7th key dropped): anti-join boundary detection —
    no global sort of the id set."""
    t = load_tables(spark, sf_dir)
    thinned = t.orders.where(F.col("o_orderkey") % 7 != 0)
    return (
        profile.sequence_gaps(thinned, "o_orderkey")
        .orderBy("gap_start")
        .limit(300)
    )


def op_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test: users split into variants by user_id
    parity; success = the user ever made a purchase above 150 (a
    mid-range rate at every sf — "ever purchased" saturates to 1.0 on
    this corpus and degenerates the SE). Exact per-variant counts +
    the pooled-SE z statistic in one pass over the per-user frame."""
    t = load_tables(spark, sf_dir)
    per_user = t.events.groupBy("user_id").agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("value") > 150.0),
                1,
            ).otherwise(0)
        ).alias("__succ")
    )
    return inference.two_proportion_ztest(
        per_user, F.col("user_id") % 2, F.col("__succ") == 1
    )


def op_abc_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto/ABC revenue-concentration classes over parts (cumulative
    share of summed l_extendedprice, A ≤ 80% ≤ B ≤ 95% < C)."""
    t = load_tables(spark, sf_dir)
    return (
        profile.abc_classification(
            t.lineitem, "l_partkey", "l_extendedprice"
        )
        .orderBy(F.col("total_w").desc(), "l_partkey")
        .limit(200)
    )


def op_semantic_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space decontamination: corpus vectors flagged by max
    cosine against the held-out benchmark slice (vec_id % 97 == 0) —
    catches paraphrased leaks the n-gram pass (op_decontaminate)
    structurally misses. Bench broadcasts; corpus read once."""
    t = load_tables(spark, sf_dir)
    bench = t.embeddings.where(F.col("vec_id") % 97 == 0)
    corpus = t.embeddings.where(F.col("vec_id") % 97 != 0)
    return (
        similarity.semantic_decontaminate(corpus, bench, threshold=0.9)
        .orderBy("id")
        .limit(300)
    )


def op_token_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language (BPE tokens per word — the
    multilingual-fairness metric: high-fertility languages pay more
    compute per word). Reuses the trained merges; counts aggregate
    from the same distributed application as op_bpe_tokenize."""
    from . import tokenize

    t = load_tables(spark, sf_dir)
    merges = tokenize.train_bpe(
        tokenize.word_counts_from_parquet(sf_dir), n_merges=40
    )
    counts = tokenize.bpe_token_counts(t.documents, "doc_id", "text", merges)
    return (
        counts.join(
            t.documents.select(F.col("doc_id").alias("id"), "lang"), "id"
        )
        .groupBy("lang")
        .agg(
            F.sum("n_words").alias("n_words"),
            F.sum("n_tokens").alias("n_tokens"),
            F.round(
                F.sum("n_tokens").cast("double")
                / F.sum("n_words").cast("double"),
                4,
            ).alias("fertility"),
        )
        .orderBy("lang")
    )


def op_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank from customer-nodes {0, 2, 4} over the
    bipartite customer↔supplier order graph: proximity-to-sources
    ranking (related-entity retrieval), teleport mass returning to the
    source set."""
    t = load_tables(spark, sf_dir)
    pairs = (
        t.orders.join(
            t.lineitem, t.orders.o_orderkey == t.lineitem.l_orderkey
        )
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    sym = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("src"), F.col("dst")),
                F.struct(
                    F.col("dst").alias("src"), F.col("src").alias("dst")
                ),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    # same bipartite even/odd construction as op_pagerank: one explode
    # pass is disjoint-distinct and symmetric by design (a self-union
    # would evaluate the orders⋈lineitem+distinct subtree twice)
    out = graph.personalized_pagerank(
        sym, [0, 2, 4], iters=3, edges_distinct=True, symmetric=True
    )
    return (
        out.select("node", F.round("rank", 6).alias("rank"))
        .orderBy("node")
        .limit(200)
    )


def op_seasonal_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-adjusted anomalies: z-scores against the (event_type
    × hour-of-day) profile instead of the global mean — a 3 a.m. burst
    is judged against 3 a.m. behavior, so daily rhythm stops producing
    false positives (the flaw in plain op_zscore_anomalies that this
    op exists to fix). Profile stats broadcast back; one corpus pass."""
    t = load_tables(spark, sf_dir)
    hod = F.hour("ts").alias("hod")
    staged = t.events.select(
        "event_id", "event_type", hod, F.col("value")
    )
    prof = staged.groupBy("event_type", "hod").agg(
        F.avg("value").alias("__mu"),
        F.stddev_pop("value").alias("__sd"),
    )
    z = (F.col("value") - F.col("__mu")) / F.col("__sd")
    return (
        staged.join(F.broadcast(prof), ["event_type", "hod"])
        .where(F.col("__sd") > 0)
        .select(
            "event_id",
            "event_type",
            F.col("hod").cast("long").alias("hod"),
            F.round(z, 4).alias("z"),
        )
        .where(F.abs(F.round(z, 4)) >= 3.0)
        .orderBy("event_id")
        .limit(300)
    )


def op_ref_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table referential-integrity audit: orphan counts per FK
    relationship via anti-join — one fact pass each; TRUE dims are
    broadcast, but the fact-to-fact check (lineitem->orders) must NOT
    be force-broadcast (orders is billions of rows at scale; a hard
    hint would collect it on the driver), so it shuffles. A thinned
    customer dim (every 50th key dropped) plants real orphans so the
    non-zero path is exercised on this corpus."""
    t = load_tables(spark, sf_dir)
    thin_cust = t.customer.where(F.col("c_custkey") % 50 != 0)
    checks = [
        ("orders->customer(thinned)", t.orders, "o_custkey",
         thin_cust, "c_custkey", True),
        ("lineitem->orders", t.lineitem, "l_orderkey",
         t.orders, "o_orderkey", False),
        ("lineitem->part", t.lineitem, "l_partkey",
         t.part, "p_partkey", True),
        ("lineitem->supplier", t.lineitem, "l_suppkey",
         t.supplier, "s_suppkey", True),
    ]
    out = None
    for label, fact, fk, dim, pk, is_dim in checks:
        keys = dim.select(F.col(pk).alias(fk))
        part = fact.join(
            F.broadcast(keys) if is_dim else keys, fk, "left_anti"
        ).agg(
            F.lit(label).alias("relationship"),
            F.count(F.lit(1)).alias("n_orphans"),
        )
        out = part if out is None else out.unionByName(part)
    return out.orderBy("relationship")


def op_funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert percentiles: per user, first 'view' to first
    LATER 'purchase'; exact p50/p90 latency + conversion counts in one
    report row — the funnel-depth readout op_funnel's step times feed."""
    t = load_tables(spark, sf_dir)
    lat = funnel.conversion_latency(t.events).select(
        "user_id",
        F.col("lat_s").alias("__lat_s"),
        F.col("viewed").alias("__viewed"),
        F.col("converted").alias("__converted"),
    )
    return lat.agg(
        F.sum(F.col("__viewed").cast("int")).alias("n_viewed"),
        F.sum(F.col("__converted").cast("int")).alias("n_converted"),
        F.round(
            F.percentile(
                F.when(F.col("__converted"), F.col("__lat_s")), F.lit(0.5)
            ),
            2,
        ).alias("p50_latency_s"),
        F.round(
            F.percentile(
                F.when(F.col("__converted"), F.col("__lat_s")), F.lit(0.9)
            ),
            2,
        ).alias("p90_latency_s"),
    )


def op_topk_with_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ties-kept top-k (dense_rank ≤ 3): the three highest rounded
    order totals per priority, KEEPING every order that shares a
    winning value — the WITH TIES semantics row_number-based top-k
    (q15) silently breaks."""
    from pyspark.sql import Window

    t = load_tables(spark, sf_dir)
    price = F.round((F.col("o_totalprice") / 1000).cast("double"), 0)
    w = Window.partitionBy("o_orderpriority").orderBy(
        price.desc()
    )
    return (
        t.orders.withColumn("__band", price)
        .withColumn("__r", F.dense_rank().over(w))
        .where(F.col("__r") <= 3)
        .select(
            "o_orderpriority",
            F.col("__band").alias("price_band"),
            F.col("__r").cast("long").alias("rnk"),
            "o_orderkey",
        )
        .orderBy("o_orderpriority", "rnk", "o_orderkey")
    )


def op_generator_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generator-function breadth: sequence() ranges exploded to rows
    and stack() wide→long pivoting — the row-producing expressions
    (complement of the agg/window families)."""
    t = load_tables(spark, sf_dir)
    seqs = t.nation.select(
        "n_nationkey",
        F.lit("seq").alias("kind"),
        F.explode(
            F.sequence(F.lit(0), F.col("n_nationkey") % 4)
        ).alias("__v"),
    ).select(
        "n_nationkey", "kind", F.col("__v").cast("long").alias("val")
    )
    stacked = t.nation.select(
        "n_nationkey",
        F.expr(
            "stack(2, 'key', CAST(n_nationkey AS BIGINT), "
            "'region', CAST(n_regionkey AS BIGINT))"
        ).alias("kind", "val"),
    )
    return (
        seqs.unionByName(stacked)
        .orderBy("n_nationkey", "kind", "val")
    )


def op_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT mergeable distinct-user rollup via bitmap aggregates (the
    no-error sibling of op_hll_rollup): per-event_type counts AND the
    all-types rollup both come from ONE bitmap partial table — raw
    events read once; the oracle recomputes both with plain
    count(DISTINCT), so the hash attests bitmap merge exactness."""
    t = load_tables(spark, sf_dir)
    bm = sketches.bitmap_rollup(t.events, "user_id", ["event_type"])
    fine = sketches.bitmap_distinct(bm, ["event_type"])
    overall = sketches.bitmap_distinct(
        bm.withColumn("event_type", F.lit("__all__")), ["event_type"]
    )
    return fine.unionByName(overall).orderBy("event_type")


def op_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown double-exponential trend forecast per user (two stacked
    EWMA folds over a trailing frame — the decomposition that keeps
    Holt-style smoothing a pure codegen window expression).

    Attested tie-safely: with α=0.5 the fold is pure IEEE ``*``/``+``
    (bit-identical across engines), so the hashed columns are exact
    fixed-point BIGINTs ``floor(x·2^20)`` — no ``round(double, d)``
    boundary for a different engine build to land on (the r8 driver
    flake was exactly such a 6th-decimal tie)."""
    t = load_tables(spark, sf_dir)
    out = timeseries.double_exponential_forecast(
        t.events.where(F.col("user_id") < 10),
        "user_id",
        "ts",
        "value",
        alpha=0.5,
        window_rows=8,
        horizon=1,
        order_cols=["event_id"],
        quantize_pow2=20,
    )
    return (
        out.select(
            "user_id",
            "ts",
            F.floor(F.col("value") * F.lit(float(2**20))).alias(
                "value_fp"
            ),
            "s1_fp",
            "s2_fp",
            "forecast_fp",
        )
        .orderBy("user_id", "ts")
        .limit(300)
    )


def op_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-20 rolling correlation of value vs event time per user
    (regime-change / decoupling detection); corr is a native window
    aggregate in both engines."""
    t = load_tables(spark, sf_dir)
    epoch = F.floor(F.unix_timestamp("ts")).cast("long").cast("double")
    out = timeseries.rolling_corr(
        t.events.where(F.col("user_id") < 10),
        "user_id",
        "ts",
        F.col("value"),
        epoch,
        window_rows=20,
        order_cols=["event_id"],
    )
    return out.orderBy("user_id", "ts").limit(300)


def op_seasonal_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest: hourly bucket means predicted
    by the value 24 buckets earlier, MAE per event_type — the baseline
    every forecaster must beat, and a drift alarm when it jumps."""
    t = load_tables(spark, sf_dir)
    return timeseries.seasonal_baseline_mae(
        t.events, "event_type", "ts", "value", bucket="hour", season=24
    )


def op_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization (web-corpus dedup prerequisite):
    deterministic messy URLs synthesized around doc ids — uppercase
    scheme/host, tracking params, session ids, fragments, trailing
    slashes — normalized by the one-pass parse_url expression chain.
    The oracle derives the expected canonical form independently from
    the same id arithmetic, so the hash attests the whole
    normalization pipeline (case, param filtering, slash and fragment
    handling) value-by-value."""
    t = load_tables(spark, sf_dir)
    messy = F.concat(
        F.lit("HTTPS://Example"),
        (F.col("doc_id") % 3).cast("string"),
        F.lit(".COM/path"),
        (F.col("doc_id") % 5).cast("string"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("/")).otherwise(F.lit("")),
        F.lit("?utm_source=news&id="),
        (F.col("doc_id") % 10).cast("string"),
        F.lit("&sessionid=abc#frag"),
    )
    return (
        t.documents.select(
            "doc_id", textfn.normalize_url(messy).alias("canon_url")
        )
        .orderBy("doc_id")
        .limit(200)
    )


def op_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened (α = 0.5) mixture sample: per-lang quotas
    ∝ sqrt(count) — data-derived weights, low-resource languages
    upweighted vs proportional sampling."""
    t = load_tables(spark, sf_dir)
    return (
        curation.temperature_mixture(
            t.documents.select("doc_id", "lang"), "lang", 200, "doc_id"
        )
        .select("doc_id", "lang")
        .orderBy("lang", "doc_id")
    )


def op_bigram_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM quality score (context-aware sibling of
    op_unigram_logprob): mean log P(w|prev) with add-half smoothing;
    word salads score low even when every word is common."""
    t = load_tables(spark, sf_dir)
    out = curation.bigram_logprob_score(t.documents)
    return (
        out.select(
            "id",
            F.col("n_bigrams").cast("long").alias("n_bigrams"),
            F.round("score", 4).alias("score"),
        )
        .orderBy("id")
        .limit(200)
    )


def op_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition (k=12) of the deterministic orders-derived
    graph (mod 300): iterative peel to the unique fixpoint, attested
    against an unrolled-rounds SQL twin."""
    t = load_tables(spark, sf_dir)
    edges = t.orders.select(
        (F.col("o_custkey") % 300).alias("src"),
        (F.col("o_orderkey") % 300).alias("dst"),
    )
    return graph.kcore(edges, k=12).orderBy("node")


def op_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL BPE subword tokenization (trained merges, greedy
    lowest-rank inference) applied distributed via Arrow-batched
    mapInPandas — the genuinely-sequential-per-word op Catalyst can't
    express. Merges are engine-independent model parameters (pure
    Python over the parquet word counts), so the oracle attests the
    distributed application against an independent reference
    tokenization word-for-word."""
    from . import tokenize

    t = load_tables(spark, sf_dir)
    merges = tokenize.train_bpe(
        tokenize.word_counts_from_parquet(sf_dir), n_merges=40
    )
    out = tokenize.bpe_token_counts(t.documents, "doc_id", "text", merges)
    return (
        out.select(
            F.col("id").alias("doc_id"), "n_words", "n_tokens", "roundtrip_ok"
        )
        .orderBy("doc_id")
        .limit(200)
    )


def op_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram (20 bins) of lineitem extended price with
    data-derived bounds: the min/max ride a broadcast 1-row aggregate
    (two scans total — bounds, then one binning pass with map-side
    partial agg; no sort, no sampling)."""
    t = load_tables(spark, sf_dir)
    n_bins = 20
    bounds = t.lineitem.agg(
        F.min("l_extendedprice").alias("__lo"),
        F.max("l_extendedprice").alias("__hi"),
    )
    w = (F.col("__hi") - F.col("__lo")) / F.lit(float(n_bins))
    binned = t.lineitem.select("l_extendedprice").join(
        F.broadcast(bounds)
    ).select(
        F.least(
            F.floor((F.col("l_extendedprice") - F.col("__lo")) / w),
            F.lit(n_bins - 1),
        ).alias("bin_idx"),
        "__lo",
        "__hi",
    )
    # recompute edges from the bin index so they are pure arithmetic of
    # the broadcast bounds (identical in the oracle)
    wd = (F.col("__hi") - F.col("__lo")) / F.lit(float(n_bins))
    return (
        binned.groupBy("bin_idx", "__lo", "__hi")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "bin_idx",
            F.round(F.col("__lo") + F.col("bin_idx") * wd, 4).alias("lo"),
            F.round(
                F.col("__lo") + (F.col("bin_idx") + 1) * wd, 4
            ).alias("hi"),
            "cnt",
        )
        .orderBy("bin_idx")
    )


def op_transition_probs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event-type
    sequences: P(next | prev) from lag pairs (deterministic (ts,
    event_id) ordering), normalized by a window sum over the tiny
    pair-count frame — the behavioral-model readout op_top_paths'
    raw paths feed."""
    from pyspark.sql import Window

    t = load_tables(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        t.events.withColumn("__prev", F.lag("event_type").over(w))
        .where(F.col("__prev").isNotNull())
        .groupBy(
            F.col("__prev").alias("prev_type"),
            F.col("event_type").alias("next_type"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = Window.partitionBy("prev_type")
    return pairs.select(
        "prev_type",
        "next_type",
        "n",
        F.round(
            F.col("n").cast("double") / F.sum("n").over(tot).cast("double"),
            6,
        ).alias("p"),
    ).orderBy("prev_type", "next_type")


def op_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov: D = max |ECDF_a - ECDF_b| of
    event values between user-parity variants (op_ab_test's
    distribution-level sibling — detects shape drift a mean test
    misses). Values quantized to 0.1 so the cumulative window runs
    over the SMALL distinct-value frame, not a global row sort; counts
    stay exact integers until the two ECDF divisions."""
    from pyspark.sql import Window

    t = load_tables(spark, sf_dir)
    # floor quantization, not round(…, 1): floor on a double is exact
    # in every engine, while half-case decimal rounding splits them
    labeled = t.events.select(
        (F.floor(F.col("value") * 10) / 10.0).alias("v"),
        (F.col("user_id") % 2 == 0).alias("__is_a"),
    )
    per_v = labeled.groupBy("v").agg(
        F.sum(F.when(F.col("__is_a"), 1).otherwise(0)).alias("ca"),
        F.sum(F.when(~F.col("__is_a"), 1).otherwise(0)).alias("cb"),
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    tot = Window.partitionBy()
    cum = per_v.select(
        "v",
        F.sum("ca").over(w).alias("cum_a"),
        F.sum("cb").over(w).alias("cum_b"),
        F.sum("ca").over(tot).alias("n_a"),
        F.sum("cb").over(tot).alias("n_b"),
    )
    gap = F.abs(
        F.col("cum_a").cast("double") / F.col("n_a").cast("double")
        - F.col("cum_b").cast("double") / F.col("n_b").cast("double")
    )
    return (
        cum.select("v", "n_a", "n_b", gap.alias("__gap"))
        .orderBy(F.col("__gap").desc(), F.col("v").asc())
        .limit(1)
        .select(
            "n_a",
            "n_b",
            F.round("__gap", 6).alias("d_stat"),
            F.col("v").alias("at_value"),
        )
    )


def op_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini concentration of customer lifetime revenue within each
    market segment (inequality audit — how concentrated is spend in a
    few whales). Customers with NO orders count as zero-revenue
    members (a left join from the customer dim — dropping them would
    understate exactly the concentration being audited). Revenue is
    exact integer cents, so the rank-formula weighted sum is
    engine-exact until the final division.
    Reference analog: none (net-new analytics surface)."""
    t = load_tables(spark, sf_dir)
    rev = t.orders.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias(
            "rev_cents"
        )
    )
    per_cust = (
        t.customer.select("c_custkey", "c_mktsegment")
        .join(rev, F.col("c_custkey") == rev.o_custkey, "left")
        .select(
            "c_mktsegment",
            "c_custkey",
            F.coalesce("rev_cents", F.lit(0)).alias("rev_cents"),
        )
    )
    return (
        inference.gini_by_group(
            per_cust, "c_mktsegment", "rev_cents", "c_custkey"
        )
        .select(
            "c_mktsegment",
            F.col("n").alias("n_customers"),
            F.col("total").alias("total_cents"),
            "gini",
        )
        .orderBy("c_mktsegment")
    )


def op_theil(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T index of customer lifetime revenue per market segment —
    op_gini's additively decomposable sibling, and a fraction of its
    cost: ONE aggregate pass (3 mergeable partials), no rank window."""
    t = load_tables(spark, sf_dir)
    rev = t.orders.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias(
            "rev_cents"
        )
    )
    per_cust = rev.join(
        t.customer.select("c_custkey", "c_mktsegment"),
        rev.o_custkey == F.col("c_custkey"),
    )
    return (
        inference.theil_by_group(per_cust, "c_mktsegment", "rev_cents")
        .select("c_mktsegment", F.col("n").alias("n_customers"), "theil")
        .orderBy("c_mktsegment")
    )


def op_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency/frequency/monetary) segmentation of the customer
    base from the orders fact, quartile-scored with deterministic
    tie-breaks and rolled up to one row per segment code."""
    t = load_tables(spark, sf_dir)
    return profile.rfm_segments(t.orders).orderBy("segment")


def op_pareto_front(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand Pareto frontier of parts: maximize retail price,
    minimize size — the window-only skyline (dense-rank + running min
    over strictly-better ranks), no self-join, no all-pairs."""
    t = load_tables(spark, sf_dir)
    return (
        profile.pareto_front(t.part, "p_brand", "p_retailprice", "p_size")
        .select(
            "p_brand",
            "p_partkey",
            F.round("p_retailprice", 2).alias("p_retailprice"),
            "p_size",
        )
        .orderBy("p_brand", F.col("p_retailprice").desc(), "p_partkey")
        .limit(400)
    )


def op_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character-distribution Shannon entropy over a-z
    (corpus-quality signal: ~0 = degenerate repetition). Pure
    length/replace projection — no explode, no shuffle (width-guarded:
    52 string scans per row is the kind of per-row weight a 1-file
    scan would run on one core). The empty-doc filter is the CHEAP
    exactly-equivalent predicate ``lower(text) rlike '[a-z]'``
    (n_letters counts a–z occurrences in lower(text), so n_letters > 0
    iff that class matches): filtering on n_letters itself makes
    Catalyst push a full copy of the 26-letter expression tree below
    the projection and every row pays it twice."""
    from .width import ensure_wide

    t = load_tables(spark, sf_dir)
    n_letters, ent = text.char_entropy_col("text")
    return (
        ensure_wide(t.documents, "doc_id")
        .where(F.lower(F.col("text")).rlike("[a-z]"))
        .select(
            "doc_id",
            n_letters.alias("n_letters"),
            F.round(ent, 4).alias("entropy_bits"),
        )
        .orderBy("doc_id")
        .limit(200)
    )


def op_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document: word / sentence-run /
    vowel-group-syllable counts are three regexp_count projections
    over the scan — zero shuffles, whole-stage codegen (see
    ``text.with_readability``)."""
    t = load_tables(spark, sf_dir)
    return (
        text.with_readability(
            t.documents.select("doc_id", "text"), quantize_pow2=20
        )
        .drop("text")
        .orderBy("doc_id")
        .limit(300)
    )


def op_ttr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-token ratio + hapax fraction per document (lexical
    diversity — the template-spam signal): explode → (doc, token)
    count → per-doc re-agg, both map-side combinable."""
    t = load_tables(spark, sf_dir)
    return (
        text.type_token_stats(t.documents, quantize_pow2=20)
        .orderBy("id")
        .limit(300)
    )


def op_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of each event_type's value series at lags 1-3
    (white-noise vs seasonality triage): one Window shuffle makes all
    lag columns, one grouped pass computes every corr."""
    t = load_tables(spark, sf_dir)
    return timeseries.autocorrelation(
        t.events, "event_type", "ts", "value", "event_id", max_lag=3
    ).orderBy("event_type")


def op_group_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user Shannon entropy over event types (behavioral
    diversity): two map-side-combinable aggregates via the
    ``log2(n) − Σ c·log2(c)/n`` identity — no join-back, no window."""
    t = load_tables(spark, sf_dir)
    return (
        profile.group_entropy(t.events, "user_id", "event_type")
        .orderBy("user_id")
        .limit(300)
    )


def op_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-distribution histogram of the orders-derived graph
    (edges (o_custkey%300, o_orderkey%300), the ``op_kcore`` graph) —
    the hub/power-law diagnostic that decides salting strategy for
    the join-based graph ops."""
    t = load_tables(spark, sf_dir)
    edges = t.orders.select(
        (F.col("o_custkey") % 300).alias("src"),
        (F.col("o_orderkey") % 300).alias("dst"),
    )
    return graph.degree_stats(edges)


def op_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed-edge reciprocity of the (o_custkey%40 → o_orderkey%40)
    graph: one-row summary via a self semi-join on the distinct edge
    set."""
    t = load_tables(spark, sf_dir)
    edges = t.orders.select(
        (F.col("o_custkey") % 40).alias("src"),
        (F.col("o_orderkey") % 40).alias("dst"),
    )
    return graph.reciprocity(edges)


def op_xcorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead-lag cross-correlation between the hourly view and purchase
    rates at lags -3..+3 h (does one metric foreshadow the other?):
    dense hour spine, one ordered window over it, one corr pass."""
    t = load_tables(spark, sf_dir)
    return timeseries.hourly_cross_correlation(
        t.events, "ts", "event_type", "view", "purchase", max_lag=3
    )


def op_distinctive_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Characteristic vocabulary per source slice (c-TF-IDF): top-5
    tokens per source by within-group frequency weighted against
    cross-group spread — the corpus-slice profile read before mixing
    decisions."""
    t = load_tables(spark, sf_dir)
    return curation.distinctive_terms(
        t.documents, "source", "text", "doc_id", k=5, min_count=3
    ).orderBy("source", "rank")


def op_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient over the op_triangle_count graph
    (%40): triangles per node / C(deg, 2) — cliqueness per node."""
    t = load_tables(spark, sf_dir)
    edges = t.orders.select(
        (F.col("o_custkey") % 40).alias("src"),
        (F.col("o_orderkey") % 40).alias("dst"),
    )
    return graph.clustering_coefficient(edges).orderBy("node")


def op_seasonality_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance share of each event_type's hourly rate explained by
    its hour-of-day profile (ANOVA decomposition) — the triage that
    decides plain vs seasonal anomaly baselines."""
    t = load_tables(spark, sf_dir)
    return timeseries.seasonality_strength(t.events, "event_type", "ts")


def op_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goh-Barabási burstiness of per-user inter-event gaps
    (B = (σ−μ)/(σ+μ): −1 periodic, 0 Poisson, →1 bursty) — bot-vs-
    human cadence profiling."""
    t = load_tables(spark, sf_dir)
    return (
        timeseries.burstiness(t.events, "user_id", "ts", "event_id")
        .limit(300)
    )


def op_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best mean-shift changepoint per event_type over the hourly
    rate (binary segmentation's scoring split) — argmax on the
    rounded two-sample statistic with an hour tiebreak."""
    t = load_tables(spark, sf_dir)
    return timeseries.mean_shift_changepoint(t.events, "event_type", "ts")


def op_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """20 vectors farthest from the corpus centroid (lowest cosine) —
    the embedding-space junk screen before semantic dedup."""
    t = load_tables(spark, sf_dir)
    return similarity.embedding_outliers(
        t.embeddings, "embedding", "vec_id", k=20
    )


def op_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood near-miss pairs over part names (window 3,
    Levenshtein ≤ 3) — the linear-candidate blocking complement to
    the delete-variant fuzzy join."""
    t = load_tables(spark, sf_dir)
    return (
        linkage.sorted_neighborhood_pairs(
            t.part.select("p_name"), "p_name", window=3, max_distance=3
        )
        .orderBy("name_a", "name_b")
        .limit(300)
    )


def op_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive STL-lite decomposition (trend = centered 24h MA,
    seasonal = hour-of-day mean of the detrended series, residual) of
    the purchase stream's hourly rate — what anomaly thresholds should
    watch instead of raw counts. Attested via the interior-seasonal
    exact-integer spelling (see ``seasonal_decompose_hourly``): every
    component is exact integers + one final IEEE division, so the
    doubles are bit-identical cross-engine and carry no rounding-tie
    surface (tie_audit warned on the float-fold spelling at sf0.1)."""
    t = load_tables(spark, sf_dir)
    return (
        timeseries.seasonal_decompose_hourly(
            t.events.where(F.col("event_type") == "purchase"),
            "event_type",
            "ts",
            trend_window=24,
            interior_seasonal=True,
        )
        .limit(300)
    )


def op_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard overlap between every event-type pair's user audiences
    (distinct (type, user) self-join on the user key — never pairwise
    at the user level)."""
    t = load_tables(spark, sf_dir)
    return funnel.audience_overlap(t.events, "user_id", "event_type")


def op_power_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 80/20 report: how few users produce 50% / 80% of all
    events — heaviest-first cumulative share over the per-user count
    frame."""
    t = load_tables(spark, sf_dir)
    return funnel.power_user_concentration(
        t.events, "user_id", thresholds=(0.5, 0.8)
    )


def op_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman concentration of order revenue per region:
    Σ share² over each region's customer-nation shares (10000 × the
    share-of-revenue form) — the market-concentration twin of Gini,
    one grouped aggregate over the (region, nation) revenue frame."""
    from pyspark.sql import Window

    t = load_tables(spark, sf_dir)
    rev = (
        t.orders.join(t.customer, t.orders.o_custkey == t.customer.c_custkey)
        .join(
            F.broadcast(t.nation),
            t.customer.c_nationkey == t.nation.n_nationkey,
        )
        .join(
            F.broadcast(t.region),
            t.nation.n_regionkey == t.region.r_regionkey,
        )
        .groupBy("r_name", "n_name")
        .agg(F.sum("o_totalprice").alias("rev"))
    )
    tot = Window.partitionBy("r_name")
    share = F.col("rev") / F.sum("rev").over(tot)
    return (
        rev.select("r_name", "n_name", share.alias("__s"))
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nations"),
            F.round(F.sum(F.col("__s") * F.col("__s")) * 10000, 2).alias(
                "hhi"
            ),
        )
        .orderBy("r_name")
    )


def op_peak_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local peaks in each event_type's hourly rate: hours strictly
    higher than both neighbors AND above the series mean + 1σ — the
    spike report behind alerting thresholds. One windowed pass over
    the DENSE hourly frame (silent hours are zeros — a spike next to
    a gap must compare against 0, not against whatever hour sorts
    next) + a broadcast of per-key stats."""
    from pyspark.sql import Window

    t = load_tables(spark, sf_dir)
    hourly = timeseries.dense_hourly_counts(t.events, "event_type", "ts")
    w = Window.partitionBy("event_type").orderBy("h")
    stats = hourly.groupBy("event_type").agg(
        F.avg("c").alias("__mu"), F.stddev_samp("c").alias("__sd")
    )
    flagged = (
        hourly.select(
            "event_type",
            "h",
            "c",
            F.lag("c").over(w).alias("__prev"),
            F.lead("c").over(w).alias("__next"),
        )
        .join(F.broadcast(stats), "event_type")
        .where(
            (F.col("c") > F.col("__prev"))
            & (F.col("c") > F.col("__next"))
            & (F.col("c") > F.col("__mu") + F.col("__sd"))
        )
    )
    return flagged.select(
        "event_type",
        F.col("h").alias("peak_hour"),
        F.col("c").cast("bigint").alias("n_events"),
        F.round((F.col("c") - F.col("__mu")) / F.col("__sd"), 4).alias(
            "sigmas"
        ),
    ).orderBy("event_type", "peak_hour")


def op_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED-adjusted A/B effect on per-user mean event value: first
    half of the observation window is the pre-period covariate, user
    parity the variant — same expected effect as the raw diff with
    the pre-period variance removed."""
    t = load_tables(spark, sf_dir)
    return inference.cuped_effect(
        t.events.select(
            "user_id", "ts", "value", (F.col("user_id") % 2).alias("v")
        ),
        "user_id",
        "ts",
        "value",
        "v",
        split_ts="2024-01-16 00:00:00",
    )


def op_srm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio mismatch check for the user-parity A/B assignment:
    chi-square goodness-of-fit of observed variant USER counts vs the
    designed 50/50 split — the experiment-health gate run before any
    treatment metric is read (an SRM means the assignment itself is
    broken and every downstream test is invalid)."""
    t = load_tables(spark, sf_dir)
    users = t.events.select(
        "user_id", (F.col("user_id") % 2).alias("grp")
    ).distinct()
    agg = users.agg(
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n0"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n1"),
    )
    n0, n1 = F.col("n0").cast("double"), F.col("n1").cast("double")
    n = n0 + n1
    exp = n / 2.0
    chisq = (n0 - exp) * (n0 - exp) / exp + (n1 - exp) * (n1 - exp) / exp
    return agg.select(
        "n0",
        "n1",
        F.round(chisq, 6).alias("chisq"),
        # 3.841 = chi-square(1 dof) critical value at alpha = 0.05
        (chisq > 3.841).alias("srm_detected"),
    )


def op_mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (normal approx, tie-corrected) between user-
    parity variants on event values — the nonparametric sibling of
    op_ab_test, derived from the distinct-value sweep (no global
    rank)."""
    t = load_tables(spark, sf_dir)
    return inference.mann_whitney_u(
        t.events.select("value", (F.col("user_id") % 2).alias("grp")),
        "value",
        "grp",
    )


def op_cohens_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's d effect size between the same variants — magnitude,
    not significance."""
    t = load_tables(spark, sf_dir)
    return inference.cohens_d(
        t.events.select("value", (F.col("user_id") % 2).alias("grp")),
        "value",
        "grp",
    )


def op_activity_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week × hour activity heat-grid with each cell's share of
    all events — the calendar profile behind staffing/capacity and the
    seasonal baselines. One grouped count + a broadcast total."""
    t = load_tables(spark, sf_dir)
    cell = t.events.groupBy(
        F.dayofweek("ts").alias("dow"), F.hour("ts").alias("hod")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    total = cell.agg(F.sum("n").alias("n_total"))
    return (
        cell.crossJoin(F.broadcast(total))
        .select(
            "dow",
            "hod",
            "n",
            F.round(F.col("n") / F.col("n_total"), 6).alias("share"),
        )
        .orderBy("dow", "hod")
    )


def op_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier time-to-conversion survival curve (view →
    purchase), right-censoring non-converters at observation end —
    the unbiased complement to the funnel latency percentiles."""
    t = load_tables(spark, sf_dir)
    return funnel.kaplan_meier(t.events).limit(300)


def op_weighted_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact weighted quantiles per event_type (inverse weighted CDF
    over the distinct-value frame) with a deterministic synthetic
    weight — the estimator mixture-reweighted corpora need."""
    from . import grouped

    t = load_tables(spark, sf_dir)
    weighted = t.events.select(
        "event_type",
        "value",
        (F.col("event_id") % 5 + 1).cast("double").alias("wt"),
    )
    return grouped.weighted_quantiles(
        weighted, "event_type", "value", "wt", quantiles=(0.25, 0.5, 0.9)
    )


def op_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct l-diversity audit over (lang, source) quasi-groups
    with a derived sensitive attribute — the leak check k-anonymity
    alone misses."""
    t = load_tables(spark, sf_dir)
    return privacy.l_diversity_stats(
        t.documents.select(
            "lang", "source", (F.col("n_chars") % 7).alias("sens")
        ),
        ["lang", "source"],
        "sens",
        l=3,
    )


def op_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch point queries vs exact per-user counts, FULLY
    hash-attested: the sketch uses the portable md5 hash family, so
    the oracle rebuilds the identical depth×width counter grid in SQL
    and the never-undercount guarantee rides along as a column."""
    t = load_tables(spark, sf_dir)
    sk = sketches.countmin_counts(t.events, "user_id", depth=4, width=256)
    truec = t.events.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("true_count")
    )
    est = sketches.countmin_estimate(
        sk, truec.select("user_id"), "user_id", depth=4, width=256
    )
    return (
        truec.join(est, "user_id")
        .select(
            "user_id",
            "true_count",
            "cm_estimate",
            (F.col("cm_estimate") >= F.col("true_count")).alias(
                "est_ge_true"
            ),
        )
        .orderBy("user_id")
        .limit(200)
    )


def op_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC AUC of the first embedding coordinate as a scorer
    for (label % 2) — Mann-Whitney over the DISTINCT-score frame (no
    global per-row rank; see ``inference.roc_auc``)."""
    t = load_tables(spark, sf_dir)
    scored = t.embeddings.select(
        F.element_at("embedding", 1).cast("double").alias("score"),
        (F.col("label") % 2).alias("y"),
    )
    return inference.roc_auc(scored, "score", "y")


def op_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile reliability table for the same scorer: mean predicted
    score vs observed positive rate per equal-population bin
    (deterministic ntile tiebreak on vec_id)."""
    t = load_tables(spark, sf_dir)
    scored = t.embeddings.select(
        F.element_at("embedding", 1).cast("double").alias("score"),
        (F.col("label") % 2).alias("y"),
        "vec_id",
    )
    return inference.calibration_table(
        scored, "score", "y", n_bins=10, tiebreak_col="vec_id"
    )


def op_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the orders-derived %300 graph (the
    ``op_kcore``/``op_degree_stats`` graph): do hubs attach to hubs?"""
    t = load_tables(spark, sf_dir)
    edges = t.orders.select(
        (F.col("o_custkey") % 300).alias("src"),
        (F.col("o_orderkey") % 300).alias("dst"),
    )
    return graph.assortativity(edges)


#: The synthetic media frames the multimodal entries decode.
_PAYLOAD_SCHEMA = T.StructType(
    [T.StructField("media_id", T.LongType()), T.StructField("data", T.BinaryType())]
)


def _payload_frame(ids: DataFrame, payload_for) -> DataFrame:
    """``(media_id, data)`` with ``data = payload_for(media_id)``, built
    in a Python stage named after ``payload_for``."""

    def make_row():
        return lambda m: (m, payload_for(m))

    make_row.__name__ = payload_for.__name__
    return map_rows(ids, _PAYLOAD_SCHEMA, make_row)


def op_audio_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-level MP3 ingest (``multimodal.extract_audio_metadata``
    — ISO/IEC 11172-3 frame-header walk + Xing/Info/VBRI stream-info
    headers + ID3, no PCM decode) attested end-to-end: every 7th
    document synthesizes a deterministic MPEG1-Layer-III stream —
    ``doc_id % 14 == 0`` a plain CBR stream (``1 + doc_id % 40``
    frames @ 128 kbps / 44.1 kHz, walker walks every frame),
    ``doc_id % 14 == 7`` a VBR stream (a Xing header frame declaring
    frame/byte totals, then the same count of audio frames
    alternating 128/160 kbps — the walker must take the O(1) header
    path). The closed-form frame/byte arithmetic is the DuckDB
    oracle: duration from the declared frame count, average bitrate
    floor((bytes·8·44100)/(n·1152·1000)) exactly as the walker
    computes it."""
    from . import multimodal

    t = load_tables(spark, sf_dir)
    ids = t.documents.select(F.col("doc_id").alias("media_id")).where(
        F.col("doc_id") % 7 == 0
    )
    # one 417-byte frame: 144 * 128000 / 44100 = 417 (no padding);
    # the 160 kbps sibling: 144 * 160000 / 44100 = 522
    f128 = bytes([0xFF, 0xFB, 0x90, 0x40]) + b"\x00" * 413
    f160 = bytes([0xFF, 0xFB, 0xA0, 0x40]) + b"\x00" * 518

    def _vbr_payload(n: int) -> bytes:
        audio = b"".join(f128 if i % 2 == 0 else f160 for i in range(n))
        xing = bytearray(f128)
        off = 4 + 32  # MPEG1 joint-stereo side info
        xing[off:off + 4] = b"Xing"
        xing[off + 4:off + 8] = (3).to_bytes(4, "big")  # frames+bytes
        xing[off + 8:off + 12] = n.to_bytes(4, "big")
        xing[off + 12:off + 16] = (417 + len(audio)).to_bytes(4, "big")
        return bytes(xing) + audio

    def _mp3_for(m: int) -> bytes:
        return f128 * (1 + m % 40) if m % 14 == 0 else _vbr_payload(1 + m % 40)

    payloads = _payload_frame(ids, _mp3_for)
    return (
        multimodal.extract_audio_metadata(payloads)
        .select(
            "media_id",
            "n_frames",
            "duration_ms",
            "bitrate_kbps",
            "sample_rate",
            "vbr",
            "xing",
        )
        # exchange first: the sort's range-sampling job re-runs its child
        .repartition(spark.sparkContext.defaultParallelism)
        .orderBy("media_id")
    )


def op_audio_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL MP3 PCM decode attested end-to-end (``operators/mp3.py``:
    the bundled pure-numpy ISO/IEC 11172-3 Layer-III codec pair —
    scalefactors, Huffman, requantize, alias butterflies, IMDCT,
    polyphase synthesis): every 13th document synthesizes a
    bin-centered tone (FFT bin ``60 + 28·(doc_id % 30)`` of an
    8192-point spectrum at 44.1 kHz), ENCODES it to a valid
    Layer-III bitstream, DECODES the bytes back to PCM, and
    fingerprints both paths (dominant spectral bin of the decoded
    PCM vs the raw tone). The oracle is the closed form: all three
    bins equal the planted one — if any codec stage shifted or
    dropped the tone, the hash breaks."""
    import numpy as _np

    from . import mp3 as mp3codec

    t = load_tables(spark, sf_dir)
    # the corpus parquet is a handful of files; the codec work is
    # ~50 ms/row of pure Python, so spread rows across every core
    # BEFORE the Python stage (same pattern as media_repartition)
    ids = (
        t.documents.select(F.col("doc_id").alias("media_id"))
        .where(F.col("doc_id") % 13 == 0)
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def mp3_roundtrip_peaks():
        sr, nfft = 44100, 8192
        tt = _np.arange(int(sr * 0.3)) / sr
        win = _np.hanning(nfft)

        def peak(sig):
            seg = sig[4000:4000 + nfft] * win
            return int(_np.argmax(_np.abs(_np.fft.rfft(seg))))

        def row(m):
            bin_k = 60 + 28 * (m % 30)
            x = 0.8 * _np.sin(2 * _np.pi * (bin_k * sr / nfft) * tt)
            y, _sr = mp3codec.decode_mp3(mp3codec.encode_mp3(x, sr))
            return m, bin_k, peak(y), peak(x)

        return row

    schema = long_schema("media_id", "freq_bin", "mp3_peak_bin", "wav_peak_bin")
    return (
        map_rows(ids, schema, mp3_roundtrip_peaks)
        # exchange first: the sort's range-sampling job re-runs its child
        .repartition(spark.sparkContext.defaultParallelism)
        .orderBy("media_id")
    )


def op_audio_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus quarantine-rate probe for the ADR-0001 audio decode
    boundary (``multimodal.audio_quarantine_report`` → exact-count
    rates): every 13th document synthesizes one of four deterministic
    payload classes by ``(doc_id // 13) % 4`` — a RIFF/WAVE PCM file
    (inline), a supported Layer-III stream (``encode_mp3`` tone,
    inline), the SAME stream with granule-0's side-info table_select
    patched to 16 (the honestly-excluded big-values Huffman tables
    16–23 → quarantined, ``unsupported_huffman_table``), and a foreign
    container (OggS magic → quarantined, ``unsupported_format``).
    External rescue is disabled so the verdicts attest the bundled
    boundary itself; the oracle derives the class → (fmt, status,
    reason) mapping and counts from the id arithmetic alone, so the
    hash attests both the classifier and the patched stream really
    exercising the table-16 raise."""
    import numpy as _np

    from . import mp3 as mp3codec
    from . import multimodal

    t = load_tables(spark, sf_dir)
    ids = (
        t.documents.select(F.col("doc_id").alias("media_id"))
        .where(F.col("doc_id") % 13 == 0)
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def audio_class_payload():
        import io
        import wave

        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(2)
            w.setframerate(16000)
            w.writeframes(b"\x00\x01" * 320)
        wav_bytes = buf.getvalue()
        sr = 44100
        tt = _np.arange(int(sr * 0.04)) / sr
        good_mp3 = mp3codec.encode_mp3(
            0.5 * _np.sin(2 * _np.pi * 1000.0 * tt), sr
        )
        bad_mp3 = mp3codec.patch_table_select(good_mp3, 16)
        fixed = (wav_bytes, good_mp3, bad_mp3)

        def row(m):
            cls = (m // 13) % 4
            return m, fixed[cls] if cls < 3 else b"OggS" + bytes([m % 251] * 64)

        return row

    payloads = map_rows(ids, _PAYLOAD_SCHEMA, audio_class_payload)
    report = multimodal.audio_quarantine_report(
        payloads, try_external=False
    )
    return multimodal.quarantine_rates(report)


def op_video_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus quarantine-rate probe for the ADR-0002 video decode
    boundary (``multimodal.video_quarantine_report`` → exact-count
    rates): every 17th document synthesizes one of four deterministic
    payload classes by ``(doc_id // 17) % 4`` — an uncompressed DIB
    AVI (frame-decodable → inline), the SAME container with an H264
    fourcc (inter-frame codec → quarantined, ``unsupported_codec``),
    a minimal ISO-BMFF MP4 (box walk is metadata-only by design →
    quarantined, ``unsupported_codec``), and a foreign container
    (→ ``unsupported_container``). The oracle derives the class →
    (fmt, status, reason) counts from the id arithmetic alone, so the
    hash attests the classifier AND that the H264 container really
    fails ``_avi_decodable`` rather than silently pixel-decoding."""
    import struct as _struct

    import numpy as _np

    from . import multimodal

    t = load_tables(spark, sf_dir)
    ids = (
        t.documents.select(F.col("doc_id").alias("media_id"))
        .where(F.col("doc_id") % 17 == 0)
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def _chunk(cid: bytes, body: bytes) -> bytes:
        pad = b"\x00" if len(body) % 2 else b""
        return cid + _struct.pack("<I", len(body)) + body + pad

    def _lst(ltype: bytes, body: bytes) -> bytes:
        return _chunk(b"LIST", ltype + body)

    def _avi(codec: bytes, compression: int, frame: bytes) -> bytes:
        w, h = 16, 8
        avih = _struct.pack(
            "<IIIIIIIIIIIIII",
            33366, 0, 0, 0, 1, 0, 1, 0, w, h, 0, 0, 0, 0,
        )
        strh = _struct.pack(
            "<4s4sIHHIIIIIIIIhhhh", b"vids", codec, 0, 0, 0, 0,
            1, 30, 0, 1, 0, 0, 0, 0, 0, 0, 0,
        )
        strf = _struct.pack(
            "<IiiHHIIiiII", 40, w, h, 1, 24, compression, 0, 0, 0, 0, 0
        )
        hdrl = _lst(
            b"hdrl",
            _chunk(b"avih", avih)
            + _lst(b"strl", _chunk(b"strh", strh) + _chunk(b"strf", strf)),
        )
        cid = b"00db" if compression == 0 else b"00dc"
        movi = _lst(b"movi", _chunk(cid, frame))
        body = b"AVI " + hdrl + movi
        return b"RIFF" + _struct.pack("<I", len(body)) + body

    def _box(typ: bytes, payload: bytes) -> bytes:
        return (len(payload) + 8).to_bytes(4, "big") + typ + payload

    def _mp4() -> bytes:
        ftyp = _box(b"ftyp", b"isom" + (0).to_bytes(4, "big"))
        mvhd = _box(b"mvhd", bytes(12) + (1000).to_bytes(4, "big")
                    + (2000).to_bytes(4, "big") + bytes(80))
        return ftyp + _box(b"moov", mvhd)

    def video_class_payload():
        w, h = 16, 8
        stride = ((w * 3 + 3) // 4) * 4
        rows = _np.zeros((h, stride), dtype=_np.uint8)
        rows[:, : w * 3] = 128
        dib = _avi(b"DIB ", 0, rows.tobytes())
        h264 = _avi(b"H264", 0x34363248, b"\x00\x00\x00\x01" + b"\x65" * 64)
        fixed = (dib, h264, _mp4())

        def row(m):
            cls = (m // 17) % 4
            return m, fixed[cls] if cls < 3 else b"FLV\x01" + bytes([m % 251] * 32)

        return row

    payloads = map_rows(ids, _PAYLOAD_SCHEMA, video_class_payload)
    return multimodal.quarantine_rates(
        multimodal.video_quarantine_report(payloads)
    )


def op_image_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IMAGE near-duplicate detection attested end-to-end
    (``multimodal.image_neardup_pairs``: real BMP pixel decode →
    dHash → the same 4-band pigeonhole Hamming join text SimHash
    uses): documents pair up as (d, d+6) for d % 12 == 0 — member A
    renders an 8×9 grid of {60,180} luma blocks derived from md5 of
    the pair id (each block exactly one dHash cell: 64×72 px, 8 px
    cells), member B is the SAME image brightness-shifted +4 (the
    classic perceptual-hash invariance: every strict > comparison is
    preserved, so dHash(B) == dHash(A)), and distinct pairs differ in
    ~24 bits. The oracle is the planted closed form: exactly the
    (d, d+6) pairs at Hamming 0."""
    import hashlib as _hashlib
    import struct as _struct

    import numpy as _np

    from . import multimodal

    t = load_tables(spark, sf_dir)
    ids = (
        t.documents.select(F.col("doc_id").alias("media_id")).where(
            F.col("doc_id") % 6 == 0
        )
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def _bmp24_gray(gray: _np.ndarray) -> bytes:
        h, w = gray.shape
        stride = ((w * 3 + 3) // 4) * 4
        rows = []
        pad = b"\x00" * (stride - w * 3)
        for y in range(h - 1, -1, -1):  # bottom-up DIB rows
            px = gray[y].astype(_np.uint8)
            rows.append(
                _np.repeat(px, 3).astype(_np.uint8).tobytes() + pad
            )
        body = b"".join(rows)
        info = _struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0,
                            len(body), 2835, 2835, 0, 0)
        head = _struct.pack("<2sIHHI", b"BM", 14 + 40 + len(body),
                            0, 0, 14 + 40)
        return head + info + body

    def _image_for(m: int) -> bytes:
        base = m - 6 if m % 12 == 6 else m
        bits = _hashlib.md5(f"img:{base}".encode()).digest() * 5
        cells = _np.array(
            [(bits[j // 8] >> (j % 8)) & 1 for j in range(72)],
            dtype=_np.int64,
        ).reshape(8, 9)
        # per-column ramp so every horizontally adjacent cell pair
        # differs by >= 10 luma: the strict > comparisons dHash takes
        # then have a real margin (equal-mean cells would otherwise
        # ride on exact float equality of box means, which the
        # brightness shift perturbs through rounding)
        ramp = 10 * _np.arange(9, dtype=_np.int64)[None, :]
        gray = 40 + ramp + 120 * cells
        if m % 12 == 6:
            gray = gray + 4  # brightness-shifted near-duplicate
        return _bmp24_gray(_np.kron(gray, _np.ones((8, 8), _np.int64)))

    payloads = _payload_frame(ids, _image_for)
    return (
        multimodal.image_neardup_pairs(payloads, max_hamming=6)
        .orderBy("id_a", "id_b")
    )


def op_audio_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CODEC-INVARIANT audio dedup attested end-to-end
    (``multimodal.audio_fingerprint_pairs``): documents pair as
    (d, d+6) for d % 12 == 0, where member A is a RIFF/WAVE PCM tone
    and member B is the SAME tone encoded through the bundled
    Layer-III encoder — two different container formats, two
    different byte streams, one recording. Each pair's tone sits on
    FFT bin ``40 + (d/12 mod 2400)`` (bin-centered, so both decode
    paths fingerprint the exact planted bin; 2400 is inside the
    measured codec-faithful range — round-trip argmax drifts above
    ~bin 2500 where the encoder band-limits). The oracle is the same
    closed form as a self-join on the computed bin, so if a corpus
    ever grows past doc_id 12*2400 the wrap-around cross-pairs appear
    identically on BOTH sides (equal dominant bins ARE near-dups
    under this operator's semantics) instead of silently diverging.
    Byte-level hashing can never find these pairs; spectral
    fingerprinting must."""
    import io as _io
    import wave as _wave

    import numpy as _np

    from . import mp3 as mp3codec
    from . import multimodal

    t = load_tables(spark, sf_dir)
    ids = (
        t.documents.select(F.col("doc_id").alias("media_id")).where(
            F.col("doc_id") % 6 == 0
        )
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def _audio_for(m: int) -> bytes:
        sr, nfft = 44100, 8192
        g = (m - 6 if m % 12 == 6 else m) // 12
        bin_k = 40 + g % 2400
        tt = _np.arange(int(sr * 0.3)) / sr
        x = 0.8 * _np.sin(2 * _np.pi * (bin_k * sr / nfft) * tt)
        if m % 12 == 6:
            # alternate the MP3 member's encoding shape so the pair
            # search attests the decoder's whole boundary: even
            # groups mono long-block, odd groups STEREO (mid/side
            # joint stereo) with short windows — both must decode to
            # the same planted bin as the WAV member. Round 7 widens
            # the attested boundary to the whole ADR-0001 decode
            # surface: shape cycles mono/long WITH SCFSI (granule 2
            # reuses granule 1's scalefactors), stereo/short, and
            # INTENSITY joint stereo (70/30 pan; mode_extension 01,
            # per-band is_pos); round 8 adds MULTI-LEVEL quantization
            # (quant_levels=5 → big-values Huffman table 7, multi-bit
            # magnitudes with sign bits — the table 2-9 decode path)
            # and two deeper-table shapes: quant_levels=12 → 16x16
            # table 15, quant_levels=22 → the 24-31 ESCAPE family
            # (symbol 15 + linbits magnitude bits); every other group
            # of each shape is additionally repacked to USE THE BIT
            # RESERVOIR (nonzero main_data_begin back-pointers, the
            # layout real CBR encoders emit) — bit-identical samples,
            # different frame byte layout.
            shape = g % 6
            if shape == 1:
                mp3 = mp3codec.encode_mp3(
                    _np.stack([x, x], axis=1), sr, kbps=192,
                    block_type="short",
                )
            elif shape == 2:
                mp3 = mp3codec.encode_mp3(
                    _np.stack([0.7 * x, 0.3 * x], axis=1), sr,
                    kbps=192, intensity=True,
                )
            elif shape == 3:
                mp3 = mp3codec.encode_mp3(x, sr, quant_levels=5)
            elif shape == 4:
                mp3 = mp3codec.encode_mp3(x, sr, quant_levels=12)
            elif shape == 5:
                mp3 = mp3codec.encode_mp3(x, sr, quant_levels=22)
            else:
                mp3 = mp3codec.encode_mp3(x, sr, scfsi=True)
            if (g // 6) % 2:
                mp3 = mp3codec.repack_with_reservoir(mp3)
            return mp3
        buf = _io.BytesIO()
        with _wave.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(2)
            w.setframerate(sr)
            w.writeframes((x * 32767).astype("<i2").tobytes())
        return buf.getvalue()

    payloads = _payload_frame(ids, _audio_for)
    return (
        multimodal.audio_fingerprint_pairs(payloads)
        .orderBy("id_a", "id_b")
    )


def op_video_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CODEC-INVARIANT frame-sampled VIDEO near-dup attested
    end-to-end (``multimodal.video_neardup_pairs``: real RIFF/AVI
    parse → pixel decode → per-frame dHash → bitwise-MAJORITY
    signature → banded Hamming join): documents pair as (d, d+6) for
    d % 12 == 0. Member A is a 5-frame UNCOMPRESSED (BI_RGB DIB) AVI
    of md5-derived luma grids (one dHash cell per 8-px block,
    per-column ramp for comparison margin); member B is the same
    video re-encoded as MOTION-JPEG (every frame through the bundled
    T.81 encoder — a genuinely compressed container, docs/adr/0002),
    brightness-shifted +4, WITH ITS FIRST FRAME REPLACED by different
    content — the majority fold over the 3 sampled frames
    (first/middle/last) must absorb the differing frame AND the
    per-frame JPEG decode must reproduce dHash-exact pixels, so the
    pair still lands at Hamming 0. The oracle is the planted closed
    form; byte-level or whole-container hashing can never pair a DIB
    stream with an MJPEG stream."""
    import hashlib as _hashlib
    import struct as _struct

    import numpy as _np

    from . import multimodal
    from .jpeg import encode_baseline_jpeg as _enc_jpeg

    t = load_tables(spark, sf_dir)
    ids = (
        t.documents.select(F.col("doc_id").alias("media_id")).where(
            F.col("doc_id") % 6 == 0
        )
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def _grid_frame(seed: str) -> _np.ndarray:
        bits = _hashlib.md5(seed.encode()).digest() * 5
        cells = _np.array(
            [(bits[j // 8] >> (j % 8)) & 1 for j in range(72)],
            dtype=_np.int64,
        ).reshape(8, 9)
        ramp = 10 * _np.arange(9, dtype=_np.int64)[None, :]
        return 40 + ramp + 120 * cells  # same margin trick as images

    def _avi_for(m: int) -> bytes:
        base = m - 6 if m % 12 == 6 else m
        is_b = m % 12 == 6
        grays = []
        for f in range(5):
            # temporally coherent like a real clip: every frame shares
            # the group's base pattern with per-frame brightness
            # jitter (+f, dHash-invariant); member B's FIRST frame is
            # genuinely different content for the majority fold to
            # absorb
            seed = (
                f"vid:{base}:alt" if is_b and f == 0
                else f"vid:{base}"
            )
            g = _grid_frame(seed) + f
            if is_b:
                g = g + 4  # brightness-shifted near-duplicate
            grays.append(_np.kron(g, _np.ones((8, 8), _np.int64)))
        h, w = grays[0].shape
        stride = ((w * 3 + 3) // 4) * 4

        def chunk(cid: bytes, body: bytes) -> bytes:
            pad = b"\x00" if len(body) % 2 else b""
            return cid + _struct.pack("<I", len(body)) + body + pad

        def lst(ltype: bytes, body: bytes) -> bytes:
            return chunk(b"LIST", ltype + body)

        avih = _struct.pack(
            "<IIIIIIIIIIIIII",
            33366, 0, 0, 0, len(grays), 0, 1, 0, w, h, 0, 0, 0, 0,
        )
        codec = b"MJPG" if is_b else b"DIB "
        strh = _struct.pack(
            "<4s4sIHHIIIIIIIIhhhh", b"vids", codec, 0, 0, 0, 0,
            1, 30, 0, len(grays), 0, 0, 0, 0, 0, 0, 0,
        )
        compression = 0x47504A4D if is_b else 0  # 'MJPG' fourcc / BI_RGB
        strf = _struct.pack(
            "<IiiHHIIiiII", 40, w, h, 1, 24, compression, 0, 0, 0, 0, 0
        )
        movi = b""
        for g in grays:
            if is_b:
                # member B: genuinely compressed Motion-JPEG — each
                # frame is a standalone baseline JPEG ('00dc' chunk)
                movi += chunk(
                    b"00dc",
                    _enc_jpeg(
                        _np.clip(g, 0, 255).astype(_np.uint8), quality=85
                    ),
                )
            else:
                rows = _np.zeros((h, stride), dtype=_np.uint8)
                bgr = _np.repeat(
                    g[::-1].astype(_np.uint8), 3, axis=1
                )  # bottom-up, gray so BGR == repeat
                rows[:, : w * 3] = bgr
                movi += chunk(b"00db", rows.tobytes())
        body = (
            lst(b"hdrl", chunk(b"avih", avih)
                + lst(b"strl", chunk(b"strh", strh)
                      + chunk(b"strf", strf)))
            + lst(b"movi", movi)
        )
        return (
            b"RIFF" + _struct.pack("<I", 4 + len(body)) + b"AVI " + body
        )

    payloads = _payload_frame(ids, _avi_for)
    return (
        multimodal.video_neardup_pairs(payloads, max_hamming=6)
        .orderBy("id_a", "id_b")
    )


def op_video_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-level MP4 ingest (``multimodal.extract_video_metadata``
    — ISO/IEC 14496-12 box walk, no frame decode) attested end-to-end:
    every 11th document synthesizes a minimal ISO BMFF payload
    (timescale 1000, duration ``(1 + doc_id % 50) * 500`` ms, 640×360
    avc1 video track with ``1 + doc_id % 24`` stsz samples), the
    walker parses the boxes back, and the synthesis parameters are the
    DuckDB oracle."""
    from . import multimodal

    t = load_tables(spark, sf_dir)
    ids = t.documents.select(F.col("doc_id").alias("media_id")).where(
        F.col("doc_id") % 11 == 0
    )

    def _box(typ: bytes, payload: bytes) -> bytes:
        return (len(payload) + 8).to_bytes(4, "big") + typ + payload

    def _mp4_for(m: int) -> bytes:
        duration_ms, n_frames = (1 + m % 50) * 500, 1 + m % 24
        ftyp = _box(b"ftyp", b"isom" + (0).to_bytes(4, "big"))
        mvhd = _box(b"mvhd", bytes(12) + (1000).to_bytes(4, "big")
                    + duration_ms.to_bytes(4, "big") + bytes(80))
        tkhd = _box(b"tkhd", bytes(76) + (640 << 16).to_bytes(4, "big")
                    + (360 << 16).to_bytes(4, "big"))
        hdlr = _box(b"hdlr", bytes(8) + b"vide" + bytes(12) + b"\x00")
        stsd = _box(b"stsd", bytes(4) + (1).to_bytes(4, "big")
                    + (16).to_bytes(4, "big") + b"avc1" + bytes(8))
        stsz = _box(b"stsz", bytes(8) + n_frames.to_bytes(4, "big"))
        trak = _box(b"trak", tkhd + _box(
            b"mdia", hdlr + _box(b"minf", _box(b"stbl", stsd + stsz))))
        return ftyp + _box(b"moov", mvhd + trak)

    payloads = _payload_frame(ids, _mp4_for)
    return (
        multimodal.extract_video_metadata(payloads)
        .select(
            "media_id",
            "brand",
            "duration_ms",
            "width",
            "height",
            "n_frames",
            "video_codec",
        )
        # exchange first: the sort's range-sampling job re-runs its child
        .repartition(spark.sparkContext.defaultParallelism)
        .orderBy("media_id")
    )


# Dict order = the driver's evaluation order (every entry is
# oracle-backed). Cheap entries lead; the heavy LSH family runs last
# so a truncated driver budget costs the slowest checks first
# (round 1 lost the tail of this list to a time cut-off).
OPERATOR_QUERIES = {
    "op_audio_metadata": op_audio_metadata,
    "op_audio_fingerprint": op_audio_fingerprint,
    "op_audio_quarantine": op_audio_quarantine,
    "op_video_quarantine": op_video_quarantine,
    "op_image_neardup": op_image_neardup,
    "op_audio_neardup": op_audio_neardup,
    "op_video_neardup": op_video_neardup,
    "op_video_metadata": op_video_metadata,
    "op_gini": op_gini,
    "op_rfm": op_rfm,
    "op_pareto_front": op_pareto_front,
    "op_readability": op_readability,
    "op_ttr": op_ttr,
    "op_acf": op_acf,
    "op_group_entropy": op_group_entropy,
    "op_degree_stats": op_degree_stats,
    "op_reciprocity": op_reciprocity,
    "op_auc": op_auc,
    "op_calibration": op_calibration,
    "op_assortativity": op_assortativity,
    "op_xcorr": op_xcorr,
    "op_distinctive_terms": op_distinctive_terms,
    "op_clustering_coeff": op_clustering_coeff,
    "op_seasonality_strength": op_seasonality_strength,
    "op_burstiness": op_burstiness,
    "op_countmin": op_countmin,
    "op_changepoint": op_changepoint,
    "op_embedding_outliers": op_embedding_outliers,
    "op_weighted_quantile": op_weighted_quantile,
    "op_l_diversity": op_l_diversity,
    "op_kaplan_meier": op_kaplan_meier,
    "op_mannwhitney": op_mannwhitney,
    "op_cohens_d": op_cohens_d,
    "op_activity_grid": op_activity_grid,
    "op_hhi": op_hhi,
    "op_peak_hours": op_peak_hours,
    "op_srm": op_srm,
    "op_cuped": op_cuped,
    "op_seasonal_decompose": op_seasonal_decompose,
    "op_audience_overlap": op_audience_overlap,
    "op_power_users": op_power_users,
    "op_sorted_neighborhood": op_sorted_neighborhood,
    "op_char_entropy": op_char_entropy,
    "op_histogram": op_histogram,
    "op_transition_probs": op_transition_probs,
    "op_ks_test": op_ks_test,
    "op_theil": op_theil,
    "op_asof_join": op_asof_join,
    "op_interval_join": op_interval_join,
    "op_running_total": op_running_total,
    "op_cube": op_cube,
    "op_pivot": op_pivot,
    "op_sequence_pack": op_sequence_pack,
    "op_stratified_take": op_stratified_take,
    "op_above_own_avg": op_above_own_avg,
    "op_percentile": op_percentile,
    "op_string_funcs": op_string_funcs,
    "op_json_extract": op_json_extract,
    "op_dedup_exact": op_dedup_exact,
    "op_bloom_dedup": op_bloom_dedup,
    "op_text_clean": op_text_clean,
    "op_embedding_quantize": op_embedding_quantize,
    "op_token_count": op_token_count,
    "op_fingerprint": op_fingerprint,
    "op_text_quality": op_text_quality,
    "op_lang_id": op_lang_id,
    "op_quality_score": op_quality_score,
    "op_similarity_topk": op_similarity_topk,
    "op_similarity_ann": op_similarity_ann,
    "op_mmr_diversify": op_mmr_diversify,
    "op_label_outliers": op_label_outliers,
    "op_gap_fill": op_gap_fill,
    "op_grouping_sets": op_grouping_sets,
    "op_k_suppress": op_k_suppress,
    "op_winsorize": op_winsorize,
    "op_pii_stats": op_pii_stats,
    "op_range_window": op_range_window,
    "op_feature_hash": op_feature_hash,
    "op_rollup_aggregate": op_rollup_aggregate,
    "op_bitwise_funcs": op_bitwise_funcs,
    "op_map_funcs": op_map_funcs,
    "op_try_funcs": op_try_funcs,
    "op_array_set_funcs": op_array_set_funcs,
    "op_stable_ids": op_stable_ids,
    "op_struct_json_roundtrip": op_struct_json_roundtrip,
    "op_triangle_count": op_triangle_count,
    "op_link_predict": op_link_predict,
    "op_ewma": op_ewma,
    "op_hybrid_rrf": op_hybrid_rrf,
    "op_kmv_distinct": op_kmv_distinct,
    "op_rolling_median": op_rolling_median,
    "op_agg_funcs": op_agg_funcs,
    "op_top_paths": op_top_paths,
    "op_bfs_distances": op_bfs_distances,
    "op_sssp": op_sssp,
    "op_assoc_rules": op_assoc_rules,
    "op_time_weighted_avg": op_time_weighted_avg,
    "op_edit_distance": op_edit_distance,
    "op_ohlc": op_ohlc,
    "op_period_growth": op_period_growth,
    "op_cusum": op_cusum,
    "op_collocations": op_collocations,
    "op_vocab_coverage": op_vocab_coverage,
    "op_heavy_hitters": op_heavy_hitters,
    "op_dq_rules": op_dq_rules,
    "op_share": op_share,
    "op_robust_scale": op_robust_scale,
    "op_null_funcs": op_null_funcs,
    "op_date_funcs": op_date_funcs,
    "op_unpivot": op_unpivot,
    "op_string_agg": op_string_agg,
    "op_embedding_bucket_stats": op_embedding_bucket_stats,
    "op_embedding_neardup": op_embedding_neardup,
    "op_approx_count_distinct": op_approx_count_distinct,
    "op_similarity_ivf": op_similarity_ivf,
    "op_similarity_pq": op_similarity_pq,
    "op_hll_rollup": op_hll_rollup,
    "op_retrieval_eval": op_retrieval_eval,
    "op_dedup_simhash": op_dedup_simhash,
    "op_dedup_ngram_jaccard": op_dedup_ngram_jaccard,
    "op_dedup_jaccard_prefix": op_dedup_jaccard_prefix,
    "op_dedup_containment": op_dedup_containment,
    "op_dedup_minhash": op_dedup_minhash,
    "op_dedup_collapse": op_dedup_collapse,
    "op_dedup_survivors": op_dedup_survivors,
    "op_sessionize": op_sessionize,
    "op_last_seen_eventtime": op_last_seen_eventtime,
    "op_repetition": op_repetition,
    "op_decontaminate": op_decontaminate,
    "op_sample_mixture": op_sample_mixture,
    "op_split_by_group": op_split_by_group,
    "op_kfold_splits": op_kfold_splits,
    "op_compaction_plan": op_compaction_plan,
    "op_ngram_novelty": op_ngram_novelty,
    "op_zipf_fit": op_zipf_fit,
    "op_pack_offsets": op_pack_offsets,
    "op_keyword_search": op_keyword_search,
    "op_rolling_stats": op_rolling_stats,
    "op_zscore_anomalies": op_zscore_anomalies,
    "op_kmeans_cluster": op_kmeans_cluster,
    "op_approx_percentile": op_approx_percentile,
    "op_unigram_logprob": op_unigram_logprob,
    "op_key_skew": op_key_skew,
    "op_chunk_documents": op_chunk_documents,
    "op_dup_passages": op_dup_passages,
    "op_distribution_drift": op_distribution_drift,
    "op_segment_dedup": op_segment_dedup,
    "op_snapshot_diff": op_snapshot_diff,
    "op_scd2_merge": op_scd2_merge,
    "op_reduced_join": op_reduced_join,
    "op_fuzzy_join": op_fuzzy_join,
    "op_profile": op_profile,
    "op_bm25_search": op_bm25_search,
    "op_quantile_bins": op_quantile_bins,
    "op_zorder": op_zorder,
    "op_window_funcs": op_window_funcs,
    "op_array_funcs": op_array_funcs,
    "op_normalize_per_key": op_normalize_per_key,
    "op_grouped_quantiles": op_grouped_quantiles,
    "op_pagerank": op_pagerank,
    "op_connected_components": op_connected_components,
    "op_scd2_apply_changes": op_scd2_apply_changes,
    "op_funnel": op_funnel,
    "op_cohort_retention": op_cohort_retention,
    "op_weighted_sample": op_weighted_sample,
    "op_weighted_sample_group": op_weighted_sample_group,
    "op_mode": op_mode,
    "op_window_funcs2": op_window_funcs2,
    "op_regexp_funcs": op_regexp_funcs,
    "op_interval_merge": op_interval_merge,
    "op_state_durations": op_state_durations,
    "op_regression": op_regression,
    "op_chisq": op_chisq,
    "op_mad_outliers": op_mad_outliers,
    "op_benford": op_benford,
    "op_downsample_minmax": op_downsample_minmax,
    "op_corr_matrix": op_corr_matrix,
    "op_id_gaps": op_id_gaps,
    "op_ab_test": op_ab_test,
    "op_abc_class": op_abc_class,
    "op_bpe_tokenize": op_bpe_tokenize,
    "op_kcore": op_kcore,
    "op_semantic_decontaminate": op_semantic_decontaminate,
    "op_token_fertility": op_token_fertility,
    "op_personalized_pagerank": op_personalized_pagerank,
    "op_seasonal_zscore": op_seasonal_zscore,
    "op_ref_integrity": op_ref_integrity,
    "op_funnel_latency": op_funnel_latency,
    "op_topk_with_ties": op_topk_with_ties,
    "op_generator_funcs": op_generator_funcs,
    "op_bitmap_distinct": op_bitmap_distinct,
    "op_holt_forecast": op_holt_forecast,
    "op_rolling_corr": op_rolling_corr,
    "op_seasonal_baseline": op_seasonal_baseline,
    "op_url_normalize": op_url_normalize,
    "op_temperature_mix": op_temperature_mix,
    "op_bigram_quality": op_bigram_quality,
}

# Driver-budget ordering: cheap hash-attested entries first, the
# measured-expensive family (>2 s at sf0.1 — LSH dedup, iterative
# graph, PQ, search scoring) LAST, so a driver time cut-off costs the
# fewest correctness rows (round 1 lost the tail of this dict to one).
_EXPENSIVE_TAIL = [
    "op_ngram_novelty",
    "op_bpe_tokenize",
    "op_token_fertility",
    "op_bm25_search",
    "op_dedup_ngram_jaccard",
    "op_link_predict",
    "op_dedup_jaccard_prefix",
    "op_assoc_rules",
    "op_dedup_containment",
    "op_collocations",
    "op_dup_passages",
    "op_similarity_pq",
    "op_dedup_simhash",
    "op_bfs_distances",
    "op_pagerank",
    "op_personalized_pagerank",
    "op_dedup_minhash",
    "op_dedup_collapse",
    "op_dedup_survivors",
]
OPERATOR_QUERIES = {
    **{k: v for k, v in OPERATOR_QUERIES.items() if k not in _EXPENSIVE_TAIL},
    **{k: OPERATOR_QUERIES[k] for k in _EXPENSIVE_TAIL if k in OPERATOR_QUERIES},
}

# ---------------------------------------------------------------------------
# DuckDB oracle-SQL builders for the LSH / text-heuristic family.
#
# Dialect rules (SURVEY §2.12 + round-1 VERDICT): every integer SUM is
# cast to BIGINT (DuckDB sum(int) yields HUGEINT, which pandas renders
# as float64 and breaks the driver's text hash); float parity relies on
# both engines doing the same IEEE-double operations in the same order
# (corpus norms use float32 squares exactly like Spark's float*float).
# ---------------------------------------------------------------------------

#: double-list view of a float32 embedding column
_QV = "list_transform({col}, x -> CAST(x AS DOUBLE))"
#: L2 norm with float32 squares (Spark: float*float -> float, then sum
#: in double) — DuckDB REAL*REAL is REAL, so the bit pattern matches.
_NORM_F32 = "sqrt(list_sum(list_transform({col}, x -> CAST(x * x AS DOUBLE))))"
#: L2 norm of an already-double list (the query vector)
_NORM_F64 = "sqrt(list_sum(list_transform({col}, x -> x * x)))"


def _sql_planes_values(num_bits: int, dim: int = 64, seed: int = 42) -> str:
    """``(VALUES ...)`` rows of the deterministic LSH hyperplanes —
    identical literals to ``similarity.RandomHyperplaneLSH`` (same
    seeded generator)."""
    planes = similarity.lsh_planes(dim, num_bits, seed)
    rows = ",\n  ".join(
        "({}, [{}])".format(j, ", ".join(repr(float(x)) for x in planes[j]))
        for j in range(num_bits)
    )
    return rows


def _sql_bucket(vec_sql: str) -> str:
    """Correlated sign-bit bucket id (BIGINT) of a float32 vector
    expression against the ``planes(j, p)`` CTE."""
    return (
        "(SELECT CAST(sum(CASE WHEN list_dot_product("
        + _QV.format(col=vec_sql)
        + ", pl.p) > 0 THEN (1::BIGINT << pl.j) ELSE 0::BIGINT END) AS BIGINT)"
        " FROM planes pl)"
    )


_SQL_COSINE = (
    "round(CASE WHEN {na} > 0 AND {nb} > 0 THEN {d} / ({na} * {nb})"
    " ELSE 0.0 END, 6)"
)


def _sql_similarity_topk() -> str:
    d = "list_dot_product(" + _QV.format(col="c.embedding") + ", q.qv)"
    return f"""
WITH q AS (SELECT {_QV.format(col='embedding')} AS qv
           FROM embeddings WHERE vec_id = 0),
s AS (SELECT c.vec_id AS id,
             {d} AS d,
             {_NORM_F32.format(col='c.embedding')} AS na,
             {_NORM_F64.format(col='q.qv')} AS nb
      FROM embeddings c, q WHERE c.vec_id <> 0)
SELECT id, {_SQL_COSINE.format(d='d', na='na', nb='nb')} AS score
FROM s ORDER BY score DESC, id LIMIT 10
"""


def _sql_similarity_ann(num_bits: int = 8, n_probe: int = 4) -> str:
    d = "list_dot_product(" + _QV.format(col="c.embedding") + ", q.qv)"
    return f"""
WITH planes(j, p) AS (VALUES {_sql_planes_values(num_bits)}),
q AS (SELECT {_QV.format(col='embedding')} AS qv
      FROM embeddings WHERE vec_id = 0),
m AS (SELECT j, list_dot_product(p, q.qv) AS d FROM planes, q),
base AS (SELECT CAST(sum(CASE WHEN d > 0 THEN (1::BIGINT << j)
                              ELSE 0::BIGINT END) AS BIGINT) AS b FROM m),
flips AS (SELECT j FROM m ORDER BY abs(d), j LIMIT {n_probe - 1}),
probes AS (SELECT b FROM base
           UNION ALL SELECT xor(b, 1::BIGINT << j) FROM base, flips),
c AS (SELECT vec_id, embedding, {_sql_bucket('e0.embedding')} AS bucket
      FROM embeddings e0 WHERE vec_id <> 0),
s AS (SELECT c.vec_id AS id,
             {d} AS d,
             {_NORM_F32.format(col='c.embedding')} AS na,
             {_NORM_F64.format(col='q.qv')} AS nb
      FROM c, q WHERE c.bucket IN (SELECT b FROM probes))
SELECT id, {_SQL_COSINE.format(d='d', na='na', nb='nb')} AS score
FROM s ORDER BY score DESC, id LIMIT 10
"""


def _sql_retrieval_eval(k: int = 10) -> str:
    """Recall@k oracle: recompute the brute-force AND ANN top-k lists
    (the same two generators the individual ops attest against) and
    their overlap, entirely in SQL."""
    brute = _sql_similarity_topk()
    ann = _sql_similarity_ann(num_bits=8, n_probe=4)
    return f"""
WITH bt AS (SELECT id FROM ({brute}) x),
     an AS (SELECT id FROM ({ann}) y)
SELECT CAST(count(*) AS BIGINT) AS n_overlap,
       CAST({k} AS BIGINT) AS k,
       round(count(*) / {float(k)}, 4) AS recall_at_k
FROM bt JOIN an USING (id)
"""


def _sql_embedding_bucket_stats(num_bits: int = 8) -> str:
    return f"""
WITH planes(j, p) AS (VALUES {_sql_planes_values(num_bits)}),
b AS (SELECT vec_id AS id, {_sql_bucket('e0.embedding')} AS bucket
      FROM embeddings e0)
SELECT bucket, count(*) AS n_vecs, min(id) AS min_id
FROM b GROUP BY bucket ORDER BY bucket
"""


def _sql_embedding_neardup(num_bits: int = 12, threshold: float = 0.95,
                           max_bucket: int = 512) -> str:
    # Spark's pair dot multiplies float32*float32 (REAL product), then
    # accumulates in double — list_zip reproduces that exactly.
    d = ("list_sum(list_transform(list_zip(a.embedding, c.embedding),"
         " s -> CAST(s[1] * s[2] AS DOUBLE)))")
    return f"""
WITH planes(j, p) AS (VALUES {_sql_planes_values(num_bits)}),
b AS (SELECT vec_id AS id, embedding, {_sql_bucket('e0.embedding')} AS bucket
      FROM embeddings e0),
ok AS (SELECT bucket FROM b GROUP BY bucket
       HAVING count(*) > 1 AND count(*) <= {max_bucket}),
pr AS (SELECT a.id AS id_a, c.id AS id_b,
              {d} AS d,
              {_NORM_F32.format(col='a.embedding')} AS na,
              {_NORM_F32.format(col='c.embedding')} AS nb
       FROM b a JOIN b c ON a.bucket = c.bucket AND a.id < c.id
       WHERE a.bucket IN (SELECT bucket FROM ok))
SELECT id_a, id_b, {_SQL_COSINE.format(d='d', na='na', nb='nb')} AS cosine
FROM pr WHERE cosine >= {threshold}
ORDER BY id_a, id_b
"""


def _sql_similarity_ivf(k_cells: int = 8, n_probe: int = 3) -> str:
    """IVF oracle: retrain the *identical* centroids parquet-side
    (``ivf_centroids_from_parquet`` — same sorted sample, same seeded
    k-means) and replicate cell assignment (argmax dot, ties → largest
    cell like Spark's array_max-over-struct), probe selection (top
    ``n_probe`` cells by query dot, ties → smallest cell like numpy's
    stable argsort), and within-cell exact cosine top-k in DuckDB."""
    import os

    path = os.path.join(
        os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"),
        "embeddings.parquet",
    )
    cent = similarity.ivf_centroids_from_parquet(path, k=k_cells, exclude_id=0)
    rows = ",\n  ".join(
        "({}, [{}])".format(j, ", ".join(repr(float(x)) for x in cent[j]))
        for j in range(k_cells)
    )
    d_corpus = "list_dot_product(" + _QV.format(col="e.embedding") + ", q.qv)"
    cell_sub = (
        "(SELECT j FROM cent ORDER BY list_dot_product(cent.c, "
        + _QV.format(col="e0.embedding")
        + ") DESC, j DESC LIMIT 1)"
    )
    return f"""
WITH cent(j, c) AS (VALUES {rows}),
q AS (SELECT {_QV.format(col='embedding')} AS qv
      FROM embeddings WHERE vec_id = 0),
probes AS (SELECT j FROM cent, q
           ORDER BY list_dot_product(c, q.qv) DESC, j LIMIT {n_probe}),
e AS (SELECT vec_id, embedding, {cell_sub} AS cell
      FROM embeddings e0 WHERE vec_id <> 0),
s AS (SELECT e.vec_id AS id, {d_corpus} AS d,
             {_NORM_F32.format(col='e.embedding')} AS na,
             {_NORM_F64.format(col='q.qv')} AS nb
      FROM e, q WHERE e.cell IN (SELECT j FROM probes))
SELECT id, {_SQL_COSINE.format(d='d', na='na', nb='nb')} AS score
FROM s ORDER BY score DESC, id LIMIT 10
"""


def _sql_similarity_pq(m: int = 8, ksub: int = 16, k: int = 10) -> str:
    """PQ oracle: rebuild the *identical* codebooks parquet-side
    (``pq_codebooks_from_parquet`` — same id-sorted sample, same seeded
    per-subspace k-means) and the *identical* ADC lookup table (same
    numpy float64 path as ``PQIndex.adc_table``), then replicate
    encoding (argmin squared-L2 per subspace, ties → smallest code,
    sequential in-dimension accumulation) and the m-lookup ADC sum
    (sequential in-subspace accumulation) in DuckDB."""
    import os

    path = os.path.join(
        os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"),
        "embeddings.parquet",
    )
    books = pq.pq_codebooks_from_parquet(path, m=m, ksub=ksub, exclude_id=0)
    dsub = books.shape[2]
    import pyarrow.parquet as pq_

    tbl = pq_.read_table(path, columns=["vec_id", "embedding"])
    ids = tbl.column("vec_id").to_pylist()
    qv = [float(x) for x in tbl.column("embedding").to_pylist()[ids.index(0)]]
    table = pq.PQIndex(books).adc_table(qv)

    cb_rows = ",\n  ".join(
        "({}, {}, [{}])".format(
            j, c, ", ".join(repr(float(x)) for x in books[j, c])
        )
        for j in range(m)
        for c in range(ksub)
    )
    dt_flat = "[" + ", ".join(
        repr(float(table[j][c])) for j in range(m) for c in range(ksub)
    ) + "]"
    # NOTE: a codegen'd |c|²−2·x·c arithmetic-chain variant was measured
    # SLOWER than this fold form at sf0.1 (1024 per-row array getItems
    # vs one slice per code) — keep the zip_with fold.
    code_subs = ",\n        ".join(
        "(SELECT c FROM cb WHERE cb.j = {j} ORDER BY list_sum(list_transform("
        "list_zip(e0.embedding[{a}:{b}], cb.v), s -> (CAST(s[1] AS DOUBLE) - s[2])"
        " * (CAST(s[1] AS DOUBLE) - s[2]))) ASC, c ASC LIMIT 1)".format(
            j=j, a=j * dsub + 1, b=(j + 1) * dsub
        )
        for j in range(m)
    )
    j_list = "[" + ", ".join(str(j) for j in range(m)) + "]"
    return f"""
WITH cb(j, c, v) AS (VALUES {cb_rows}),
e AS (SELECT vec_id AS id,
        [{code_subs}] AS codes
      FROM embeddings e0 WHERE vec_id <> 0)
SELECT id,
       list_sum(list_transform({j_list},
         j -> ({dt_flat}::DOUBLE[])[j * {ksub} + codes[j + 1] + 1])) AS adc_dist
FROM e ORDER BY adc_dist ASC, id ASC LIMIT {k}
"""


def _sql_kmeans_cluster(k_cells: int = 8) -> str:
    """k-means rollup oracle: identical parquet-side centroids, argmax
    cell per vector (ties → largest cell, matching array_max-over-
    struct), grouped occupancy."""
    import os

    path = os.path.join(
        os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"),
        "embeddings.parquet",
    )
    cent = similarity.ivf_centroids_from_parquet(path, k=k_cells, exclude_id=None)
    rows = ",\n  ".join(
        "({}, [{}])".format(j, ", ".join(repr(float(x)) for x in cent[j]))
        for j in range(k_cells)
    )
    cell_sub = (
        "(SELECT j FROM cent ORDER BY list_dot_product(cent.c, "
        + _QV.format(col="e0.embedding")
        + ") DESC, j DESC LIMIT 1)"
    )
    return f"""
WITH cent(j, c) AS (VALUES {rows}),
e AS (SELECT vec_id, {cell_sub} AS cluster FROM embeddings e0)
SELECT cluster, count(*) AS n_vecs, min(vec_id) AS min_id
FROM e GROUP BY cluster ORDER BY cluster
"""


def _sql_strlist(words: list[str]) -> str:
    return "[" + ", ".join("'" + w.replace("'", "''") + "'" for w in words) + "]"


#: whitespace tokens, lowered — parity with functions.text.tokens_ws
_SQL_TOKS = (
    "list_transform(list_filter(regexp_split_to_array(trim(text), '\\s+'),"
    " x -> x <> ''), x -> lower(x))"
)


def _sql_lang_id() -> str:
    from .text import LANG_PROFILES

    score_cols = ",\n         ".join(
        f"len(list_filter(toks, x -> list_contains({_sql_strlist(words)}, x)))"
        f" / greatest(len(toks), 1) AS s_{lang}"
        for lang, words in LANG_PROFILES.items()
        if words
    )
    # Spark's array_max over struct(score, lang) breaks score ties by
    # the lexicographically greatest lang: fr > es > en > de.
    best = "greatest(s_en, s_de, s_fr, s_es)"
    return f"""
WITH t AS (
  SELECT {_SQL_TOKS} AS toks,
         len(regexp_extract_all(text, '[一-鿿]'))
           / greatest(length(text), 1) AS cjk
  FROM documents),
s AS (
  SELECT cjk,
         {score_cols}
  FROM t),
p AS (
  SELECT CASE WHEN cjk > 0.2 THEN 'zh'
              WHEN {best} > 0 THEN
                   CASE WHEN s_fr = {best} THEN 'fr'
                        WHEN s_es = {best} THEN 'es'
                        WHEN s_en = {best} THEN 'en'
                        ELSE 'de' END
              ELSE 'und' END AS lang_pred
  FROM s)
SELECT lang_pred, count(*) AS n_docs FROM p GROUP BY lang_pred
ORDER BY lang_pred
"""


def _sql_quality_score() -> str:
    from .text import LANG_PROFILES

    stop = _sql_strlist(LANG_PROFILES["en"])
    return f"""
WITH t AS (
  SELECT text, length(text) AS n, {_SQL_TOKS} AS toks
  FROM documents),
f AS (
  SELECT n,
         coalesce(list_sum(list_transform(toks, x -> length(x))), 0)
           / greatest(len(toks), 1) AS mean_wlen,
         len(list_filter(toks, x -> list_contains({stop}, x)))
           / greatest(len(toks), 1) AS stop_ratio,
         len(regexp_extract_all(text, '[^\\w\\s]')) / greatest(n, 1) AS pr,
         len(regexp_extract_all(text, '[0-9]')) / greatest(n, 1) AS dr
  FROM t),
s AS (
  SELECT round(
      (CASE WHEN n >= 50 AND n <= 100000 THEN 0.3::DOUBLE ELSE 0.0::DOUBLE END)
    + (CASE WHEN mean_wlen >= 2.0 AND mean_wlen <= 12.0
            THEN 0.2::DOUBLE ELSE 0.0::DOUBLE END)
    + least(stop_ratio * 2.5::DOUBLE, 0.3::DOUBLE)
    + greatest(0.2::DOUBLE - (pr + dr), 0.0::DOUBLE), 4) AS qs
  FROM f)
SELECT round(floor(qs * 10) / 10, 1) AS bucket, count(*) AS n_docs
FROM s GROUP BY bucket ORDER BY bucket
"""


#: char 5-gram distinct shingle list of lower(text) — parity with
#: functions.text.char_shingles(k=5)
_SQL_CHAR_SHINGLES = (
    "list_distinct(list_transform("
    "range(1, greatest(length(lower(text)) - 4, 0) + 1),"
    " i -> substr(lower(text), i, 5)))"
)

#: word 3-gram distinct shingle list — parity with
#: functions.text.word_shingles(n=3): lowercase, ws-tokenize, join 3-slices
_SQL_WORD_SHINGLES = (
    "list_distinct(list_transform("
    "range(1, greatest(len(toks) - 2, 0) + 1),"
    " i -> array_to_string(list_slice(toks, i, i + 2), ' ')))"
)


def _sql_percentile_anchors(extra_cols: str = "") -> str:
    """Oracle twin of ``_percentile_anchors`` (p50/p95 over
    events.value): group size + the bracketing sorted-rank data values
    that determine each exact continuous percentile — every attested
    cell a raw parquet double, no interpolated midpoint to land on a
    %.2f rounding tie. NULLs are filtered BEFORE ranking (Spark sorts
    them first, DuckDB last — with any NULL the two engines would rank
    every real value differently). ``extra_cols`` appends columns to
    the final SELECT (op_approx_percentile's accuracy booleans)."""
    return f"""
WITH r AS (SELECT event_type, value,
                  row_number() OVER (PARTITION BY event_type
                                     ORDER BY value) AS rn,
                  count(*) OVER (PARTITION BY event_type) AS n
           FROM events WHERE value IS NOT NULL)
SELECT event_type, CAST(max(n) AS BIGINT) AS n,
       max(CASE WHEN rn = CAST(floor(0.5 * (n - 1)) AS BIGINT) + 1
                THEN value END) AS p50_lo,
       max(CASE WHEN rn = CAST(ceil(0.5 * (n - 1)) AS BIGINT) + 1
                THEN value END) AS p50_hi,
       max(CASE WHEN rn = CAST(floor(0.95 * (n - 1)) AS BIGINT) + 1
                THEN value END) AS p95_lo,
       max(CASE WHEN rn = CAST(ceil(0.95 * (n - 1)) AS BIGINT) + 1
                THEN value END) AS p95_hi{extra_cols}
FROM r GROUP BY event_type ORDER BY event_type
"""


def _sql_exact_jaccard_pairs(shingle_expr: str, threshold: float,
                             pre: str = "") -> str:
    """All-pairs exact Jaccard ≥ threshold over per-doc distinct shingle
    sets (inverted-index join — the oracle twin of
    dedup.ngram_jaccard_pairs / dedup.dedup_minhash_verified)."""
    return f"""
WITH {pre}t AS (
  SELECT doc_id AS id, {shingle_expr} AS shs
  FROM {'tok' if pre else 'documents'}),
sh AS (SELECT id, unnest(shs) AS sh FROM t),
sizes AS (SELECT id, len(shs) AS n_sh FROM t),
common AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_common
           FROM sh a JOIN sh b ON a.sh = b.sh AND a.id < b.id
           GROUP BY a.id, b.id),
j AS (SELECT id_a, id_b,
             n_common / (sa.n_sh + sb.n_sh - n_common) AS jac
      FROM common JOIN sizes sa ON sa.id = common.id_a
                  JOIN sizes sb ON sb.id = common.id_b)
SELECT id_a, id_b,
       CAST(floor(jac * 1048576.0) AS BIGINT) AS jaccard_fp
FROM j WHERE jac >= {threshold} ORDER BY id_a, id_b
"""


def _sql_dedup_minhash() -> str:
    # Attests BOTH exactness of the verified Jaccard values AND that
    # LSH banding recall is 1.0 on this corpus (a missed pair would be
    # a row-count mismatch).
    return _sql_exact_jaccard_pairs(_SQL_CHAR_SHINGLES, 0.8)


def _sql_closure_prefix(threshold: float = 0.8) -> str:
    """The exact-all-pairs Jaccard + ``WITH RECURSIVE`` min-label
    reachability closure shared VERBATIM by the collapse and survivors
    oracles (ends with the ``comp(id, cluster)`` CTE). The
    driver-visible strings stay fully self-contained; the local check
    harness instead memoizes the all-pairs PAIR TABLE once per
    (sf_dir, threshold) and runs ``_MEMO_CLOSURE`` over it — see
    ``oracle_memo_plans`` for why pairs-level materialization beats
    closure-level (round-9: DuckDB plans the shingle self-join ~4x
    slower under WITH RECURSIVE)."""
    return f"""
WITH RECURSIVE
t AS (SELECT doc_id AS id, {_SQL_CHAR_SHINGLES} AS shs FROM documents),
sh AS (SELECT id, unnest(shs) AS sh FROM t),
sizes AS (SELECT id, len(shs) AS n_sh FROM t),
common AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_common
           FROM sh a JOIN sh b ON a.sh = b.sh AND a.id < b.id
           GROUP BY a.id, b.id),
pairs AS (SELECT id_a, id_b
          FROM common JOIN sizes sa ON sa.id = common.id_a
                      JOIN sizes sb ON sb.id = common.id_b
          WHERE n_common / (sa.n_sh + sb.n_sh - n_common) >= {threshold}),
edges AS (SELECT id_a AS s, id_b AS d FROM pairs
          UNION SELECT id_b AS s, id_a AS d FROM pairs),
reach(id, r) AS (
    SELECT s, s FROM edges
    UNION
    SELECT e.s, reach.r FROM edges e JOIN reach ON reach.id = e.d),
comp AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id)"""


_SQL_COLLAPSE_TAIL = """
SELECT cluster AS keep_id,
       count(*) AS n_members,
       CAST(sum(id) AS BIGINT) AS id_sum
FROM comp GROUP BY cluster ORDER BY keep_id
"""

_SQL_SURVIVORS_TAIL = """
members AS (SELECT d.doc_id,
                   CAST(length(d.text) AS BIGINT) AS quality,
                   COALESCE(comp.cluster, d.doc_id) AS cluster_id
            FROM documents d LEFT JOIN comp ON comp.id = d.doc_id),
ranked AS (SELECT doc_id, cluster_id, quality,
                  row_number() OVER (PARTITION BY cluster_id
                                     ORDER BY quality DESC,
                                              doc_id ASC) AS rn,
                  count(*) OVER (PARTITION BY cluster_id) AS n_members
           FROM members)
SELECT doc_id AS keep_id, cluster_id, n_members, quality
FROM ranked WHERE rn = 1 ORDER BY cluster_id
"""


def _sql_dedup_collapse(threshold: float = 0.8) -> str:
    """Oracle twin of op_dedup_collapse: exact all-pairs Jaccard ≥
    threshold (char 5-gram shingles, same spelling as the minhash
    oracle) → connected components via a ``WITH RECURSIVE`` min-label
    reachability closure → one row per multi-member component. id_sum
    attests exact membership: two different partitions of the same ids
    into same-sized clusters cannot hash-collide."""
    return _sql_closure_prefix(threshold) + _SQL_COLLAPSE_TAIL


def _sql_dedup_survivors(threshold: float = 0.8) -> str:
    """Oracle twin of op_dedup_survivors: the same recursive min-label
    closure as the collapse oracle, then every document joins its
    component (singletons self-labelled) and a window rank keeps the
    highest-quality member per cluster."""
    return _sql_closure_prefix(threshold) + "," + _SQL_SURVIVORS_TAIL


#: min-label reachability closure over the memoized pair table — the
#: same edges/reach/comp text as ``_sql_closure_prefix`` with ``pairs``
#: fed from ``__memo`` instead of recomputing the all-pairs Jaccard.
_MEMO_CLOSURE = """
WITH RECURSIVE
pairs AS (SELECT id_a, id_b FROM __memo),
edges AS (SELECT id_a AS s, id_b AS d FROM pairs
          UNION SELECT id_b AS s, id_a AS d FROM pairs),
reach(id, r) AS (
    SELECT s, s FROM edges
    UNION
    SELECT e.s, reach.r FROM edges e JOIN reach ON reach.id = e.d),
comp AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id)"""


def oracle_memo_plans() -> dict[str, tuple[str, str, str]]:
    """Local-harness memoization plans: entry name → (cache key,
    materialize SELECT, rewritten SELECT over the ``__memo`` view).

    The memo is the exact all-pairs Jaccard ≥ 0.8 pair table (char
    5-gram shingles) — the text shared VERBATIM by the minhash oracle
    and, as its ``pairs`` CTE (ids only; the threshold filter uses the
    unrounded quotient in both spellings), by the collapse/survivors
    closure prefix. Materializing the pairs ALONE matters beyond
    sharing: embedded under ``WITH RECURSIVE`` DuckDB plans the
    shingle self-join ~4x slower than standalone (measured 390 s vs
    100 s at sf0.1), so even the single-op closure is faster this way.
    The rewritten forms are equivalent by construction: the
    driver-facing strings are ``pairs-text + tail`` and the rewrites
    replace exactly the pairs text with the materialized table. Only
    the local check harness uses these — the driver always runs the
    self-contained ``oracle_sql()`` strings."""
    key = "dedup_jpairs_0.8"
    materialize = _sql_dedup_minhash()
    return {
        "op_dedup_minhash": (
            key, materialize,
            "SELECT id_a, id_b, jaccard_fp FROM __memo "
            "ORDER BY id_a, id_b",
        ),
        "op_dedup_collapse": (
            key, materialize,
            _MEMO_CLOSURE + _SQL_COLLAPSE_TAIL,
        ),
        "op_dedup_survivors": (
            key, materialize,
            _MEMO_CLOSURE + "," + _SQL_SURVIVORS_TAIL,
        ),
    }


def _sql_dedup_ngram_jaccard() -> str:
    pre = (
        "tok AS (SELECT doc_id, list_filter("
        "regexp_split_to_array(trim(lower(text)), '\\s+'), x -> x <> '')"
        " AS toks FROM documents),\n"
    )
    return _sql_exact_jaccard_pairs(_SQL_WORD_SHINGLES, 0.8, pre=pre)


def _sql_dedup_containment(threshold: float = 0.6, k: int = 300) -> str:
    """Oracle twin of dedup.ngram_containment_pairs (word 3-grams).
    The df_cap is omitted: at oracle scale no shingle's document
    frequency approaches the 1000 cap, so capped and uncapped agree
    (same convention as the Jaccard oracle)."""
    pre = (
        "tok AS (SELECT doc_id, list_filter("
        "regexp_split_to_array(trim(lower(text)), '\\s+'), x -> x <> '')"
        " AS toks FROM documents),\n"
    )
    return f"""
WITH {pre}t AS (
  SELECT doc_id AS id, {_SQL_WORD_SHINGLES} AS shs FROM tok),
sh AS (SELECT id, unnest(shs) AS sh FROM t),
sizes AS (SELECT id, len(shs) AS n_sh FROM t),
common AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_common
           FROM sh a JOIN sh b ON a.sh = b.sh AND a.id < b.id
           GROUP BY a.id, b.id),
j AS (SELECT id_a, id_b,
             n_common / least(sa.n_sh, sb.n_sh) AS cont,
             n_common / (sa.n_sh + sb.n_sh - n_common) AS jac
      FROM common JOIN sizes sa ON sa.id = common.id_a
                  JOIN sizes sb ON sb.id = common.id_b)
SELECT id_a, id_b,
       CAST(floor(cont * 1048576.0) AS BIGINT) AS containment_fp,
       CAST(floor(jac * 1048576.0) AS BIGINT) AS jaccard_fp
FROM j WHERE cont >= {threshold} ORDER BY id_a, id_b LIMIT {k}
"""


def _sql_dedup_simhash(num_bits: int = 60, max_hamming: int = 3) -> str:
    """Portable SimHash twin: md5-derived 60-bit token hashes (identical
    hex in every engine), per-bit majority votes, all-pairs Hamming —
    all-pairs is exactly what 4-band candidates + verify computes,
    because band recall is 1.0 by pigeonhole."""
    # bit j set <=> strictly more 1-votes than 0-votes (Spark: sum of
    # +1/-1 > 0). Bitwise-OR the per-bit contributions like the Spark
    # side does — no aggregate, so no HUGEINT widening.
    bit_terms = " | ".join(
        f"(CASE WHEN 2 * len(list_filter(hs, x -> ((x >> {j}) & 1) = 1))"
        f" > len(hs) THEN (1::BIGINT << {j}) ELSE 0::BIGINT END)"
        for j in range(num_bits)
    )
    return f"""
WITH tok AS (
  SELECT doc_id AS id,
         list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')
           AS toks
  FROM documents),
h AS (
  SELECT id, list_transform(toks,
         t -> CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT)) AS hs
  FROM tok),
s AS (SELECT id, {bit_terms} AS simhash FROM h)
SELECT a.id AS id_a, b.id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM s a JOIN s b ON a.id < b.id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
ORDER BY id_a, id_b
"""


#: lowercased ws-token list for a given text expression
_SQL_TOKS_OF = (
    "list_filter(regexp_split_to_array(trim(lower({t})), '\\s+'), x -> x <> '')"
)


def _sql_sessionize(gap_s: int = 1800) -> str:
    return f"""
WITH s AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR CAST(floor(epoch(ts)) AS BIGINT)
                   - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > {gap_s}
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
x AS (
  SELECT user_id, ts,
         CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts) AS BIGINT)
           AS session_idx
  FROM s)
SELECT user_id, session_idx, count(*) AS n_events,
       CAST(floor(epoch(max(ts))) AS BIGINT) - CAST(floor(epoch(min(ts))) AS BIGINT) AS span_s
FROM x GROUP BY user_id, session_idx
ORDER BY user_id, session_idx LIMIT 300
"""


def _sql_repetition() -> str:
    toks = _SQL_TOKS_OF.format(t="text")
    return f"""
WITH tok AS (SELECT doc_id AS id, {toks} AS toks FROM documents),
uni AS (
  SELECT id, len(toks) AS n_tok, len(list_distinct(toks)) AS n_distinct,
         list_transform(range(1, greatest(len(toks) - 1, 0) + 1),
             i -> array_to_string(list_slice(toks, i, i + 1), ' ')) AS bigrams
  FROM tok),
bg AS (SELECT id, unnest(bigrams) AS bg FROM uni),
c AS (SELECT id, bg, count(*) AS c FROM bg GROUP BY id, bg),
pd AS (SELECT id, max(c) AS top_c, CAST(sum(c) AS BIGINT) AS tot_c
       FROM c GROUP BY id)
SELECT u.id AS id,
       CAST(floor(CASE WHEN n_tok > 0 THEN 1.0 - n_distinct / n_tok
                       ELSE 0.0 END * 1048576.0) AS BIGINT)
           AS dup_word_fp,
       CAST(floor(coalesce(top_c / tot_c, 0.0) * 1048576.0) AS BIGINT)
           AS top_bigram_fp
FROM uni u LEFT JOIN pd ON pd.id = u.id
ORDER BY u.id LIMIT 200
"""


def _sql_decontaminate() -> str:
    toks = _SQL_TOKS_OF.format(t="text")
    return f"""
WITH tok AS (SELECT doc_id, {toks} AS toks FROM documents),
sh AS (SELECT doc_id AS id,
              unnest(list_distinct(list_transform(
                  range(1, greatest(len(toks) - 2, 0) + 1),
                  i -> array_to_string(list_slice(toks, i, i + 2), ' ')))) AS sh
       FROM tok),
bench AS (SELECT id AS bench_id, sh FROM sh WHERE id % 97 = 0),
corp AS (SELECT id, sh FROM sh WHERE id % 97 <> 0),
hits AS (SELECT corp.id AS id, count(DISTINCT sh) AS n_shared,
                count(DISTINCT bench_id) AS n_bench_docs
         FROM corp JOIN bench USING (sh) GROUP BY corp.id)
SELECT d.doc_id AS id,
       CAST(coalesce(h.n_shared, 0) AS BIGINT) AS n_shared,
       CAST(coalesce(h.n_bench_docs, 0) AS BIGINT) AS n_bench_docs,
       coalesce(h.n_shared, 0) > 0 AS contaminated
FROM documents d LEFT JOIN hits h ON h.id = d.doc_id
WHERE d.doc_id % 97 <> 0
ORDER BY id LIMIT 300
"""


def _sql_sample_mixture(total_rows: int = 200) -> str:
    cases = " ".join(
        f"WHEN '{g}' THEN {int(round(w * total_rows))}"
        for g, w in sorted(_MIX_WEIGHTS.items())
    )
    return f"""
SELECT doc_id, lang FROM (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
  FROM documents) t
WHERE rn <= CASE lang {cases} ELSE 0 END
ORDER BY lang, doc_id
"""


def _sql_split_by_group(salt: str = "split") -> str:
    # replicate curation.split_by_group_hash's boundary arithmetic
    conds, lo = [], 0.0
    names = sorted(_SPLIT_WEIGHTS)
    for name in names:
        hi = lo + _SPLIT_WEIGHTS[name] * 10000
        conds.append(
            f"WHEN b >= {int(round(lo))} AND b < {int(round(hi))} THEN '{name}'"
        )
        lo = hi
    case = " ".join(conds)
    return f"""
WITH a AS (
  SELECT source,
         CAST(concat('0x', substr(md5('{salt}:' || source), 1, 8)) AS BIGINT)
           % 10000 AS b
  FROM documents),
s AS (SELECT source, CASE {case} ELSE '{names[-1]}' END AS split FROM a)
SELECT split, count(*) AS n_docs, count(DISTINCT source) AS n_groups
FROM s GROUP BY split ORDER BY split
"""


def _sql_keyword_search(k: int = 20) -> str:
    terms = ", ".join(f"'{t}'" for t in _SEARCH_TERMS)
    toks = _SQL_TOKS_OF.format(t="text")
    return f"""
WITH tok AS (SELECT doc_id AS id, unnest({toks}) AS tok FROM documents),
f AS (SELECT id, tok, count(*) AS tf FROM tok
      WHERE tok IN ({terms}) GROUP BY id, tok),
d AS (SELECT tok, count(DISTINCT id) AS df FROM f GROUP BY tok),
n AS (SELECT count(*) AS n FROM documents),
s AS (SELECT id, round(sum(tf * ln(CAST(n AS DOUBLE) / df)), 4) AS score
      FROM f JOIN d USING (tok), n GROUP BY id)
SELECT id, score FROM s ORDER BY score DESC, id LIMIT {k}
"""


_SQL_ROLLING = """
SELECT user_id, ts,
       CAST(floor(value * 1048576.0) AS BIGINT) AS value_fp,
       CAST(sum(CAST(floor(value * 1048576.0) AS BIGINT)) OVER w
            AS BIGINT) AS roll_sum_fp,
       count(*) OVER w AS n_w,
       min(CAST(floor(value * 1048576.0) AS BIGINT)) OVER w AS roll_min_fp,
       max(CAST(floor(value * 1048576.0) AS BIGINT)) OVER w AS roll_max_fp
FROM events WHERE user_id < 20
WINDOW w AS (PARTITION BY user_id ORDER BY ts
             ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
ORDER BY user_id, ts LIMIT 300
"""

def _sql_chunk_documents(chunk_chars: int = 200, overlap: int = 50) -> str:
    step = chunk_chars - overlap
    return f"""
WITH c AS (
  SELECT doc_id,
         unnest(list_transform(
             range(0, greatest(CAST(ceil((length(text) - {overlap})
                                          / {step}.0) AS BIGINT), 1)),
             i -> struct_pack(chunk_idx := i,
                              chunk_text := substr(text,
                                  CAST(i * {step} + 1 AS BIGINT),
                                  {chunk_chars})))) AS ch
  FROM documents)
SELECT doc_id, ch.chunk_idx AS chunk_idx, ch.chunk_text AS chunk_text,
       length(ch.chunk_text) AS n_chunk_chars
FROM c ORDER BY doc_id, chunk_idx LIMIT 400
"""


def _sql_unigram_logprob() -> str:
    toks = _SQL_TOKS_OF.format(t="text")
    return f"""
WITH tok AS (SELECT doc_id AS id, unnest({toks}) AS tok FROM documents),
c AS (SELECT tok, count(*) AS c FROM tok GROUP BY tok),
t AS (SELECT count(*) AS n_total FROM tok),
lp AS (SELECT id,
              ln(coalesce(CAST(c AS DOUBLE), 0.5) / CAST(n_total AS DOUBLE)) AS lp
       FROM tok LEFT JOIN c USING (tok), t)
SELECT id, round(avg(lp), 4) AS mean_logprob, count(*) AS n_tok
FROM lp GROUP BY id ORDER BY id LIMIT 200
"""


def _sql_bigram_quality() -> str:
    toks = _SQL_TOKS_OF.format(t="text")
    return f"""
WITH d AS (SELECT doc_id AS id, {toks} AS l FROM documents),
tok AS (SELECT id, unnest(l) AS tok FROM d),
v AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS vv FROM tok),
z AS (SELECT id, unnest(list_zip(l, l[2:])) AS p FROM d),
bg AS (SELECT id, p[1] AS prev, p[2] AS tok
       FROM z WHERE p[2] IS NOT NULL),
cb AS (SELECT prev, tok, CAST(count(*) AS BIGINT) AS cbg
       FROM bg GROUP BY prev, tok),
cc AS (SELECT prev, CAST(count(*) AS BIGINT) AS cctx
       FROM bg GROUP BY prev),
lp AS (SELECT id,
              ln((CAST(cbg AS DOUBLE) + 0.5)
                 / (CAST(cctx AS DOUBLE) + 0.5 * CAST(vv AS DOUBLE))) AS lp
       FROM bg JOIN cb USING (prev, tok) JOIN cc USING (prev), v),
pd AS (SELECT id, CAST(count(*) AS BIGINT) AS n_bigrams,
              round(avg(lp), 4) AS score
       FROM lp GROUP BY id)
SELECT i.id, coalesce(pd.n_bigrams, 0) AS n_bigrams, pd.score
FROM (SELECT DISTINCT id FROM d) i LEFT JOIN pd USING (id)
ORDER BY id LIMIT 200
"""


_SQL_KEY_SKEW = """
WITH c AS (SELECT event_type, count(*) AS n FROM events GROUP BY event_type),
t AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM c)
SELECT event_type, n, round(n / n_total, 6) AS share
FROM c, t ORDER BY n DESC, event_type LIMIT 5
"""


_SQL_ZSCORE = """
WITH st AS (SELECT event_type, avg(value) AS mu, stddev_pop(value) AS sigma
            FROM events GROUP BY event_type)
SELECT e.event_id, e.event_type, round((e.value - mu) / sigma, 4) AS z
FROM events e JOIN st USING (event_type)
WHERE sigma > 0 AND abs(round((e.value - mu) / sigma, 4)) >= 3.0
ORDER BY event_id LIMIT 300
"""


def _sql_dup_passages(shingle_n: int = 5, min_docs: int = 2, k: int = 100) -> str:
    toks = _SQL_TOKS_OF.format(t="text")
    m = shingle_n - 1
    return f"""
WITH tok AS (SELECT doc_id, {toks} AS toks FROM documents),
sh AS (SELECT doc_id AS id,
              unnest(list_distinct(list_transform(
                  range(1, greatest(len(toks) - {m}, 0) + 1),
                  i -> array_to_string(list_slice(toks, i, i + {m}), ' ')))) AS gram
       FROM tok)
SELECT gram,
       CAST(count(DISTINCT id) AS BIGINT) AS n_docs,
       min(id) AS first_doc
FROM sh GROUP BY gram
HAVING count(DISTINCT id) >= {min_docs}
ORDER BY n_docs DESC, gram LIMIT {k}
"""


def _sql_distribution_drift(
    lo: float = 0.0, hi: float = 500.0, nbins: int = 10, smooth: float = 0.5
) -> str:
    width = (hi - lo) / nbins
    return f"""
WITH e AS (SELECT event_type, value,
                  CAST(floor(epoch(ts)) AS BIGINT) AS e FROM events),
mm AS (SELECT min(e) AS mn, max(e) AS mx FROM e),
p AS (SELECT event_type,
             CAST(least(greatest(floor((value - {lo}) / {width}), 0),
                        {nbins - 1}) AS INT) AS bin,
             CASE WHEN e < (mn + mx) / 2.0 THEN 'a' ELSE 'b' END AS period
      FROM e, mm),
c AS (SELECT event_type, bin,
             sum(CASE WHEN period = 'a' THEN 1 ELSE 0 END) AS ca,
             sum(CASE WHEN period = 'b' THEN 1 ELSE 0 END) AS cb
      FROM p GROUP BY event_type, bin),
fb AS (SELECT g.event_type, CAST(r.range AS INT) AS bin,
                coalesce(c.ca, 0) AS ca, coalesce(c.cb, 0) AS cb
         FROM (SELECT DISTINCT event_type FROM c) g
         CROSS JOIN range(0, {nbins}) r
         LEFT JOIN c ON c.event_type = g.event_type AND c.bin = r.range),
t AS (SELECT event_type, ca, cb,
             sum(ca) OVER (PARTITION BY event_type) AS ta,
             sum(cb) OVER (PARTITION BY event_type) AS tb
      FROM fb)
SELECT event_type,
       CAST(sum(ca) AS BIGINT) AS n_a,
       CAST(sum(cb) AS BIGINT) AS n_b,
       round(sum(((ca + {smooth}) / (ta + {smooth * nbins})
                  - (cb + {smooth}) / (tb + {smooth * nbins}))
                 * ln(((ca + {smooth}) / (ta + {smooth * nbins}))
                      / ((cb + {smooth}) / (tb + {smooth * nbins})))), 4) AS psi
FROM t GROUP BY event_type ORDER BY event_type
"""


def _sql_segment_dedup(seg_words: int = 3, min_docs: int = 2) -> str:
    toks = _SQL_TOKS_OF.format(t="text")
    w = seg_words
    return f"""
WITH tok AS (SELECT doc_id, {toks} AS toks FROM documents),
seg AS (SELECT doc_id,
               unnest(list_transform(
                   range(1, CAST(ceil(len(toks) / {w}.0) AS BIGINT) + 1),
                   i -> {{'pos': i,
                         'seg': array_to_string(
                             list_slice(toks, (i - 1) * {w} + 1,
                                        (i - 1) * {w} + {w}), ' ')}}))
                 AS u
        FROM tok),
e AS (SELECT doc_id, u.pos AS pos, u.seg AS seg FROM seg),
banned AS (SELECT seg FROM e GROUP BY seg
           HAVING count(DISTINCT doc_id) >= {min_docs}),
kept AS (SELECT * FROM e ANTI JOIN banned USING (seg)),
rebuilt AS (SELECT doc_id, string_agg(seg, ' ' ORDER BY pos) AS clean_text,
                   CAST(count(*) AS BIGINT) AS n_kept
            FROM kept GROUP BY doc_id)
SELECT t.doc_id AS id, coalesce(r.clean_text, '') AS clean_text,
       CAST(CAST(ceil(len(t.toks) / {w}.0) AS BIGINT)
            - coalesce(r.n_kept, 0) AS BIGINT) AS n_removed
FROM tok t LEFT JOIN rebuilt r ON t.doc_id = r.doc_id
ORDER BY id LIMIT 200
"""


def _sql_ppr(iters: int = 3, d: float = 0.85,
             sources: tuple = (0, 2, 4)) -> str:
    """Unrolled personalized-PageRank twin (same scaffold as
    _sql_pagerank; teleport returns to the source set)."""
    srcs = ", ".join(str(int(x)) for x in sources)
    tel = f"CASE WHEN node IN ({srcs}) THEN 1.0/{len(sources)} ELSE 0.0 END"
    sql = f"""
WITH pairs AS (SELECT DISTINCT o_custkey*2 AS src, l_suppkey*2+1 AS dst
               FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
edges AS (SELECT src, dst FROM pairs UNION SELECT dst, src FROM pairs),
nodes AS (SELECT DISTINCT src AS node FROM edges),
outdeg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
r0 AS (SELECT node, {tel} AS rank FROM nodes),
"""
    for i in range(iters):
        sql += f"""c{i} AS (SELECT e.dst AS node, sum(r.rank/od.deg) AS c
  FROM edges e JOIN r{i} r ON e.src = r.node
  JOIN outdeg od ON od.src = e.src GROUP BY e.dst),
r{i + 1} AS (SELECT nodes.node,
  (1-{d!r})*({tel.replace('node', 'nodes.node')})
   + {d!r}*coalesce(c.c, 0.0) AS rank
  FROM nodes LEFT JOIN c{i} c ON nodes.node = c.node),
"""
    sql = sql.rstrip().rstrip(",")
    sql += f"""
SELECT node, round(rank, 6) AS rank FROM r{iters} ORDER BY node LIMIT 200
"""
    return sql


def _sql_pagerank(iters: int = 3, d: float = 0.85) -> str:
    """Unrolled power-iteration twin of graph.pagerank (recursive CTEs
    cannot aggregate in the recursive term, so each round is its own
    CTE — generated, not hand-written)."""
    sql = """
WITH pairs AS (SELECT DISTINCT o_custkey*2 AS src, l_suppkey*2+1 AS dst
               FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
edges AS (SELECT src, dst FROM pairs UNION SELECT dst, src FROM pairs),
nodes AS (SELECT DISTINCT src AS node FROM edges),
outdeg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
nn AS (SELECT count(*) AS n FROM nodes),
r0 AS (SELECT node, 1.0/n AS rank FROM nodes, nn),
"""
    for i in range(iters):
        sql += f"""c{i} AS (SELECT e.dst AS node, sum(r.rank/od.deg) AS c
  FROM edges e JOIN r{i} r ON e.src = r.node
  JOIN outdeg od ON od.src = e.src GROUP BY e.dst),
r{i + 1} AS (SELECT nodes.node, (1-{d!r})/n + {d!r}*coalesce(c.c, 0.0) AS rank
  FROM nodes LEFT JOIN c{i} c ON nodes.node = c.node, nn),
"""
    sql = sql.rstrip().rstrip(",")
    sql += f"""
SELECT node, round(rank, 6) AS rank FROM r{iters} ORDER BY node LIMIT 200
"""
    return sql


def _sql_bm25(k: int = 20, k1: float = 1.2, b: float = 0.75) -> str:
    terms = ", ".join(f"'{t}'" for t in _SEARCH_TERMS)
    toks = _SQL_TOKS_OF.format(t="text")
    return f"""
WITH dl AS (SELECT doc_id AS id, CAST(len({toks}) AS BIGINT) AS dl
            FROM documents),
tok AS (SELECT doc_id AS id, unnest({toks}) AS tok FROM documents),
f0 AS (SELECT id, tok, CAST(count(*) AS BIGINT) AS tf FROM tok
       WHERE tok IN ({terms}) GROUP BY id, tok),
d AS (SELECT tok, CAST(count(DISTINCT id) AS BIGINT) AS df
      FROM f0 GROUP BY tok),
s0 AS (SELECT CAST(count(*) AS BIGINT) AS n,
              avg(CAST(len({toks}) AS BIGINT)) AS avgdl FROM documents),
s AS (SELECT f0.id,
       round(sum( ln(1 + (n - df + 0.5) / (df + 0.5)) * tf * {k1 + 1.0!r}
                  / (tf + {k1!r} * ({1.0 - b!r} + {b!r} * dl / avgdl)) ),
             4) AS score
      FROM f0 JOIN d USING (tok) JOIN dl ON f0.id = dl.id, s0
      GROUP BY f0.id)
SELECT id, score FROM s ORDER BY score DESC, id LIMIT {k}
"""


def _sql_zorder(bits: int = 4) -> str:
    parts = []
    for j, expr in enumerate(["o_custkey % 16", "o_orderkey % 16"]):
        for i in range(bits):
            parts.append(f"(((({expr}) >> {i}) & 1) << {i * 2 + j})")
    z = " | ".join(parts)
    return f"""
SELECT o_orderkey, CAST({z} AS BIGINT) AS zval
FROM orders ORDER BY o_orderkey LIMIT 200
"""


OPERATOR_ORACLE_SQL = {
    # The MP3 frame walk's closed form: n frames of 1152 samples at
    # 44.1 kHz; the Spark side parses SYNTHESIZED bytes back into
    # exactly these numbers (registry.op_audio_metadata). CBR rows
    # (doc_id % 14 = 0) are walked frame by frame; VBR rows
    # (doc_id % 14 = 7) carry a Xing header declaring n frames and
    # 417 + 417*ceil(n/2) + 522*floor(n/2) total bytes (alternating
    # 128/160 kbps audio frames behind a 417-byte Xing frame), and the
    # walker's O(1) header path must reproduce the floor-division
    # average bitrate exactly.
    "op_audio_metadata": """
WITH base AS (
  SELECT doc_id,
         CAST(1 + doc_id % 40 AS BIGINT) AS n,
         (doc_id % 14 = 7) AS is_vbr
  FROM documents WHERE doc_id % 7 = 0
)
SELECT doc_id AS media_id,
       n AS n_frames,
       CAST(round(n * 1152000.0 / 44100.0, 0) AS BIGINT) AS duration_ms,
       CAST(CASE WHEN is_vbr
                 THEN ((417 + 417 * ((n + 1) // 2) + 522 * (n // 2))
                       * 8 * 44100) // (n * 1152 * 1000)
                 ELSE 128 END AS INT) AS bitrate_kbps,
       44100 AS sample_rate,
       is_vbr AS vbr,
       CASE WHEN is_vbr THEN 'Xing' END AS xing
FROM base
ORDER BY media_id
""",
    # The bundled Layer-III codec pair's closed form: every planted
    # tone sits exactly on FFT bin 60 + 28*(doc_id % 30); decode must
    # put the dominant bin back where the encoder planted it
    # (registry.op_audio_fingerprint, operators/mp3.py).
    "op_audio_fingerprint": """
SELECT doc_id AS media_id,
       CAST(60 + 28 * (doc_id % 30) AS BIGINT) AS freq_bin,
       CAST(60 + 28 * (doc_id % 30) AS BIGINT) AS mp3_peak_bin,
       CAST(60 + 28 * (doc_id % 30) AS BIGINT) AS wav_peak_bin
FROM documents
WHERE doc_id % 13 = 0
ORDER BY media_id
""",
    # Planted image-pair closed form (registry.op_image_neardup): the
    # brightness-shifted member keeps an identical dHash, so the pair
    # list is exactly the (d, d+6) plant at Hamming 0.
    "op_image_neardup": """
SELECT a.doc_id AS id_a,
       b.doc_id AS id_b,
       0 AS hamming
FROM documents a
JOIN documents b ON b.doc_id = a.doc_id + 6
WHERE a.doc_id % 12 = 0
ORDER BY id_a, id_b
""",
    # Quarantine-probe closed form (registry.op_audio_quarantine):
    # the synthesized class -> (fmt, status, reason) mapping and its
    # exact counts derived from the id arithmetic alone — a count
    # mismatch means the probe misclassified a payload (e.g. the
    # patched table-16 stream did NOT hit the tables-16-23 raise).
    "op_audio_quarantine": """
WITH probe AS (SELECT (CAST(doc_id // 13 AS BIGINT) % 4) AS cls
               FROM documents WHERE doc_id % 13 = 0)
SELECT CASE WHEN cls = 0 THEN 'wav'
            WHEN cls = 3 THEN 'unknown' ELSE 'mp3' END AS fmt,
       CASE WHEN cls IN (0, 1) THEN 'inline'
            ELSE 'quarantined' END AS status,
       CASE WHEN cls = 2 THEN 'unsupported_huffman_table'
            WHEN cls = 3 THEN 'unsupported_format' END AS reason,
       CAST(count(*) AS BIGINT) AS n
FROM probe
GROUP BY fmt, status, reason
ORDER BY fmt, status, reason NULLS LAST
""",
    # Video quarantine-probe closed form (registry.op_video_quarantine)
    # — same id-arithmetic pattern as the audio probe.
    "op_video_quarantine": """
WITH probe AS (SELECT (CAST(doc_id // 17 AS BIGINT) % 4) AS cls
               FROM documents WHERE doc_id % 17 = 0)
SELECT CASE WHEN cls IN (0, 1) THEN 'avi'
            WHEN cls = 2 THEN 'mp4' ELSE 'unknown' END AS fmt,
       CASE WHEN cls = 0 THEN 'inline' ELSE 'quarantined' END AS status,
       CASE WHEN cls IN (1, 2) THEN 'unsupported_codec'
            WHEN cls = 3 THEN 'unsupported_container' END AS reason,
       CAST(count(*) AS BIGINT) AS n
FROM probe
GROUP BY fmt, status, reason
ORDER BY fmt, status, reason NULLS LAST
""",
    # Planted cross-codec audio-pair closed form
    # (registry.op_audio_neardup): the WAV member and the Layer-III
    # member of each pair fingerprint to the same planted bin. Written
    # as a self-join on the COMPUTED bin (not the (d, d+6) plant) so a
    # corpus past doc_id 12*2400 yields the same wrap-around
    # cross-pairs on both sides instead of silently diverging.
    "op_audio_neardup": """
WITH clips AS (
  SELECT doc_id AS id,
         CAST(40 + (((doc_id - CASE WHEN doc_id % 12 = 6 THEN 6 ELSE 0 END)
                     // 12) % 2400) AS BIGINT) AS fp
  FROM documents
  WHERE doc_id % 6 = 0
)
SELECT a.id AS id_a, b.id AS id_b, a.fp
FROM clips a
JOIN clips b ON a.fp = b.fp AND a.id < b.id
ORDER BY id_a, id_b
""",
    # Planted video-pair closed form (registry.op_video_neardup): the
    # brightness-shifted member's one differing frame is absorbed by
    # the bitwise-majority signature fold, so pairs land at Hamming 0.
    "op_video_neardup": """
SELECT a.doc_id AS id_a,
       b.doc_id AS id_b,
       0 AS hamming
FROM documents a
JOIN documents b ON b.doc_id = a.doc_id + 6
WHERE a.doc_id % 12 = 0
ORDER BY id_a, id_b
""",
    # The MP4 box walk's synthesis parameters (registry.op_video_metadata
    # builds the ISO BMFF payload from exactly these expressions).
    "op_video_metadata": """
SELECT doc_id AS media_id,
       'isom' AS brand,
       CAST((1 + doc_id % 50) * 500 AS BIGINT) AS duration_ms,
       640 AS width,
       360 AS height,
       CAST(1 + doc_id % 24 AS BIGINT) AS n_frames,
       'avc1' AS video_codec
FROM documents
WHERE doc_id % 11 = 0
ORDER BY media_id
""",
    "op_regexp_funcs": """
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_num_runs,
       regexp_extract(text, '([A-Za-z]+)', 1) AS first_word,
       CAST(length(regexp_replace(text, '[aeiou]', '', 'g')) AS BIGINT)
         AS n_no_vowels
FROM documents ORDER BY doc_id LIMIT 200
""",
    "op_mode": """
WITH c AS (SELECT event_type, round(value, 0) AS v,
                  CAST(count(*) AS BIGINT) AS cnt
           FROM events GROUP BY event_type, round(value, 0)),
r AS (SELECT event_type, v, cnt,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY cnt DESC, v ASC) AS rn
      FROM c)
SELECT event_type, v AS mode_value, cnt FROM r
WHERE rn = 1 ORDER BY event_type
""",
    "op_window_funcs2": """
SELECT user_id, ts, round(value, 4) AS value,
       round(coalesce(lag(value, 2) OVER w, 0.0), 4) AS lag2,
       round(lead(value, 1) OVER w, 4) AS lead1,
       round(first_value(value) OVER wf, 4) AS first_v,
       round(last_value(value) OVER wf, 4) AS last_v,
       round(first_value(CASE WHEN value > 100 THEN value END IGNORE NULLS)
                 OVER wf, 4) AS first_big
FROM events WHERE user_id < 10
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
       wf AS (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
ORDER BY user_id, ts LIMIT 300
""",
    "op_weighted_sample_group": """
WITH a AS (
  SELECT doc_id, lang, n_chars,
         (CAST(concat('0x', substr(md5('wsg:' || CAST(doc_id AS VARCHAR)), 1, 8))
               AS BIGINT) + 1) / 4294967296.0 / n_chars AS xi
  FROM documents
  WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL AND n_chars > 0),
r AS (SELECT doc_id, lang, n_chars,
             row_number() OVER (PARTITION BY lang ORDER BY xi, doc_id) AS rn
      FROM a)
SELECT doc_id, lang, n_chars FROM r WHERE rn <= 20 ORDER BY doc_id
""",
    "op_weighted_sample": """
WITH a AS (
  SELECT doc_id, n_chars,
         (CAST(concat('0x', substr(md5('ws:' || CAST(doc_id AS VARCHAR)), 1, 8))
               AS BIGINT) + 1) / 4294967296.0 / n_chars AS xi
  FROM documents)
SELECT doc_id, n_chars FROM (
  SELECT doc_id, n_chars FROM a ORDER BY xi, doc_id LIMIT 100
) ORDER BY doc_id
""",
    "op_funnel": """
WITH s1 AS (SELECT user_id AS u, min(ts) AS t1 FROM events
            WHERE event_type = 'view' GROUP BY 1),
s2 AS (SELECT e.user_id AS u, min(e.ts) AS t2 FROM events e
       JOIN s1 ON e.user_id = s1.u
       WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1),
s3 AS (SELECT e.user_id AS u, min(e.ts) AS t3 FROM events e
       JOIN s2 ON e.user_id = s2.u
       WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1)
SELECT * FROM (
  SELECT CAST(1 AS BIGINT) AS step, 'view' AS step_name,
         (SELECT CAST(count(*) AS BIGINT) FROM s1) AS n_users
  UNION ALL
  SELECT 2, 'click', (SELECT CAST(count(*) AS BIGINT) FROM s2)
  UNION ALL
  SELECT 3, 'purchase', (SELECT CAST(count(*) AS BIGINT) FROM s3)
) ORDER BY step
""",
    "op_cohort_retention": """
WITH c AS (SELECT user_id AS u, min(date_trunc('week', ts)) AS cohort
           FROM events GROUP BY 1),
a AS (SELECT DISTINCT user_id AS u, date_trunc('week', ts) AS period
      FROM events)
SELECT cohort,
       CAST(date_diff('day', CAST(cohort AS DATE), CAST(period AS DATE)) / 7
            AS BIGINT) AS week_offset,
       CAST(count(*) AS BIGINT) AS n_users
FROM a JOIN c USING (u)
GROUP BY cohort, week_offset ORDER BY cohort, week_offset
""",
    "op_scd2_apply_changes": """
WITH h AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0 THEN upper(text) ELSE text END AS text,
         TIMESTAMP '2026-01-01 00:00:00' AS vf
  FROM documents WHERE doc_id % 7 <> 0
), f AS (
  SELECT doc_id, text, (doc_id % 9 = 0) AS is_del
  FROM documents WHERE doc_id % 3 = 0
), j AS (
  SELECT coalesce(h.doc_id, f.doc_id) AS id, h.doc_id AS h_id,
         h.text AS h_text, h.vf, f.doc_id AS f_id, f.text AS f_text,
         f.is_del
  FROM h FULL JOIN f ON h.doc_id = f.doc_id
), m AS (
  SELECT id AS doc_id, h_text AS text, vf AS valid_from,
         CAST(NULL AS TIMESTAMP) AS valid_to, TRUE AS is_current
  FROM j WHERE h_id IS NOT NULL AND (f_id IS NULL
        OR (NOT is_del AND h_text IS NOT DISTINCT FROM f_text))
  UNION ALL
  SELECT id, h_text, vf, TIMESTAMP '2026-02-01 00:00:00', FALSE
  FROM j WHERE h_id IS NOT NULL AND f_id IS NOT NULL
        AND (is_del OR h_text IS DISTINCT FROM f_text)
  UNION ALL
  SELECT id, f_text, TIMESTAMP '2026-02-01 00:00:00',
         CAST(NULL AS TIMESTAMP), TRUE
  FROM j WHERE f_id IS NOT NULL AND NOT is_del
        AND (h_id IS NULL OR h_text IS DISTINCT FROM f_text)
)
SELECT doc_id, text, valid_from, valid_to, is_current
FROM m ORDER BY doc_id, valid_from, is_current
""",
    "op_pagerank": _sql_pagerank(iters=3),
    "op_personalized_pagerank": _sql_ppr(iters=3),
    "op_connected_components": """
WITH g AS (SELECT text, CAST(min(doc_id) AS BIGINT) AS component,
                  count(*) AS n
           FROM documents GROUP BY text)
SELECT doc_id AS node, component
FROM documents JOIN g USING (text)
WHERE n >= 2 ORDER BY node
""",
    "op_normalize_per_key": """
WITH s AS (SELECT c_nationkey,
                  avg(c_acctbal) AS mu, stddev_samp(c_acctbal) AS sd
           FROM customer GROUP BY c_nationkey)
SELECT c_custkey, c.c_nationkey,
       round(CASE WHEN sd > 0 THEN (c_acctbal - mu) / sd ELSE 0.0 END,
             4) AS z
FROM customer c JOIN s ON c.c_nationkey = s.c_nationkey
ORDER BY c_custkey LIMIT 200
""",
    "op_grouped_quantiles": """
SELECT o_orderstatus,
       round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
       round(quantile_cont(o_totalprice, 0.95), 4) AS p95,
       round(quantile_cont(o_totalprice, 0.99), 4) AS p99
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
""",
    "op_window_funcs": """
SELECT c_custkey, c_nationkey,
       ntile(4) OVER w AS quartile,
       round(percent_rank() OVER w, 4) AS pct_rank,
       CAST(floor(cume_dist() OVER w * 1048576.0) AS BIGINT) AS cume_fp,
       nth_value(c_custkey, 2) OVER
         (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS second_poorest
FROM customer
WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
ORDER BY c_custkey LIMIT 200
""",
    "op_array_funcs": """
WITH v AS (SELECT vec_id,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv
           FROM embeddings)
SELECT vec_id,
       round(list_sum(dv), 4) AS v_sum,
       round(list_sum(list_transform(dv, x -> x * x)), 4) AS v_dot_self,
       CAST(len(list_filter(dv, x -> x > 0)) AS BIGINT) AS n_pos,
       round(list_sum(dv[1:8]), 4) AS head8_sum
FROM v ORDER BY vec_id LIMIT 200
""",
    "op_bm25_search": _sql_bm25(k=20),
    "op_zorder": _sql_zorder(bits=4),
    "op_quantile_bins": """
WITH b AS (SELECT quantile_cont(o_totalprice, [0.25, 0.5, 0.75]) AS bs
           FROM orders),
a AS (SELECT CAST(1 + CASE WHEN o_totalprice > bs[1] THEN 1 ELSE 0 END
                    + CASE WHEN o_totalprice > bs[2] THEN 1 ELSE 0 END
                    + CASE WHEN o_totalprice > bs[3] THEN 1 ELSE 0 END
                 AS BIGINT) AS bucket,
             o_totalprice AS v
      FROM orders, b)
SELECT bucket, CAST(count(*) AS BIGINT) AS n,
       round(min(v), 2) AS lo, round(max(v), 2) AS hi
FROM a GROUP BY bucket ORDER BY bucket
""",
    "op_sessionize": _sql_sessionize(),
    "op_last_seen_eventtime": """
WITH s AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 3600000000
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
x AS (
  SELECT user_id, ts,
         CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts) AS BIGINT)
           AS burst
  FROM s)
SELECT user_id, 'stale_alert' AS status, max(ts) AS last_ts
FROM x GROUP BY user_id, burst
ORDER BY user_id, last_ts LIMIT 300
""",
    "op_repetition": _sql_repetition(),
    "op_decontaminate": _sql_decontaminate(),
    "op_sample_mixture": _sql_sample_mixture(total_rows=200),
    "op_split_by_group": _sql_split_by_group(),
    "op_zipf_fit": """
WITH tok AS (SELECT unnest(list_filter(
               regexp_split_to_array(trim(lower(text)), '\\s+'),
               x -> x <> '')) AS tok
             FROM documents),
c AS (SELECT tok, CAST(count(*) AS BIGINT) AS freq FROM tok GROUP BY tok),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_types,
               CAST(sum(freq) AS BIGINT) AS n_tokens FROM c),
top AS (SELECT freq,
               row_number() OVER (ORDER BY freq DESC, tok ASC) AS rank
        FROM c ORDER BY freq DESC, tok LIMIT 500),
f AS (SELECT
        round(-regr_slope(ln(CAST(freq AS DOUBLE)),
                          ln(CAST(rank AS DOUBLE))), 4) AS alpha,
        round(regr_r2(ln(CAST(freq AS DOUBLE)),
                      ln(CAST(rank AS DOUBLE))), 4) AS r2
      FROM top)
SELECT n_types, n_tokens, alpha, r2 FROM tot, f
""",
    "op_kfold_splits": """
WITH a AS (
  SELECT source,
         CAST(concat('0x', substr(md5('fold:' || source), 1, 8)) AS BIGINT)
           % 5 AS fold
  FROM documents)
SELECT CAST(fold AS INT) AS fold, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT source) AS BIGINT) AS n_groups
FROM a GROUP BY fold ORDER BY fold
""",
    "op_compaction_plan": """
WITH f AS (SELECT doc_id AS file_id, n_chars AS size_bytes,
                  CAST(concat('0x',
                       substr(md5('compact:' || doc_id), 1, 8)) AS BIGINT)
                    % 8 AS shard
           FROM documents),
c AS (SELECT file_id, size_bytes, shard,
             sum(size_bytes) OVER (
               PARTITION BY shard
               ORDER BY size_bytes DESC, file_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             - size_bytes AS cum_before
      FROM f),
b AS (SELECT file_id, size_bytes,
             shard * 1000000000
               + CAST(floor(cum_before / 10000.0) AS BIGINT) AS bin_id
      FROM c)
SELECT bin_id, CAST(count(*) AS BIGINT) AS n_files,
       CAST(sum(size_bytes) AS BIGINT) AS bin_bytes,
       min(file_id) AS first_file
FROM b GROUP BY bin_id ORDER BY bin_id LIMIT 300
""",
    "op_ngram_novelty": """
WITH tok AS (SELECT doc_id, list_filter(
               regexp_split_to_array(trim(lower(text)), '\\s+'),
               x -> x <> '') AS toks
             FROM documents),
t AS (SELECT doc_id AS id,
             list_distinct(list_transform(
               range(1, greatest(len(toks) - 2, 0) + 1),
               i -> array_to_string(list_slice(toks, i, i + 2), ' ')))
               AS shs
      FROM tok),
sh AS (SELECT id, unnest(shs) AS sh FROM t),
fs AS (SELECT sh, min(id) AS first_id FROM sh GROUP BY sh)
SELECT sh.id AS id, CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(sum(CASE WHEN fs.first_id = sh.id THEN 1 ELSE 0 END)
            AS BIGINT) AS n_novel,
       round(sum(CASE WHEN fs.first_id = sh.id THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 6) AS novelty
FROM sh JOIN fs ON sh.sh = fs.sh
GROUP BY sh.id ORDER BY id LIMIT 300
""",
    "op_keyword_search": _sql_keyword_search(k=20),
    "op_rolling_stats": _SQL_ROLLING,
    "op_zscore_anomalies": _SQL_ZSCORE,
    "op_unigram_logprob": _sql_unigram_logprob(),
    "op_semantic_decontaminate": """
WITH bench AS (SELECT vec_id AS bid, embedding
               FROM embeddings WHERE vec_id % 97 = 0),
corpus AS (SELECT vec_id AS id, embedding
           FROM embeddings WHERE vec_id % 97 <> 0),
sc AS (SELECT c.id, b.bid,
              round(CASE WHEN
                {NA} > 0 AND {NB} > 0
                THEN {D} / ({NA} * {NB}) ELSE 0.0 END, 6) AS s
       FROM corpus c, bench b),
r AS (SELECT id, bid, s,
             row_number() OVER (PARTITION BY id
                                ORDER BY s DESC, bid) AS rn
      FROM sc)
SELECT id, s AS max_cos,
       CASE WHEN s >= 0.9 THEN bid END AS matched_id,
       s >= 0.9 AS contaminated
FROM r WHERE rn = 1 ORDER BY id LIMIT 300
""".replace(
        "{D}",
        "list_sum(list_transform(list_zip(c.embedding, b.embedding),"
        " z -> CAST(z[1] * z[2] AS DOUBLE)))",
    ).replace(
        "{NA}", _NORM_F32.format(col="c.embedding")
    ).replace("{NB}", _NORM_F32.format(col="b.embedding")),
    "op_seasonal_zscore": """
WITH st AS (SELECT event_id, event_type, hour(ts) AS hod, value
            FROM events),
prof AS (SELECT event_type, hod, avg(value) AS mu,
                stddev_pop(value) AS sd
         FROM st GROUP BY event_type, hod)
SELECT event_id, st.event_type, CAST(st.hod AS BIGINT) AS hod,
       round((value - mu) / sd, 4) AS z
FROM st JOIN prof ON st.event_type = prof.event_type
                 AND st.hod = prof.hod
WHERE sd > 0 AND abs(round((value - mu) / sd, 4)) >= 3.0
ORDER BY event_id LIMIT 300
""",
    "op_ref_integrity": """
SELECT relationship, n_orphans FROM (
  SELECT 'orders->customer(thinned)' AS relationship,
         CAST(count(*) AS BIGINT) AS n_orphans
  FROM orders o WHERE NOT EXISTS
    (SELECT 1 FROM customer c
     WHERE c.c_custkey % 50 <> 0 AND c.c_custkey = o.o_custkey)
  UNION ALL
  SELECT 'lineitem->orders', CAST(count(*) AS BIGINT) FROM lineitem l
  WHERE NOT EXISTS (SELECT 1 FROM orders o
                    WHERE o.o_orderkey = l.l_orderkey)
  UNION ALL
  SELECT 'lineitem->part', CAST(count(*) AS BIGINT) FROM lineitem l
  WHERE NOT EXISTS (SELECT 1 FROM part p
                    WHERE p.p_partkey = l.l_partkey)
  UNION ALL
  SELECT 'lineitem->supplier', CAST(count(*) AS BIGINT) FROM lineitem l
  WHERE NOT EXISTS (SELECT 1 FROM supplier s
                    WHERE s.s_suppkey = l.l_suppkey)) u
ORDER BY relationship
""",
    "op_funnel_latency": """
WITH fv AS (SELECT user_id,
                   min(CASE WHEN event_type = 'view' THEN ts END)
                     AS first_view
            FROM events GROUP BY user_id),
pu AS (SELECT e.user_id, fv.first_view,
              min(CASE WHEN e.event_type = 'purchase'
                        AND e.ts > fv.first_view THEN e.ts END)
                AS first_buy
       FROM events e JOIN fv ON e.user_id = fv.user_id
       GROUP BY e.user_id, fv.first_view),
lat AS (SELECT user_id,
               CAST(floor(epoch(first_buy)) AS BIGINT)
                 - CAST(floor(epoch(first_view)) AS BIGINT) AS lat_s,
               first_view IS NOT NULL AS viewed,
               (first_view IS NOT NULL AND first_buy IS NOT NULL)
                 AS converted
        FROM pu)
SELECT CAST(sum(CASE WHEN viewed THEN 1 ELSE 0 END) AS BIGINT)
         AS n_viewed,
       CAST(sum(CASE WHEN converted THEN 1 ELSE 0 END) AS BIGINT)
         AS n_converted,
       round(quantile_cont(CASE WHEN converted THEN lat_s END, 0.5), 2)
         AS p50_latency_s,
       round(quantile_cont(CASE WHEN converted THEN lat_s END, 0.9), 2)
         AS p90_latency_s
FROM lat
""",
    "op_topk_with_ties": """
WITH b AS (SELECT o_orderpriority, o_orderkey,
                  round(CAST(o_totalprice / 1000 AS DOUBLE), 0) AS price_band
           FROM orders),
r AS (SELECT o_orderpriority, o_orderkey, price_band,
             CAST(dense_rank() OVER (PARTITION BY o_orderpriority
                                     ORDER BY price_band DESC)
                  AS BIGINT) AS rnk
      FROM b)
SELECT o_orderpriority, price_band, rnk, o_orderkey
FROM r WHERE rnk <= 3
ORDER BY o_orderpriority, rnk, o_orderkey
""",
    "op_generator_funcs": """
SELECT n_nationkey, kind, val FROM (
  SELECT n_nationkey, 'seq' AS kind,
         CAST(unnest(generate_series(0, n_nationkey % 4)) AS BIGINT) AS val
  FROM nation
  UNION ALL
  SELECT n_nationkey, 'key', CAST(n_nationkey AS BIGINT) FROM nation
  UNION ALL
  SELECT n_nationkey, 'region', CAST(n_regionkey AS BIGINT) FROM nation) u
ORDER BY n_nationkey, kind, val
""",
    "op_bitmap_distinct": """
SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_distinct
FROM events GROUP BY event_type
UNION ALL
SELECT '__all__' AS event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_distinct
FROM events
ORDER BY event_type
""",
    "op_holt_forecast": """
WITH a AS (SELECT user_id, ts, event_id, value,
                 list(value) OVER w AS l,
                 CAST(count(*) OVER w AS BIGINT) AS n
           FROM events WHERE user_id < 10
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)),
b AS (SELECT user_id, ts, event_id, value, n,
             list_reduce(l, (acc, x) -> acc * 0.5 + 0.5 * x) AS s1
      FROM a),
c AS (SELECT user_id, ts, value, n, s1,
             list(s1) OVER w2 AS l2
      FROM b
      WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)),
d AS (SELECT user_id, ts, value, n, s1,
             list_reduce(l2, (acc, x) -> acc * 0.5 + 0.5 * x) AS s2
      FROM c)
SELECT user_id, ts,
       CAST(floor(value * 1048576.0) AS BIGINT) AS value_fp,
       CAST(floor(s1 * 1048576.0) AS BIGINT) AS s1_fp,
       CAST(floor(s2 * 1048576.0) AS BIGINT) AS s2_fp,
       CASE WHEN n >= 2
            THEN CAST(floor(((2.0 * s1 - s2) + 1.0 * (1.0 * (s1 - s2)))
                            * 1048576.0) AS BIGINT)
       END AS forecast_fp
FROM d ORDER BY user_id, ts LIMIT 300
""",
    "op_rolling_corr": """
SELECT user_id, ts,
       round(corr(value, CAST(CAST(floor(epoch(ts)) AS BIGINT) AS DOUBLE))
             OVER w, 4) + 0.0 AS roll_corr,
       CAST(count(*) OVER w AS BIGINT) AS n_frame
FROM events WHERE user_id < 10
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
ORDER BY user_id, ts LIMIT 300
""",
    "op_seasonal_baseline": """
WITH pb AS (SELECT event_type, date_trunc('hour', ts) AS bucket,
                   avg(value) AS v
            FROM events GROUP BY event_type, date_trunc('hour', ts)),
wp AS (SELECT event_type, v,
              lag(v, 24) OVER (PARTITION BY event_type
                               ORDER BY bucket) AS pred
       FROM pb)
SELECT event_type, CAST(count(*) AS BIGINT) AS n_buckets,
       round(avg(abs(v - pred)), 4) AS mae
FROM wp WHERE pred IS NOT NULL
GROUP BY event_type ORDER BY event_type
""",
    "op_url_normalize": """
SELECT doc_id,
       concat('https://example', CAST(doc_id % 3 AS VARCHAR),
              '.com/path', CAST(doc_id % 5 AS VARCHAR),
              '?id=', CAST(doc_id % 10 AS VARCHAR)) AS canon_url
FROM documents ORDER BY doc_id LIMIT 200
""",
    "op_temperature_mix": """
WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS cnt
           FROM documents GROUP BY lang),
q AS (SELECT lang,
             CAST(floor(200.0 * sqrt(CAST(cnt AS DOUBLE))
                        / sum(sqrt(CAST(cnt AS DOUBLE))) OVER ())
                  AS BIGINT) AS quota
      FROM c),
r AS (SELECT doc_id, d.lang, quota,
             row_number() OVER (PARTITION BY d.lang ORDER BY doc_id) AS rn
      FROM documents d JOIN q ON d.lang = q.lang)
SELECT doc_id, lang FROM r WHERE rn <= quota ORDER BY lang, doc_id
""",
    "op_bigram_quality": _sql_bigram_quality(),
    "op_key_skew": _SQL_KEY_SKEW,
    "op_chunk_documents": _sql_chunk_documents(chunk_chars=200, overlap=50),
    "op_segment_dedup": _sql_segment_dedup(seg_words=3, min_docs=2),
    "op_snapshot_diff": """
WITH old AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0 THEN upper(text) ELSE text END AS text,
         n_chars
  FROM documents WHERE doc_id % 7 <> 0
), new AS (
  SELECT doc_id, text, n_chars FROM documents WHERE doc_id % 11 <> 0
), d AS (
  SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
         CASE WHEN o.doc_id IS NULL THEN 'added'
              WHEN n.doc_id IS NULL THEN 'removed'
              WHEN (o.text IS DISTINCT FROM n.text)
                OR (o.n_chars IS DISTINCT FROM n.n_chars) THEN 'changed'
              ELSE 'unchanged' END AS status
  FROM old o FULL JOIN new n ON o.doc_id = n.doc_id
)
SELECT doc_id, status FROM d WHERE status <> 'unchanged' ORDER BY doc_id
""",
    "op_reduced_join": """
SELECT o.o_orderkey, c.c_name, o.o_totalprice
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_acctbal > 9000
ORDER BY o.o_orderkey LIMIT 200
""",
    "op_fuzzy_join": """
WITH n AS (SELECT DISTINCT p_name AS name FROM part)
SELECT a.name AS name_a, b.name AS name_b,
       CAST(levenshtein(a.name, b.name) AS BIGINT) AS distance
FROM n a JOIN n b ON a.name < b.name
WHERE levenshtein(a.name, b.name) <= 2
ORDER BY name_a, name_b
""",
    "op_profile": """
WITH cols(col_name) AS (VALUES ('o_custkey'), ('o_orderdate'),
                             ('o_orderkey'), ('o_orderstatus'))
SELECT c.col_name,
       (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n_rows,
       CASE c.col_name
         WHEN 'o_orderkey' THEN
           (SELECT CAST(count(*) - count(o_orderkey) AS BIGINT)
            FROM orders)
         WHEN 'o_custkey' THEN
           (SELECT CAST(count(*) - count(o_custkey) AS BIGINT) FROM orders)
         WHEN 'o_orderstatus' THEN
           (SELECT CAST(count(*) - count(o_orderstatus) AS BIGINT)
            FROM orders)
         WHEN 'o_orderdate' THEN
           (SELECT CAST(count(*) - count(o_orderdate) AS BIGINT)
            FROM orders)
       END AS n_nulls,
       CASE c.col_name
         WHEN 'o_orderkey' THEN
           (SELECT CAST(count(DISTINCT o_orderkey) AS BIGINT) FROM orders)
         WHEN 'o_custkey' THEN
           (SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) FROM orders)
         WHEN 'o_orderstatus' THEN
           (SELECT CAST(count(DISTINCT o_orderstatus) AS BIGINT)
            FROM orders)
         WHEN 'o_orderdate' THEN
           (SELECT CAST(count(DISTINCT o_orderdate) AS BIGINT)
            FROM orders)
       END AS n_distinct,
       CASE c.col_name
         WHEN 'o_orderkey'    THEN (SELECT CAST(min(o_orderkey) AS VARCHAR) FROM orders)
         WHEN 'o_custkey'     THEN (SELECT CAST(min(o_custkey) AS VARCHAR) FROM orders)
         WHEN 'o_orderstatus' THEN (SELECT min(o_orderstatus) FROM orders)
         WHEN 'o_orderdate'   THEN (SELECT CAST(min(o_orderdate) AS VARCHAR) FROM orders)
       END AS min_val,
       CASE c.col_name
         WHEN 'o_orderkey'    THEN (SELECT CAST(max(o_orderkey) AS VARCHAR) FROM orders)
         WHEN 'o_custkey'     THEN (SELECT CAST(max(o_custkey) AS VARCHAR) FROM orders)
         WHEN 'o_orderstatus' THEN (SELECT max(o_orderstatus) FROM orders)
         WHEN 'o_orderdate'   THEN (SELECT CAST(max(o_orderdate) AS VARCHAR) FROM orders)
       END AS max_val
FROM cols c ORDER BY c.col_name
""",
    "op_scd2_merge": """
WITH hist_open AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0 THEN upper(text) ELSE text END AS text,
         TIMESTAMP '2026-01-01 00:00:00' AS valid_from,
         CAST(NULL AS TIMESTAMP) AS valid_to,
         TRUE AS is_current
  FROM documents WHERE doc_id % 7 <> 0
), hist_closed AS (
  SELECT doc_id, 'v0:' || text AS text,
         TIMESTAMP '2025-01-01 00:00:00' AS valid_from,
         TIMESTAMP '2026-01-01 00:00:00' AS valid_to,
         FALSE AS is_current
  FROM documents WHERE doc_id % 13 = 0 AND doc_id % 7 <> 0
), snap AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 11 <> 0
), j AS (
  SELECT o.doc_id AS o_id, o.text AS o_text, o.valid_from AS o_vf,
         n.doc_id AS n_id, n.text AS n_text
  FROM hist_open o FULL JOIN snap n ON o.doc_id = n.doc_id
), merged AS (
  SELECT o_id AS doc_id, o_text AS text, o_vf AS valid_from,
         CAST(NULL AS TIMESTAMP) AS valid_to, TRUE AS is_current
  FROM j WHERE o_id IS NOT NULL AND n_id IS NOT NULL
    AND o_text IS NOT DISTINCT FROM n_text
  UNION ALL
  SELECT o_id, o_text, o_vf, TIMESTAMP '2026-02-01 00:00:00', FALSE
  FROM j WHERE o_id IS NOT NULL
    AND (n_id IS NULL OR o_text IS DISTINCT FROM n_text)
  UNION ALL
  SELECT n_id, n_text, TIMESTAMP '2026-02-01 00:00:00',
         CAST(NULL AS TIMESTAMP), TRUE
  FROM j WHERE n_id IS NOT NULL
    AND (o_id IS NULL OR o_text IS DISTINCT FROM n_text)
  UNION ALL
  SELECT doc_id, text, valid_from, valid_to, is_current FROM hist_closed
)
SELECT doc_id, text, valid_from, valid_to, is_current
FROM merged ORDER BY doc_id, valid_from
""",
    "op_asof_join": """
SELECT e.event_id, e.user_id, p.event_id AS purchase_id
FROM (SELECT user_id, event_id, ts FROM events WHERE event_type = 'error') e
ASOF JOIN (SELECT user_id, event_id, ts FROM events
           WHERE event_type = 'purchase') p
  ON e.user_id = p.user_id AND e.ts >= p.ts
ORDER BY e.event_id LIMIT 200
""",
    "op_interval_join": """
SELECT e.event_id, p.event_id AS purchase_id
FROM events e
JOIN events p
  ON e.user_id = p.user_id
 AND e.ts >= p.ts AND e.ts < p.ts + INTERVAL 2 HOUR
WHERE e.event_type = 'error' AND p.event_type = 'purchase'
ORDER BY e.event_id, purchase_id LIMIT 200
""",
    "op_running_total": """
SELECT o_custkey, o_orderkey,
       round(sum(o_totalprice) OVER (
             PARTITION BY o_custkey
             ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
       AS running_total
FROM orders
ORDER BY o_custkey, o_orderkey LIMIT 200
""",
    "op_cube": """
SELECT o_orderstatus, o_orderpriority, count(*) AS cnt
FROM orders
GROUP BY CUBE(o_orderstatus, o_orderpriority)
ORDER BY o_orderstatus NULLS LAST, o_orderpriority NULLS LAST
""",
    # BIGINT casts on every integer sum: DuckDB sum(int) -> HUGEINT,
    # which pandas renders as float64 and breaks the driver hash.
    "op_pivot": """
SELECT user_id,
       cast(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
       cast(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view,
       cast(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
       cast(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
       cast(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error
FROM events GROUP BY user_id ORDER BY user_id
""",
    "op_sequence_pack": """
SELECT pack_id, count(*) AS n_docs, cast(sum(n_chars) AS BIGINT) AS n_tokens
FROM (SELECT doc_id, n_chars,
             (doc_id % 4) * 1000000000
             + cast(floor((sum(n_chars) OVER (PARTITION BY doc_id % 4
                            ORDER BY doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                           - n_chars) / 2000) AS BIGINT) AS pack_id
      FROM documents) t
GROUP BY pack_id ORDER BY pack_id LIMIT 200
""",
    "op_pack_offsets": """
SELECT doc_id, pack_id,
       CAST(sum(n_chars) OVER (PARTITION BY pack_id ORDER BY doc_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW)
            - n_chars AS BIGINT) AS start_pos,
       n_chars AS n_tokens
FROM (SELECT doc_id, n_chars,
             (doc_id % 4) * 1000000000
             + cast(floor((sum(n_chars) OVER (PARTITION BY doc_id % 4
                            ORDER BY doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                           - n_chars) / 2000) AS BIGINT) AS pack_id
      FROM documents) t
ORDER BY doc_id LIMIT 300
""",
    "op_stratified_take": """
SELECT doc_id, lang
FROM (SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
      FROM documents) t
WHERE rn <= 10 ORDER BY lang, doc_id
""",
    "op_above_own_avg": """
SELECT o_orderkey FROM orders o
WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders o2
                      WHERE o2.o_custkey = o.o_custkey)
ORDER BY o_orderkey LIMIT 200
""",
    # Exact continuous percentiles attested via bracketing rank
    # anchors (raw data doubles — tie-free), not the interpolated
    # midpoint (which lands exactly on a %.2f rounding tie for cents
    # data; see scripts/tie_audit.py).
    "op_percentile": _sql_percentile_anchors(),
    # Derived check: exact distinct count + literal TRUE; the Spark
    # side computes TRUE iff the HLL estimate is within 2x rsd.
    "op_approx_count_distinct": """
SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_exact,
       TRUE AS within_tol
FROM orders
""",
    # Derived check: exact-quantile rank anchors (same tie-safe
    # spelling as op_percentile) + literal TRUE accuracy booleans for
    # the GK sketch.
    "op_approx_percentile": _sql_percentile_anchors(
        ",\n       TRUE AS p50_ok, TRUE AS p95_ok"
    ),
    "op_string_funcs": """
SELECT p_partkey, trim(p_name) AS t, lpad(p_brand, 12, '_') AS padded,
       replace(p_name, ' ', '-') AS dashed,
       reverse(substr(p_name, 1, 6)) AS rev6
FROM part ORDER BY p_partkey LIMIT 100
""",
    "op_json_extract": """
SELECT cast(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_mod,
       count(*) AS cnt
FROM events
GROUP BY k_mod ORDER BY k_mod
""",
    "op_dedup_exact": """
SELECT min(doc_id) AS keep_id, count(*) AS n_copies
FROM documents GROUP BY md5(text)
ORDER BY keep_id LIMIT 200
""",
    "op_bloom_dedup": """
WITH hist AS (SELECT substr(text, 1, 12) AS k FROM documents WHERE doc_id % 3 <> 0),
     nw AS (SELECT doc_id, substr(text, 1, 12) AS k FROM documents WHERE doc_id % 3 = 0)
SELECT n.doc_id, n.k AS prefix_key FROM nw n
WHERE NOT EXISTS (SELECT 1 FROM hist h WHERE h.k = n.k)
  AND n.doc_id = (SELECT min(doc_id) FROM nw n2 WHERE n2.k = n.k)
ORDER BY n.doc_id
""",
    "op_text_clean": """
WITH s AS (
  SELECT doc_id,
         '<p>' || substr(text, 1, 80) || '</p> &amp; <b>tail</b>' AS html,
         regexp_replace(substr(text, 1, 2000), '[^ -~]', '', 'g') AS ascii_text
  FROM documents)
SELECT doc_id,
       trim(regexp_replace(
         replace(replace(replace(replace(replace(replace(
           regexp_replace(html, '<[^>]+>', '', 'g'),
           '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
           '&nbsp;', ' '), '&amp;', '&'),
         '\\s+', ' ', 'g')) AS cleaned,
       round(CASE WHEN length(ascii_text) = 0 THEN 0.0 ELSE coalesce(
         list_sum(list_transform(
           list_sort(list_distinct(string_split(ascii_text, ''))),
           c -> CASE WHEN length(replace(ascii_text, c, '')) = length(ascii_text)
                     THEN 0.0
                     ELSE -((length(ascii_text) - length(replace(ascii_text, c, '')))::DOUBLE
                            / length(ascii_text))
                          * ln((length(ascii_text) - length(replace(ascii_text, c, '')))::DOUBLE
                               / length(ascii_text)) END)), 0.0) END, 4) AS entropy
FROM s ORDER BY doc_id LIMIT 200
""",
    "op_grouping_sets": _GROUPING_SETS_SQL,
    "op_dq_rules": """
WITH t AS (SELECT
  CAST(sum(CASE WHEN o_orderkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS p1,
  CAST(sum(CASE WHEN o_orderkey IS NOT NULL THEN 0 ELSE 1 END) AS BIGINT) AS v1,
  CAST(sum(CASE WHEN o_orderstatus IN ('F','O','P') THEN 1 ELSE 0 END) AS BIGINT) AS p2,
  CAST(sum(CASE WHEN o_orderstatus IN ('F','O','P') THEN 0 ELSE 1 END) AS BIGINT) AS v2,
  CAST(sum(CASE WHEN o_totalprice > 0 THEN 1 ELSE 0 END) AS BIGINT) AS p3,
  CAST(sum(CASE WHEN o_totalprice > 0 THEN 0 ELSE 1 END) AS BIGINT) AS v3,
  CAST(sum(CASE WHEN regexp_matches(o_orderpriority, '^[1-5]-')
                THEN 1 ELSE 0 END) AS BIGINT) AS p4,
  CAST(sum(CASE WHEN regexp_matches(o_orderpriority, '^[1-5]-')
                THEN 0 ELSE 1 END) AS BIGINT) AS v4
  FROM orders)
SELECT 'key_not_null' AS rule, p1 AS n_pass, v1 AS n_violations FROM t
UNION ALL SELECT 'status_known', p2, v2 FROM t
UNION ALL SELECT 'price_positive', p3, v3 FROM t
UNION ALL SELECT 'priority_format', p4, v4 FROM t
ORDER BY rule
""",
    "op_bitwise_funcs": """
SELECT o_orderkey,
       xor(o_orderkey, o_custkey) AS x_xor,
       o_orderkey & 255 AS x_and,
       o_orderkey | 1 AS x_or,
       o_orderkey << 3 AS x_shl,
       o_orderkey >> 2 AS x_shr,
       CAST(bit_count(o_orderkey) AS INT) AS x_pop
FROM orders ORDER BY o_orderkey LIMIT 100
""",
    "op_map_funcs": """
SELECT n_regionkey,
       CAST(count(*) AS INT) AS n_nations,
       min(n_name) AS first_nation,
       CAST(coalesce(sum(n_nationkey) FILTER (WHERE n_name LIKE 'A%'), 0)
            AS INT) AS sum_a_keys,
       arg_min(n_nationkey, n_name) AS first_key_id
FROM nation GROUP BY n_regionkey ORDER BY n_regionkey
""",
    "op_triangle_count": """
WITH e AS (SELECT DISTINCT least(o_custkey % 40, o_orderkey % 40) AS lo,
                           greatest(o_custkey % 40, o_orderkey % 40) AS hi
           FROM orders WHERE o_custkey % 40 <> o_orderkey % 40),
t AS (SELECT ab.lo AS a, ab.hi AS b, bc.hi AS c
      FROM e ab
      JOIN e bc ON ab.hi = bc.lo
      JOIN e ac ON ac.lo = ab.lo AND ac.hi = bc.hi),
n AS (SELECT a AS node FROM t
      UNION ALL SELECT b FROM t
      UNION ALL SELECT c FROM t)
SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
FROM n GROUP BY node ORDER BY node
""",
    "op_struct_json_roundtrip": """
SELECT n_nationkey,
       n_nationkey AS k2,
       upper(n_name) AS nm2,
       n_regionkey AS tag1,
       upper(n_name) AS nm3,
       CAST(2 AS INT) AS n_tags
FROM nation ORDER BY n_nationkey
""",
    "op_stable_ids": """
SELECT doc_id,
       CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS row_idx
FROM documents ORDER BY doc_id LIMIT 200
""",
    "op_array_set_funcs": """
WITH s AS (SELECT o_orderkey,
  [o_orderkey % 10, o_custkey % 10, CAST(3 AS BIGINT)] AS a,
  [o_custkey % 10, CAST(5 AS BIGINT)] AS b
  FROM orders)
SELECT o_orderkey,
  -- coalesce: DuckDB renders an EMPTY list as NULL, Spark as ''
  coalesce(array_to_string(list_sort(list_distinct(list_concat(a, b))), ','),
           '') AS u_str,
  coalesce(array_to_string(list_sort(list_distinct(list_intersect(a, b))), ','),
           '') AS i_str,
  coalesce(array_to_string(list_sort(list_distinct(
    list_filter(a, x -> NOT list_contains(b, x)))), ','), '') AS e_str,
  list_contains(b, o_orderkey % 10) AS has_k,
  CAST(coalesce(list_position(list_sort(list_distinct(list_concat(a, b))),
                              CAST(5 AS BIGINT)), 0) AS BIGINT) AS pos5
FROM s ORDER BY o_orderkey LIMIT 100
""",
    "op_try_funcs": """
SELECT o_orderkey,
       round(CASE WHEN o_custkey % 3 = 0 THEN NULL
                  ELSE o_totalprice / (o_custkey % 3) END, 4) AS d_ok,
       CAST(NULL AS BIGINT) AS add_ovf,     -- o_orderkey+1 >= 1 always overflows
       ([o_orderkey])[5] AS elem_oob,
       TRY_CAST('nope' AS TIMESTAMP) AS ts_bad,
       CAST(strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS TIMESTAMP) AS ts_ok
FROM orders ORDER BY o_orderkey LIMIT 100
""",
    "op_rollup_aggregate": """
SELECT date_trunc('hour', ts) AS bucket, event_type,
       CAST(count(*) AS BIGINT) AS n,
       round(sum(value), 2) AS sum_v,
       round(min(value), 2) AS min_v,
       round(max(value), 2) AS max_v
FROM events
GROUP BY date_trunc('hour', ts), event_type
ORDER BY bucket, event_type LIMIT 300
""",
    "op_feature_hash": """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                     t -> t <> '') AS tk
  FROM documents)
SELECT doc_id,
"""
    + ",\n".join(
        "       CAST(len(list_filter(tk, t -> "
        "CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT) % 8 = "
        f"{i})) AS BIGINT) AS d{i}"
        for i in range(8)
    )
    + """
FROM toks ORDER BY doc_id LIMIT 200
""",
    "op_range_window": """
SELECT event_id, user_id,
       CAST(count(*) OVER (
         PARTITION BY user_id
         ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
         RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW) AS BIGINT)
         AS n_last_hour
FROM events ORDER BY event_id LIMIT 300
""",
    "op_share": """
WITH pn AS (SELECT r_name, n_name, sum(c_acctbal) AS bal
            FROM customer
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name, n_name)
SELECT r_name, n_name,
       round(100.0 * bal / sum(bal) OVER (PARTITION BY r_name), 4)
         AS pct_of_region
FROM pn ORDER BY r_name, n_name
""",
    "op_pii_stats": """
WITH s AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com or +1 (555) 010-' || CAST(doc_id AS VARCHAR)
              || ' from 10.0.0.' || CAST(doc_id % 256 AS VARCHAR) AS t
  FROM documents)
SELECT doc_id,
       CAST(len(regexp_extract_all(
         t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
         AS BIGINT) AS n_email,
       CAST(len(regexp_extract_all(
         t, '\\b\\d{4}[ -]?\\d{4}[ -]?\\d{4}[ -]?\\d{1,4}\\b'))
         AS BIGINT) AS n_card,
       CAST(len(regexp_extract_all(t, '\\b\\d{3}-\\d{2}-\\d{4}\\b')) AS BIGINT) AS n_ssn,
       CAST(len(regexp_extract_all(t, '\\+?\\d[\\d\\s().-]{7,}\\d')) AS BIGINT) AS n_phone,
       CAST(len(regexp_extract_all(t, '\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b')) AS BIGINT) AS n_ip
FROM s ORDER BY doc_id LIMIT 200
""",
    "op_robust_scale": """
WITH q AS (SELECT event_type,
                  quantile_cont(value, 0.5) AS med,
                  quantile_cont(value, 0.75) - quantile_cont(value, 0.25) AS iqr
           FROM events GROUP BY event_type)
SELECT event_id, e.event_type,
       round(CASE WHEN iqr > 0 THEN (value - med) / iqr ELSE 0.0 END, 4)
         AS v_scaled
FROM events e JOIN q USING (event_type)
ORDER BY event_id LIMIT 200
""",
    # Discrete (data-valued) clip bounds: every output cell is a raw
    # parquet double — interpolated bounds sit exactly on a %.2f
    # rounding tie for cents data (tie_audit class fix).
    "op_winsorize": """
WITH c AS (SELECT event_type, value,
                  cume_dist() OVER (PARTITION BY event_type
                                    ORDER BY value) AS cd
           FROM events WHERE value IS NOT NULL),
p AS (SELECT event_type,
             min(CASE WHEN cd >= 0.05 THEN value END) AS lo,
             min(CASE WHEN cd >= 0.95 THEN value END) AS hi
      FROM c GROUP BY event_type)
SELECT event_id, e.event_type,
       CASE WHEN value IS NOT NULL
            THEN least(greatest(value, lo), hi) END AS v_winsorized
FROM events e JOIN p USING (event_type)
ORDER BY event_id LIMIT 200
""",
    "op_null_funcs": """
SELECT o_orderkey,
       nullif(o_orderstatus, 'O') AS st_or_null,
       coalesce(nullif(o_orderstatus, 'O'), 'OPEN') AS st_mapped,
       round(least(o_totalprice, 50000.0), 2) AS price_capped,
       CAST(greatest(length(o_orderpriority), 8) AS BIGINT) AS prio_len_floor
FROM orders ORDER BY o_orderkey LIMIT 100
""",
    "op_date_funcs": """
SELECT o_orderkey, o_orderdate,
       last_day(o_orderdate) AS month_end,
       CAST(extract(quarter FROM o_orderdate) AS BIGINT) AS q,
       CAST(o_orderdate + INTERVAL 3 MONTH AS DATE) AS plus3m,
       date_diff('day', DATE '1995-01-01', o_orderdate) AS days_since_95
FROM orders ORDER BY o_orderkey LIMIT 100
""",
    "op_k_suppress": """
WITH g AS (SELECT doc_id, lang, source,
                  count(*) OVER (PARTITION BY lang, source) AS n
           FROM documents)
SELECT doc_id,
       CASE WHEN n >= 3 THEN lang END AS lang,
       CASE WHEN n >= 3 THEN source END AS source,
       (n < 3) AS suppressed
FROM g ORDER BY doc_id LIMIT 200
""",
    "op_unpivot": """
WITH wide AS (
  SELECT o_orderstatus, CAST(count(*) AS DOUBLE) AS n_orders,
         round(sum(o_totalprice), 2) AS sum_price,
         round(avg(o_totalprice), 2) AS avg_price
  FROM orders GROUP BY o_orderstatus)
SELECT o_orderstatus, metric, val
FROM (UNPIVOT wide ON n_orders, sum_price, avg_price
      INTO NAME metric VALUE val)
ORDER BY o_orderstatus, metric
""",
    "op_string_agg": """
SELECT r_name,
       string_agg(n_name, ',' ORDER BY n_name) AS nations,
       CAST(count(*) AS BIGINT) AS n_nations
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name ORDER BY r_name
""",
    "op_gap_fill": """
WITH actual AS (
  SELECT user_id, date_trunc('hour', ts) AS bucket,
         CAST(round(sum(value) * 100, 0) AS BIGINT) AS vc,
         CAST(count(*) AS BIGINT) AS nb
  FROM events WHERE user_id < 10 GROUP BY user_id, date_trunc('hour', ts)),
bounds AS (SELECT user_id, min(bucket) AS b0, max(bucket) AS b1
           FROM actual GROUP BY user_id),
spine AS (SELECT user_id,
                 unnest(generate_series(b0, b1, INTERVAL 1 HOUR)) AS bucket
          FROM bounds),
j AS (SELECT s.user_id, s.bucket, a.vc, a.nb
      FROM spine s LEFT JOIN actual a USING (user_id, bucket))
SELECT user_id, bucket,
       last_value(vc IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY bucket
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_cents,
       last_value(nb IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY bucket
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_obs,
       (vc IS NULL) AS was_filled
FROM j ORDER BY user_id, bucket LIMIT 500
""",
    "op_label_outliers": """
WITH ex AS (
  SELECT label, generate_subscripts(embedding, 1) AS pos,
         unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS x
  FROM embeddings),
cent AS (SELECT label, pos, avg(x) AS c FROM ex GROUP BY label, pos),
carr AS (SELECT label, list(c ORDER BY pos) AS carr FROM cent GROUP BY label),
d AS (SELECT e.vec_id, e.label,
        sqrt(greatest(0.0,
          list_dot_product(e.vd, e.vd)
          - 2 * list_dot_product(e.vd, carr.carr)
          + list_dot_product(carr.carr, carr.carr))) AS dist
      FROM (SELECT vec_id, label,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd
            FROM embeddings) e
      JOIN carr USING (label))
SELECT vec_id, label, round(dist, 6) AS dist
FROM d ORDER BY dist DESC, vec_id LIMIT 20
""",
    "op_embedding_quantize": """
WITH s AS (
  SELECT vec_id,
         list_transform(embedding, x -> x::DOUBLE) AS v,
         list_max(list_transform(embedding, x -> abs(x::DOUBLE))) / 127.0 AS scale
  FROM embeddings)
SELECT vec_id,
       round(coalesce(scale, 0.0), 6) AS scale,
       round(CASE WHEN scale IS NULL OR scale = 0 THEN 0.0 ELSE
         list_max(list_transform(v, x -> abs(x - floor(x / scale + 0.5) * scale)))
       END, 6) AS max_abs_err,
       CASE WHEN scale IS NULL OR scale = 0 THEN 0 ELSE
         len(list_filter(v, x -> floor(x / scale + 0.5) <> 0))
       END AS n_nonzero
FROM s ORDER BY vec_id LIMIT 200
""",
    "op_token_count": """
SELECT doc_id,
       length(text) - length(replace(text, ' ', '')) + 1 AS n_tokens
FROM documents ORDER BY doc_id LIMIT 200
""",
    "op_fingerprint": """
SELECT doc_id, md5(text) AS fp_md5
FROM documents ORDER BY doc_id LIMIT 200
""",
    "op_text_quality": """
SELECT doc_id,
       length(text) AS n_chars_calc,
       length(text) - length(replace(text, ' ', '')) AS n_spaces,
       round(cast(length(text) - length(replace(text, ' ', '')) + 1 AS DOUBLE)
             / greatest(length(text), 1), 4) AS word_density
FROM documents ORDER BY doc_id LIMIT 200
""",
    "op_lang_id": _sql_lang_id(),
    "op_quality_score": _sql_quality_score(),
    "op_dedup_minhash": _sql_dedup_minhash(),
    "op_dedup_collapse": _sql_dedup_collapse(),
    "op_dedup_survivors": _sql_dedup_survivors(),
    "op_dedup_ngram_jaccard": _sql_dedup_ngram_jaccard(),
    "op_dedup_jaccard_prefix": _sql_dedup_ngram_jaccard(),
    "op_dedup_containment": _sql_dedup_containment(threshold=0.6, k=300),
    "op_dedup_simhash": _sql_dedup_simhash(num_bits=60, max_hamming=3),
    "op_similarity_topk": _sql_similarity_topk(),
    # Derived check for the greedy MMR: invariants (k selected, all
    # distinct) + first pick == pure-relevance argmax, recomputed with
    # the portable cosine spelling.
    "op_mmr_diversify": f"""
SELECT CAST(10 AS BIGINT) AS n_selected,
       CAST(10 AS BIGINT) AS n_distinct,
       id AS top1_id, score AS top1_rel
FROM ({_sql_similarity_topk()}) t
ORDER BY score DESC, id LIMIT 1
""",
    "op_similarity_ann": _sql_similarity_ann(num_bits=8, n_probe=4),
    "op_retrieval_eval": _sql_retrieval_eval(k=10),
    "op_embedding_bucket_stats": _sql_embedding_bucket_stats(num_bits=8),
    "op_embedding_neardup": _sql_embedding_neardup(num_bits=12, threshold=0.95),
    "op_dup_passages": _sql_dup_passages(shingle_n=5, min_docs=2, k=100),
    "op_ohlc": """
WITH s AS (SELECT event_type, date_trunc('hour', ts) AS bucket, value,
                  row_number() OVER (PARTITION BY event_type,
                                     date_trunc('hour', ts)
                                     ORDER BY ts, event_id) AS ra,
                  row_number() OVER (PARTITION BY event_type,
                                     date_trunc('hour', ts)
                                     ORDER BY ts DESC, event_id DESC) AS rd
           FROM events)
SELECT event_type, bucket,
       min(CASE WHEN ra = 1 THEN value END) AS open,
       max(value) AS high, min(value) AS low,
       min(CASE WHEN rd = 1 THEN value END) AS close,
       CAST(count(*) AS BIGINT) AS n
FROM s GROUP BY event_type, bucket
ORDER BY event_type, bucket LIMIT 300
""",
    "op_period_growth": """
WITH c AS (SELECT event_type, date_trunc('month', ts) AS bucket,
                  CAST(count(*) AS BIGINT) AS n
           FROM events GROUP BY event_type, date_trunc('month', ts))
SELECT event_type, bucket, n,
       lag(n) OVER (PARTITION BY event_type ORDER BY bucket) AS prev_n,
       round((n - lag(n) OVER (PARTITION BY event_type ORDER BY bucket))
             / lag(n) OVER (PARTITION BY event_type ORDER BY bucket), 6)
           AS growth
FROM c ORDER BY event_type, bucket
""",
    "op_edit_distance": """
SELECT c_custkey, CAST(levenshtein(c_name, nn) AS INT) AS dist
FROM (SELECT c_custkey, c_name,
             lead(c_name) OVER (PARTITION BY c_nationkey
                                ORDER BY c_custkey) AS nn
      FROM customer) t
WHERE nn IS NOT NULL ORDER BY c_custkey LIMIT 200
""",
    "op_time_weighted_avg": """
WITH s AS (SELECT user_id, date_trunc('hour', ts) AS bucket, ts, value,
                  (epoch_us(coalesce(
                      lead(ts) OVER (PARTITION BY user_id,
                                     date_trunc('hour', ts)
                                     ORDER BY ts, event_id),
                      date_trunc('hour', ts) + INTERVAL 1 HOUR))
                   - epoch_us(ts)) / 1000000.0 AS w
           FROM events WHERE user_id < 20)
SELECT user_id, bucket, CAST(count(*) AS BIGINT) AS n_samples,
       round(sum(value * w) / sum(w), 4) AS twa
FROM s GROUP BY user_id, bucket ORDER BY user_id, bucket LIMIT 300
""",
    "op_assoc_rules": """
WITH l AS (SELECT user_id, ts, event_type,
                  lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
           FROM events),
s AS (SELECT user_id, event_type,
             sum(CASE WHEN prev IS NULL
                       OR floor(epoch(ts)) - floor(epoch(prev)) > 1800
                      THEN 1 ELSE 0 END)
                 OVER (PARTITION BY user_id ORDER BY ts) AS session_idx
      FROM l),
b AS (SELECT DISTINCT CAST(user_id AS VARCHAR) || '#'
                      || CAST(session_idx AS VARCHAR) AS bid,
             event_type AS item
      FROM s),
n AS (SELECT CAST(count(DISTINCT bid) AS BIGINT) AS n_b FROM b),
ic AS (SELECT item, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY item),
p AS (SELECT x.item AS x, y.item AS y, CAST(count(*) AS BIGINT) AS c_xy
      FROM b x JOIN b y ON x.bid = y.bid AND x.item < y.item
      GROUP BY 1, 2 HAVING count(*) >= 5)
SELECT p.x, p.y, p.c_xy,
       round(p.c_xy / n.n_b, 6) AS support,
       round(p.c_xy / cx.c, 6) AS conf_x_y,
       round(p.c_xy / cy.c, 6) AS conf_y_x,
       round((p.c_xy * n.n_b) / (cx.c * cy.c), 6) AS lift
FROM p
CROSS JOIN n
JOIN ic cx ON cx.item = p.x
JOIN ic cy ON cy.item = p.y
ORDER BY lift DESC, p.x, p.y LIMIT 50
""",
    # CUSUM: zero-prepended list_reduce reproduces the fold-from-0.0;
    # the alarm compares the UNROUNDED statistic on both sides.
    "op_cusum": """
SELECT user_id, ts, round(value, 4) AS value,
       round(list_reduce(list_prepend(0.0, l),
                         (acc, x) -> greatest(0.0, acc + (x - 100.0))), 6)
           AS cusum,
       list_reduce(list_prepend(0.0, l),
                   (acc, x) -> greatest(0.0, acc + (x - 100.0))) > 500.0
           AS alarm
FROM (SELECT user_id, ts, value,
             list(value) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id
                               ROWS BETWEEN 19 PRECEDING
                               AND CURRENT ROW) AS l
      FROM events WHERE user_id < 20) t
ORDER BY user_id, ts LIMIT 300
""",
    # weighted recursion: UNION dedups (node, dist, hops) triples;
    # integer-valued weights keep every path sum exact, so min() picks
    # identical costs in both engines.
    "op_sssp": """
WITH RECURSIVE und AS (
  SELECT DISTINCT least(o_custkey % 300, o_orderkey % 300) AS lo,
         greatest(o_custkey % 300, o_orderkey % 300) AS hi,
         CAST((o_orderkey % 7) + 1 AS DOUBLE) AS w
  FROM orders
  WHERE o_orderkey % 13 = 0 AND o_custkey % 300 <> o_orderkey % 300),
adj AS (SELECT lo AS node, hi AS nbr, w FROM und
        UNION ALL SELECT hi, lo, w FROM und),
walk(node, d, hops) AS (
  SELECT CAST(0 AS BIGINT), CAST(0.0 AS DOUBLE), 0
  UNION
  SELECT a.nbr, wk.d + a.w, wk.hops + 1
  FROM walk wk JOIN adj a ON a.node = wk.node
  WHERE wk.hops < 3)
SELECT node, min(d) AS dist FROM walk GROUP BY node ORDER BY node
""",
    # the one oracle that IS a recursive CTE: UNION (not UNION ALL)
    # dedups (node, dist) pairs so cycles cannot blow up the recursion;
    # min(dist) per node = the BFS discovery level.
    "op_bfs_distances": """
WITH RECURSIVE und AS (
  SELECT DISTINCT least(o_custkey % 300, o_orderkey % 300) AS lo,
         greatest(o_custkey % 300, o_orderkey % 300) AS hi
  FROM orders WHERE o_custkey % 300 <> o_orderkey % 300),
adj AS (SELECT lo AS node, hi AS nbr FROM und
        UNION ALL SELECT hi, lo FROM und),
bfs(node, dist) AS (
  SELECT CAST(0 AS BIGINT), 0
  UNION
  SELECT a.nbr, b.dist + 1
  FROM bfs b JOIN adj a ON a.node = b.node
  WHERE b.dist < 3)
SELECT node, CAST(min(dist) AS INT) AS dist
FROM bfs GROUP BY node ORDER BY node
""",
    "op_top_paths": """
WITH l AS (SELECT user_id, ts, event_type, event_id,
                  lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
           FROM events),
s AS (SELECT user_id, ts, event_type, event_id,
             sum(CASE WHEN prev IS NULL
                       OR floor(epoch(ts)) - floor(epoch(prev)) > 1800
                      THEN 1 ELSE 0 END)
                 OVER (PARTITION BY user_id ORDER BY ts) AS session_idx
      FROM l),
r AS (SELECT user_id, session_idx, event_type,
             row_number() OVER (PARTITION BY user_id, session_idx
                                ORDER BY ts, event_id) AS rn
      FROM s),
p AS (SELECT user_id, session_idx,
             string_agg(coalesce(event_type, '(null)'), '>'
                        ORDER BY rn) AS path
      FROM r WHERE rn <= 3 GROUP BY user_id, session_idx)
SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
FROM p GROUP BY path ORDER BY n_sessions DESC, path LIMIT 20
""",
    "op_agg_funcs": """
SELECT event_type,
       CAST(count_if(value > 100) AS BIGINT) AS n_big,
       bool_and(value > 0) AS all_pos,
       bool_or(value > 450) AS any_huge,
       max_by(event_id,
              CAST(round(value * 100) AS BIGINT) * 10000000000 + event_id)
           AS top_event,
       CAST(round(median(value) * 200, 0) AS BIGINT) AS med_halfcents
FROM events GROUP BY event_type ORDER BY event_type
""",
    # Rolling median: same bounded collect+sort list spelling; the
    # middle-element picks use integer floor division on both sides.
    "op_rolling_median": """
SELECT user_id, ts, round(value, 4) AS value,
       round(CASE WHEN len(l) % 2 = 1 THEN l[(len(l) + 1) // 2]
                  ELSE (l[(len(l) + 1) // 2] + l[len(l) // 2 + 1]) / 2
             END, 6) AS roll_median
FROM (SELECT user_id, ts, value,
             list_sort(list(value) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id
                                         ROWS BETWEEN 9 PRECEDING
                                         AND CURRENT ROW)) AS l
      FROM events WHERE user_id < 20) t
ORDER BY user_id, ts LIMIT 300
""",
    # KMV bottom-k sketch: portable md5 hashes → the sketch contents,
    # n_kept, and the (k-1)*2^60/h_k estimate reproduce exactly.
    "op_kmv_distinct": """
WITH h AS (SELECT DISTINCT event_type,
             CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
                  AS BIGINT) AS hh
           FROM events WHERE user_id IS NOT NULL),
fine AS (SELECT event_type, hh,
                row_number() OVER (PARTITION BY event_type ORDER BY hh) AS rn
         FROM h),
fk AS (SELECT event_type, CAST(count(*) AS INT) AS n_kept, max(hh) AS kth
       FROM fine WHERE rn <= 64 GROUP BY event_type),
mu AS (SELECT DISTINCT hh FROM fine WHERE rn <= 64),
mr AS (SELECT hh, row_number() OVER (ORDER BY hh) AS rn FROM mu),
mk AS (SELECT CAST(count(*) AS INT) AS n_kept, max(hh) AS kth
       FROM mr WHERE rn <= 64)
SELECT event_type, n_kept,
       CASE WHEN n_kept < 64 THEN CAST(n_kept AS DOUBLE)
            ELSE round(63.0 * 1152921504606846976.0 / CAST(kth AS DOUBLE), 4)
       END AS distinct_est
FROM (SELECT event_type, n_kept, kth FROM fk
      UNION ALL SELECT '__all__', n_kept, kth FROM mk) u
ORDER BY event_type
""",
    # EWMA: same collect-then-fold FP sequence via list_reduce; α=0.25
    # and 1-α=0.75 are binary-exact so the multiplies match Spark's.
    "op_ewma": """
SELECT user_id, ts, round(value, 4) AS value,
       CAST(floor(list_reduce(l, (acc, x) -> acc * 0.75 + 0.25 * x)
                  * 1048576.0) AS BIGINT) AS ewma_fp
FROM (SELECT user_id, ts, value,
             list(value) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id
                               ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
                 AS l
      FROM events WHERE user_id < 20) t
ORDER BY user_id, ts LIMIT 300
""",
    "op_hybrid_rrf": f"""
WITH t1 AS ({_sql_keyword_search(k=50)}),
     t2 AS ({_sql_bm25(k=50)}),
r1 AS (SELECT id, row_number() OVER (ORDER BY score DESC, id) AS r
       FROM t1),
r2 AS (SELECT id, row_number() OVER (ORDER BY score DESC, id) AS r
       FROM t2)
SELECT coalesce(r1.id, r2.id) AS id,
       round(coalesce(1.0 / (60 + r1.r), 0.0)
             + coalesce(1.0 / (60 + r2.r), 0.0), 6) AS rrf
FROM r1 FULL OUTER JOIN r2 ON r1.id = r2.id
ORDER BY rrf DESC, id LIMIT 20
""",
    "op_collocations": f"""
WITH tk AS (SELECT {_SQL_TOKS_OF.format(t='text')} AS toks FROM documents),
uni AS (SELECT unnest(toks) AS tok FROM tk),
u AS (SELECT tok, CAST(count(*) AS BIGINT) AS c1 FROM uni GROUP BY tok),
tot AS (SELECT CAST(sum(c1) AS BIGINT) AS n_total FROM u),
bi0 AS (SELECT unnest(list_transform(
            range(1, greatest(len(toks) - 1, 0) + 1),
            i -> array_to_string(list_slice(toks, i, i + 1), ' '))) AS bigram
        FROM tk),
b AS (SELECT bigram, CAST(count(*) AS BIGINT) AS c_xy
      FROM bi0 GROUP BY bigram HAVING count(*) >= 5)
SELECT b.bigram, b.c_xy,
       round((b.c_xy * t.n_total) / (ux.c1 * uy.c1), 6) AS lift
FROM b
CROSS JOIN tot t
JOIN u ux ON ux.tok = split_part(b.bigram, ' ', 1)
JOIN u uy ON uy.tok = split_part(b.bigram, ' ', 2)
ORDER BY lift DESC, b.bigram LIMIT 100
""",
    "op_vocab_coverage": f"""
WITH tok AS (SELECT doc_id, unnest(toks) AS tok
             FROM (SELECT doc_id, {_SQL_TOKS_OF.format(t='text')} AS toks
                   FROM documents) x),
u AS (SELECT tok, count(*) AS c1 FROM tok GROUP BY tok),
v AS (SELECT tok FROM u ORDER BY c1 DESC, tok LIMIT 20)
SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_oov,
       round(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END)
             / count(*), 6) AS oov_rate
FROM tok t LEFT JOIN v ON t.tok = v.tok
GROUP BY t.doc_id ORDER BY t.doc_id LIMIT 200
""",
    # in_sketch is the lossy-counting superset attestation (literal
    # TRUE here; the Spark side computes membership in freqItems).
    "op_heavy_hitters": f"""
WITH tok AS (SELECT unnest({_SQL_TOKS_OF.format(t='text')}) AS tok
             FROM documents),
c AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY tok),
t AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM c)
SELECT c.tok, c.cnt, round(c.cnt / t.n_total, 6) AS share,
       TRUE AS in_sketch
FROM c, t WHERE c.cnt * 50 > t.n_total
ORDER BY c.cnt DESC, c.tok
""",
    "op_link_predict": """
WITH und AS (
  SELECT DISTINCT least(o_custkey % 300, o_orderkey % 300) AS lo,
         greatest(o_custkey % 300, o_orderkey % 300) AS hi
  FROM orders WHERE o_custkey % 300 <> o_orderkey % 300),
adj AS (SELECT lo AS node, hi AS nbr FROM und
        UNION ALL SELECT hi, lo FROM und),
deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg
        FROM adj GROUP BY node),
pairs AS (SELECT l.node AS a, r.node AS b,
                 CAST(count(*) AS BIGINT) AS n_common
          FROM adj l JOIN adj r ON l.nbr = r.nbr AND l.node < r.node
          GROUP BY 1, 2),
ne AS (SELECT p.* FROM pairs p
       LEFT JOIN und e ON p.a = e.lo AND p.b = e.hi
       WHERE e.lo IS NULL)
SELECT ne.a, ne.b, ne.n_common,
       round(ne.n_common / (da.deg + db.deg - ne.n_common), 6) AS score
FROM ne JOIN deg da ON ne.a = da.node JOIN deg db ON ne.b = db.node
ORDER BY score DESC, ne.a, ne.b LIMIT 100
""",
    "op_distribution_drift": _sql_distribution_drift(
        lo=0.0, hi=500.0, nbins=10
    ),
    # approx-sketch derived-check pattern: the exact distinct hash-
    # attests; the HLL estimate attests via the accuracy-bound boolean
    # (TRUE literal here — Spark computes the real |est−exact| test).
    "op_hll_rollup": """
SELECT r_name, CAST(count(DISTINCT c_custkey) AS BIGINT) AS n_customers,
       TRUE AS hll_within_2_5pct
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name ORDER BY r_name
""",
    # integer epoch arithmetic throughout — no FP in the hash path
    "op_interval_merge": """
WITH iv AS (SELECT user_id,
                   CAST(floor(epoch(ts)) AS BIGINT) AS s,
                   CAST(floor(epoch(ts)) AS BIGINT) + 900 AS e
            FROM events),
flg AS (SELECT user_id, s, e,
               max(e) OVER (PARTITION BY user_id ORDER BY s, e
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING) AS pme
        FROM iv),
isl AS (SELECT user_id, s, e,
               CAST(sum(CASE WHEN pme IS NULL OR s > pme THEN 1 ELSE 0 END)
                    OVER (PARTITION BY user_id ORDER BY s, e) AS BIGINT)
                 AS island_idx
        FROM flg)
SELECT user_id, island_idx,
       CAST(count(*) AS BIGINT) AS n_events,
       min(s) AS start_s,
       max(e) - min(s) AS covered_s
FROM isl GROUP BY user_id, island_idx
ORDER BY user_id, island_idx LIMIT 300
""",
    "op_state_durations": """
WITH st AS (SELECT user_id, event_type, event_id, ts,
                   CAST(floor(epoch(ts)) AS BIGINT) AS ep,
                   lag(event_type) OVER w AS prev_state
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
run AS (SELECT user_id, event_type, ep,
               CAST(sum(CASE WHEN prev_state IS NULL
                               OR prev_state <> event_type
                             THEN 1 ELSE 0 END)
                    OVER (PARTITION BY user_id ORDER BY ts, event_id)
                    AS BIGINT) AS run_idx
        FROM st)
SELECT user_id, run_idx,
       min(event_type) AS state,
       CAST(count(*) AS BIGINT) AS n_events,
       max(ep) - min(ep) AS duration_s
FROM run GROUP BY user_id, run_idx
ORDER BY user_id, run_idx LIMIT 300
""",
    "op_regression": """
SELECT event_type,
       CAST(regr_count(value, x) AS BIGINT) AS n,
       round(regr_slope(value, x), 6) AS slope,
       round(regr_intercept(value, x), 2) AS intercept,
       round(regr_r2(value, x), 6) AS r2
FROM (SELECT event_type, value,
             CAST(floor(epoch(ts)) AS BIGINT) / 86400.0 AS x
      FROM events) s
GROUP BY event_type ORDER BY event_type
""",
    # χ² via N·Σ_obs o²/(rowTot·colTot) − N (empty grid cells telescope
    # into the −N term) — matches inference.chisq_report exactly
    "op_chisq": """
WITH cells AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS o
               FROM documents GROUP BY lang, source),
m AS (SELECT lang, source, o,
             sum(o) OVER (PARTITION BY lang) AS row_tot,
             sum(o) OVER (PARTITION BY source) AS col_tot
      FROM cells)
SELECT CAST(count(DISTINCT lang) AS BIGINT) AS n_a,
       CAST(count(DISTINCT source) AS BIGINT) AS n_b,
       CAST(count(*) AS BIGINT) AS n_cells,
       CAST(sum(o) AS BIGINT) AS n_total,
       round(sum(CAST(o AS DOUBLE) * CAST(o AS DOUBLE)
                 / (CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE)))
             * CAST(sum(o) AS DOUBLE) - CAST(sum(o) AS DOUBLE), 4) AS chisq,
       CAST((count(DISTINCT lang) - 1) * (count(DISTINCT source) - 1)
            AS BIGINT) AS dof
FROM m
""",
    "op_mad_outliers": """
WITH med AS (SELECT event_type, quantile_cont(value, 0.5) AS med
             FROM events GROUP BY event_type),
dev AS (SELECT e.event_type, abs(e.value - med.med) AS d, med.med
        FROM events e JOIN med ON e.event_type = med.event_type),
mad AS (SELECT event_type, quantile_cont(d, 0.5) AS mad
        FROM dev GROUP BY event_type)
SELECT dev.event_type,
       CAST(count(*) AS BIGINT) AS n,
       round(max(dev.med), 4) AS med,
       round(max(mad.mad), 4) AS mad,
       CAST(sum(CASE WHEN dev.d > (3.0 * 1.4826) * mad.mad
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM dev JOIN mad ON dev.event_type = mad.event_type
GROUP BY dev.event_type ORDER BY dev.event_type
""",
    "op_benford": """
WITH d AS (SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
                              AS VARCHAR), 1, 1) AS INTEGER) AS digit
           FROM orders WHERE o_totalprice >= 1.0),
c AS (SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY digit)
SELECT digit, n,
       round(n / CAST(sum(n) OVER () AS DOUBLE), 4) AS share,
       round(log10(1.0 + 1.0 / digit), 4) AS benford
FROM c ORDER BY digit
""",
    "op_downsample_minmax": """
WITH s AS (SELECT user_id, ts, value, epoch_us(ts) AS ep,
                  min(epoch_us(ts)) OVER (PARTITION BY user_id) AS lo,
                  max(epoch_us(ts)) OVER (PARTITION BY user_id) AS hi
           FROM events WHERE user_id < 10),
b AS (SELECT user_id, ts, value,
             least(CAST(floor(20 * (ep - lo)
                               / greatest(hi - lo, 1)) AS BIGINT),
                   19) AS bucket_idx
      FROM s),
r AS (SELECT user_id, bucket_idx, ts, value,
             row_number() OVER (PARTITION BY user_id, bucket_idx
                                ORDER BY value ASC, ts ASC) AS rmin,
             row_number() OVER (PARTITION BY user_id, bucket_idx
                                ORDER BY value DESC, ts ASC) AS rmax
      FROM b)
SELECT user_id, bucket_idx, kind, round(value, 4) AS value
FROM (SELECT user_id, bucket_idx, 'min' AS kind, value
      FROM r WHERE rmin = 1
      UNION ALL
      SELECT user_id, bucket_idx, 'max' AS kind, value
      FROM r WHERE rmax = 1) u
ORDER BY user_id, bucket_idx, kind LIMIT 500
""",
    "op_corr_matrix": """
WITH a AS (SELECT corr(l_quantity, l_extendedprice) AS qe,
                  corr(l_quantity, l_discount) AS qd,
                  corr(l_quantity, l_tax) AS qt,
                  corr(l_extendedprice, l_discount) AS ed,
                  corr(l_extendedprice, l_tax) AS et,
                  corr(l_discount, l_tax) AS dt
           FROM lineitem)
SELECT col_a, col_b, corr_ab FROM (
  SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b,
         round(qe, 6) AS corr_ab FROM a
  UNION ALL SELECT 'l_quantity', 'l_discount', round(qd, 6) FROM a
  UNION ALL SELECT 'l_quantity', 'l_tax', round(qt, 6) FROM a
  UNION ALL SELECT 'l_extendedprice', 'l_discount', round(ed, 6) FROM a
  UNION ALL SELECT 'l_extendedprice', 'l_tax', round(et, 6) FROM a
  UNION ALL SELECT 'l_discount', 'l_tax', round(dt, 6) FROM a) u
ORDER BY col_a, col_b
""",
    "op_id_gaps": """
WITH ids AS (SELECT DISTINCT o_orderkey AS id FROM orders
             WHERE o_orderkey % 7 <> 0),
l AS (SELECT id, lag(id) OVER (ORDER BY id) AS prev FROM ids)
SELECT prev + 1 AS gap_start, id - 1 AS gap_end,
       id - prev - 1 AS n_missing
FROM l WHERE prev IS NOT NULL AND id - prev > 1
ORDER BY gap_start LIMIT 300
""",
    "op_ab_test": """
WITH pu AS (SELECT user_id,
                   max(CASE WHEN event_type = 'purchase'
                             AND value > 150.0
                            THEN 1 ELSE 0 END) AS succ
            FROM events GROUP BY user_id),
agg AS (SELECT
  CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
  CAST(sum(CASE WHEN user_id % 2 = 0 THEN succ ELSE 0 END) AS BIGINT) AS s0,
  CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
  CAST(sum(CASE WHEN user_id % 2 = 1 THEN succ ELSE 0 END) AS BIGINT) AS s1
 FROM pu)
SELECT n0, s0, n1, s1,
       round(CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE), 6) AS p0,
       round(CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE), 6) AS p1,
       round((CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE)
              - CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))
             / nullif(
               sqrt((CAST(s0 + s1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))
                    * (1.0 - CAST(s0 + s1 AS DOUBLE)
                             / CAST(n0 + n1 AS DOUBLE))
                    * (1.0 / CAST(n0 AS DOUBLE)
                       + 1.0 / CAST(n1 AS DOUBLE))), 0.0), 4) AS z
FROM agg
""",
    "op_abc_class": """
WITH pk AS (SELECT l_partkey, sum(l_extendedprice) AS w
            FROM lineitem GROUP BY l_partkey),
c AS (SELECT l_partkey, w,
             sum(w) OVER (ORDER BY round(w, 2) DESC, l_partkey
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS cw,
             sum(w) OVER () AS tot
      FROM pk)
SELECT l_partkey, round(w, 2) AS total_w,
       round(cw / tot, 6) AS cum_share,
       CASE WHEN cw / tot <= 0.8 THEN 'A'
            WHEN cw / tot <= 0.95 THEN 'B'
            ELSE 'C' END AS abc_class
FROM c ORDER BY total_w DESC, l_partkey LIMIT 200
""",
}

def _sql_kcore(k: int = 12, rounds: int = 10) -> str:
    """Unrolled-rounds k-core oracle (the ``op_pagerank`` pattern):
    each CTE round recomputes degrees and keeps ≥k nodes' edges. The
    Spark side iterates to the unique fixpoint; equality holds because
    peeling converges within ``rounds`` on this data (verified at
    every sf — one extra no-op round is harmless since the fixpoint is
    idempotent)."""
    # MATERIALIZED: every round is referenced twice more downstream —
    # without it DuckDB inlines the CTE chain exponentially (2^rounds
    # parquet scans exhausts the fd limit before planning finishes)
    sql = """
WITH base AS MATERIALIZED (
  SELECT DISTINCT o_custkey % 300 AS a, o_orderkey % 300 AS b
  FROM orders WHERE o_custkey % 300 <> o_orderkey % 300),
e0 AS MATERIALIZED (SELECT a, b FROM base UNION SELECT b, a FROM base)"""
    prev = "e0"
    for i in range(1, rounds + 1):
        sql += f""",
k{i} AS MATERIALIZED (SELECT a FROM {prev}
                      GROUP BY a HAVING count(*) >= {k}),
e{i} AS MATERIALIZED (SELECT e.a, e.b FROM {prev} e
         JOIN k{i} x ON e.a = x.a JOIN k{i} y ON e.b = y.a)"""
        prev = f"e{i}"
    sql += f"""
SELECT a AS node, CAST(count(*) AS BIGINT) AS deg
FROM {prev} GROUP BY a ORDER BY node
"""
    return sql


OPERATOR_ORACLE_SQL["op_kcore"] = _sql_kcore(k=12, rounds=10)


OPERATOR_ORACLE_SQL["op_gini"] = """
WITH rev AS (
  SELECT o_custkey,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS rev_cents
  FROM orders GROUP BY o_custkey),
j AS (
  SELECT c.c_mktsegment, c.c_custkey,
         coalesce(r.rev_cents, 0) AS rev_cents
  FROM customer c LEFT JOIN rev r ON r.o_custkey = c.c_custkey),
rk AS (
  SELECT c_mktsegment, rev_cents,
         row_number() OVER (PARTITION BY c_mktsegment
                            ORDER BY rev_cents ASC, c_custkey ASC) AS i
  FROM j)
SELECT c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(sum(rev_cents) AS BIGINT) AS total_cents,
       round((2.0 * CAST(sum(i * rev_cents) AS DOUBLE)
              - (count(*) + 1.0)
                * nullif(CAST(sum(rev_cents) AS DOUBLE), 0))
             / (count(*)
                * nullif(CAST(sum(rev_cents) AS DOUBLE), 0)), 6) AS gini
FROM rk GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


OPERATOR_ORACLE_SQL["op_theil"] = """
WITH rev AS (
  SELECT o_custkey,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS rev_cents
  FROM orders GROUP BY o_custkey),
j AS (
  SELECT c.c_mktsegment, CAST(r.rev_cents AS DOUBLE) AS x
  FROM rev r JOIN customer c ON r.o_custkey = c.c_custkey
  WHERE r.rev_cents > 0)
SELECT c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_customers,
       round(sum(x * ln(x)) / sum(x) - ln(sum(x) / count(*)), 6) AS theil
FROM j GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


OPERATOR_ORACLE_SQL["op_rfm"] = """
WITH pc AS (
  SELECT o_custkey AS custkey,
         max(o_orderdate) AS last_d,
         CAST(count(*) AS BIGINT) AS frequency,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS monetary_cents
  FROM orders GROUP BY o_custkey),
a AS (SELECT max(last_d) AS anchor FROM pc),
s AS (SELECT pc.*, date_diff('day', last_d, anchor) AS recency_days
      FROM pc, a),
t AS (
  SELECT custkey, monetary_cents,
         ntile(4) OVER (ORDER BY recency_days ASC, custkey) AS r_score,
         ntile(4) OVER (ORDER BY frequency DESC, custkey) AS f_score,
         ntile(4) OVER (ORDER BY monetary_cents DESC, custkey) AS m_score
  FROM s)
SELECT segment, n_customers, total_cents,
       CAST((2 * total_cents + n_customers)
            // (2 * n_customers) AS BIGINT) AS avg_cents
FROM (
  SELECT concat(CAST(r_score AS VARCHAR), CAST(f_score AS VARCHAR),
                CAST(m_score AS VARCHAR)) AS segment,
         CAST(count(*) AS BIGINT) AS n_customers,
         CAST(sum(monetary_cents) AS BIGINT) AS total_cents
  FROM t GROUP BY 1) g
ORDER BY segment
"""


OPERATOR_ORACLE_SQL["op_pareto_front"] = """
WITH r AS (
  SELECT p_brand, p_partkey, p_retailprice, p_size,
         dense_rank() OVER (PARTITION BY p_brand
                            ORDER BY p_retailprice DESC) AS pr
  FROM part),
w AS (
  SELECT r.*,
         min(p_size) OVER (PARTITION BY p_brand ORDER BY pr
                           RANGE BETWEEN UNBOUNDED PRECEDING
                           AND 1 PRECEDING) AS bh,
         min(p_size) OVER (PARTITION BY p_brand, pr) AS bt
  FROM r)
SELECT p_brand, p_partkey, round(p_retailprice, 2) AS p_retailprice, p_size
FROM w WHERE (bh IS NULL OR p_size < bh) AND p_size = bt
ORDER BY p_brand, p_retailprice DESC, p_partkey LIMIT 400
"""


def _sql_char_entropy(alphabet: str = "abcdefghijklmnopqrstuvwxyz") -> str:
    """Entropy oracle: the same fixed-alphabet length/replace counts
    and a..z term order as the Spark projection, so the double
    arithmetic is bit-reproducible across engines."""
    counts = ", ".join(
        f"CAST(length(t) - length(replace(t, '{ch}', '')) AS BIGINT)"
        f" AS c_{ch}"
        for ch in alphabet
    )
    total = " + ".join(f"c_{ch}" for ch in alphabet)
    terms = " + ".join(
        f"CASE WHEN c_{ch} > 0 THEN -(CAST(c_{ch} AS DOUBLE) / nl)"
        f" * log2(CAST(c_{ch} AS DOUBLE) / nl) ELSE 0.0 END"
        for ch in alphabet
    )
    return f"""
WITH low AS (SELECT doc_id, lower(text) AS t FROM documents),
c AS (SELECT doc_id, {counts} FROM low),
n AS (SELECT *, CAST({total} AS DOUBLE) AS nl FROM c)
SELECT doc_id, CAST(nl AS BIGINT) AS n_letters,
       round({terms}, 4) AS entropy_bits
FROM n WHERE nl > 0 ORDER BY doc_id LIMIT 200
"""


OPERATOR_ORACLE_SQL["op_char_entropy"] = _sql_char_entropy()


OPERATOR_ORACLE_SQL["op_histogram"] = """
WITH b AS (SELECT min(l_extendedprice) AS blo, max(l_extendedprice) AS bhi
           FROM lineitem),
binned AS (
  SELECT least(CAST(floor((l_extendedprice - b.blo)
                          / ((b.bhi - b.blo) / 20.0)) AS BIGINT),
               19) AS bin_idx,
         b.blo, b.bhi
  FROM lineitem, b)
SELECT bin_idx,
       round(blo + bin_idx * ((bhi - blo) / 20.0), 4) AS lo,
       round(blo + (bin_idx + 1) * ((bhi - blo) / 20.0), 4) AS hi,
       CAST(count(*) AS BIGINT) AS cnt
FROM binned GROUP BY bin_idx, blo, bhi ORDER BY bin_idx
"""


OPERATOR_ORACLE_SQL["op_ks_test"] = """
WITH labeled AS (
  SELECT floor(value * 10) / 10.0 AS v,
         (user_id % 2 = 0) AS is_a
  FROM events),
per_v AS (
  SELECT v,
         CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS ca,
         CAST(sum(CASE WHEN NOT is_a THEN 1 ELSE 0 END) AS BIGINT) AS cb
  FROM labeled GROUP BY v),
cum AS (
  SELECT v,
         sum(ca) OVER (ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS cum_a,
         sum(cb) OVER (ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS cum_b,
         sum(ca) OVER () AS n_a,
         sum(cb) OVER () AS n_b
  FROM per_v),
gap AS (
  SELECT v, n_a, n_b,
         abs(CAST(cum_a AS DOUBLE) / CAST(n_a AS DOUBLE)
             - CAST(cum_b AS DOUBLE) / CAST(n_b AS DOUBLE)) AS g
  FROM cum)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       round(g, 6) AS d_stat, v AS at_value
FROM gap ORDER BY g DESC, v ASC LIMIT 1
"""


OPERATOR_ORACLE_SQL["op_transition_probs"] = """
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM events),
pairs AS (
  SELECT prev_type, event_type AS next_type,
         CAST(count(*) AS BIGINT) AS n
  FROM seq WHERE prev_type IS NOT NULL
  GROUP BY prev_type, event_type)
SELECT prev_type, next_type, n,
       round(CAST(n AS DOUBLE)
             / CAST(sum(n) OVER (PARTITION BY prev_type) AS DOUBLE),
             6) AS p
FROM pairs ORDER BY prev_type, next_type
"""


def _sql_token_fertility(n_merges: int = 40) -> str:
    """Fertility oracle: same reference tokenization literal table as
    the BPE oracle, aggregated per language."""
    entries = _bpe_lut_entries(n_merges)
    return f"""
WITH lut(w, n_toks) AS (VALUES {entries}),
words AS (SELECT doc_id, lang,
                 unnest(string_split_regex(lower(text), '\\s+')) AS w
          FROM documents),
nz AS (SELECT doc_id, lang, w FROM words WHERE w <> '')
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(lut.n_toks) AS BIGINT) AS n_tokens,
       round(CAST(sum(lut.n_toks) AS DOUBLE)
             / CAST(count(*) AS DOUBLE), 4) AS fertility
FROM nz JOIN lut ON nz.w = lut.w
GROUP BY lang ORDER BY lang
"""


#: cache for the BPE oracle's reference tokenization: (sf, n_merges) →
#: VALUES entries; training + the parquet scan run ONCE per config even
#: though two oracle builders (token counts + fertility) consume it
_BPE_LUT_CACHE: dict = {}


def _bpe_lut_entries(n_merges: int) -> str:
    import os

    from . import tokenize as tk

    sf = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    key = (sf, n_merges)
    got = _BPE_LUT_CACHE.get(key)
    if got is None:
        wc = tk.word_counts_from_parquet(sf)
        ranks = {
            tuple(p): i for i, p in enumerate(tk.train_bpe(wc, n_merges))
        }
        got = ",\n  ".join(
            "('{}', {})".format(
                w.replace("'", "''"), len(tk.bpe_word_tokens(w, ranks))
            )
            for w in sorted(wc)
        )
        _BPE_LUT_CACHE[key] = got
    return got


def _sql_bpe_tokenize(n_merges: int = 40) -> str:
    """BPE oracle: merges retrained from the parquet word counts by
    the same engine-independent pure-Python trainer, then every vocab
    word tokenized by the REFERENCE implementation — the per-word
    token counts become a literal lookup table and the SQL reduces to
    split + join + sum. A hash match attests the distributed
    mapInPandas application reproduces the reference tokenization on
    every word of every document."""
    entries = _bpe_lut_entries(n_merges)
    return f"""
WITH lut(w, n_toks) AS (VALUES {entries}),
words AS (SELECT doc_id,
                 unnest(string_split_regex(lower(text), '\\s+')) AS w
          FROM documents),
nz AS (SELECT doc_id, w FROM words WHERE w <> '')
SELECT nz.doc_id,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(lut.n_toks) AS BIGINT) AS n_tokens,
       TRUE AS roundtrip_ok
FROM nz JOIN lut ON nz.w = lut.w
GROUP BY nz.doc_id ORDER BY nz.doc_id LIMIT 200
"""


# The IVF oracle retrains centroids from the parquet itself — only
# declarable when the oracle-scale data is present (it is in the driver
# environment; guard for foreign checkouts).
try:
    OPERATOR_ORACLE_SQL["op_similarity_ivf"] = _sql_similarity_ivf(
        k_cells=8, n_probe=3
    )
    OPERATOR_ORACLE_SQL["op_kmeans_cluster"] = _sql_kmeans_cluster(k_cells=8)
    OPERATOR_ORACLE_SQL["op_similarity_pq"] = _sql_similarity_pq(
        m=8, ksub=16, k=10
    )
    OPERATOR_ORACLE_SQL["op_bpe_tokenize"] = _sql_bpe_tokenize(n_merges=40)
    OPERATOR_ORACLE_SQL["op_token_fertility"] = _sql_token_fertility(
        n_merges=40
    )
except (OSError, ImportError):
    pass
except Exception as _exc:  # duckdb.Error on partially-present testdata
    if type(_exc).__module__.split(".")[0] != "duckdb":
        raise


OPERATOR_ORACLE_SQL["op_readability"] = """
WITH m AS (SELECT doc_id,
  greatest(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                           x -> x <> '')), 1) AS w,
  greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS s,
  greatest(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1) AS y
 FROM documents)
SELECT doc_id,
       CAST(w AS BIGINT) AS n_words,
       CAST(s AS BIGINT) AS n_sentences,
       CAST(y AS BIGINT) AS n_syllables,
       CAST(floor((206.835
             - 1.015 * (CAST(w AS DOUBLE) / CAST(s AS DOUBLE))
             - 84.6 * (CAST(y AS DOUBLE) / CAST(w AS DOUBLE)))
             * 1048576.0) AS BIGINT)
         AS flesch_fp
FROM m ORDER BY doc_id LIMIT 300
"""


def _sql_ttr() -> str:
    toks = _SQL_TOKS_OF.format(t="text")
    return f"""
WITH tok AS (SELECT doc_id AS id, unnest({toks}) AS tok FROM documents),
c AS (SELECT id, tok, count(*) AS c FROM tok GROUP BY id, tok)
SELECT id,
  CAST(sum(c) AS BIGINT) AS n_tokens,
  CAST(count(*) AS BIGINT) AS n_types,
  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
  CAST(floor(CAST(count(*) AS DOUBLE) / CAST(sum(c) AS DOUBLE)
             * 1048576.0) AS BIGINT) AS ttr_fp,
  CAST(floor(CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(sum(c) AS DOUBLE) * 1048576.0) AS BIGINT) AS hapax_fp
FROM c GROUP BY id ORDER BY id LIMIT 300
"""


OPERATOR_ORACLE_SQL["op_ttr"] = _sql_ttr()


# |corr| < 1e-6 snaps to 0.0 on BOTH sides: a statistically-zero ACF is
# FP noise whose sign depends on summation order (see
# timeseries.autocorrelation)
OPERATOR_ORACLE_SQL["op_acf"] = """
WITH s AS (SELECT event_type, value,
        lag(value, 1) OVER w AS l1,
        lag(value, 2) OVER w AS l2,
        lag(value, 3) OVER w AS l3
    FROM events
    WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id))
SELECT event_type, CAST(count(*) AS BIGINT) AS n,
  CASE WHEN abs(corr(value, l1)) < 1e-6 THEN 0.0
       ELSE round(corr(value, l1), 6) END AS acf_1,
  CASE WHEN abs(corr(value, l2)) < 1e-6 THEN 0.0
       ELSE round(corr(value, l2), 6) END AS acf_2,
  CASE WHEN abs(corr(value, l3)) < 1e-6 THEN 0.0
       ELSE round(corr(value, l3), 6) END AS acf_3
FROM s GROUP BY event_type ORDER BY event_type
"""


OPERATOR_ORACLE_SQL["op_group_entropy"] = """
WITH c AS (SELECT user_id, event_type, count(*) AS c
           FROM events GROUP BY user_id, event_type),
k AS (SELECT user_id,
             CAST(sum(c) AS BIGINT) AS n_events,
             CAST(count(*) AS BIGINT) AS n_types,
             sum(CAST(c AS DOUBLE) * log2(CAST(c AS DOUBLE))) AS clog
      FROM c GROUP BY user_id)
SELECT user_id, n_events, n_types,
  round(abs(log2(CAST(n_events AS DOUBLE))
            - clog / CAST(n_events AS DOUBLE)), 6) AS entropy_bits,
  CASE WHEN n_types > 1
       THEN round(abs(log2(CAST(n_events AS DOUBLE))
                      - clog / CAST(n_events AS DOUBLE))
                  / log2(CAST(n_types AS DOUBLE)), 6)
       ELSE 0.0 END AS entropy_norm
FROM k ORDER BY user_id LIMIT 300
"""


OPERATOR_ORACLE_SQL["op_degree_stats"] = """
WITH canon AS (SELECT DISTINCT
        least(o_custkey % 300, o_orderkey % 300) AS a,
        greatest(o_custkey % 300, o_orderkey % 300) AS b
    FROM orders WHERE o_custkey % 300 <> o_orderkey % 300),
sym AS (SELECT a AS node FROM canon UNION ALL SELECT b FROM canon),
deg AS (SELECT node, count(*) AS deg FROM sym GROUP BY node)
SELECT deg, CAST(count(*) AS BIGINT) AS n_nodes
FROM deg GROUP BY deg ORDER BY deg
"""


OPERATOR_ORACLE_SQL["op_reciprocity"] = """
WITH e AS (SELECT DISTINCT o_custkey % 40 AS s, o_orderkey % 40 AS d
           FROM orders WHERE o_custkey % 40 <> o_orderkey % 40),
r AS (SELECT CAST(count(*) AS BIGINT) AS n_reciprocal
      FROM e WHERE EXISTS (SELECT 1 FROM e x
                           WHERE x.s = e.d AND x.d = e.s)),
t AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e)
SELECT n_edges, n_reciprocal,
       round(CAST(n_reciprocal AS DOUBLE) / CAST(n_edges AS DOUBLE), 6)
         AS reciprocity
FROM t, r
"""


OPERATOR_ORACLE_SQL["op_auc"] = """
WITH sc AS (SELECT CAST(embedding[1] AS DOUBLE) AS s, label % 2 AS y
            FROM embeddings),
g AS (SELECT s, CAST(sum(y) AS BIGINT) AS pos_s,
             CAST(sum(1 - y) AS BIGINT) AS neg_s
      FROM sc WHERE s IS NOT NULL AND y IS NOT NULL GROUP BY s),
c AS (SELECT pos_s, neg_s,
             coalesce(sum(neg_s) OVER (ORDER BY s
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cumneg
      FROM g)
SELECT CAST(sum(pos_s) AS BIGINT) AS n_pos,
       CAST(sum(neg_s) AS BIGINT) AS n_neg,
       round(sum(pos_s * (cumneg + neg_s / 2.0))
             / (CAST(sum(pos_s) AS DOUBLE) * CAST(sum(neg_s) AS DOUBLE)),
             6) AS auc
FROM c
"""


OPERATOR_ORACLE_SQL["op_calibration"] = """
WITH sc AS (SELECT CAST(embedding[1] AS DOUBLE) AS s, label % 2 AS y,
                   vec_id
            FROM embeddings),
b AS (SELECT s, y, ntile(10) OVER (ORDER BY s, vec_id) AS bin FROM sc)
SELECT bin, CAST(count(*) AS BIGINT) AS n,
       round(avg(s), 6) AS mean_score,
       round(avg(CAST(y AS DOUBLE)), 6) AS pos_rate
FROM b GROUP BY bin ORDER BY bin
"""


OPERATOR_ORACLE_SQL["op_assortativity"] = """
WITH canon AS (SELECT DISTINCT
        least(o_custkey % 300, o_orderkey % 300) AS a,
        greatest(o_custkey % 300, o_orderkey % 300) AS b
    FROM orders WHERE o_custkey % 300 <> o_orderkey % 300),
sym AS (SELECT a, b FROM canon UNION ALL SELECT b AS a, a AS b FROM canon),
deg AS (SELECT a AS node, count(*) AS deg FROM sym GROUP BY a),
p AS (SELECT CAST(dx.deg AS DOUBLE) AS dx, CAST(dy.deg AS DOUBLE) AS dy
      FROM sym JOIN deg dx ON sym.a = dx.node
               JOIN deg dy ON sym.b = dy.node)
SELECT CAST(count(*) / 2 AS BIGINT) AS n_edges,
       CASE WHEN abs(corr(dx, dy)) < 1e-6 THEN 0.0
            ELSE round(corr(dx, dy), 6) END AS assortativity
FROM p
"""


OPERATOR_ORACLE_SQL["op_xcorr"] = """
WITH b AS (SELECT date_trunc('hour', min(ts)) AS h0,
                  date_trunc('hour', max(ts)) AS h1 FROM events),
spine AS (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
          FROM b),
ca AS (SELECT date_trunc('hour', ts) AS hour, count(*) AS a FROM events
       WHERE event_type = 'view' GROUP BY 1),
cb AS (SELECT date_trunc('hour', ts) AS hour, count(*) AS b FROM events
       WHERE event_type = 'purchase' GROUP BY 1),
j AS (SELECT spine.hour,
             CAST(coalesce(a, 0) AS DOUBLE) AS a,
             CAST(coalesce(b, 0) AS DOUBLE) AS b
      FROM spine LEFT JOIN ca USING (hour) LEFT JOIN cb USING (hour)),
s AS (SELECT a,
        lag(b, 3) OVER w AS bm3, lag(b, 2) OVER w AS bm2,
        lag(b, 1) OVER w AS bm1, b AS b0,
        lead(b, 1) OVER w AS bp1, lead(b, 2) OVER w AS bp2,
        lead(b, 3) OVER w AS bp3
      FROM j WINDOW w AS (ORDER BY hour))
SELECT CAST(count(*) AS BIGINT) AS n_hours,
  CASE WHEN abs(corr(a, bm3)) < 1e-6 THEN 0.0
       ELSE round(corr(a, bm3), 6) END AS xc_m3,
  CASE WHEN abs(corr(a, bm2)) < 1e-6 THEN 0.0
       ELSE round(corr(a, bm2), 6) END AS xc_m2,
  CASE WHEN abs(corr(a, bm1)) < 1e-6 THEN 0.0
       ELSE round(corr(a, bm1), 6) END AS xc_m1,
  CASE WHEN abs(corr(a, b0)) < 1e-6 THEN 0.0
       ELSE round(corr(a, b0), 6) END AS xc_0,
  CASE WHEN abs(corr(a, bp1)) < 1e-6 THEN 0.0
       ELSE round(corr(a, bp1), 6) END AS xc_p1,
  CASE WHEN abs(corr(a, bp2)) < 1e-6 THEN 0.0
       ELSE round(corr(a, bp2), 6) END AS xc_p2,
  CASE WHEN abs(corr(a, bp3)) < 1e-6 THEN 0.0
       ELSE round(corr(a, bp3), 6) END AS xc_p3
FROM s
"""


def _sql_distinctive_terms(k: int = 5, min_count: int = 3) -> str:
    toks = _SQL_TOKS_OF.format(t="text")
    return f"""
WITH gt AS (SELECT grp, tok, CAST(count(*) AS BIGINT) AS ctf
            FROM (SELECT source AS grp, unnest({toks}) AS tok
                  FROM documents)
            GROUP BY grp, tok HAVING count(*) >= {min_count}),
tot AS (SELECT grp, CAST(sum(ctf) AS BIGINT) AS gtot FROM gt GROUP BY grp),
dfg AS (SELECT tok, CAST(count(*) AS BIGINT) AS df_groups
        FROM gt GROUP BY tok),
ng AS (SELECT CAST(count(DISTINCT grp) AS BIGINT) AS n_groups FROM gt),
s AS (SELECT grp, tok, ctf,
             round((CAST(ctf AS DOUBLE) / CAST(gtot AS DOUBLE))
                   * ln(1.0 + CAST(n_groups AS DOUBLE)
                              / CAST(df_groups AS DOUBLE)), 6) AS score
      FROM gt JOIN tot USING (grp) JOIN dfg USING (tok), ng),
r AS (SELECT grp, tok, ctf, score,
             CAST(row_number() OVER (PARTITION BY grp
                  ORDER BY score DESC, tok) AS INT) AS rank
      FROM s)
SELECT grp AS source, rank, tok, ctf, score
FROM r WHERE rank <= {k} ORDER BY source, rank
"""


OPERATOR_ORACLE_SQL["op_distinctive_terms"] = _sql_distinctive_terms()


OPERATOR_ORACLE_SQL["op_clustering_coeff"] = """
WITH e AS (SELECT DISTINCT least(o_custkey % 40, o_orderkey % 40) AS lo,
                           greatest(o_custkey % 40, o_orderkey % 40) AS hi
           FROM orders WHERE o_custkey % 40 <> o_orderkey % 40),
deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg
        FROM (SELECT lo AS node FROM e UNION ALL SELECT hi FROM e)
        GROUP BY node),
t AS (SELECT ab.lo AS a, ab.hi AS b, bc.hi AS c
      FROM e ab
      JOIN e bc ON ab.hi = bc.lo
      JOIN e ac ON ac.lo = ab.lo AND ac.hi = bc.hi),
n AS (SELECT a AS node FROM t
      UNION ALL SELECT b FROM t
      UNION ALL SELECT c FROM t),
tri AS (SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
        FROM n GROUP BY node)
SELECT deg.node, deg.deg,
       CAST(coalesce(tri.n_triangles, 0) AS BIGINT) AS n_triangles,
       CASE WHEN deg.deg >= 2
            THEN round(coalesce(tri.n_triangles, 0)
                       / (CAST(deg.deg AS DOUBLE) * (deg.deg - 1) / 2.0), 6)
            ELSE 0.0 END AS coeff
FROM deg LEFT JOIN tri USING (node) ORDER BY node
"""


OPERATOR_ORACLE_SQL["op_seasonality_strength"] = """
WITH hourly0 AS (SELECT event_type, date_trunc('hour', ts) AS h,
                        CAST(count(*) AS DOUBLE) AS c
                 FROM events
                 GROUP BY event_type, date_trunc('hour', ts)),
bnd AS (SELECT event_type, min(h) AS h0, max(h) AS h1
        FROM hourly0 GROUP BY event_type),
spine AS (SELECT event_type,
                 unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
          FROM bnd),
hourly AS (SELECT spine.event_type, spine.h,
                  CAST(coalesce(c, 0) AS DOUBLE) AS c
           FROM spine LEFT JOIN hourly0 USING (event_type, h)),
r AS (SELECT event_type, c,
             c - avg(c) OVER (PARTITION BY event_type,
                              extract(hour FROM h)) AS r
      FROM hourly)
SELECT event_type, CAST(count(*) AS BIGINT) AS n_hours,
       CASE WHEN abs(1.0 - var_pop(r) / nullif(var_pop(c), 0.0)) < 1e-6
            THEN 0.0
            ELSE round(1.0 - var_pop(r) / nullif(var_pop(c), 0.0), 6)
       END AS seasonality
FROM r GROUP BY event_type ORDER BY event_type
"""


OPERATOR_ORACLE_SQL["op_burstiness"] = """
WITH g AS (SELECT user_id,
                  CAST(floor(epoch(ts)) AS DOUBLE)
                  - lag(CAST(floor(epoch(ts)) AS DOUBLE))
                    OVER (PARTITION BY user_id ORDER BY ts, event_id) AS g
           FROM events),
nz AS (SELECT user_id, g FROM g WHERE g IS NOT NULL),
a AS (SELECT user_id,
             CAST(count(*) AS BIGINT) AS n_gaps,
             CAST(sum(CAST(g AS BIGINT)) AS BIGINT) AS gap_sum_s,
             (stddev_samp(g) - avg(g))
               / nullif(stddev_samp(g) + avg(g), 0.0) AS b
      FROM nz GROUP BY user_id HAVING count(*) >= 2)
SELECT user_id, n_gaps, gap_sum_s,
       CASE WHEN abs(b) < 1e-6 THEN 0.0 ELSE round(b, 6) END AS burstiness
FROM a ORDER BY user_id LIMIT 300
"""


OPERATOR_ORACLE_SQL["op_countmin"] = """
WITH rows_ AS (SELECT unnest([0, 1, 2, 3]) AS row),
kb AS (SELECT CAST(user_id AS VARCHAR) AS k, row,
              CAST(concat('0x', substr(md5('cm:' || CAST(row AS VARCHAR)
                   || '|' || CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT)
                % 256 AS bucket
       FROM events, rows_),
sk AS (SELECT row, bucket, CAST(count(*) AS BIGINT) AS c
       FROM kb GROUP BY row, bucket),
truec AS (SELECT user_id, CAST(count(*) AS BIGINT) AS true_count
          FROM events GROUP BY user_id),
pb AS (SELECT t.user_id, r.row,
              CAST(concat('0x', substr(md5('cm:' || CAST(r.row AS VARCHAR)
                   || '|' || CAST(t.user_id AS VARCHAR)), 1, 8)) AS BIGINT)
                % 256 AS bucket
       FROM truec t, rows_ r),
est AS (SELECT user_id,
               CAST(min(coalesce(sk.c, 0)) AS BIGINT) AS cm_estimate
        FROM pb LEFT JOIN sk USING (row, bucket) GROUP BY user_id)
SELECT t.user_id, t.true_count, e.cm_estimate,
       e.cm_estimate >= t.true_count AS est_ge_true
FROM truec t JOIN est e USING (user_id)
ORDER BY t.user_id LIMIT 200
"""


OPERATOR_ORACLE_SQL["op_changepoint"] = """
WITH hourly0 AS (SELECT event_type, date_trunc('hour', ts) AS h,
                        CAST(count(*) AS DOUBLE) AS c
                 FROM events
                 GROUP BY event_type, date_trunc('hour', ts)),
bnd AS (SELECT event_type, min(h) AS h0, max(h) AS h1
        FROM hourly0 GROUP BY event_type),
spine AS (SELECT event_type,
                 unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
          FROM bnd),
hourly AS (SELECT spine.event_type, spine.h,
                  CAST(coalesce(c, 0) AS DOUBLE) AS c
           FROM spine LEFT JOIN hourly0 USING (event_type, h)),
cum AS (SELECT event_type, h,
               sum(c) OVER (PARTITION BY event_type ORDER BY h
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cum,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY h) AS i,
               sum(c) OVER (PARTITION BY event_type) AS tot,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM hourly),
scored AS (SELECT event_type, h,
                  CAST(n AS BIGINT) AS n_hours,
                  round(cum / i, 4) AS mean_left,
                  round((tot - cum) / (n - i), 4) AS mean_right,
                  round(abs(cum / i - (tot - cum) / (n - i))
                        * sqrt(CAST(i AS DOUBLE) * (n - i) / n), 6)
                    AS score
           FROM cum WHERE i < n),
ranked AS (SELECT *, row_number() OVER (PARTITION BY event_type
                     ORDER BY score DESC, h) AS rn
           FROM scored)
SELECT event_type, h AS split_hour, n_hours, mean_left, mean_right, score
FROM ranked WHERE rn = 1 ORDER BY event_type
"""


OPERATOR_ORACLE_SQL["op_embedding_outliers"] = """
WITH dims AS (SELECT vec_id AS id,
                     unnest(range(1, len(embedding) + 1)) AS pos,
                     CAST(unnest(embedding) AS DOUBLE) AS v
              FROM embeddings),
cen AS (SELECT pos, avg(v) AS c FROM dims GROUP BY pos),
cn AS (SELECT sqrt(sum(c * c)) AS cn FROM cen),
scored AS (SELECT id,
                  round(sum(v * c)
                        / nullif(sqrt(sum(v * v)) * cn, 0.0), 6)
                    AS centroid_cos
           FROM dims JOIN cen USING (pos), cn
           GROUP BY id, cn)
SELECT id, centroid_cos FROM scored
ORDER BY centroid_cos ASC, id LIMIT 20
"""


OPERATOR_ORACLE_SQL["op_weighted_quantile"] = """
WITH w AS (SELECT event_type, value AS v,
                  CAST(event_id % 5 + 1 AS DOUBLE) AS wt FROM events),
pv AS (SELECT event_type, v, sum(wt) AS w FROM w GROUP BY event_type, v),
c AS (SELECT event_type, v,
             sum(w) OVER (PARTITION BY event_type ORDER BY v
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS cum,
             sum(w) OVER (PARTITION BY event_type) AS tot
      FROM pv)
SELECT event_type,
       coalesce(min(CASE WHEN cum >= 0.25 * tot THEN v END), max(v))
         AS wq_0_25,
       coalesce(min(CASE WHEN cum >= 0.5 * tot THEN v END), max(v))
         AS wq_0_5,
       coalesce(min(CASE WHEN cum >= 0.9 * tot THEN v END), max(v))
         AS wq_0_9
FROM c WHERE tot > 0 GROUP BY event_type ORDER BY event_type
"""


OPERATOR_ORACLE_SQL["op_l_diversity"] = """
SELECT lang, source, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT n_chars % 7) AS BIGINT) AS n_sensitive,
       count(DISTINCT n_chars % 7) >= 3 AS l_diverse
FROM documents GROUP BY lang, source ORDER BY lang, source
"""


OPERATOR_ORACLE_SQL["op_kaplan_meier"] = """
WITH fv AS (SELECT user_id,
                   min(CASE WHEN event_type = 'view' THEN ts END)
                     AS first_view
            FROM events GROUP BY user_id),
fb AS (SELECT e.user_id, f.first_view,
              min(CASE WHEN e.event_type = 'purchase'
                        AND e.ts > f.first_view THEN e.ts END) AS first_buy
       FROM events e JOIN fv f USING (user_id)
       WHERE f.first_view IS NOT NULL
       GROUP BY e.user_id, f.first_view),
endt AS (SELECT max(ts) AS end_ts FROM events),
subj AS (SELECT CASE WHEN first_buy IS NOT NULL
                     THEN CAST(floor(epoch(first_buy))
                               - floor(epoch(first_view)) AS DOUBLE)
                     ELSE CAST(floor(epoch(end_ts))
                               - floor(epoch(first_view)) AS DOUBLE)
                END AS t,
                CASE WHEN first_buy IS NOT NULL THEN 1 ELSE 0 END AS d
         FROM fb, endt),
per_t AS (SELECT t, CAST(sum(d) AS BIGINT) AS d_i,
                 CAST(count(*) AS BIGINT) AS c_i
          FROM subj GROUP BY t),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM subj),
risked AS (SELECT t, d_i,
                  n_total - coalesce(sum(c_i) OVER (ORDER BY t
                      ROWS BETWEEN UNBOUNDED PRECEDING
                      AND 1 PRECEDING), 0) AS n_i
           FROM per_t, tot),
curve AS (SELECT t, d_i, n_i,
                 exp(sum(ln(greatest(1.0 - CAST(d_i AS DOUBLE)
                                           / CAST(n_i AS DOUBLE), 1e-12)))
                     OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW)) AS s
          FROM risked)
SELECT t AS t_s, CAST(n_i AS BIGINT) AS n_risk,
       d_i AS n_events, round(s, 6) AS survival
FROM curve WHERE d_i > 0 ORDER BY t_s LIMIT 300
"""


OPERATOR_ORACLE_SQL["op_mannwhitney"] = """
WITH sc AS (SELECT value AS s, CAST(user_id % 2 AS INT) AS y FROM events),
g AS (SELECT s, CAST(sum(y) AS BIGINT) AS pos_s,
             CAST(sum(1 - y) AS BIGINT) AS neg_s
      FROM sc WHERE s IS NOT NULL AND y IS NOT NULL GROUP BY s),
c AS (SELECT pos_s, neg_s, pos_s + neg_s AS t_s,
             coalesce(sum(neg_s) OVER (ORDER BY s
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cumneg
      FROM g),
a AS (SELECT CAST(sum(pos_s) AS BIGINT) AS n1,
             CAST(sum(neg_s) AS BIGINT) AS n0,
             sum(pos_s * (cumneg + neg_s / 2.0)) AS u1,
             sum(CAST(t_s AS DOUBLE) * (t_s * t_s - 1)) AS tie_mass
      FROM c),
zc AS (SELECT n0, n1, u1,
              (u1 - CAST(n0 AS DOUBLE) * CAST(n1 AS DOUBLE) / 2.0)
              / sqrt(CAST(n0 AS DOUBLE) * CAST(n1 AS DOUBLE) / 12.0
                     * ((CAST(n0 + n1 AS DOUBLE) + 1.0)
                        - tie_mass / (CAST(n0 + n1 AS DOUBLE)
                                      * (CAST(n0 + n1 AS DOUBLE) - 1.0))))
                AS z
       FROM a)
SELECT n0, n1, round(u1, 2) AS u1,
       CASE WHEN abs(z) < 1e-6 THEN 0.0 ELSE round(z, 4) END AS z
FROM zc
"""


OPERATOR_ORACLE_SQL["op_cohens_d"] = """
WITH sc AS (SELECT CAST(value AS DOUBLE) AS v,
                   CAST(user_id % 2 AS INT) AS y FROM events),
a AS (SELECT CAST(sum(y) AS BIGINT) AS n1,
             CAST(sum(1 - y) AS BIGINT) AS n0,
             avg(CASE WHEN y = 1 THEN v END) AS m1,
             avg(CASE WHEN y = 0 THEN v END) AS m0,
             var_samp(CASE WHEN y = 1 THEN v END) AS v1,
             var_samp(CASE WHEN y = 0 THEN v END) AS v0
      FROM sc),
d AS (SELECT n0, n1, m0, m1,
             (m1 - m0) / nullif(sqrt(((CAST(n1 AS DOUBLE) - 1) * v1
                                      + (CAST(n0 AS DOUBLE) - 1) * v0)
                                     / (CAST(n1 AS DOUBLE)
                                        + CAST(n0 AS DOUBLE) - 2.0)),
                                0.0) AS d
      FROM a)
SELECT n0, n1, round(m0, 4) AS mean_0, round(m1, 4) AS mean_1,
       CASE WHEN abs(d) < 1e-6 THEN 0.0 ELSE round(d, 4) END AS cohens_d
FROM d
"""


OPERATOR_ORACLE_SQL["op_activity_grid"] = """
WITH c AS (SELECT dayofweek(ts) + 1 AS dow, hour(ts) AS hod,
                  CAST(count(*) AS BIGINT) AS n
           FROM events GROUP BY dayofweek(ts) + 1, hour(ts)),
t AS (SELECT sum(n) AS n_total FROM c)
SELECT dow, hod, n,
       round(CAST(n AS DOUBLE) / CAST(n_total AS DOUBLE), 6) AS share
FROM c, t ORDER BY dow, hod
"""


OPERATOR_ORACLE_SQL["op_hhi"] = """
WITH rev AS (SELECT r_name, n_name, sum(o_totalprice) AS rev
             FROM orders
             JOIN customer ON o_custkey = c_custkey
             JOIN nation ON c_nationkey = n_nationkey
             JOIN region ON n_regionkey = r_regionkey
             GROUP BY r_name, n_name),
sh AS (SELECT r_name, n_name,
              rev / sum(rev) OVER (PARTITION BY r_name) AS s
       FROM rev)
SELECT r_name, CAST(count(*) AS BIGINT) AS n_nations,
       round(sum(s * s) * 10000, 2) AS hhi
FROM sh GROUP BY r_name ORDER BY r_name
"""


OPERATOR_ORACLE_SQL["op_peak_hours"] = """
WITH hourly0 AS (SELECT event_type, date_trunc('hour', ts) AS h,
                        CAST(count(*) AS DOUBLE) AS c
                 FROM events
                 GROUP BY event_type, date_trunc('hour', ts)),
bnd AS (SELECT event_type, min(h) AS h0, max(h) AS h1
        FROM hourly0 GROUP BY event_type),
spine AS (SELECT event_type,
                 unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
          FROM bnd),
hourly AS (SELECT spine.event_type, spine.h,
                  CAST(coalesce(c, 0) AS DOUBLE) AS c
           FROM spine LEFT JOIN hourly0 USING (event_type, h)),
st AS (SELECT event_type, avg(c) AS mu, stddev_samp(c) AS sd
       FROM hourly GROUP BY event_type),
n AS (SELECT event_type, h, c,
             lag(c) OVER w AS p, lead(c) OVER w AS nx
      FROM hourly WINDOW w AS (PARTITION BY event_type ORDER BY h))
SELECT n.event_type, h AS peak_hour, CAST(c AS BIGINT) AS n_events,
       round((c - mu) / sd, 4) AS sigmas
FROM n JOIN st ON n.event_type = st.event_type
WHERE c > p AND c > nx AND c > mu + sd
ORDER BY n.event_type, peak_hour
"""


OPERATOR_ORACLE_SQL["op_seasonal_decompose"] = """
WITH hourly0 AS (SELECT event_type, date_trunc('hour', ts) AS h,
                        CAST(count(*) AS DOUBLE) AS c
                 FROM events WHERE event_type = 'purchase'
                 GROUP BY event_type, date_trunc('hour', ts)),
bnd AS (SELECT event_type, min(h) AS h0, max(h) AS h1
        FROM hourly0 GROUP BY event_type),
spine AS (SELECT event_type,
                 unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
          FROM bnd),
hourly AS (SELECT spine.event_type, spine.h,
                  CAST(coalesce(c, 0) AS DOUBLE) AS c
           FROM spine LEFT JOIN hourly0 USING (event_type, h)),
tr AS (SELECT event_type, h, extract(hour FROM h) AS hod, c,
              CAST(sum(c) OVER w AS BIGINT) AS s,
              CAST(count(*) OVER w AS BIGINT) AS n_window
       FROM hourly WINDOW w AS (PARTITION BY event_type ORDER BY h
            ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)),
se AS (SELECT event_type, hod,
              CAST(sum(25 * CAST(c AS BIGINT) - s) AS BIGINT) AS num,
              CAST(25 * count(*) AS BIGINT) AS den
       FROM tr WHERE n_window = 25 GROUP BY event_type, hod)
SELECT tr.event_type, h, CAST(c AS BIGINT) AS n_events,
       CAST(s AS DOUBLE) / CAST(n_window AS DOUBLE) AS trend,
       CAST(num AS DOUBLE) / CAST(den AS DOUBLE) AS seasonal,
       c - CAST(s AS DOUBLE) / CAST(n_window AS DOUBLE)
         - CAST(num AS DOUBLE) / CAST(den AS DOUBLE) AS residual,
       n_window
FROM tr LEFT JOIN se ON tr.event_type = se.event_type AND tr.hod = se.hod
ORDER BY tr.event_type, h LIMIT 300
"""


OPERATOR_ORACLE_SQL["op_audience_overlap"] = """
WITH tu AS (SELECT DISTINCT event_type AS t, user_id AS u FROM events),
s AS (SELECT t, CAST(count(*) AS BIGINT) AS n FROM tu GROUP BY t),
i AS (SELECT a.t AS t_a, b.t AS t_b, CAST(count(*) AS BIGINT) AS n_both
      FROM tu a JOIN tu b ON a.u = b.u AND a.t < b.t
      GROUP BY a.t, b.t)
SELECT t_a, t_b, sa.n AS n_a, sb.n AS n_b, n_both,
       round(CAST(n_both AS DOUBLE) / (sa.n + sb.n - n_both), 6)
         AS jaccard
FROM i JOIN s sa ON i.t_a = sa.t JOIN s sb ON i.t_b = sb.t
ORDER BY t_a, t_b
"""


OPERATOR_ORACLE_SQL["op_power_users"] = """
WITH pu AS (SELECT user_id, count(*) AS n FROM events GROUP BY user_id),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_events,
               CAST(count(*) AS BIGINT) AS n_users FROM pu),
r AS (SELECT sum(n) OVER (ORDER BY n DESC, user_id
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS cum,
             row_number() OVER (ORDER BY n DESC, user_id) AS rank
      FROM pu),
k AS (SELECT CAST(th AS DOUBLE) AS th, min(rank) AS k
      FROM r, (SELECT unnest([0.5, 0.8]) AS th) ths, tot
      WHERE cum >= n_events * th GROUP BY th)
SELECT th AS share_of_events, CAST(k AS BIGINT) AS n_top_users,
       round(k / CAST(n_users AS DOUBLE), 6) AS user_share
FROM k, tot ORDER BY share_of_events
"""


OPERATOR_ORACLE_SQL["op_sorted_neighborhood"] = """
WITH v AS (SELECT DISTINCT p_name AS v FROM part),
r AS (SELECT v,
             lead(v, 1) OVER (ORDER BY v) AS n1,
             lead(v, 2) OVER (ORDER BY v) AS n2
      FROM v),
p AS (SELECT least(v, n1) AS name_a, greatest(v, n1) AS name_b
      FROM r WHERE n1 IS NOT NULL
      UNION
      SELECT least(v, n2) AS name_a, greatest(v, n2) AS name_b
      FROM r WHERE n2 IS NOT NULL)
SELECT name_a, name_b,
       CAST(levenshtein(name_a, name_b) AS INT) AS distance
FROM p WHERE levenshtein(name_a, name_b) <= 3
ORDER BY name_a, name_b LIMIT 300
"""


OPERATOR_ORACLE_SQL["op_srm"] = """
WITH u AS (SELECT DISTINCT user_id, user_id % 2 AS grp FROM events),
a AS (SELECT CAST(sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n0,
             CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n1
      FROM u),
c AS (SELECT n0, n1,
             (CAST(n0 AS DOUBLE) - (n0 + n1) / 2.0)
               * (CAST(n0 AS DOUBLE) - (n0 + n1) / 2.0)
               / ((n0 + n1) / 2.0)
             + (CAST(n1 AS DOUBLE) - (n0 + n1) / 2.0)
               * (CAST(n1 AS DOUBLE) - (n0 + n1) / 2.0)
               / ((n0 + n1) / 2.0) AS chisq
      FROM a)
SELECT n0, n1, round(chisq, 6) AS chisq, chisq > 3.841 AS srm_detected
FROM c
"""


OPERATOR_ORACLE_SQL["op_cuped"] = """
WITH pu AS (SELECT user_id, user_id % 2 AS grp,
                   avg(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                            THEN value END) AS x,
                   avg(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
                            THEN value END) AS y
            FROM events GROUP BY user_id, user_id % 2),
ok AS (SELECT grp, x, y FROM pu
       WHERE x IS NOT NULL AND y IS NOT NULL),
st AS (SELECT covar_samp(x, y) / nullif(var_samp(x), 0.0) AS theta,
              avg(x) AS mx
       FROM ok),
adj AS (SELECT grp, y, y - theta * (x - mx) AS y_adj, theta
        FROM ok, st),
a AS (SELECT CAST(sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n0,
             CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n1,
             avg(CASE WHEN grp = 1 THEN y END)
               - avg(CASE WHEN grp = 0 THEN y END) AS raw,
             avg(CASE WHEN grp = 1 THEN y_adj END)
               - avg(CASE WHEN grp = 0 THEN y_adj END) AS cuped,
             first(theta) AS theta,
             var_samp(y_adj) / nullif(var_samp(y), 0.0) AS vr
      FROM adj)
SELECT n0, n1,
       CASE WHEN abs(raw) < 1e-6 THEN 0.0
            ELSE round(raw, 4) END AS effect_raw,
       CASE WHEN abs(cuped) < 1e-6 THEN 0.0
            ELSE round(cuped, 4) END AS effect_cuped,
       CASE WHEN abs(theta) < 1e-6 THEN 0.0
            ELSE round(theta, 4) END AS theta,
       CASE WHEN abs(1.0 - vr) < 1e-6 THEN 0.0
            ELSE round(1.0 - vr, 4) END AS var_reduction
FROM a
"""
