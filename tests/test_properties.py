"""Hypothesis property tests for driver-side logic (no Spark session —
these run in milliseconds and pin the invariants the engine relies on).
"""

from __future__ import annotations

import datetime as dt

from hypothesis import given, settings
from hypothesis import strategies as st

from airflow_spark.oracle import value_hash
from airflow_spark.pipeline.scheduler import cron_matches, next_fire
from airflow_spark.sources.lists import delimited_list

UTC = dt.timezone.utc


@given(
    minute=st.integers(0, 59),
    hour=st.integers(0, 23),
    start=st.datetimes(
        min_value=dt.datetime(2025, 1, 1),
        max_value=dt.datetime(2026, 12, 1),
    ),
)
@settings(max_examples=50, deadline=None)
def test_next_fire_matches_and_advances(minute, hour, start):
    expr = f"{minute} {hour} * * *"
    start = start.replace(tzinfo=UTC)
    fire = next_fire(expr, start)
    assert fire > start
    assert cron_matches(expr, fire)
    assert fire.minute == minute and fire.hour == hour


@given(step=st.integers(1, 30), start=st.datetimes(
    min_value=dt.datetime(2026, 1, 1), max_value=dt.datetime(2026, 1, 2)
))
@settings(max_examples=50, deadline=None)
def test_step_schedule_interval(step, start):
    expr = f"*/{step} * * * *"
    start = start.replace(tzinfo=UTC)
    f1 = next_fire(expr, start)
    f2 = next_fire(expr, f1)
    # consecutive fires within an hour are exactly `step` apart (modulo
    # the top-of-hour reset)
    delta = (f2 - f1).total_seconds() / 60
    wrapped = f2.minute == 0 and delta == 60 - (60 // step) * step + step
    assert delta == step or wrapped or f2.minute < f1.minute


@given(st.lists(st.text(
    alphabet=st.characters(blacklist_characters="|", blacklist_categories=("Cs",)),
    min_size=1).map(str.strip).filter(bool), max_size=10))
@settings(max_examples=100, deadline=None)
def test_delimited_list_roundtrip(items):
    assert delimited_list("|".join(items)) == items


@given(
    st.lists(
        st.tuples(
            st.integers(-10**6, 10**6),
            st.floats(allow_nan=False, allow_infinity=False, width=32),
        ),
        min_size=1,
        max_size=20,
    )
)
@settings(max_examples=100, deadline=None)
def test_value_hash_order_insensitive(rows):
    cols = ["a", "b"]
    h1 = value_hash(cols, rows)
    h2 = value_hash(cols, list(reversed(rows)))
    # column order insensitivity too
    h3 = value_hash(["b", "a"], [(b, a) for a, b in rows])
    assert h1 == h2 == h3


@settings(max_examples=15, deadline=None)
@given(
    hist_keys=st.lists(st.integers(0, 30), min_size=0, max_size=40),
    new_keys=st.lists(st.integers(0, 30), min_size=1, max_size=30),
    fpp=st.sampled_from([0.3, 0.01]),
)
def test_bloom_dedup_always_equals_plain_anti_join(spark, hist_keys, new_keys, fpp):
    """The bloom filter is pruning only: for ANY inputs and ANY fpp
    (even an undersized filter full of false positives) the result
    must equal the plain anti-join + min-id-per-key dedup."""
    from airflow_spark.operators.dedup import bloom_dedup_new

    hist = spark.createDataFrame(
        [(i, f"k{k}") for i, k in enumerate(hist_keys)] or [(0, "__none__")],
        ["doc_id", "text"],
    )
    new = spark.createDataFrame(
        [(100 + i, f"k{k}") for i, k in enumerate(new_keys)], ["doc_id", "text"]
    )
    got = sorted(
        r["doc_id"]
        for r in bloom_dedup_new(
            new, hist, "text", expected_items=max(1, len(hist_keys)), fpp=fpp
        ).collect()
    )
    hist_set = {f"k{k}" for k in hist_keys} if hist_keys else {"__none__"}
    first_per_key = {}
    for i, k in enumerate(new_keys):
        first_per_key.setdefault(f"k{k}", 100 + i)
    want = sorted(
        v for k, v in first_per_key.items() if k not in hist_set
    )
    assert got == want


@settings(max_examples=10, deadline=None)
@given(
    values=st.lists(st.integers(0, 10_000), min_size=1, max_size=300),
    k=st.sampled_from([16, 64]),
    n_groups=st.integers(1, 4),
)
def test_kmv_merge_equals_direct_sketch(spark, values, k, n_groups):
    """Union of per-group bottom-k sketches == bottom-k of the union,
    for ANY value distribution and group split (the mergeability that
    makes KMV rollup-safe); estimator is exact below k."""
    from pyspark.sql import functions as F

    from airflow_spark.operators import sketches

    rows = [(i % n_groups, v) for i, v in enumerate(values)]
    df = spark.createDataFrame(rows, ["g", "v"])
    per_group = sketches.kmv_sketch(df, "v", ["g"], k=k)
    merged = sketches.kmv_merge(per_group, [], k=k).collect()[0]["kmv"]
    direct = sketches.kmv_sketch(
        df.select(F.lit(0).alias("g"), "v"), "v", ["g"], k=k
    ).collect()[0]["kmv"]
    assert merged == direct

    n_distinct = len(set(values))
    if n_distinct <= k:
        est = sketches.kmv_estimate(
            sketches.kmv_merge(per_group, [], k=k), k
        ).collect()[0]
        assert est["n_kept"] == n_distinct
        if n_distinct < k:
            # n_kept < k ⇒ the sketch IS the distinct set: exact
            assert est["distinct_est"] == float(n_distinct)
        else:
            # n_distinct == k saturates the sketch — indistinguishable
            # from "more than k", so the estimator switches to
            # (k−1)·2⁶⁰/h_k. Deterministic-ish bounds, NOT a sigma
            # band (hypothesis draws fresh hashes every run): the
            # estimate is ≥ k−1 by construction (h_k ≤ 2⁶⁰), and
            # P(est > 2.5k) = ((k−1)/2.5k)^k ≈ 1.5e-7 at k=16 — no
            # realistic flake surface
            assert k - 1 <= est["distinct_est"] <= 2.5 * k, (
                est["distinct_est"],
                k,
            )


@settings(max_examples=10, deadline=None)
@given(
    base=st.integers(0, 2**63 - 1),
    flips=st.lists(st.integers(0, 63), min_size=0, max_size=6, unique=True),
    max_hamming=st.integers(1, 6),
)
def test_simhash_banding_recall_any_threshold(spark, base, flips, max_hamming):
    """The generalized max_hamming+1 banding must find EVERY pair
    within the threshold (pigeonhole recall 1.0), for any threshold —
    not just the classic 4-band h<=3."""
    from airflow_spark.operators.dedup import simhash_neardup_pairs

    def to_signed(v):
        return v - (1 << 64) if v >= (1 << 63) else v

    other = base
    for b in flips:
        other ^= 1 << b
    df = spark.createDataFrame(
        [(1, to_signed(base)), (2, to_signed(other))], ["id", "simhash"]
    )
    got = simhash_neardup_pairs(df, max_hamming=max_hamming).collect()
    if len(flips) <= max_hamming and flips:
        assert len(got) == 1 and got[0]["hamming"] == len(flips)
    elif len(flips) > max_hamming:
        assert got == []


@settings(max_examples=10, deadline=None)
@given(
    values=st.lists(
        st.floats(-1000, 1000, allow_nan=False, width=32),
        min_size=1,
        max_size=40,
    ),
    window=st.integers(1, 8),
)
def test_rolling_median_matches_numpy(spark, values, window):
    import numpy as np

    from airflow_spark.operators.timeseries import rolling_median

    df = spark.createDataFrame(
        [(1, i, float(v)) for i, v in enumerate(values)], ["k", "ts", "value"]
    )
    got = [
        r["roll_median"]
        for r in rolling_median(df, "k", "ts", "value", window_rows=window)
        .orderBy("ts")
        .collect()
    ]
    for i, g in enumerate(got):
        frame = values[max(0, i - window + 1) : i + 1]
        assert abs(g - float(np.median(frame))) < 1e-6, (i, g, frame)


@settings(max_examples=10, deadline=None)
@given(
    values=st.lists(
        st.floats(-100, 100, allow_nan=False, width=32),
        min_size=1,
        max_size=30,
    ),
    ref=st.floats(-50, 50, allow_nan=False, width=16),
)
def test_cusum_matches_numpy_recursion(spark, values, ref):
    from airflow_spark.operators.timeseries import cusum_alarms

    df = spark.createDataFrame(
        [(1, i, float(v)) for i, v in enumerate(values)], ["k", "ts", "value"]
    )
    got = [
        r["cusum"]
        for r in cusum_alarms(
            df, "k", "ts", "value", ref=float(ref), threshold=1e18,
            window_rows=10_000,
        ).orderBy("ts").collect()
    ]
    s = 0.0
    for i, v in enumerate(values):
        s = max(0.0, s + (float(v) - float(ref)))
        # the op emits round(cusum, 6) with Spark HALF_UP; Python's
        # round() is banker's, so an exact ...5 tie (hypothesis found
        # 1.3828125) legitimately differs by a full 1e-6 between the
        # two rounding modes — compare against the UNROUNDED value
        # with the half-ulp-of-6-decimals bound instead
        assert abs(got[i] - s) <= 5.001e-7, (i, got[i], s)


@settings(max_examples=15, deadline=None)
@given(
    n_tasks=st.integers(2, 7),
    edge_bits=st.integers(0, 2**20),
    fail_at=st.integers(0, 6),
    data=st.data(),
)
def test_random_dag_statuses_and_order(spark, n_tasks, edge_bits, fail_at, data):
    """For ANY dag shape: every task runs after all its dependencies,
    a failing task marks exactly its descendants upstream_failed, and
    everything else succeeds."""
    import datetime as dt
    import threading

    from airflow_spark.pipeline.core import Pipeline

    # random DAG: edge (i -> j) for i < j, from the bitmask
    edges = {}
    bit = 0
    for j in range(n_tasks):
        edges[j] = []
        for i in range(j):
            if (edge_bits >> bit) & 1:
                edges[j].append(i)
            bit += 1
    failing = fail_at % n_tasks

    p = Pipeline("rand", max_parallel_tasks=4)
    order: list[int] = []
    lock = threading.Lock()

    def make(idx):
        def fn(ctx):
            with lock:
                order.append(idx)
            if idx == failing:
                raise RuntimeError("boom")
            return idx

        fn.__name__ = f"t{idx}"
        return fn

    for j in range(n_tasks):
        p.task(depends_on=[f"t{i}" for i in edges[j]])(make(j))

    run = p.test(spark, run_ts=dt.datetime(2026, 1, 1))

    # transitive descendants of the failing task (edges only point
    # backward i < j, so plain recursion terminates)
    def reaches_failing(j):
        return any(i == failing or reaches_failing(i) for i in edges[j])

    desc = {j for j in range(n_tasks) if j != failing and reaches_failing(j)}

    assert run.status == "failed"
    for j in range(n_tasks):
        st_ = run.tasks[f"t{j}"].status
        if j == failing:
            assert st_ == "failed", (j, st_)
        elif j in desc:
            assert st_ == "upstream_failed", (j, st_)
        else:
            assert st_ == "success", (j, st_)

    # topological order: each executed task appears after its deps
    pos = {idx: i for i, idx in enumerate(order)}
    for j in range(n_tasks):
        if j in pos:
            for i in edges[j]:
                if i in pos:
                    assert pos[i] < pos[j], (i, j, order)


# ---------------------------------------------------------------------------
# BPE (pure-Python properties; no Spark session needed)
# ---------------------------------------------------------------------------


@given(
    words=st.dictionaries(
        st.text(st.characters(min_codepoint=97, max_codepoint=122),
                min_size=1, max_size=8),
        st.integers(1, 50),
        min_size=1,
        max_size=12,
    ),
    n_merges=st.integers(0, 30),
)
@settings(max_examples=60, deadline=None)
def test_bpe_roundtrip_and_monotonic_compression(words, n_merges):
    """For ANY corpus and merge budget: tokenization reassembles every
    word losslessly, token counts never exceed character counts, and
    more merges never produce MORE tokens for a training word."""
    from airflow_spark.operators.tokenize import (
        bpe_word_tokens,
        train_bpe,
    )

    merges = train_bpe(words, n_merges)
    ranks = {tuple(p): i for i, p in enumerate(merges)}
    fewer = train_bpe(words, max(0, n_merges - 3))
    ranks_fewer = {tuple(p): i for i, p in enumerate(fewer)}
    for w in words:
        toks = bpe_word_tokens(w, ranks)
        assert "".join(toks) == w
        assert 1 <= len(toks) <= len(w)
        assert len(toks) <= len(bpe_word_tokens(w, ranks_fewer))


@given(
    events=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 5000)),
        min_size=1,
        max_size=40,
    ),
    pad=st.integers(1, 600),
)
@settings(max_examples=30, deadline=None)
def test_interval_merge_invariants(spark, events, pad):
    """For ANY event set: islands are disjoint and ordered, coverage
    equals the EXACT interval union length (computed independently in
    Python), and event counts are conserved per key."""
    import datetime as dt

    from airflow_spark.operators.timeseries import merge_intervals

    base = dt.datetime(2026, 1, 1)
    rows = [
        (k, base + dt.timedelta(seconds=s)) for k, s in events
    ]
    df = spark.createDataFrame(rows, "user_id INT, ts TIMESTAMP")
    out = merge_intervals(df, "user_id", "ts", pad_s=pad).collect()

    # reference union-of-intervals per key
    from collections import defaultdict

    by_key = defaultdict(list)
    base_ep = int(base.timestamp())
    for k, s in events:
        by_key[k].append((base_ep + s, base_ep + s + pad))
    for k, ivs in by_key.items():
        ivs.sort()
        merged = []
        for s, e in ivs:
            if merged and s <= merged[-1][1]:
                merged[-1] = (merged[-1][0], max(merged[-1][1], e))
            else:
                merged.append((s, e))
        got = sorted(
            (r.start_s, r.end_s) for r in out if r.user_id == k
        )
        assert got == merged
        assert sum(r.n_events for r in out if r.user_id == k) == len(ivs)


@given(
    edge_bits=st.integers(0, 2**28 - 1),
    k=st.integers(2, 4),
)
@settings(max_examples=10, deadline=None)
def test_kcore_fixpoint_properties(spark, edge_bits, k):
    """For ANY graph on 8 nodes: every k-core member has degree ≥ k
    INSIDE the core, and the k-core is idempotent (peeling the core
    again changes nothing)."""
    from airflow_spark.operators.graph import kcore

    pairs = [(a, b) for a in range(8) for b in range(a + 1, 8)]
    edges = [
        pairs[i] for i in range(len(pairs)) if (edge_bits >> i) & 1
    ]
    if not edges:
        return
    df = spark.createDataFrame(edges, "src LONG, dst LONG")
    core = kcore(df, k=k).collect()
    assert all(r.deg >= k for r in core)
    if core:
        kept = {r.node for r in core}
        sub = [(a, b) for a, b in edges if a in kept and b in kept]
        again = kcore(
            spark.createDataFrame(sub, "src LONG, dst LONG"), k=k
        ).collect()
        assert {(r.node, r.deg) for r in again} == {
            (r.node, r.deg) for r in core
        }


def _bounded_bellman_ford(edges, source, rounds):
    """Reference: ``rounds`` rounds of full Bellman-Ford over the
    undirected graph, self-loops dropped."""
    dist = {source: 0}
    for _ in range(rounds):
        nxt = dict(dist)
        for a, b, w in edges:
            if a == b:
                continue
            for u, v in ((a, b), (b, a)):
                if u in dist and dist[u] + w < nxt.get(v, float("inf")):
                    nxt[v] = dist[u] + w
        dist = nxt
    return dist


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 5), st.integers(1, 9)),
        min_size=1,
        max_size=9,
    ),
)
@settings(max_examples=3, deadline=None)
def test_shortest_paths_match_bounded_bellman_ford(spark, edges):
    """For ANY small weighted graph and every round bound 1..5,
    ``sssp_bounded`` equals bounded Bellman-Ford over the weights and
    ``bfs_distances`` equals it over unit weights, though both relax
    only the nodes whose distance fell in the previous round."""
    from airflow_spark.operators.graph import bfs_distances, sssp_bounded

    df = spark.createDataFrame(
        [(a, b, float(w)) for a, b, w in edges], "src LONG, dst LONG, w DOUBLE"
    )
    unit = [(a, b, 1) for a, b, _ in edges]
    for rounds in range(1, 6):
        out = sssp_bounded(df, 0, rounds=rounds)
        assert {r.node: r.dist for r in out.collect()} == _bounded_bellman_ford(
            edges, 0, rounds
        )
        out.unpersist()
        out = bfs_distances(df, 0, max_depth=rounds)
        assert {r.node: r.dist for r in out.collect()} == _bounded_bellman_ford(
            unit, 0, rounds
        )
        out.unpersist()


# ---------------------------------------------------------------------------
# Media metadata walkers: total functions over arbitrary bytes
# ---------------------------------------------------------------------------
#
# The walkers run inside mapInPandas over untrusted corpus payloads; a
# single malformed file raising would kill a 100 TB job's task (and its
# retries). Contract: parse functions are TOTAL — any byte string
# returns a dict or None, never raises.


@given(st.binary(max_size=2048))
@settings(max_examples=300, deadline=None)
def test_mp3_walker_total_on_arbitrary_bytes(data):
    from airflow_spark.operators.multimodal import (
        _id3v2_text_frames,
        _parse_mp3_metadata,
    )

    out = _parse_mp3_metadata(data)
    assert out is None or isinstance(out, dict)
    assert isinstance(_id3v2_text_frames(data), dict)


@given(st.binary(max_size=2048))
@settings(max_examples=300, deadline=None)
def test_mp4_walker_total_on_arbitrary_bytes(data):
    from airflow_spark.operators.multimodal import _parse_mp4_metadata

    out = _parse_mp4_metadata(data)
    assert out is None or isinstance(out, dict)


@given(st.binary(max_size=2048))
@settings(max_examples=200, deadline=None)
def test_mp3_walker_total_on_sync_prefixed_bytes(data):
    """Force the walker past the sync check: random bytes behind a
    valid-looking frame sync must still never raise."""
    from airflow_spark.operators.multimodal import _parse_mp3_metadata

    out = _parse_mp3_metadata(b"\xff\xfb" + data)
    assert out is None or isinstance(out, dict)


@given(st.binary(max_size=1024))
@settings(max_examples=200, deadline=None)
def test_mp4_walker_total_on_box_prefixed_bytes(data):
    """Random bytes wrapped in a plausible box header (moov with a
    size covering the payload) exercise the recursive walk."""
    from airflow_spark.operators.multimodal import _parse_mp4_metadata

    payload = (len(data) + 8).to_bytes(4, "big") + b"moov" + data
    out = _parse_mp4_metadata(payload)
    assert out is None or isinstance(out, dict)


@given(
    n_frames=st.integers(1, 120),
    br_idx=st.sampled_from([1, 2, 5, 9, 11, 14]),
    sr_idx=st.integers(0, 2),
)
@settings(max_examples=60, deadline=None)
def test_mp3_cbr_roundtrip_exact(n_frames, br_idx, sr_idx):
    """Synthesize-parse round-trip across the MPEG1-L3 bitrate/rate
    table: frame count, bitrate, and sample rate recover exactly and
    duration matches the closed form."""
    from airflow_spark.operators.multimodal import (
        _MP3_BITRATES,
        _MP3_RATES,
        _parse_mp3_metadata,
    )

    kbps = _MP3_BITRATES[(1, 3)][br_idx]
    sr = _MP3_RATES["1"][sr_idx]
    flen = 144 * kbps * 1000 // sr
    frame = bytes([0xFF, 0xFB, (br_idx << 4) | (sr_idx << 2), 0xC0])
    frame += b"\x00" * (flen - 4)
    out = _parse_mp3_metadata(frame * n_frames)
    assert out is not None
    assert out["n_frames"] == n_frames
    assert out["bitrate_kbps"] == kbps
    assert out["sample_rate"] == sr
    assert out["channels"] == 1  # mode bits 11 = mono
    assert out["duration_ms"] == round(n_frames * 1152000.0 / sr)
    assert out["vbr"] is False


@given(
    n=st.integers(1, 80),
    tag=st.sampled_from([b"Xing", b"Info", b"VBRI"]),
    mono=st.booleans(),
)
@settings(max_examples=80, deadline=None)
def test_mp3_xing_vbri_header_roundtrip(n, tag, mono):
    """Stream-info header round-trip: the walker must take the O(1)
    header path — declared frame count and byte total reproduce
    n_frames, duration, and the floor-division average bitrate
    exactly; vbr is True for Xing/VBRI, False for Info; and the same
    stream without the header falls back to the frame walk."""
    from airflow_spark.operators.multimodal import _parse_mp3_metadata

    b3 = 0xC0 if mono else 0x40  # mode bits: 11=mono, 01=joint stereo
    f128 = bytes([0xFF, 0xFB, 0x90, b3]) + b"\x00" * 413
    f160 = bytes([0xFF, 0xFB, 0xA0, b3]) + b"\x00" * 518
    audio = b"".join(f128 if i % 2 == 0 else f160 for i in range(n))
    total = 417 + len(audio)
    hdr = bytearray(f128)
    if tag == b"VBRI":
        off = 4 + 32  # fixed offset, independent of channel mode
        hdr[off:off + 4] = b"VBRI"
        hdr[off + 4:off + 6] = (1).to_bytes(2, "big")
        hdr[off + 10:off + 14] = total.to_bytes(4, "big")
        hdr[off + 14:off + 18] = n.to_bytes(4, "big")
    else:
        off = 4 + (17 if mono else 32)  # after MPEG1 side info
        hdr[off:off + 4] = tag
        hdr[off + 4:off + 8] = (3).to_bytes(4, "big")
        hdr[off + 8:off + 12] = n.to_bytes(4, "big")
        hdr[off + 12:off + 16] = total.to_bytes(4, "big")
    out = _parse_mp3_metadata(bytes(hdr) + audio)
    assert out is not None
    assert out["xing"] == tag.decode()
    assert out["n_frames"] == n
    assert out["duration_ms"] == round(n * 1152000.0 / 44100.0)
    assert out["bitrate_kbps"] == total * 8 * 44100 // (n * 1152 * 1000)
    assert out["vbr"] is (tag != b"Info")
    # headerless fallback: the walk counts all n+1 physical frames and
    # flags VBR from the bitrate alternation (when n > 1)
    plain = _parse_mp3_metadata(f128 + audio)
    assert plain is not None and plain["xing"] is None
    assert plain["n_frames"] == n + 1
    if n > 1:
        assert plain["vbr"] is True


@given(
    n=st.integers(1, 20),
    declared=st.sampled_from([2**32 - 1, 2**24, 10**7]),
    mono=st.booleans(),
)
@settings(max_examples=40, deadline=None)
def test_mp3_implausible_xing_header_falls_back_to_walk(n, declared, mono):
    """A corrupt/crafted Xing header declaring an absurd frame count
    (far more frames than the payload could physically hold) must NOT
    be trusted: the walker falls back to the bounded frame walk, so
    n_frames/duration reflect the frames actually present."""
    from airflow_spark.operators.multimodal import _parse_mp3_metadata

    b3 = 0xC0 if mono else 0x40
    f128 = bytes([0xFF, 0xFB, 0x90, b3]) + b"\x00" * 413
    audio = f128 * n
    hdr = bytearray(f128)
    off = 4 + (17 if mono else 32)
    hdr[off:off + 4] = b"Xing"
    hdr[off + 4:off + 8] = (3).to_bytes(4, "big")
    hdr[off + 8:off + 12] = declared.to_bytes(4, "big")
    hdr[off + 12:off + 16] = (417 * (n + 1)).to_bytes(4, "big")
    out = _parse_mp3_metadata(bytes(hdr) + audio)
    assert out is not None
    assert out["xing"] is None  # header rejected, walk used
    assert out["n_frames"] == n + 1
    assert out["duration_ms"] == round((n + 1) * 1152000.0 / 44100.0)


@given(
    duration_ms=st.integers(0, 10**9),
    w=st.integers(1, 8192),
    h=st.integers(1, 8192),
    n_frames=st.integers(0, 10**6),
)
@settings(max_examples=60, deadline=None)
def test_mp4_roundtrip_exact(duration_ms, w, h, n_frames):
    from airflow_spark.operators.multimodal import _parse_mp4_metadata
    from tests.test_llm_ops import _mini_mp4

    out = _parse_mp4_metadata(_mini_mp4(duration_ms, w, h, n_frames))
    assert out is not None
    assert out["duration_ms"] == duration_ms
    assert out["width"] == w and out["height"] == h
    assert out["n_frames"] == n_frames
    assert out["video_codec"] == "avc1"
