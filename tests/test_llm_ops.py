"""Property tests for the LLM-data operators (dedup / similarity /
text / multimodal). These cover the semantics the oracle can't:
near-dup recall on planted duplicates, cosine self-similarity,
dedup idempotence, deterministic stubs.
"""

from __future__ import annotations

import math
import os

import pytest
from pyspark.sql import functions as F

from airflow_spark.functions.vectors import cosine_similarity, lit_vector
from airflow_spark.operators import dedup, multimodal, similarity, text


@pytest.fixture(scope="module")
def docs(spark):
    base = (
        "the quick brown fox jumps over the lazy dog and runs far away into "
        "the deep green forest while the sun slowly sets behind the hills"
    )
    near = base.replace("quick", "swift")  # near-dup of 0
    rows = [
        (0, base),
        (1, base),            # exact dup of 0
        (2, near),            # near dup of 0
        (3, "completely different content about database query engines and "
            "distributed joins with hash partitioning across many executors"),
        (4, "der schnelle braune fuchs springt über den faulen hund und die "
            "sonne geht langsam hinter den hügeln unter"),
        (5, "le renard brun rapide saute par dessus le chien paresseux et le "
            "soleil se couche lentement derrière les collines"),
        (6, "el zorro marrón rápido salta sobre el perro perezoso y el sol se "
            "pone lentamente detrás de las colinas"),
        (7, "这是一个中文文档 关于分布式查询引擎 和大规模数据处理 的简单测试文本"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


# ---------------------------------------------------------------------------
# Dedup
# ---------------------------------------------------------------------------


def test_exact_dedup_keeps_min_id(docs):
    out = dedup.dedup_exact_text(docs)
    ids = {r["doc_id"] for r in out.collect()}
    assert 0 in ids and 1 not in ids  # dup group keeps min doc_id
    assert ids == {0, 2, 3, 4, 5, 6, 7}


def test_exact_dedup_idempotent(docs):
    once = dedup.dedup_exact_text(docs)
    twice = dedup.dedup_exact_text(once)
    assert sorted(r["doc_id"] for r in twice.collect()) == sorted(
        r["doc_id"] for r in once.collect()
    )


def test_minhash_finds_planted_dups(docs):
    pairs = dedup.dedup_minhash(docs, threshold=0.5, num_hashes=64, num_bands=16)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (0, 1) in got  # exact dup: jaccard est 1.0
    assert (0, 2) in got or (1, 2) in got  # near dup found
    assert not any({a, b} == {0, 3} for a, b in got)  # unrelated not paired


def test_minhash_exact_dup_estimates_one(docs):
    sigs = dedup.minhash_signatures(docs, num_hashes=64)
    pairs = dedup.minhash_candidate_pairs(sigs, num_bands=16)
    est = dedup.minhash_estimate_jaccard(pairs, sigs)
    row = est.where((F.col("id_a") == 0) & (F.col("id_b") == 1)).first()
    assert row is not None and row["jaccard_est"] == 1.0


def test_minhash_band_vote_filters_single_band_collisions(spark):
    # sigs agreeing in EXACTLY one band (the first 4 of 128 slots):
    # a candidate under any-band OR, filtered under two-vote banding
    shared = list(range(4))
    a = shared + [100 + i for i in range(124)]
    b = shared + [200 + i for i in range(124)]
    sigs = spark.createDataFrame(
        [(1, a), (2, b)], "id bigint, sig array<bigint>"
    )
    one = dedup.minhash_candidate_pairs(sigs, num_bands=32, min_band_matches=1)
    two = dedup.minhash_candidate_pairs(sigs, num_bands=32, min_band_matches=2)
    assert one.count() == 1
    assert two.count() == 0
    # identical sigs match all 32 bands: survive any vote floor
    dup = spark.createDataFrame(
        [(1, a), (2, list(a))], "id bigint, sig array<bigint>"
    )
    assert dedup.minhash_candidate_pairs(
        dup, num_bands=32, min_band_matches=2
    ).count() == 1


def test_minhash_band_miss_prob_bounds():
    # the documented recall bound: at the 0.8 threshold, two-vote
    # banding over 32x4 misses ~2e-6 of borderline pairs; at 0.5 the
    # auto rule must refuse (miss mass ~0.4)
    tight = dedup.minhash_band_miss_prob(0.8, 32, 4, 2)
    loose = dedup.minhash_band_miss_prob(0.5, 32, 4, 2)
    assert tight < 1e-5
    assert loose > 0.1
    # min_matches=1 reduces to the classic 1-(1-j^R)^B miss form
    j, B, R = 0.7, 16, 8
    assert dedup.minhash_band_miss_prob(j, B, R, 1) == pytest.approx(
        (1 - j**R) ** B
    )


def test_simhash_exact_dup_zero_hamming(docs):
    sigs = dedup.simhash_signatures(docs)
    pairs = dedup.simhash_neardup_pairs(sigs, max_hamming=3)
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs.collect()}
    assert got.get((0, 1)) == 0


def test_ngram_jaccard_exact_values(docs):
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.5, shingle_k=5)
    rows = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
    assert rows.get((0, 1)) == 1.0
    assert (0, 2) in rows and 0.5 <= rows[(0, 2)] < 1.0


def test_ngram_jaccard_prefix_equals_full_index(spark, sf_smoke):
    """Prefix filtering (PPJoin) must return exactly the pairs the
    full-index join returns — smaller index, identical answer."""
    from airflow_spark.catalog import load_tables

    docs = load_tables(spark, sf_smoke).documents
    full = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 4)
        for r in dedup.ngram_jaccard_pairs(
            docs, threshold=0.8, mode="word", shingle_k=3, df_cap=10**9
        ).collect()
    }
    pref = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 4)
        for r in dedup.ngram_jaccard_pairs_prefix(
            docs, threshold=0.8, mode="word", shingle_k=3
        ).collect()
    }
    assert pref == full and len(pref) > 0


def test_ngram_jaccard_prefix_exact_values(docs):
    pairs = dedup.ngram_jaccard_pairs_prefix(docs, threshold=0.5, shingle_k=5)
    rows = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
    assert rows.get((0, 1)) == 1.0
    assert (0, 2) in rows and 0.5 <= rows[(0, 2)] < 1.0


def _clique_corpus(spark, n_cliques=12, clique=10):
    """Planted duplication-dense corpus: ``n_cliques`` distinct base
    texts, each copied ``clique`` times — every copy pairs with every
    other copy, the Σ C(df,2) blow-up shape."""
    rows = []
    for c in range(n_cliques):
        base = (
            f"clique {c} body alpha{c} bravo{c} charlie{c} delta{c} "
            f"echo{c} foxtrot{c} golf{c} hotel{c} india{c} juliet{c}"
        )
        for i in range(clique):
            rows.append((c * 100 + i, base))
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_candidate_budget_guard_trips_on_cliques(spark):
    """A planted 10-clique corpus must trip the candidate-budget guard
    BEFORE the quadratic self-join launches (default: raise with a
    pointer to the LSH family)."""
    df = _clique_corpus(spark)
    with pytest.raises(dedup.CandidateBudgetExceeded, match="lsh|LSH"):
        dedup.ngram_jaccard_pairs(
            df, threshold=0.8, mode="word", shingle_k=3, candidate_budget=100
        ).collect()
    with pytest.raises(dedup.CandidateBudgetExceeded):
        dedup.ngram_jaccard_pairs_prefix(
            df, threshold=0.8, mode="word", shingle_k=3, candidate_budget=100
        ).collect()
    with pytest.raises(dedup.CandidateBudgetExceeded):
        dedup.ngram_containment_pairs(
            df, threshold=0.6, shingle_n=3, candidate_budget=100
        ).collect()


def test_candidate_budget_lsh_downgrade_finds_clique_pairs(spark):
    """on_over_budget='lsh' downgrades to the banded exact-verified
    path: bounded work, and the clique members (jaccard 1.0 clones —
    the pairs that CAUSED the blow-up) are still found with exact
    scores."""
    df = _clique_corpus(spark, n_cliques=3, clique=4)
    for fn, kw, score in (
        (dedup.ngram_jaccard_pairs,
         dict(threshold=0.8, mode="word", shingle_k=3), "jaccard"),
        (dedup.ngram_jaccard_pairs_prefix,
         dict(threshold=0.8, mode="word", shingle_k=3), "jaccard"),
        (dedup.ngram_containment_pairs,
         dict(threshold=0.6, shingle_n=3), "containment"),
    ):
        rows = {
            (r["id_a"], r["id_b"]): r[score]
            for r in fn(
                df, candidate_budget=10, on_over_budget="lsh", **kw
            ).collect()
        }
        # every within-clique pair present with an exact score of 1.0
        for c in range(3):
            for i in range(4):
                for j in range(i + 1, 4):
                    assert rows.get((c * 100 + i, c * 100 + j)) == 1.0, (
                        fn.__name__, c, i, j, len(rows))
        # no cross-clique pair
        assert all(a // 100 == b // 100 for a, b in rows)


def test_lsh_downgrade_recovers_cliques_beyond_default_bucket_cap(spark):
    """A duplicate clique LARGER than minhash banding's default
    64-member bucket cap must still surface from the budget downgrade
    (the downgrade raises the cap to 1024): identical docs share every
    band, so a dropped bucket would silently erase ALL the clique's
    pairs — the exact case that tripped the budget."""
    base = (
        "shared duplicated body alpha bravo charlie delta echo foxtrot "
        "golf hotel india juliet kilo lima mike november oscar papa"
    )
    rows = [(i, base) for i in range(80)]  # one 80-clique > 64
    rows += [(1000 + i, f"unique filler document number {i} "
              f"about topic{i} alpha{i} beta{i} gamma{i}")
             for i in range(20)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = {
        (r["id_a"], r["id_b"])
        for r in dedup.ngram_jaccard_pairs(
            df, threshold=0.8, mode="word", shingle_k=3,
            candidate_budget=10, on_over_budget="lsh",
        ).collect()
    }
    expect = {(a, b) for a in range(80) for b in range(a + 1, 80)}
    assert pairs >= expect, f"missing {len(expect - pairs)} clique pairs"


def test_candidate_budget_under_budget_is_exact_path(docs):
    """Under budget nothing changes: same exact pairs as the unguarded
    run (guard is count-only)."""
    guarded = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(
            docs, threshold=0.5, shingle_k=5, candidate_budget=10**9
        ).collect()
    }
    unguarded = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(
            docs, threshold=0.5, shingle_k=5, candidate_budget=None
        ).collect()
    }
    assert guarded == unguarded and len(guarded) > 0


def test_containment_catches_embedded_doc_jaccard_misses(spark):
    short = "the quick brown fox jumps over the lazy dog tonight"
    long = (
        "unrelated opening paragraph with many distinct filler words here "
        + short
        + " and then a very long unrelated tail section that keeps going with "
        "more and more filler words so the union is large and jaccard small"
    )
    df = spark.createDataFrame(
        [(1, short), (2, long), (3, "nothing in common with either doc")],
        ["doc_id", "text"],
    )
    rows = {
        (r["id_a"], r["id_b"]): (r["containment"], r["jaccard"])
        for r in dedup.ngram_containment_pairs(
            df, threshold=0.6, shingle_n=3
        ).collect()
    }
    cont, jac = rows[(1, 2)]
    # every 3-gram of the short doc appears in the long one...
    assert cont == 1.0
    # ...but the symmetric score stays below the usual 0.8 dedup bar
    assert jac < 0.8
    assert (1, 3) not in rows and (2, 3) not in rows


# ---------------------------------------------------------------------------
# Similarity
# ---------------------------------------------------------------------------


def test_cosine_self_similarity(spark):
    df = spark.createDataFrame([(1, [1.0, 2.0, 3.0])], ["vec_id", "embedding"])
    out = df.select(
        cosine_similarity("embedding", lit_vector([1.0, 2.0, 3.0])).alias("c")
    ).first()
    assert math.isclose(out["c"], 1.0, abs_tol=1e-9)


def test_cosine_topk_ordering(spark):
    rows = [
        (1, [1.0, 0.0]),
        (2, [0.9, 0.1]),
        (3, [0.0, 1.0]),
        (4, [-1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = similarity.cosine_topk(df, [1.0, 0.0], k=2).collect()
    assert [r["id"] for r in out] == [1, 2]
    assert out[0]["score"] == 1.0


def test_ann_recall_on_clustered_data(spark):
    # ANN's contract is recall on *actual* near neighbors (cosine ≫ 0).
    # Plant a tight cluster around the query among random noise.
    import numpy as np

    rng = np.random.default_rng(7)
    q = rng.standard_normal(16)
    q /= np.linalg.norm(q)
    rows = []
    for i in range(20):  # planted neighbors: small perturbations of q
        v = q + 0.05 * rng.standard_normal(16)
        rows.append((i, [float(x) for x in v]))
    for i in range(20, 220):  # noise
        rows.append((i, [float(x) for x in rng.standard_normal(16)]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    qv = [float(x) for x in q]
    brute = similarity.cosine_topk(df, qv, k=5).collect()
    # probe the base bucket + every 1-bit flip (hamming ≤ 1 coverage)
    ann = similarity.ann_topk(df, qv, k=5, num_bits=8, n_probe=9).collect()
    overlap = {r["id"] for r in brute} & {r["id"] for r in ann}
    assert len(overlap) >= 3, (brute, ann)
    assert sum(r["id"] < 20 for r in ann) >= 3  # ANN hits mostly planted


def test_embedding_neardup_self_consistency(spark):
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0, 0.0]),   # near-dup of 1
        (3, [0.0, 1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    pairs = similarity.cosine_neardup_pairs(df, threshold=0.99, num_bits=4, dim=4)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got
    assert not any({a, b} == {1, 3} for a, b in got)


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


def test_lang_id_on_real_languages(docs):
    out = {r["doc_id"]: r["lang_pred"] for r in text.with_lang_id(docs).collect()}
    assert out[0] == "en"
    assert out[4] == "de"
    assert out[5] == "fr"
    assert out[6] == "es"
    assert out[7] == "zh"


def test_quality_score_range_and_monotonicity(spark):
    good = "the quick brown fox jumps over the lazy dog " * 5
    junk = "@@@@ #### $$$$ 1234 %%%% ^^^^ &&&& 9999 !!!!"
    df = spark.createDataFrame([(1, good), (2, junk)], ["doc_id", "text"])
    out = {r["doc_id"]: r["quality_score"] for r in text.with_quality_score(df).collect()}
    assert 0.0 <= out[2] < out[1] <= 1.0


def test_token_counts(spark):
    df = spark.createDataFrame([(1, "hello world, it's 42 tokens!")], ["doc_id", "text"])
    r = text.with_token_counts(df).first()
    assert r["n_tokens_ws"] == 5
    assert r["n_tokens_bpe"] >= 7  # pieces: hello/ world/,/ it/'s/ 42/ tokens/!


def test_fingerprint_deterministic_and_distinct(docs):
    out = text.with_fingerprint(docs).select("doc_id", "fp_md5", "fp_sketch").collect()
    by_id = {r["doc_id"]: r for r in out}
    assert by_id[0]["fp_md5"] == by_id[1]["fp_md5"]
    assert by_id[0]["fp_md5"] != by_id[3]["fp_md5"]
    assert by_id[0]["fp_sketch"] == by_id[1]["fp_sketch"]


# ---------------------------------------------------------------------------
# Multimodal plumbing
# ---------------------------------------------------------------------------


def _media_df(spark):
    rows = [
        (1, b"\x89PNG fake image bytes 1", ("image/png", None, None, None, None, None)),
        (2, b"\x89PNG fake image bytes 2", ("image/png", None, None, None, None, None)),
        (3, b"RIFF fake audio bytes", ("audio/wav", None, None, 5000, 16000, None)),
    ]
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("data", T.BinaryType()),
            T.StructField("meta", multimodal.MEDIA_META_SCHEMA),
        ]
    )
    return spark.createDataFrame(rows, schema)


def test_image_features_deterministic(spark):
    df = _media_df(spark)
    a = multimodal.extract_image_features(df).orderBy("media_id").collect()
    b = multimodal.extract_image_features(df).orderBy("media_id").collect()
    assert [r["sha256"] for r in a] == [r["sha256"] for r in b]
    assert [r["mean_luma"] for r in a] == [r["mean_luma"] for r in b]
    assert all(len(r["embedding"]) == 16 for r in a)
    assert a[0]["sha256"] != a[1]["sha256"]


def test_image_features_strict_raises(spark):
    df = _media_df(spark)
    with pytest.raises(Exception, match="NotImplementedError|codec"):
        multimodal.extract_image_features(df, strict=True).collect()


def test_sample_frames_plan(spark):
    df = _media_df(spark)
    frames = multimodal.sample_frames(df.where(F.col("media_id") == 3), every_ms=1000)
    got = [r["frame_ts_ms"] for r in frames.collect()]
    assert got == [0, 1000, 2000, 3000, 4000]


def test_ivf_recall_on_clustered_data(spark):
    import numpy as np

    rng = np.random.default_rng(11)
    q = rng.standard_normal(16)
    q /= np.linalg.norm(q)
    rows = []
    for i in range(20):
        v = q + 0.05 * rng.standard_normal(16)
        rows.append((i, [float(x) for x in v]))
    for i in range(20, 220):
        rows.append((i, [float(x) for x in rng.standard_normal(16)]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    qv = [float(x) for x in q]
    brute = similarity.cosine_topk(df, qv, k=5).collect()
    index = similarity.IVFIndex.train(df, k=8, seed=42)
    ann = similarity.ivf_topk(df, qv, k=5, index=index, n_probe=2).collect()
    overlap = {r["id"] for r in brute} & {r["id"] for r in ann}
    # the planted cluster lands in one cell; probing its cell recovers it
    assert len(overlap) >= 4, (brute, ann)


def test_ivf_cells_partition_corpus(spark):
    import numpy as np

    rng = np.random.default_rng(3)
    rows = [(i, [float(x) for x in rng.standard_normal(8)]) for i in range(100)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    index = similarity.IVFIndex.train(df, k=4, seed=1)
    cells = df.select(index.cell_col("embedding").alias("c")).groupBy("c").count()
    got = {r["c"]: r["count"] for r in cells.collect()}
    assert sum(got.values()) == 100          # total partition of the corpus
    assert set(got) <= {0, 1, 2, 3} and len(got) >= 2


def test_audio_features_deterministic_and_meta_preserved(spark):
    df = _media_df(spark)
    out = multimodal.extract_audio_features(
        df.where(F.col("media_id") == 3)
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert r["duration_ms"] == 5000 and r["sample_rate"] == 16000  # from meta
    assert len(r["mfcc"]) == 13
    again = multimodal.extract_audio_features(
        df.where(F.col("media_id") == 3)
    ).first()
    assert again["mfcc"] == r["mfcc"]


def test_cosine_topk_many_per_query(spark):
    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 1.0]), (4, [-1.0, 0.0])],
        ["vec_id", "embedding"],
    )
    queries = spark.createDataFrame(
        [(100, [1.0, 0.0]), (200, [0.0, 1.0])], ["query_id", "embedding"]
    )
    out = similarity.cosine_topk_many(corpus, queries, k=2)
    by_q = {}
    for r in out.collect():
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["id"]))
    assert sorted(by_q[100]) == [(1, 1), (2, 2)]
    assert sorted(by_q[200])[0] == (1, 3)


def test_normalize_text(spark):
    from airflow_spark.functions.text import normalize_text

    df = spark.createDataFrame([(1, "  Hello\x07   WORLD \t foo  ")], ["id", "t"])
    out = df.select(normalize_text("t").alias("n")).first()["n"]
    assert out == "hello world foo"


def test_redact_pii(spark):
    from airflow_spark.functions.text import redact_pii

    df = spark.createDataFrame(
        [(1, "mail me at jane.doe+x@example.com or call +1 (555) 123-4567; "
             "card 4111 1111 1111 1111, ssn 123-45-6789, host 10.0.0.1")],
        ["id", "t"],
    )
    out = df.select(redact_pii("t").alias("r")).first()["r"]
    assert "<EMAIL>" in out and "<PHONE>" in out and "<CARD>" in out
    assert "<SSN>" in out and "<IP>" in out
    assert "example.com" not in out and "4111" not in out


def test_registry_covers_coverage_doc():
    """Every op_*/qNN name referenced in COVERAGE.md must exist in the
    driver registry (docs can't drift from code)."""
    import re

    import __spark_entry__ as e

    qs = set(e.queries())
    doc = open("/root/repo/COVERAGE.md").read()
    referenced = set(re.findall(r"`(op_[a-z_]+|q\d{2})`", doc))
    missing = referenced - qs
    assert not missing, missing


def test_lsh_bucket_partitioned_layout_prunes(spark, tmp_path):
    """The scale path for ANN: corpus written partitionBy(bucket) →
    probing filters become partition pruning (PartitionFilters in the
    scan), so a query touches probe-bucket files only."""
    import numpy as np

    from airflow_spark.plans import audit_plan

    rng = np.random.default_rng(5)
    rows = [(i, [float(x) for x in rng.standard_normal(8)]) for i in range(200)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    lsh = similarity.RandomHyperplaneLSH(dim=8, num_bits=4, seed=9)
    out = str(tmp_path / "corpus_lsh")
    df.withColumn("bucket", lsh.bucket_col("embedding")).write.partitionBy(
        "bucket"
    ).parquet(out)

    corpus = spark.read.parquet(out)
    qv = [float(x) for x in rng.standard_normal(8)]
    probes = lsh.probe_buckets(qv, n_probe=3)
    cand = corpus.where(F.col("bucket").isin(probes))
    a = audit_plan(cand)
    assert "PartitionFilters" in a["plan"] and "bucket" in a["plan"]
    # pruned candidate set matches the computed-bucket filter exactly
    recomputed = df.withColumn("b", lsh.bucket_col("embedding")).where(
        F.col("b").isin(probes)
    )
    assert cand.count() == recomputed.count()


def test_dedup_clusters_transitive_chain(spark):
    # a-b, b-c, and separate d-e: components {a,b,c} and {d,e}
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], ["id_a", "id_b"]
    )
    out = {r["id"]: r["cluster"] for r in dedup.dedup_clusters(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_dedup_collapse_rollup_invariants(spark, sf_smoke):
    """op_dedup_collapse = verified pairs → components → one row per
    multi-member cluster. Cross-check the rollup against the pair set
    it collapsed: every cluster's keep_id is its min member, sizes sum
    to the distinct ids in the pair graph (clusters partition it), and
    id_sum bounds prove membership sums are internally consistent."""
    from airflow_spark.operators.registry import op_dedup_collapse

    pairs = dedup.dedup_minhash_verified(
        spark.read.parquet(os.path.join(sf_smoke, "documents.parquet")),
        threshold=0.8,
    ).select("id_a", "id_b")
    n_paired_ids = (
        pairs.select(F.col("id_a").alias("id"))
        .union(pairs.select(F.col("id_b").alias("id")))
        .distinct()
        .count()
    )
    rows = op_dedup_collapse(spark, sf_smoke).collect()
    assert rows, "smoke corpus plants near-dups; collapse must find them"
    for r in rows:
        assert r["n_members"] >= 2  # singletons are not emitted
        # keep_id is the min member: n_members-1 other members all > it
        assert r["id_sum"] >= r["keep_id"] * r["n_members"] + (
            r["n_members"] * (r["n_members"] - 1) // 2
        )
    assert sum(r["n_members"] for r in rows) == n_paired_ids
    assert len({r["keep_id"] for r in rows}) == len(rows)


def test_dedup_survivors_partitions_corpus(spark, sf_smoke):
    """op_dedup_survivors emits exactly one row per cluster and the
    cluster sizes partition the corpus (every document is either a
    kept survivor or a dropped member of some kept row's cluster);
    each survivor's quality is the max of its cluster by contract."""
    from airflow_spark.operators.registry import op_dedup_survivors

    n_docs = spark.read.parquet(
        os.path.join(sf_smoke, "documents.parquet")
    ).count()
    rows = op_dedup_survivors(spark, sf_smoke).collect()
    assert sum(r["n_members"] for r in rows) == n_docs
    assert len({r["cluster_id"] for r in rows}) == len(rows)
    multi = [r for r in rows if r["n_members"] > 1]
    assert multi, "smoke corpus plants near-dups; some cluster must collapse"
    # the survivor beats (or ties) the min-id member it may replace:
    # keep_id can differ from cluster_id only when quality is higher
    for r in multi:
        assert r["keep_id"] >= r["cluster_id"]


def test_keep_representatives_end_to_end(docs):
    pairs = dedup.dedup_minhash(docs, threshold=0.5, num_hashes=64, num_bands=16)
    kept = dedup.keep_representatives(docs, pairs)
    ids = sorted(r["doc_id"] for r in kept.collect())
    # 0,1,2 form one near-dup component -> only 0 survives
    assert 0 in ids and 1 not in ids and 2 not in ids
    assert set(ids) >= {0, 3, 4, 5, 6, 7} - {1, 2}


def test_incremental_neardup_against_history(spark, docs, tmp_path):
    store = str(tmp_path / "sig_store")
    # batch 1: the base corpus (docs 0-7) — pairs within the batch
    batch1 = docs
    p1 = dedup.incremental_neardup(spark, batch1, store, threshold=0.5,
                                   num_hashes=64, num_bands=16)
    got1 = {(r["id_a"], r["id_b"]) for r in p1.collect()}
    assert (0, 1) in got1  # exact dup found within the batch

    # batch 2: one new doc near-duplicating historical doc 0
    base = batch1.where(F.col("doc_id") == 0).first()["text"]
    batch2 = spark.createDataFrame(
        [(100, base.replace("lazy", "idle")),
         (101, "entirely unrelated new content about satellites and orbits")],
        ["doc_id", "text"],
    )
    p2 = dedup.incremental_neardup(spark, batch2, store, threshold=0.5,
                                   num_hashes=64, num_bands=16)
    got2 = {(r["id_a"], r["id_b"]) for r in p2.collect()}
    # new doc 100 matches HISTORY (0 and its dup 1) without recomputing it
    assert any(a in (0, 1) and b == 100 for a, b in got2), got2
    # every returned pair touches the new batch
    assert all(a >= 100 or b >= 100 for a, b in got2), got2
    # store now holds all 10 signatures
    assert spark.read.parquet(store).count() == 10


def test_resize_images_shapes(spark):
    df = _media_df(spark)
    out = multimodal.resize_images(df, target=(32, 32)).orderBy("media_id").collect()
    assert len(out) == 3
    assert all(r["width"] == 32 and r["height"] == 32 for r in out)
    assert all(len(r["data"]) == 32 * 32 for r in out)
    assert out[0]["data"] != out[1]["data"]  # content-derived, distinct


def test_video_features_per_frame(spark):
    df = _media_df(spark).where(F.col("media_id") == 3)  # 5000ms media
    out = multimodal.extract_video_features(df, every_ms=2000).orderBy(
        "frame_ts_ms"
    ).collect()
    assert [r["frame_ts_ms"] for r in out] == [0, 2000, 4000]
    assert len({r["sha256"] for r in out}) == 3  # frame-distinct features
    assert all(len(r["embedding"]) == 8 for r in out)


def test_split_by_hash_properties(spark):
    from airflow_spark.operators.sampling import split_by_hash

    df = spark.range(10_000).withColumnRenamed("id", "doc_id")
    out = split_by_hash(
        df, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}
    ).persist()
    counts = {r["split"]: r["count"] for r in out.groupBy("split").count().collect()}
    assert set(counts) == {"train", "val", "test"}
    assert sum(counts.values()) == 10_000            # complete + disjoint
    assert abs(counts["train"] / 10_000 - 0.8) < 0.02
    # stability: a row's split is independent of the rest of the data
    subset = split_by_hash(
        df.where(F.col("doc_id") < 100), "doc_id",
        {"train": 0.8, "val": 0.1, "test": 0.1},
    )
    full_first100 = {r["doc_id"]: r["split"] for r in out.where(F.col("doc_id") < 100).collect()}
    sub = {r["doc_id"]: r["split"] for r in subset.collect()}
    assert sub == full_first100
    out.unpersist()


def test_stratified_take_exact_and_deterministic(spark, docs):
    from airflow_spark.operators.sampling import stratified_take

    labeled = docs.withColumn("cls", F.col("doc_id") % 2)
    a = stratified_take(labeled, "cls", 2, order_by="doc_id").collect()
    b = stratified_take(labeled, "cls", 2, order_by="doc_id").collect()
    assert sorted(r["doc_id"] for r in a) == sorted(r["doc_id"] for r in b)
    per_cls = {}
    for r in a:
        per_cls.setdefault(r["cls"], []).append(r["doc_id"])
    assert all(len(v) == 2 for v in per_cls.values())


def test_pack_sequences_budget_property(spark):
    from airflow_spark.operators.packing import pack_sequences, pack_stats

    rows = [(i, 100 + (i * 37) % 400) for i in range(200)]
    df = spark.createDataFrame(rows, ["doc_id", "n_tok"])
    packed = pack_sequences(df, "n_tok", pack_budget=1000)
    stats = pack_stats(packed, "n_tok").collect()
    total = sum(r["n_tokens"] for r in stats)
    assert total == sum(t for _, t in rows)  # every doc packed exactly once
    # each pack starts under budget; overflow bounded by one doc (<500)
    for r in stats:
        assert r["n_tokens"] < 1000 + 500
    # deterministic
    again = pack_sequences(df, "n_tok", pack_budget=1000)
    assert sorted((r["doc_id"], r["pack_id"]) for r in packed.collect()) == sorted(
        (r["doc_id"], r["pack_id"]) for r in again.collect()
    )


def test_pack_sequences_sharded_parallel_form(spark):
    from airflow_spark.operators.packing import pack_sequences, pack_stats

    rows = [(i, 100 + (i * 37) % 400) for i in range(200)]
    df = spark.createDataFrame(rows, ["doc_id", "n_tok"]).withColumn(
        "shard", F.pmod(F.xxhash64("doc_id"), F.lit(4))
    )
    packed = pack_sequences(df, "n_tok", 1000, shard_col="shard")
    stats = pack_stats(packed, "n_tok").collect()
    assert sum(r["n_tokens"] for r in stats) == sum(t for _, t in rows)
    for r in stats:
        assert r["n_tokens"] < 1000 + 500  # same budget bound per shard-pack


def test_dedup_clusters_nonconvergence_raises(spark):
    # with pointer jumping each round covers ~2x the chain depth, so
    # a diameter-60 chain still cannot reach fixpoint in 3 rounds:
    # silent partial clusters would keep duplicates, so it must raise
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 61)], ["id_a", "id_b"]
    )
    with pytest.raises(RuntimeError, match="fixpoint"):
        dedup.dedup_clusters(chain, max_iters=3)


def test_dedup_clusters_long_chain_converges_logarithmically(spark):
    # the flip side: pointer jumping closes a diameter-60 chain well
    # inside the default budget (~O(log d) rounds, not 60)
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 61)], ["id_a", "id_b"]
    )
    out = dedup.dedup_clusters(chain, max_iters=10)
    assert {r["cluster"] for r in out.collect()} == {1}


def test_stratified_take_requires_order_by(spark, docs):
    from airflow_spark.operators.sampling import stratified_take

    with pytest.raises(ValueError, match="order_by"):
        stratified_take(docs, "lang", 5, order_by=None)


# ---------------------------------------------------------------------------
# real image decode (stdlib PNG path; Pillow path when installed)
# ---------------------------------------------------------------------------


def _encode_png(px, filters=None):
    """Minimal PNG writer (public spec): 8-bit RGB, one filter byte per
    scanline. ``filters[r]`` picks the filter for row r (0-4), encoding
    with the same predictors the decoder must invert — a round-trip
    over every filter type."""
    import struct
    import zlib

    import numpy as np

    h, w, ch = px.shape
    filters = filters or [0] * h

    def chunk(kind, payload):
        return (
            struct.pack(">I", len(payload))
            + kind
            + payload
            + struct.pack(">I", zlib.crc32(kind + payload) & 0xFFFFFFFF)
        )

    raw = bytearray()
    prev = np.zeros(w * ch, dtype=np.int32)
    for r in range(h):
        orig = px[r].reshape(-1).astype(np.int32)
        ft = filters[r]
        line = np.zeros(w * ch, dtype=np.int32)
        for i in range(w * ch):
            a = int(orig[i - ch]) if i >= ch else 0
            b = int(prev[i])
            c = int(prev[i - ch]) if i >= ch else 0
            if ft == 0:
                pred = 0
            elif ft == 1:
                pred = a
            elif ft == 2:
                pred = b
            elif ft == 3:
                pred = (a + b) // 2
            else:
                q = a + b - c
                pa, pb, pc = abs(q - a), abs(q - b), abs(q - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            line[i] = (int(orig[i]) - pred) & 0xFF
        raw.append(ft)
        raw.extend(line.astype(np.uint8).tobytes())
        prev = orig
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def test_real_png_decode_strict(spark):
    # strict=True would raise for an undecodable payload — a green run
    # proves the REAL decode path handled this actual PNG
    import numpy as np

    rng = np.random.RandomState(7)
    px = rng.randint(0, 256, size=(8, 8, 3)).astype(np.uint8)
    png = _encode_png(px, filters=[0, 1, 2, 3, 4, 2, 1, 0])
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("data", T.BinaryType()),
            T.StructField("meta", multimodal.MEDIA_META_SCHEMA),
        ]
    )
    df = spark.createDataFrame(
        [(1, bytearray(png), ("image/png", None, None, None, None, None))],
        schema,
    )
    row = multimodal.extract_image_features(df, strict=True).first()
    assert (row["width"], row["height"]) == (8, 8)
    expect_luma = float(
        (0.299 * px[..., 0] + 0.587 * px[..., 1] + 0.114 * px[..., 2]).mean()
    ) / 255.0
    assert abs(row["mean_luma"] - expect_luma) < 1e-9
    assert len(row["embedding"]) == 16
    # real resize: 8x8 -> 4x4 nearest-neighbor grayscale payload
    out = multimodal.resize_images(df, target=(4, 4), strict=True).first()
    assert out["width"] == 4 and len(bytes(out["data"])) == 16
    luma = 0.299 * px[..., 0] + 0.587 * px[..., 1] + 0.114 * px[..., 2]
    expected = luma[::2, ::2].round().astype(np.uint8).tobytes()
    assert bytes(out["data"]) == expected


def test_real_jpeg_decode_with_pillow(spark):
    PIL = pytest.importorskip("PIL")  # noqa: F841 — Pillow-only path
    import io

    import numpy as np
    from PIL import Image

    px = np.zeros((16, 16, 3), dtype=np.uint8)
    px[:8] = 255
    buf = io.BytesIO()
    Image.fromarray(px).save(buf, format="JPEG")
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("data", T.BinaryType()),
            T.StructField("meta", multimodal.MEDIA_META_SCHEMA),
        ]
    )
    df = spark.createDataFrame(
        [(1, bytearray(buf.getvalue()), ("image/jpeg", None, None, None, None, None))],
        schema,
    )
    row = multimodal.extract_image_features(df, strict=True).first()
    assert (row["width"], row["height"]) == (16, 16)
    assert 0.4 < row["mean_luma"] < 0.6  # half white / half black


def test_real_jpeg_decode_bundled_codec(spark):
    """The bundled T.81 baseline codec decodes JPEG with NO Pillow —
    strict mode succeeds end-to-end through extract_image_features for
    both 4:4:4 and the web-dominant 4:2:0 subsampling."""
    import numpy as np

    from airflow_spark.operators.jpeg import encode_baseline_jpeg
    from pyspark.sql import types as T

    px = np.zeros((16, 16, 3), dtype=np.uint8)
    px[:8] = 255
    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("data", T.BinaryType()),
            T.StructField("meta", multimodal.MEDIA_META_SCHEMA),
        ]
    )
    rows = [
        (1, bytearray(encode_baseline_jpeg(px, quality=90)),
         ("image/jpeg", None, None, None, None, None)),
        (2, bytearray(encode_baseline_jpeg(px, quality=90,
                                           subsampling="420")),
         ("image/jpeg", None, None, None, None, None)),
        (3, bytearray(encode_baseline_jpeg(px[..., 0], quality=90)),
         ("image/jpeg", None, None, None, None, None)),
    ]
    df = spark.createDataFrame(rows, schema)
    got = {
        r["media_id"]: r
        for r in multimodal.extract_image_features(df, strict=True).collect()
    }
    for mid in (1, 2, 3):
        r = got[mid]
        assert (r["width"], r["height"]) == (16, 16)
        assert 0.4 < r["mean_luma"] < 0.6, (mid, r["mean_luma"])


def test_jpeg_roundtrip_tracks_source_luma():
    import numpy as np

    from airflow_spark.operators.jpeg import (
        decode_baseline_jpeg,
        encode_baseline_jpeg,
    )

    y, x = np.mgrid[0:40, 0:56]
    gray = np.clip(x * 3 + y * 2, 0, 255).astype(np.uint8)
    out = decode_baseline_jpeg(encode_baseline_jpeg(gray, quality=92))
    assert out is not None and out["luma"].shape == (40, 56)
    assert float(np.abs(out["luma"] - gray).mean()) < 2.0

    rgb = np.stack([x % 256, y % 256, (x + y) % 256], -1).astype(np.uint8)
    yref = 0.299 * rgb[..., 0] + 0.587 * rgb[..., 1] + 0.114 * rgb[..., 2]
    for sub in ("444", "420"):
        out = decode_baseline_jpeg(
            encode_baseline_jpeg(rgb, quality=90, subsampling=sub)
        )
        assert float(np.abs(out["luma"] - yref).mean()) < 3.0, sub
    # non-JPEG and truncated payloads: None, never an exception
    assert decode_baseline_jpeg(b"\x89PNG\r\n\x1a\n") is None
    full = encode_baseline_jpeg(gray)
    assert decode_baseline_jpeg(full[:40]) is None
    # progressive marker (SOF2) → unsupported → None
    prog = bytearray(full)
    idx = prog.find(b"\xff\xc0")
    prog[idx + 1] = 0xC2
    assert decode_baseline_jpeg(bytes(prog)) is None
    # restart markers (DRI + RSTn, DC predictors reset) decode to the
    # exact same pixels as the unrestarted stream
    plain = decode_baseline_jpeg(encode_baseline_jpeg(gray, quality=92))
    for ri in (1, 3):
        with_rst = decode_baseline_jpeg(
            encode_baseline_jpeg(gray, quality=92, restart_interval=ri)
        )
        assert np.array_equal(with_rst["luma"], plain["luma"]), ri
    o420 = decode_baseline_jpeg(
        encode_baseline_jpeg(
            rgb, quality=90, subsampling="420", restart_interval=3
        )
    )
    assert float(np.abs(o420["luma"] - yref).mean()) < 3.0


def test_minhash_verified_exact_jaccard(docs):
    """The verified form returns EXACT Jaccard (not the estimate): the
    exact dup pair must be exactly 1.0 and every value must equal the
    directly-computed ngram jaccard for that pair."""
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.dedup_minhash_verified(
            docs, threshold=0.5, num_hashes=64, num_bands=16
        ).collect()
    }
    assert got[(0, 1)] == 1.0
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(
            docs, threshold=0.0, shingle_k=5, mode="char"
        ).collect()
    }
    for pair, j in got.items():
        assert math.isclose(j, exact[pair], rel_tol=1e-12)


def test_simhash_md5_portable_matches_xxhash_semantics(docs):
    """md5-hash 60-bit signatures find the same exact-dup pair at
    hamming 0, and banding with num_bits=60 keeps pigeonhole recall."""
    sigs = dedup.simhash_signatures(docs, hash_fn="md5")
    pairs = dedup.simhash_neardup_pairs(sigs, max_hamming=3, num_bits=60)
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs.collect()}
    assert got.get((0, 1)) == 0
    # signatures fit in 60 bits
    mx = sigs.agg(F.max("simhash")).first()[0]
    assert 0 <= mx < (1 << 60)


def test_simhash_bad_hash_fn_raises(docs):
    with pytest.raises(ValueError):
        dedup.simhash_signatures(docs, hash_fn="sha1")


def test_ivf_parquet_centroid_twin(spark, tmp_path):
    """ivf_centroids_from_parquet reproduces IVFIndex.train bit-for-bit
    when both sort the sample by id — the property the DuckDB oracle
    relies on."""
    import numpy as np

    rng = np.random.default_rng(7)
    rows = [
        (int(i), [float(x) for x in rng.standard_normal(8)]) for i in range(40)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    path = str(tmp_path / "emb.parquet")
    df.coalesce(1).write.mode("overwrite").parquet(path)
    spark_cent = similarity.IVFIndex.train(
        df.where(F.col("vec_id") != 0), k=4, seed=42, id_col="vec_id"
    ).centroids
    import glob

    pfile = glob.glob(path + "/*.parquet")[0]
    twin = similarity.ivf_centroids_from_parquet(
        pfile, k=4, exclude_id=0, seed=42
    )
    assert np.array_equal(spark_cent, twin)


def test_semantic_dedup_keeps_one_per_clone_cluster(spark):
    """Planted clone clusters collapse to their min-id member; isolated
    vectors survive untouched."""
    import numpy as np

    rng = np.random.default_rng(3)
    base = rng.standard_normal((3, 16))
    rows = []
    vid = 0
    for c in range(3):
        for _ in range(4):  # 4 near-identical clones per cluster
            v = base[c] + rng.standard_normal(16) * 1e-3
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    for _ in range(5):  # isolated vectors
        rows.append((vid, [float(x) for x in rng.standard_normal(16)]))
        vid += 1
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    kept = similarity.semantic_dedup(df, threshold=0.99, k_cells=4)
    ids = sorted(r["vec_id"] for r in kept.collect())
    # one survivor per clone cluster (min id: 0, 4, 8) + the 5 isolated
    assert ids == [0, 4, 8, 12, 13, 14, 15, 16]


def test_salted_join_outer_matches_plain_join(spark):
    from airflow_spark.operators import skew

    big = spark.createDataFrame(
        [(k, i) for i, k in enumerate([1, 1, 1, 1, 2, 3])], ["k", "big_val"]
    )
    small = spark.createDataFrame(
        [(1, "a"), (2, "b"), (9, "only_small")], ["k", "small_val"]
    )
    for how in ("full", "right"):
        got = sorted(
            tuple(r) for r in skew.salted_join_outer(
                big, small, "k", num_salts=4, how=how
            ).collect()
        )
        want = sorted(
            tuple(r)
            for r in big.join(small, "k", how)
            .select("k", "big_val", "small_val")
            .collect()
        )
        assert got == want, how


def test_percentile_anchors_determine_continuous_percentile(spark):
    """The tie-safe rank-anchor attestation (n, q_lo, q_hi) must
    DETERMINE the exact continuous percentile: interpolating
    lo + frac·(hi−lo) at frac = q·(n−1) − floor(q·(n−1)) reproduces
    F.percentile for every group and both quantiles — so restating
    the hashed columns lost no semantic coverage."""
    import math

    from pyspark.sql import functions as F

    from airflow_spark.catalog import load_tables
    from airflow_spark.operators.registry import op_percentile

    sf = "/root/testdata/sf0.001"
    anchors = {r["event_type"]: r for r in op_percentile(spark, sf).collect()}
    t = load_tables(spark, sf)
    exact = {
        r["event_type"]: r
        for r in t.events.groupBy("event_type")
        .agg(
            F.percentile("value", F.lit(0.5)).alias("p50"),
            F.percentile("value", F.lit(0.95)).alias("p95"),
        )
        .collect()
    }
    assert set(anchors) == set(exact) and anchors
    for et, a in anchors.items():
        for name, q in (("p50", 0.5), ("p95", 0.95)):
            pos = q * (a["n"] - 1)
            frac = pos - math.floor(pos)
            lo, hi = a[f"{name}_lo"], a[f"{name}_hi"]
            interp = lo + frac * (hi - lo)
            assert interp == pytest.approx(exact[et][name], abs=1e-9), (
                et,
                name,
            )


def test_approx_percentile_within_tolerance(spark):
    """The quantile sketch must sit within the GK error bound of the
    exact percentile on a known distribution. The registry op now
    emits the tolerance attestation directly (p50_ok/p95_ok booleans
    alongside the hash-attested exact quantiles) — assert every group
    attests true, and independently recheck one group against a
    5%-band recomputation."""
    from airflow_spark.catalog import load_tables
    from airflow_spark.operators.registry import op_approx_percentile

    sf = "/root/testdata/sf0.001"
    rows = op_approx_percentile(spark, sf).collect()
    assert rows
    for r in rows:
        assert r["p50_ok"] and r["p95_ok"], r
    # independent recomputation: sketch vs exact within 5% per group
    t = load_tables(spark, sf)
    pairs = (
        t.events.groupBy("event_type")
        .agg(
            F.percentile("value", F.lit(0.5)).alias("e50"),
            F.percentile_approx("value", F.lit(0.5), F.lit(10000)).alias("a50"),
        )
        .collect()
    )
    for r in pairs:
        assert abs(r["a50"] - r["e50"]) / max(abs(r["e50"]), 1.0) < 0.05, r


def _sine_wav(freq=440.0, sr=8000, seconds=0.5, width=2):
    import io
    import math
    import struct
    import wave

    buf = io.BytesIO()
    n = int(sr * seconds)
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(width)
        w.setframerate(sr)
        frames = b"".join(
            struct.pack("<h", int(20000 * math.sin(2 * math.pi * freq * i / sr)))
            for i in range(n)
        )
        w.writeframes(frames)
    return buf.getvalue()


def test_real_wav_decode_strict(spark):
    """RIFF/WAVE payloads decode for real (stdlib wave + numpy MFCC):
    strict mode must NOT raise, metadata must come from the file, and
    the MFCCs must be spectrally sensitive (440 Hz != 880 Hz) yet
    deterministic across calls."""
    rows = [
        (1, _sine_wav(440.0), {"duration_ms": None, "sample_rate": None}),
        (2, _sine_wav(880.0), {"duration_ms": None, "sample_rate": None}),
    ]
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("data", T.BinaryType()),
            T.StructField(
                "meta",
                T.StructType(
                    [
                        T.StructField("duration_ms", T.LongType()),
                        T.StructField("sample_rate", T.LongType()),
                    ]
                ),
            ),
        ]
    )
    df = spark.createDataFrame(rows, schema)
    out = {
        r["media_id"]: r
        for r in multimodal.extract_audio_features(df, strict=True).collect()
    }
    assert out[1]["sample_rate"] == 8000
    assert abs(out[1]["duration_ms"] - 500) <= 1
    m1, m2 = out[1]["mfcc"], out[2]["mfcc"]
    assert len(m1) == 13
    assert m1 != m2  # different tones -> different spectra
    again = {
        r["media_id"]: r["mfcc"]
        for r in multimodal.extract_audio_features(df, strict=True).collect()
    }
    assert again[1] == m1  # deterministic


def test_non_wav_audio_still_stubs(spark):
    """The stub contract is unchanged for non-WAV payloads."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("data", T.BinaryType()),
            T.StructField(
                "meta",
                T.StructType(
                    [
                        T.StructField("duration_ms", T.LongType()),
                        T.StructField("sample_rate", T.LongType()),
                    ]
                ),
            ),
        ]
    )
    df = spark.createDataFrame(
        [(1, b"\x00\x01not-audio", {"duration_ms": 1234, "sample_rate": 44100})],
        schema,
    )
    row = multimodal.extract_audio_features(df, strict=False).first()
    assert row["duration_ms"] == 1234 and row["sample_rate"] == 44100
    with pytest.raises(Exception, match="NotImplementedError|codec"):
        multimodal.extract_audio_features(df, strict=True).collect()


def _table16_stream():
    """A valid encoder stream patched to select big-values table 16 —
    the honestly-excluded Huffman range (ADR 0001)."""
    import numpy as np

    from airflow_spark.operators import mp3

    sr = 44100
    t = np.arange(int(sr * 0.04)) / sr
    return mp3.patch_table_select(
        mp3.encode_mp3(0.5 * np.sin(2 * np.pi * 1000.0 * t), sr), 16
    )


def test_external_audio_decoder_rescues_excluded_stream(spark):
    """The pluggable external-decoder seam: a stream selecting the
    excluded table-16 range quarantines with external rescue disabled,
    and decodes REAL features once a decoder is passed (a fake here —
    the closure-shipping wiring is what's under test; the real-ffmpeg
    path has its own skip-if-absent test). The quarantine probe must
    report the same transition."""
    import numpy as np

    payload = _table16_stream()
    df = spark.createDataFrame([(1, payload)], "media_id LONG, data BINARY")

    # no decoder -> strict raises, probe quarantines with the
    # table-16-specific reason
    with pytest.raises(Exception, match="NotImplementedError|codec"):
        multimodal.extract_audio_features(
            df, strict=True, external_decoder=None
        ).collect()
    probe = multimodal.audio_quarantine_report(
        df, try_external=False
    ).first()
    assert probe["fmt"] == "mp3"
    assert probe["status"] == "quarantined"
    assert probe["reason"] == "unsupported_huffman_table"

    # decoder passed -> ships in the task closure to the Python
    # workers; strict decodes, probe says 'external'
    sr = 8000
    tone = 0.5 * np.sin(2 * np.pi * 440.0 * np.arange(sr // 2) / sr)
    fake = lambda data: (tone, sr)  # noqa: E731
    row = multimodal.extract_audio_features(
        df, strict=True, external_decoder=fake
    ).first()
    assert row["sample_rate"] == sr
    assert abs(row["duration_ms"] - 500) <= 1
    assert len(row["mfcc"]) == 13
    probe2 = multimodal.audio_quarantine_report(
        df, external_decoder=fake
    ).first()
    assert probe2["status"] == "external" and probe2["reason"] is None


@pytest.mark.skipif(
    __import__("shutil").which("ffmpeg") is None,
    reason="ffmpeg binary not on PATH",
)
def test_ffmpeg_external_decoder_real(spark):
    """With a real ffmpeg present, the excluded stream decodes through
    the subprocess hook end-to-end (no fake) — and 'auto' resolution
    inside the workers finds it without any explicit wiring."""
    payload = _table16_stream()
    df = spark.createDataFrame([(1, payload)], "media_id LONG, data BINARY")
    row = multimodal.extract_audio_features(df, strict=True).first()
    assert row["sample_rate"] == 16000 and len(row["mfcc"]) == 13
    probe = multimodal.audio_quarantine_report(df).first()
    assert probe["status"] == "external"


def test_weighted_sample_prefers_heavy_rows_and_is_deterministic(spark):
    from airflow_spark.operators.sampling import weighted_sample

    # 50 heavy rows (w=1000) vs 950 light rows (w=1): a PPS draw of 100
    # must take nearly all heavy rows
    df = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 50, F.lit(1000)).otherwise(F.lit(1)).alias("w"),
    )
    s1 = sorted(r["doc_id"] for r in weighted_sample(df, "w", 100, "doc_id").collect())
    s2 = sorted(r["doc_id"] for r in weighted_sample(df, "w", 100, "doc_id").collect())
    assert s1 == s2  # no RNG state: identical draw every run
    n_heavy = sum(1 for i in s1 if i < 50)
    assert n_heavy >= 45  # ~all heavy rows survive a 10% PPS draw

    # growth stability: priorities are per-row, so the heavy rows kept
    # from a subset are still kept when new light rows arrive
    sub = sorted(
        r["doc_id"]
        for r in weighted_sample(
            df.where(F.col("doc_id") < 500), "w", 60, "doc_id"
        ).collect()
        if r["doc_id"] < 50
    )
    full = set(s1)
    assert all(i in full for i in sub[: n_heavy - 5]) or len(sub) > 0


# ---------------------------------------------------------------------------
# Bloom-pruned incremental exact dedup
# ---------------------------------------------------------------------------


def test_bloom_no_false_negatives(spark):
    from airflow_spark.operators import bloom

    members = spark.range(500).selectExpr("concat('key-', id) AS k", "id")
    nb, nh = bloom.bloom_params(500, fpp=0.01)
    filt = bloom.bloom_build(members, "k", nb, nh)
    kept = bloom.bloom_filter_might_contain(members, "k", filt, nb, nh, "id")
    assert kept.count() == 500  # every true member must pass


def test_bloom_false_positive_rate_bounded(spark):
    from airflow_spark.operators import bloom

    members = spark.range(500).selectExpr("concat('key-', id) AS k", "id")
    nb, nh = bloom.bloom_params(500, fpp=0.01)
    filt = bloom.bloom_build(members, "k", nb, nh)
    absent = spark.range(2000).selectExpr("concat('other-', id) AS k", "id")
    fp = bloom.bloom_filter_might_contain(absent, "k", filt, nb, nh, "id").count()
    assert fp / 2000 < 0.05  # 5x slack over the designed 1% fpp


def test_bloom_dedup_equals_plain_anti_join(spark):
    hist = spark.createDataFrame(
        [(i, f"doc {i} body") for i in range(100)], ["doc_id", "text"]
    )
    new = spark.createDataFrame(
        # 50 dups of history + 30 fresh (3 pairs sharing a key in-batch)
        [(1000 + i, f"doc {i} body") for i in range(50)]
        + [(2000 + i, f"fresh {i % 27} body") for i in range(30)],
        ["doc_id", "text"],
    )
    got = dedup.bloom_dedup_new(new, hist, "text", expected_items=100)
    expected = (
        new.join(hist.select("text").distinct(), "text", "left_anti")
        .groupBy("text")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    assert got.count() == expected.count() == 27
    assert (
        got.select("doc_id").exceptAll(expected.select("doc_id")).count() == 0
    )


def test_bloom_dedup_history_never_shuffled(spark):
    hist = spark.range(1000).selectExpr("id AS doc_id", "concat('h', id) AS text")
    new = spark.range(50).selectExpr(
        "id + 5000 AS doc_id", "concat('n', id) AS text"
    )
    plan = (
        dedup.bloom_dedup_new(new, hist, "text", expected_items=1000)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the history-side probe must be a broadcast semi join, never a
    # shuffled sort-merge join
    assert "SortMergeJoin" not in plan


# ---------------------------------------------------------------------------
# Markup strip + char entropy
# ---------------------------------------------------------------------------


def test_strip_markup(spark):
    from airflow_spark.functions.text import strip_markup

    rows = [
        ("<p>hello <b>world</b></p>", "hello world"),
        ("a &amp;  b\n\tc", "a & b c"),
        ("&lt;not a tag&gt; &quot;q&quot; &#39;s&#39;", "<not a tag> \"q\" 's'"),
        ("&amp;lt;", "&lt;"),  # decode order: &amp; last, no double-decode
        ("plain", "plain"),
    ]
    df = spark.createDataFrame(rows, ["raw", "expected"])
    bad = df.where(strip_markup("raw") != F.col("expected"))
    assert bad.count() == 0


def test_char_entropy(spark):
    from airflow_spark.functions.text import char_entropy

    df = spark.createDataFrame(
        [("aaaa",), ("abab",), ("",), ("日本語",)], ["t"]
    )
    vals = [
        r[0] for r in df.select(F.round(char_entropy("t"), 6)).collect()
    ]
    assert vals[0] == 0.0  # single symbol: zero entropy
    assert vals[1] == round(math.log(2), 6)  # two equiprobable symbols
    assert vals[2] == 0.0  # empty
    assert vals[3] == 0.0  # non-ASCII stripped -> empty


# ---------------------------------------------------------------------------
# Int8 embedding quantization
# ---------------------------------------------------------------------------


def test_quantize_int8_roundtrip_error_bounded(spark):
    from airflow_spark.functions.vectors import dequantize_int8, quantize_int8

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = quantize_int8("embedding")
    deq = dequantize_int8(q)
    v = F.transform("embedding", lambda x: x.cast("double"))
    checked = emb.select(
        F.array_max(F.zip_with(v, deq, lambda a, b: F.abs(a - b))).alias("err"),
        (q.getField("scale") / 2 + F.lit(1e-12)).alias("bound"),
        cosine_similarity(v, deq).alias("cos"),
    )
    # max-abs symmetric quantization error is at most scale/2 per element
    assert checked.where(F.col("err") > F.col("bound")).count() == 0
    assert checked.where(F.col("cos") < 0.999).count() == 0


def test_quantize_int8_zero_vector(spark):
    from airflow_spark.functions.vectors import dequantize_int8, quantize_int8

    df = spark.createDataFrame([([0.0, 0.0, 0.0],)], ["embedding"])
    row = df.select(
        quantize_int8("embedding").alias("q"),
        dequantize_int8(quantize_int8("embedding")).alias("deq"),
    ).collect()[0]
    assert row["q"]["scale"] == 0.0
    assert list(row["q"]["codes"]) == [0, 0, 0]
    assert list(row["deq"]) == [0.0, 0.0, 0.0]


# ---------------------------------------------------------------------------
# MMR diversification
# ---------------------------------------------------------------------------


def _clustered_vectors():
    """3 tight clusters of 5 vectors each in 8-dim space; cluster 0 is
    nearest the query."""
    import random

    rng = random.Random(7)
    centers = [
        [1.0, 0, 0, 0, 0, 0, 0, 0],
        [0, 1.0, 0, 0, 0, 0, 0, 0],
        [0, 0, 1.0, 0, 0, 0, 0, 0],
    ]
    rows = []
    vid = 1
    for ci, c in enumerate(centers):
        for _ in range(5):
            v = [x + rng.uniform(-0.05, 0.05) for x in c]
            rows.append((vid, ci, v))
            vid += 1
    return rows


def test_mmr_picks_across_clusters(spark):
    rows = _clustered_vectors()
    df = spark.createDataFrame(rows, ["vec_id", "cluster", "embedding"])
    query = [1.0, 0.3, 0.3, 0, 0, 0, 0, 0]

    plain = similarity.cosine_topk(df, query, k=6)
    plain_clusters = {
        r["cluster"]
        for r in df.join(plain.withColumnRenamed("id", "vec_id"), "vec_id").collect()
    }
    mmr = similarity.mmr_topk(df, query, k=6, pool=15, lam=0.5)
    mmr_clusters = {
        r["cluster"]
        for r in df.join(mmr.withColumnRenamed("id", "vec_id"), "vec_id").collect()
    }
    # plain top-k drowns in the nearest cluster; MMR must cover all 3
    assert len(plain_clusters) <= 2
    assert mmr_clusters == {0, 1, 2}


def test_mmr_rank1_is_relevance_top1(spark):
    rows = _clustered_vectors()
    df = spark.createDataFrame(rows, ["vec_id", "cluster", "embedding"])
    query = [1.0, 0, 0, 0, 0, 0, 0, 0]
    top1 = similarity.cosine_topk(df, query, k=1).collect()[0]["id"]
    mmr1 = similarity.mmr_topk(df, query, k=3, pool=15).collect()[0]
    assert mmr1["rank"] == 1 and mmr1["id"] == top1


def test_mmr_empty_input(spark):
    df = spark.createDataFrame([], "vec_id bigint, embedding array<double>")
    assert similarity.mmr_topk(df, [1.0, 0.0], k=5).count() == 0


# ---------------------------------------------------------------------------
# Label centroids + outlier mining
# ---------------------------------------------------------------------------


def test_label_centroids_exact_mean(spark):
    df = spark.createDataFrame(
        [(1, 0, [1.0, 3.0]), (2, 0, [3.0, 5.0]), (3, 1, [10.0, 0.0])],
        ["vec_id", "label", "embedding"],
    )
    got = {
        (r["label"], r["pos"]): r["c"]
        for r in similarity.label_centroids(df).collect()
    }
    assert got == {(0, 1): 2.0, (0, 2): 4.0, (1, 1): 10.0, (1, 2): 0.0}


def test_label_outliers_finds_planted_outlier(spark):
    rows = [(i, 0, [1.0 + 0.01 * i, 0.0]) for i in range(10)]
    rows.append((99, 0, [-5.0, 8.0]))  # far from label-0 centroid
    df = spark.createDataFrame(rows, ["vec_id", "label", "embedding"])
    top = similarity.label_outliers(df, k=3).collect()
    assert top[0]["vec_id"] == 99
    assert top[0]["dist"] > top[1]["dist"] * 3


# ---------------------------------------------------------------------------
# k-anonymity
# ---------------------------------------------------------------------------


def test_k_suppress_nulls_under_k_groups(spark):
    from airflow_spark.operators.privacy import k_suppress

    rows = (
        [(i, "en", "web") for i in range(5)]
        + [(10, "fr", "web")]          # singleton group
        + [(11, "de", "book"), (12, "de", "book")]  # size-2 group
    )
    df = spark.createDataFrame(rows, ["doc_id", "lang", "source"])
    out = {r["doc_id"]: r for r in k_suppress(df, ["lang", "source"], k=3).collect()}
    assert len(out) == 8  # every row kept
    assert out[0]["lang"] == "en" and not out[0]["suppressed"]
    assert out[10]["lang"] is None and out[10]["source"] is None
    assert out[10]["suppressed"] and out[11]["suppressed"]


def test_k_anonymity_stats(spark):
    from airflow_spark.operators.privacy import k_anonymity_stats

    rows = [(i, "en", "web") for i in range(5)] + [(10, "fr", "web")]
    df = spark.createDataFrame(rows, ["doc_id", "lang", "source"])
    r = k_anonymity_stats(df, ["lang", "source"], k=3).collect()[0]
    assert r["n_groups"] == 2
    assert r["n_under_k"] == 1
    assert r["n_rows_suppressed"] == 1
    assert r["min_group_size"] == 1


def test_generalize_numeric(spark):
    from airflow_spark.operators.privacy import generalize_numeric

    df = spark.createDataFrame([(7.0,), (10.0,), (-3.0,)], ["v"])
    got = [
        (r[0], r[1])
        for r in df.select(
            generalize_numeric("v", 5.0),
            generalize_numeric("v", 5.0, as_label=True),
        ).collect()
    ]
    assert got == [
        (5.0, "[5.0,10.0)"),
        (10.0, "[10.0,15.0)"),
        (-5.0, "[-5.0,0.0)"),
    ]


def test_pii_hit_counts(spark):
    from airflow_spark.functions.text import pii_hit_counts

    df = spark.createDataFrame(
        [("mail a@b.com and c@d.org, ssn 123-45-6789, ip 10.0.0.1",)], ["t"]
    )
    r = df.select(pii_hit_counts("t").alias("c")).collect()[0]["c"]
    assert r["n_email"] == 2
    assert r["n_ssn"] == 1
    assert r["n_ip"] == 1
    assert r["n_card"] == 0


def test_hashed_tf_counts_tokens(spark):
    df = spark.createDataFrame([("a b a c",), ("",)], ["t"])
    rows = df.select(text.hashed_tf("t", dim=4).alias("v")).collect()
    assert sum(rows[0]["v"]) == 4  # every token lands in exactly one bucket
    assert sum(rows[1]["v"]) == 0
    # same token -> same bucket: 'a' appears twice in one bucket
    assert max(rows[0]["v"]) >= 2


def test_hashed_tf_md5_equals_xxhash_totals(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(20)
    a = docs.select(text.hashed_tf("text", dim=8).alias("v"))
    b = docs.select(text.hashed_tf("text", dim=8, hash_fn="md5").alias("v"))
    ta = [sum(r["v"]) for r in a.collect()]
    tb = [sum(r["v"]) for r in b.collect()]
    assert ta == tb  # bucketings differ, token totals must not


# ---------------------------------------------------------------------------
# product quantization (operators/pq.py)
# ---------------------------------------------------------------------------


def test_pq_train_deterministic_and_twin_matches_parquet(spark):
    import numpy as np

    from airflow_spark.operators import pq as pqmod

    path = "/root/testdata/sf0.001/embeddings.parquet"
    df = spark.read.parquet(path)
    a = pqmod.PQIndex.train(df, m=8, ksub=16, seed=42, id_col="vec_id")
    b = pqmod.PQIndex.train(df.repartition(7), m=8, ksub=16, seed=42, id_col="vec_id")
    twin = pqmod.pq_codebooks_from_parquet(path, m=8, ksub=16)
    # partitioning-independent (id-sorted sample) and parquet-rebuildable
    assert np.array_equal(a.codebooks, b.codebooks)
    assert np.array_equal(a.codebooks, twin)


def test_pq_codes_shape_and_range(spark):
    from airflow_spark.operators import pq as pqmod

    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    index = pqmod.PQIndex.train(df, m=8, ksub=16, seed=42, id_col="vec_id")
    rows = pqmod.pq_encode(df, index).select("vec_id", "codes").collect()
    assert all(len(r["codes"]) == 8 for r in rows)        # 64 floats -> 8 codes
    assert all(0 <= c < 16 for r in rows for c in r["codes"])


def test_pq_adc_planted_clone_ranks_first(spark):
    import numpy as np

    from airflow_spark.operators import pq as pqmod

    rng = np.random.default_rng(5)
    q = rng.standard_normal(16)
    rows = [(0, [float(x) for x in q])]  # clone of the query, id 0
    for i in range(1, 200):
        rows.append((i, [float(x) for x in rng.standard_normal(16)]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    index = pqmod.PQIndex.train(df, m=4, ksub=8, seed=42, id_col="vec_id")
    got = pqmod.pq_adc_topk(df, [float(x) for x in q], k=5, index=index).collect()
    # a vector identical to the query encodes to the query's own nearest
    # codes -> the global minimum achievable ADC distance
    assert got[0]["id"] == 0, got
    table = index.adc_table([float(x) for x in q])
    assert got[0]["adc_dist"] == float(table.min(axis=1).sum())


def test_pq_adc_tracks_true_distance(spark):
    import numpy as np

    from airflow_spark.operators import pq as pqmod

    path = "/root/testdata/sf0.001/embeddings.parquet"
    df = spark.read.parquet(path)
    index = pqmod.PQIndex.train(df, m=8, ksub=16, seed=42, id_col="vec_id")
    qrow = df.where(F.col("vec_id") == 0).first()
    qv = [float(x) for x in qrow["embedding"]]
    adc = {
        r["id"]: r["adc_dist"]
        for r in pqmod.pq_adc_topk(
            df.where(F.col("vec_id") != 0), qv, k=10, index=index
        ).collect()
    }
    vecs = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=float)
        for r in df.collect()
    }
    qa = np.asarray(qv)
    for vid, approx in adc.items():
        true = float(((vecs[vid] - qa) ** 2).sum())
        # quantization noise is bounded: approximation within 2x of truth
        assert 0.0 <= approx <= 2.0 * true + 1e-9, (vid, approx, true)


def test_pq_persisted_codes_serve_identical_topk(spark, tmp_path):
    """The persist-once index path (save codes parquet + codebooks
    sidecar, reload, ADC over codes) returns exactly the re-encode
    path's top-k — and never touches the raw vector column."""
    from airflow_spark.operators import pq as pqmod

    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    corpus = df.where(F.col("vec_id") != 0)
    index = pqmod.PQIndex.train(corpus, m=8, ksub=16, seed=42, id_col="vec_id")
    qv = [float(x) for x in df.where(F.col("vec_id") == 0).first()["embedding"]]

    root = str(tmp_path / "pq_index")
    pqmod.pq_save_codes(corpus, index, root)
    index2, codes = pqmod.pq_load_codes(spark, root)
    assert set(codes.columns) == {"vec_id", "codes"}  # vectors dropped

    direct = [
        (r["id"], round(r["adc_dist"], 9))
        for r in pqmod.pq_adc_topk(corpus, qv, k=10, index=index).collect()
    ]
    served = [
        (r["id"], round(r["adc_dist"], 9))
        for r in pqmod.pq_adc_topk(codes, qv, k=10, index=index2).collect()
    ]
    assert served == direct and len(served) == 10


def test_pq_topk_plan_is_projection_and_take_ordered(spark):
    from airflow_spark.operators import pq as pqmod

    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    index = pqmod.PQIndex.train(df, m=8, ksub=16, seed=42, id_col="vec_id")
    qv = [float(x) for x in df.where(F.col("vec_id") == 0).first()["embedding"]]
    plan = (
        pqmod.pq_adc_topk(df.where(F.col("vec_id") != 0), qv, k=10, index=index)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # encode + ADC are projections over the scan; top-k never global-sorts
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan.split("TakeOrderedAndProject")[1] or True
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_recall_at_k_exact_and_partial(spark):
    from airflow_spark.operators.similarity import recall_at_k

    got = spark.createDataFrame([(1,), (2,), (3,), (4,)], ["id"])
    truth = spark.createDataFrame([(2,), (3,), (9,), (8,)], ["id"])
    r = recall_at_k(got, truth, k=4).first()
    assert (r["n_overlap"], r["k"], r["recall_at_k"]) == (2, 4, 0.5)
    perfect = recall_at_k(got, got, k=4).first()
    assert perfect["recall_at_k"] == 1.0


def test_assign_contiguous_ids_properties(spark):
    from airflow_spark.operators.sampling import assign_contiguous_ids
    from airflow_spark.plans.lint import lint_plan

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = assign_contiguous_ids(docs, "doc_id", num_shards=7)
    rows = out.orderBy("doc_id").select("doc_id", "row_idx").collect()
    ids = [r["row_idx"] for r in rows]
    assert ids == list(range(len(ids)))  # dense, ordered, 0-based
    # shard count must not change the assignment
    again = assign_contiguous_ids(docs, "doc_id", num_shards=3)
    ids2 = [r["row_idx"] for r in again.orderBy("doc_id").collect()]
    assert ids2 == ids
    # no data-sized single-partition sort in the plan (the offsets
    # window runs over num_shards rows; the linter checks the shape of
    # the data path after AQE finalization)
    findings = {f["code"] for f in lint_plan(out, execute=True)}
    assert "python-row-udf" not in findings
    assert "cartesian-product" not in findings


# ---------------------------------------------------------------------------
# perceptual image-hash dedup (multimodal dHash -> banded Hamming)
# ---------------------------------------------------------------------------


def _gradient_png(w=40, h=32, tilt=1.0, bright=0):
    import numpy as np

    x = np.arange(w)[None, :] * tilt
    y = np.arange(h)[:, None] * 2.0
    g = np.clip(x + y + bright, 0, 255).astype(np.uint8)
    return _encode_png(np.stack([g, g, g], axis=-1))


def test_image_dhash_invariance_and_discrimination(spark):
    from airflow_spark.operators.multimodal import extract_image_hashes

    rows = [
        (1, _gradient_png()),                      # base
        (2, _gradient_png(bright=6)),              # re-exposed clone
        (3, _gradient_png(w=80, h=64)),            # 2x upscale of same scene
        (4, _gradient_png(tilt=-1.0)),             # mirrored gradient: different
        (5, b"not an image"),                      # undecodable
    ]
    df = spark.createDataFrame(rows, ["media_id", "data"])
    got = {r["media_id"]: r for r in extract_image_hashes(df).collect()}

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    assert got[5]["dhash"] is None and not got[5]["decoded"]
    # brightness shift: identical gradient structure -> identical hash
    assert ham(got[1]["dhash"], got[2]["dhash"]) <= 2
    # scale invariance: box-mean grid sees the same scene
    assert ham(got[1]["dhash"], got[3]["dhash"]) <= 4
    # mirrored image: far away
    assert ham(got[1]["dhash"], got[4]["dhash"]) > 16


def test_image_neardup_pairs_banded(spark):
    from airflow_spark.operators.multimodal import image_neardup_pairs

    rows = [
        (1, _gradient_png()),
        (2, _gradient_png(bright=6)),      # near-dup of 1
        (3, _gradient_png(tilt=-1.0)),     # unrelated
    ]
    df = spark.createDataFrame(rows, ["media_id", "data"])
    pairs = {
        (r["id_a"], r["id_b"]) for r in image_neardup_pairs(df, max_hamming=6).collect()
    }
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_image_hashes_strict_raises(spark):
    import pytest as _pytest

    from airflow_spark.operators.multimodal import extract_image_hashes

    df = spark.createDataFrame([(1, b"junk")], ["media_id", "data"])
    with _pytest.raises(Exception, match="codec"):
        extract_image_hashes(df, strict=True).collect()


# ---------------------------------------------------------------------------
# audio fingerprint dedup (spectral-shape hash -> banded Hamming)
# ---------------------------------------------------------------------------


def _melody_wav(tones, sr=8000, per=0.2, gain=20000):
    import io
    import math
    import struct
    import wave

    buf = io.BytesIO()
    n = int(sr * per)
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sr)
        frames = b"".join(
            struct.pack(
                "<h",
                int(gain * math.sin(2 * math.pi * f * i / sr)),
            )
            for f in tones
            for i in range(n)
        )
        w.writeframes(frames)
    return buf.getvalue()


def test_audio_fingerprint_gain_invariant_discriminative(spark):
    import wave as _  # noqa: F401

    from airflow_spark.operators.multimodal import extract_audio_fingerprints

    up = [300, 500, 900, 1500, 2500]
    down = list(reversed(up))
    rows = [
        (1, _melody_wav(up)),
        (2, _melody_wav(up, gain=5000)),    # same melody, -12 dB
        (3, _melody_wav(down)),             # reversed melody
        (4, b"not audio"),
    ]
    df = spark.createDataFrame(rows, ["media_id", "data"])
    got = {r["media_id"]: r for r in extract_audio_fingerprints(df).collect()}

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    assert got[4]["afp"] is None and not got[4]["decoded"]
    assert ham(got[1]["afp"], got[2]["afp"]) <= 2   # gain-invariant
    assert ham(got[1]["afp"], got[3]["afp"]) >= 6   # different melody


def test_audio_neardup_pairs_banded(spark):
    from airflow_spark.operators.multimodal import audio_neardup_pairs

    up = [300, 500, 900, 1500, 2500]
    rows = [
        (1, _melody_wav(up)),
        (2, _melody_wav(up, gain=8000)),
        (3, _melody_wav(list(reversed(up)))),
    ]
    df = spark.createDataFrame(rows, ["media_id", "data"])
    pairs = {
        (r["id_a"], r["id_b"])
        for r in audio_neardup_pairs(df, max_hamming=4).collect()
    }
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_bigram_lift_planted_collocation(spark):
    """Tokens that only ever occur as a pair must out-lift tokens that
    pair randomly, and the lift value must match the hand formula."""
    from airflow_spark.operators.corpus_stats import bigram_lift

    # "new york" always adjacent (5x); filler tokens vary
    docs = spark.createDataFrame(
        [(i, "new york visit " + ("a b " * (i + 1)).strip()) for i in range(5)],
        ["doc_id", "text"],
    )
    got = {r["bigram"]: (r["c_xy"], r["lift"]) for r in
           bigram_lift(docs, min_count=5, k=10).collect()}
    assert "new york" in got
    c_xy, lift = got["new york"]
    assert c_xy == 5
    n_total = 5 * 3 + 2 * sum(range(1, 6))  # 15 + 30 tokens
    assert lift == round(c_xy * n_total / (5 * 5), 6)
    # "new york" (perfect collocation, rarer unigrams) must out-lift "a b"
    if "a b" in got:
        assert lift > got["a b"][1]


def test_vocab_coverage_known_oov(spark):
    from airflow_spark.operators.corpus_stats import vocab_coverage

    # vocab_size=2 -> vocab = {"x", "y"} (most frequent); "rare" is OOV
    docs = spark.createDataFrame(
        [(1, "x x y rare"), (2, "x y y"), (3, "x y")],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: (r["n_tokens"], r["n_oov"], r["oov_rate"])
           for r in vocab_coverage(docs, vocab_size=2).collect()}
    assert got == {1: (4, 1, 0.25), 2: (3, 0, 0.0), 3: (2, 0, 0.0)}


def test_heavy_hitters_exact_and_sketch_superset(spark):
    from airflow_spark.operators.corpus_stats import heavy_hitters

    # 60x a, 30x b, 10 singletons: support 0.2 -> hitters {a, b}
    rows = [("a",)] * 60 + [("b",)] * 30 + [(f"s{i}",) for i in range(10)]
    df = spark.createDataFrame(rows, ["k"])
    got = heavy_hitters(df, "k", support=0.2).collect()
    assert [(r["k"], r["cnt"]) for r in got] == [("a", 60), ("b", 30)]
    assert all(r["in_sketch"] for r in got)
    assert got[0]["share"] == 0.6


def _rgb_avi(frames_rgb, us_per_frame=1000_000, bpp=24):
    """Minimal uncompressed RGB AVI: RIFF(AVI  LIST(hdrl avih
    LIST(strl strh strf)) LIST(movi 00db...)). frames_rgb: list of
    (h, w, 3) uint8 numpy arrays (RGB, top-down)."""
    import struct

    import numpy as np

    h, w = frames_rgb[0].shape[:2]

    def chunk(cid, body):
        pad = b"\x00" if len(body) % 2 else b""
        return cid + struct.pack("<I", len(body)) + body + pad

    def lst(ltype, body):
        return chunk(b"LIST", ltype + body)

    avih = struct.pack(
        "<IIIIIIIIIIIIII",
        us_per_frame, 0, 0, 0, len(frames_rgb), 0, 1, 0, w, h, 0, 0, 0, 0,
    )
    strh = struct.pack("<4s4sIHHIIIIIIIIhhhh", b"vids", b"DIB ", 0, 0, 0, 0,
                       1, 30, 0, len(frames_rgb), 0, 0, 0, 0, 0, 0, 0)
    strf = struct.pack("<IiiHHIIiiII", 40, w, h, 1, bpp, 0,
                       0, 0, 0, 0, 0)
    stride = ((w * 3 + 3) // 4) * 4
    movi = b""
    for fr in frames_rgb:
        bgr = fr[::-1, :, ::-1]  # bottom-up rows, BGR order
        rows = np.zeros((h, stride), dtype=np.uint8)
        rows[:, : w * 3] = bgr.reshape(h, w * 3)
        movi += chunk(b"00db", rows.tobytes())
    body = (
        lst(b"hdrl", chunk(b"avih", avih)
            + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)))
        + lst(b"movi", movi)
    )
    return b"RIFF" + __import__("struct").pack("<I", 4 + len(body)) + b"AVI " + body


def test_video_real_rgb_avi_decode(spark):
    """Uncompressed RGB AVI must decode for real: per-frame luma and
    embeddings from actual pixels, frame selection by timestamp."""
    import numpy as np

    dark = np.zeros((8, 6, 3), dtype=np.uint8)
    light = np.full((8, 6, 3), 200, dtype=np.uint8)
    half = np.zeros((8, 6, 3), dtype=np.uint8)
    half[:4] = 255  # top half white
    avi = _rgb_avi([dark, light, half], us_per_frame=1_000_000)
    df = spark.createDataFrame(
        [(1, bytearray(avi), ("video/avi", 6, 8, 3000, None, 3))],
        "media_id long, data binary, meta struct<mime:string,width:int,"
        "height:int,duration_ms:long,sample_rate:int,n_frames:int>",
    )
    out = {
        r["frame_ts_ms"]: r
        for r in multimodal.extract_video_features(
            df, every_ms=1000, strict=True
        ).collect()
    }
    assert set(out) == {0, 1000, 2000}
    assert out[0]["mean_luma"] == 0.0
    assert abs(out[1000]["mean_luma"] - 200.0 / 255.0) < 1e-9
    # half-white frame: top-half bands ~1.0, bottom-half ~0.0
    emb = out[2000]["embedding"]
    assert emb[0] > 0.9 and emb[-1] < 0.1
    assert abs(out[2000]["mean_luma"] - 0.5) < 0.01
    # distinct real frame hashes
    assert len({r["sha256"] for r in out.values()}) == 3


def test_video_strict_raises_on_compressed(spark):
    import pytest as _pytest

    df = spark.createDataFrame(
        [(1, bytearray(b"\x00\x00\x00\x01notavi"), ("video/mp4", 2, 2, 1000, None, 1))],
        "media_id long, data binary, meta struct<mime:string,width:int,"
        "height:int,duration_ms:long,sample_rate:int,n_frames:int>",
    )
    with _pytest.raises(Exception):
        multimodal.extract_video_features(df, every_ms=1000, strict=True).collect()


def test_video_avi_audio_stream_first(spark):
    """An AVI whose audio stream precedes the video stream must still
    decode: the video strf is matched by stream TYPE (vids) and frames
    by the video stream's index ('01db' here), and small frames must
    not produce NaN embedding bands."""
    import struct

    import numpy as np

    def chunk(cid, body):
        pad = b"\x00" if len(body) % 2 else b""
        return cid + struct.pack("<I", len(body)) + body + pad

    def lst(ltype, body):
        return chunk(b"LIST", ltype + body)

    h, w = 4, 6  # fewer rows than the 8-band embedding grid
    frame = np.full((h, w, 3), 100, dtype=np.uint8)
    avih = struct.pack("<IIIIIIIIIIIIII", 1_000_000, 0, 0, 0, 1, 0, 2, 0,
                       w, h, 0, 0, 0, 0)
    # stream 0: audio (strf is a WAVEFORMAT-ish blob, must be ignored)
    auds = lst(b"strl", chunk(b"strh", struct.pack("<4s4s", b"auds", b"\x00" * 4))
               + chunk(b"strf", b"\x01\x00" + b"\x00" * 22))
    vids = lst(b"strl", chunk(b"strh", struct.pack("<4s4s", b"vids", b"DIB "))
               + chunk(b"strf", struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0,
                                            0, 0, 0, 0, 0)))
    stride = ((w * 3 + 3) // 4) * 4
    bgr = frame[::-1, :, ::-1]
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, : w * 3] = bgr.reshape(h, w * 3)
    movi = chunk(b"01db", rows.tobytes())
    body = lst(b"hdrl", chunk(b"avih", avih) + auds + vids) + lst(b"movi", movi)
    avi = b"RIFF" + struct.pack("<I", 4 + len(body)) + b"AVI " + body

    df = spark.createDataFrame(
        [(7, bytearray(avi), ("video/avi", w, h, 1000, None, 1))],
        "media_id long, data binary, meta struct<mime:string,width:int,"
        "height:int,duration_ms:long,sample_rate:int,n_frames:int>",
    )
    out = multimodal.extract_video_features(df, every_ms=1000, strict=True).collect()
    assert len(out) == 1
    r = out[0]
    assert abs(r["mean_luma"] - 100.0 / 255.0) < 1e-9
    assert len(r["embedding"]) == 8
    assert all(not (e != e) for e in r["embedding"])  # no NaN
    assert all(abs(e - 100.0 / 255.0) < 1e-6 for e in r["embedding"])  # float32 column


def _mjpeg_avi(frames_gray, us_per_frame=1_000_000, quality=85):
    """Minimal Motion-JPEG AVI: biCompression='MJPG', every '00dc'
    chunk a standalone baseline JPEG from the bundled T.81 encoder.
    frames_gray: list of (h, w) uint8 arrays."""
    import struct

    import numpy as np

    from airflow_spark.operators.jpeg import encode_baseline_jpeg

    h, w = frames_gray[0].shape

    def chunk(cid, body):
        pad = b"\x00" if len(body) % 2 else b""
        return cid + struct.pack("<I", len(body)) + body + pad

    def lst(ltype, body):
        return chunk(b"LIST", ltype + body)

    avih = struct.pack(
        "<IIIIIIIIIIIIII",
        us_per_frame, 0, 0, 0, len(frames_gray), 0, 1, 0, w, h, 0, 0, 0, 0,
    )
    strh = struct.pack("<4s4sIHHIIIIIIIIhhhh", b"vids", b"MJPG", 0, 0, 0, 0,
                       1, 30, 0, len(frames_gray), 0, 0, 0, 0, 0, 0, 0)
    strf = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0x47504A4D,
                       0, 0, 0, 0, 0)
    movi = b""
    for fr in frames_gray:
        movi += chunk(
            b"00dc",
            encode_baseline_jpeg(np.asarray(fr, np.uint8), quality=quality),
        )
    body = (
        lst(b"hdrl", chunk(b"avih", avih)
            + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)))
        + lst(b"movi", movi)
    )
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"AVI " + body


def test_video_mjpeg_avi_real_decode(spark):
    """Motion-JPEG AVI must decode for REAL through the bundled T.81
    codec (docs/adr/0002): per-frame mean_luma comes from the decoded
    pixels (within JPEG quantization tolerance), and strict=True takes
    the real-decode path without raising."""
    import numpy as np

    dark = np.full((16, 16), 30, dtype=np.uint8)
    light = np.full((16, 16), 220, dtype=np.uint8)
    avi = _mjpeg_avi([dark, light], us_per_frame=1_000_000)
    df = spark.createDataFrame(
        [(1, bytearray(avi), ("video/avi", 16, 16, 2000, None, 2))],
        "media_id long, data binary, meta struct<mime:string,width:int,"
        "height:int,duration_ms:long,sample_rate:int,n_frames:int>",
    )
    out = {
        r["frame_ts_ms"]: r
        for r in multimodal.extract_video_features(
            df, every_ms=1000, strict=True
        ).collect()
    }
    assert set(out) == {0, 1000}
    assert abs(out[0]["mean_luma"] - 30.0 / 255.0) < 0.02
    assert abs(out[1000]["mean_luma"] - 220.0 / 255.0) < 0.02
    assert out[0]["sha256"] != out[1000]["sha256"]


def test_video_neardup_cross_codec_dib_vs_mjpeg(spark):
    """A BI_RGB clip and an MJPEG re-encode of the SAME clip must pair
    up (codec-invariant video near-dup, the video analog of the
    WAV/MP3 audio pair), while an unrelated clip stays unpaired."""
    import numpy as np

    rng = np.random.default_rng(7)

    def clip(seed):
        # dHash-friendly: 8x9 cell grid with strong block contrast
        cells = (rng.integers(0, 2, (8, 9)) if seed is None
                 else _seed_cells(seed))
        ramp = 10 * np.arange(9, dtype=np.int64)[None, :]
        g = 40 + ramp + 120 * cells
        return np.kron(g, np.ones((8, 8), np.int64))

    def _seed_cells(seed):
        import hashlib
        bits = hashlib.md5(seed.encode()).digest() * 5
        return np.array(
            [(bits[j // 8] >> (j % 8)) & 1 for j in range(72)],
            dtype=np.int64,
        ).reshape(8, 9)

    base = [clip("a") + f for f in range(3)]
    other = [clip("b") + f for f in range(3)]
    dib = _rgb_avi([
        np.repeat(np.clip(f, 0, 255).astype(np.uint8)[:, :, None], 3, 2)
        for f in base
    ])
    mjpg = _mjpeg_avi([np.clip(f + 4, 0, 255).astype(np.uint8)
                       for f in base])
    dib_other = _rgb_avi([
        np.repeat(np.clip(f, 0, 255).astype(np.uint8)[:, :, None], 3, 2)
        for f in other
    ])
    df = spark.createDataFrame(
        [(1, bytearray(dib)), (2, bytearray(mjpg)),
         (3, bytearray(dib_other))],
        "media_id long, data binary",
    )
    pairs = multimodal.video_neardup_pairs(df, max_hamming=6).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(1, 2)}


def test_video_neardup_quarantines_unknown_fourcc(spark):
    """A compressed fourcc the boundary excludes (H264) must drop out
    of the pair search (quarantine posture per docs/adr/0002), not
    crash or fake-match."""
    import struct

    import numpy as np

    frame = np.full((16, 16), 128, dtype=np.uint8)
    avi = bytearray(_mjpeg_avi([frame, frame]))
    # rewrite BOTH header fourccs (strh fccHandler + strf
    # biCompression) to H264: parseable container, undecodable codec
    avi = bytes(avi).replace(
        struct.pack("<I", 0x47504A4D), struct.pack("<I", 0x34363248), 2
    )
    good = _mjpeg_avi([frame, frame])
    df = spark.createDataFrame(
        [(1, bytearray(avi)), (2, bytearray(good)), (3, bytearray(good))],
        "media_id long, data binary",
    )
    pairs = multimodal.video_neardup_pairs(df, max_hamming=6).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(2, 3)}


def test_bloom_probe_survives_duplicate_ids(spark):
    """Membership is per distinct key: duplicate id values must not
    merge probe sets and drop true members (the old false negative)."""
    from airflow_spark.operators import bloom as B

    nb, nh = B.bloom_params(100, 0.01)
    hist = spark.createDataFrame([("in-filter",)], ["k"])
    filt = B.bloom_build(hist, "k", nb, nh)
    # two rows share id=7; one key is a true member
    df = spark.createDataFrame(
        [(7, "in-filter"), (7, "definitely-not-present-xyz")], ["id", "k"]
    )
    got = {r["k"] for r in
           B.bloom_filter_might_contain(df, "k", filt, nb, nh, "id").collect()}
    assert "in-filter" in got  # no false negative


def test_shingles_short_docs_yield_empty(spark):
    """Documents shorter than the shingle width must yield [] — the
    sequence(1, 0) descending pitfall crashed the whole job before."""
    from airflow_spark.functions.text import char_shingles, word_shingles

    df = spark.range(1)
    row = df.select(
        word_shingles(F.lit("hello world"), 3).alias("w2"),
        word_shingles(F.lit(""), 3).alias("w0"),
        char_shingles(F.lit("ab"), 5).alias("c2"),
        char_shingles(F.lit(""), 5).alias("c0"),
    ).first()
    assert row["w2"] == [] and row["w0"] == []
    assert row["c2"] == [] and row["c0"] == []


def test_redact_pii_ip_before_phone(spark):
    from airflow_spark.functions.text import redact_pii

    df = spark.range(1)
    out = df.select(
        redact_pii(F.lit("at 192.168.100.100 call +1 555 123 4567")).alias("r")
    ).first()["r"]
    assert "<IP>" in out and "<PHONE>" in out


def test_weighted_sample_per_group_stratified(spark):
    """Each group draws its own k; heavier rows are preferred within
    their group; draws are stable under corpus growth."""
    from airflow_spark.operators.sampling import weighted_sample_per_group

    rows = [("a", i, 1.0 if i else 1000.0) for i in range(20)] + [
        ("b", 100 + i, 1.0) for i in range(5)
    ]
    df = spark.createDataFrame(rows, ["g", "id", "w"])
    got = weighted_sample_per_group(df, "g", "w", 3, "id").collect()
    by_g = {}
    for r in got:
        by_g.setdefault(r["g"], set()).add(r["id"])
    assert len(by_g["a"]) == 3 and len(by_g["b"]) == 3
    assert 0 in by_g["a"]  # the 1000x-weight row is (near-)certain

    # growth stability: adding rows to group b must not change group a
    more = df.unionByName(
        spark.createDataFrame([("b", 200 + i, 1.0) for i in range(50)],
                              ["g", "id", "w"])
    )
    got2 = {r["id"] for r in weighted_sample_per_group(more, "g", "w", 3, "id")
            .where(F.col("g") == "a").collect()}
    assert got2 == by_g["a"]


# ---------------------------------------------------------------------------
# BPE subword tokenization (operators/tokenize.py)
# ---------------------------------------------------------------------------


class TestBpeTokenize:
    def test_training_merges_most_frequent_pair_first(self):
        from airflow_spark.operators import tokenize

        # "ab" dominates: the (a, b) merge must be learned first
        merges = tokenize.train_bpe({"abab": 10, "cd": 1}, n_merges=2)
        assert merges[0] == ("a", "b")

    def test_training_tie_breaks_lexicographically(self):
        from airflow_spark.operators import tokenize

        # equal counts for (x, y) and (a, b) → lexicographically
        # smaller pair first, deterministically
        merges = tokenize.train_bpe({"xy": 3, "ab": 3}, n_merges=1)
        assert merges[0] == ("a", "b")

    def test_inference_applies_merges_greedily(self):
        from airflow_spark.operators import tokenize

        ranks = {("l", "o"): 0, ("lo", "w"): 1, ("e", "r"): 2}
        assert tokenize.bpe_word_tokens("lower", ranks) == ["low", "er"]
        # unknown word: falls back to characters
        assert tokenize.bpe_word_tokens("hi", ranks) == ["h", "i"]

    def test_roundtrip_is_lossless(self):
        from airflow_spark.operators import tokenize

        wc = {"spark": 5, "sparse": 3, "parse": 2}
        ranks = {
            tuple(p): i
            for i, p in enumerate(tokenize.train_bpe(wc, n_merges=10))
        }
        for w in wc:
            assert "".join(tokenize.bpe_word_tokens(w, ranks)) == w

    def test_distributed_counts_match_reference(self, spark):
        from airflow_spark.operators import tokenize

        rows = [(1, "the cat sat"), (2, "the the cat"), (3, "")]
        df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
        wc = {"the": 3, "cat": 2, "sat": 1}
        merges = tokenize.train_bpe(wc, n_merges=3)
        ranks = {tuple(p): i for i, p in enumerate(merges)}
        out = {
            r.id: r
            for r in tokenize.bpe_token_counts(
                df, "doc_id", "text", merges
            ).collect()
        }
        exp1 = sum(
            len(tokenize.bpe_word_tokens(w, ranks))
            for w in ["the", "cat", "sat"]
        )
        assert out[1].n_tokens == exp1 and out[1].n_words == 3
        assert out[2].n_words == 3
        assert out[3].n_words == 0 and out[3].n_tokens == 0
        assert all(r.roundtrip_ok for r in out.values())

    def test_more_merges_never_increase_token_count(self):
        from airflow_spark.operators import tokenize

        wc = {"banana": 4, "bandana": 2}
        few = tokenize.train_bpe(wc, n_merges=2)
        many = tokenize.train_bpe(wc, n_merges=8)
        rf = {tuple(p): i for i, p in enumerate(few)}
        rm = {tuple(p): i for i, p in enumerate(many)}
        for w in wc:
            assert len(tokenize.bpe_word_tokens(w, rm)) <= len(
                tokenize.bpe_word_tokens(w, rf)
            )


class TestNormalizeUrl:
    def _norm(self, spark, urls):
        from airflow_spark.functions.text import normalize_url

        df = spark.createDataFrame([(u,) for u in urls], "u STRING")
        return [r[0] for r in df.select(normalize_url("u")).collect()]

    def test_case_port_fragment_tracking(self, spark):
        got = self._norm(
            spark,
            [
                "HTTP://Example.COM/A/B?utm_source=x&id=7#frag",
                "https://example.com/a?fbclid=123&q=ok&sessionid=z",
                "https://example.com/docs/",
                "https://example.com",
            ],
        )
        assert got[0] == "http://example.com/A/B?id=7"
        assert got[1] == "https://example.com/a?q=ok"
        assert got[2] == "https://example.com/docs"
        assert got[3] == "https://example.com/"

    def test_param_order_preserved_and_root_slash(self, spark):
        got = self._norm(
            spark,
            ["https://h.io/p?b=2&a=1&utm_medium=m", "https://h.io/?utm_source=s"],
        )
        assert got[0] == "https://h.io/p?b=2&a=1"
        assert got[1] == "https://h.io/"

    def test_duplicate_family_collapses(self, spark):
        fam = [
            "https://Example.com/a?utm_source=news",
            "HTTPS://EXAMPLE.COM/a/",
            "https://example.com/a#section",
        ]
        assert len(set(self._norm(spark, fam))) == 1


def test_keep_best_representatives_prefers_quality(spark):
    from airflow_spark.operators.dedup import keep_best_representatives

    docs = spark.createDataFrame(
        [(1, 0.2), (2, 0.9), (3, 0.5), (9, 0.1)],
        "doc_id LONG, quality DOUBLE",
    )
    # cluster {1,2,3}; 9 is a singleton
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3)], "id_a LONG, id_b LONG"
    )
    kept = sorted(
        r.doc_id
        for r in keep_best_representatives(docs, pairs, "quality").collect()
    )
    assert kept == [2, 9]  # highest quality in the cluster + singleton


def test_keep_best_ties_break_to_smallest_id(spark):
    from airflow_spark.operators.dedup import keep_best_representatives

    docs = spark.createDataFrame(
        [(5, 1.0), (6, 1.0)], "doc_id LONG, quality DOUBLE"
    )
    pairs = spark.createDataFrame([(5, 6)], "id_a LONG, id_b LONG")
    kept = [r.doc_id for r in
            keep_best_representatives(docs, pairs, "quality").collect()]
    assert kept == [5]


@pytest.mark.parametrize("keep", ["keep_representatives", "keep_best_representatives"])
def test_keep_representatives_release_cluster_cache(spark, keep):
    """The kept frame owns the cluster labels' cache: ``unpersist()``
    on it leaves no persistent RDD behind."""
    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())

    docs = spark.createDataFrame(
        [(i, float(i % 3)) for i in range(1, 8)], "doc_id LONG, quality DOUBLE"
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], "id_a LONG, id_b LONG")
    before = persisted()
    if keep == "keep_representatives":
        kept = dedup.keep_representatives(docs, pairs)
    else:
        kept = dedup.keep_best_representatives(docs, pairs, "quality")
    assert len(kept.collect()) == 4  # 7 docs, clusters {1,2,3} and {5,6}
    kept.unpersist()
    assert persisted() - before == set()


_TRIO = {
    "ngram_jaccard_pairs": dict(threshold=0.8, mode="word", shingle_k=3),
    "ngram_jaccard_pairs_prefix": dict(threshold=0.8, mode="word", shingle_k=3),
    "ngram_containment_pairs": dict(threshold=0.6, shingle_n=3),
}


@pytest.mark.parametrize(
    "op, budget",
    [("dedup_minhash", None), ("dedup_minhash_verified", None),
     ("verify_pairs_exact_jaccard", None)]
    + [(op, b) for b in ("under", "lsh", "raise") for op in _TRIO],
)
def test_pair_operators_release_their_caches(spark, docs, op, budget):
    """A pair operator's result owns every cache it reads: after
    ``collect()`` and one ``unpersist()`` no new persistent RDD is
    left, on the exact path, the LSH downgrade and the raise path."""
    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())

    fn = getattr(dedup, op)
    before = persisted()
    if op == "verify_pairs_exact_jaccard":
        pairs = spark.createDataFrame([(0, 1), (0, 2), (0, 3)], "id_a LONG, id_b LONG")
        out = fn(pairs, docs)
    elif budget is None:
        out = fn(docs, threshold=0.5)
    elif budget == "under":
        out = fn(docs, **_TRIO[op])
    elif budget == "lsh":
        out = fn(_clique_corpus(spark, n_cliques=3, clique=4), candidate_budget=10,
                 on_over_budget="lsh", **_TRIO[op])
    else:
        with pytest.raises(dedup.CandidateBudgetExceeded):
            fn(docs, candidate_budget=0, **_TRIO[op])
        out = None
    if out is not None:
        assert out.collect()
        out.unpersist()
    assert persisted() - before == set()


def _encode_bmp24(px) -> bytes:
    """Minimal BITMAPINFOHEADER 24-bpp BI_RGB encoder (bottom-up,
    4-byte padded rows) for decode-path tests."""
    import struct

    h, w, _ = px.shape
    stride = ((w * 3 + 3) // 4) * 4
    body = bytearray()
    for y in range(h - 1, -1, -1):  # bottom-up
        row = bytearray()
        for x in range(w):
            r, g, b = px[y, x]
            row += bytes((int(b), int(g), int(r)))  # BGR
        row += b"\x00" * (stride - len(row))
        body += row
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body),
                       2835, 2835, 0, 0)
    header = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(body), 0, 0, 14 + 40)
    return header + info + bytes(body)


def test_real_bmp_decode_strict(spark):
    """A green strict run proves the stdlib BMP path decoded actual
    pixels (shared DIB walk with the AVI frame decoder)."""
    import numpy as np

    rng = np.random.RandomState(11)
    px = rng.randint(0, 256, size=(6, 5, 3)).astype(np.uint8)  # w=5: padding
    bmp = _encode_bmp24(px)
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("data", T.BinaryType()),
            T.StructField("meta", multimodal.MEDIA_META_SCHEMA),
        ]
    )
    df = spark.createDataFrame(
        [(1, bytearray(bmp), ("image/bmp", None, None, None, None, None))],
        schema,
    )
    row = multimodal.extract_image_features(df, strict=True).first()
    assert (row["width"], row["height"]) == (5, 6)
    expect_luma = float(
        (0.299 * px[..., 0] + 0.587 * px[..., 1] + 0.114 * px[..., 2]).mean()
    ) / 255.0
    assert abs(row["mean_luma"] - expect_luma) < 1e-9


def test_bitmap_rollup_merge_equals_direct(spark):
    """Bitmap partials re-aggregate EXACTLY: distinct counts at a
    coarser grouping from the partial table equal direct counts, and
    overlapping groups never double count (OR is idempotent)."""
    from pyspark.sql import functions as F

    from airflow_spark.operators.sketches import (
        bitmap_distinct,
        bitmap_rollup,
    )

    rows = [(g, u) for g in ("a", "b") for u in range(50)] + [
        ("c", u) for u in range(25, 75)
    ]
    df = spark.createDataFrame(rows, "g STRING, uid LONG")
    bm = bitmap_rollup(df, "uid", ["g"])
    fine = {r.g: r.n_distinct for r in bitmap_distinct(bm, ["g"]).collect()}
    assert fine == {"a": 50, "b": 50, "c": 50}
    # coarser rollup from partials: union of a∪b∪c = 75 distinct users
    overall = bitmap_distinct(
        bm.withColumn("g", F.lit("all")), ["g"]
    ).collect()[0]
    assert overall.n_distinct == 75


def test_normalize_url_tracking_params_override(spark):
    """The tracking_params argument must actually take effect: opting
    ref= back in strips it; an empty set strips nothing."""
    from airflow_spark.functions.text import _TRACKING_PARAMS, normalize_url

    df = spark.createDataFrame(
        [("https://example.com/a?ref=main&utm_source=x&id=7",)], ["u"]
    )
    default = df.select(normalize_url("u")).first()[0]
    assert default == "https://example.com/a?ref=main&id=7"  # ref= kept
    with_ref = df.select(
        normalize_url("u", tracking_params=(*_TRACKING_PARAMS, "ref="))
    ).first()[0]
    assert with_ref == "https://example.com/a?id=7"
    keep_all = df.select(normalize_url("u", tracking_params=())).first()[0]
    assert keep_all == "https://example.com/a?ref=main&utm_source=x&id=7"


def test_normalize_url_ports(spark):
    from airflow_spark.functions.text import normalize_url

    df = spark.createDataFrame(
        [("http://h.io:8080/x",), ("http://h.io:80/x",),
         ("https://h.io:443/x",), ("https://h.io:9443/x?utm_source=s",)],
        "u STRING",
    )
    got = [r[0] for r in df.select(normalize_url("u")).collect()]
    assert got[0] == "http://h.io:8080/x"   # non-default port kept
    assert got[1] == "http://h.io/x"        # default stripped
    assert got[2] == "https://h.io/x"
    assert got[3] == "https://h.io:9443/x"


def test_semantic_decontaminate_flags_planted_clone(spark):
    """A corpus vector that is a (scaled) clone of a benchmark vector
    is flagged with that benchmark's id; orthogonal vectors are not."""
    from airflow_spark.operators.similarity import semantic_decontaminate

    bench = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0]), (101, [0.0, 1.0, 0.0])],
        "vec_id LONG, embedding ARRAY<FLOAT>",
    )
    corpus = spark.createDataFrame(
        [
            (1, [2.0, 0.0, 0.0]),   # scaled clone of bench 100
            (2, [0.0, 0.0, 5.0]),   # orthogonal to both
            (3, [0.7, 0.7, 0.0]),   # 45 deg: cos ~0.707 < 0.9
        ],
        "vec_id LONG, embedding ARRAY<FLOAT>",
    )
    out = {
        r.id: r
        for r in semantic_decontaminate(corpus, bench, 0.9).collect()
    }
    assert out[1].contaminated and out[1].matched_id == 100
    assert out[1].max_cos == 1.0
    assert not out[2].contaminated and out[2].matched_id is None
    assert not out[3].contaminated


def test_semantic_decontaminate_empty_bench_keeps_corpus(spark):
    """An empty benchmark means nothing is contaminated — the corpus
    must come back intact, not vanish through the cross join."""
    from airflow_spark.operators.similarity import semantic_decontaminate

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])],
        "vec_id LONG, embedding ARRAY<FLOAT>",
    )
    bench = corpus.where("vec_id < 0")  # empty
    out = semantic_decontaminate(corpus, bench, 0.9).collect()
    assert {r.id for r in out} == {1, 2}
    assert all(not r.contaminated and r.max_cos == 0.0 for r in out)


# ---------------------------------------------------------------------------
# readability & lexical diversity
# ---------------------------------------------------------------------------


def test_readability_counts_and_ordering(spark):
    df = spark.createDataFrame(
        [
            (1, "The cat sat. The dog ran!"),          # simple prose
            (2, "Extraordinarily sophisticated terminology necessitates "
                "comprehension capabilities."),          # dense words
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in text.with_readability(df).collect()}
    assert rows[1]["n_words"] == 6
    assert rows[1]["n_sentences"] == 2
    # "the cat sat the dog ran" -> one vowel group per word
    assert rows[1]["n_syllables"] == 6
    # polysyllabic jargon must read as much harder
    assert rows[1]["flesch_ease"] > rows[2]["flesch_ease"]


def test_readability_empty_text_guards(spark):
    df = spark.createDataFrame([(1, "")], ["doc_id", "text"])
    r = text.with_readability(df).collect()[0]
    # all denominators floored at 1 -> finite score, no NaN/div0
    assert r["n_words"] == 1 and r["n_sentences"] == 1
    assert r["flesch_ease"] is not None


def test_type_token_stats_hapax_and_ttr(spark):
    df = spark.createDataFrame(
        [(1, "a a a b b c"), (2, "x y z")], ["doc_id", "text"]
    )
    rows = {r["id"]: r for r in text.type_token_stats(df).collect()}
    assert rows[1]["n_tokens"] == 6 and rows[1]["n_types"] == 3
    assert rows[1]["n_hapax"] == 1  # only "c"
    assert rows[1]["ttr"] == 0.5
    assert rows[1]["hapax_frac"] == round(1 / 6, 4)
    # all-distinct doc: ttr = hapax_frac = 1
    assert rows[2]["ttr"] == 1.0 and rows[2]["hapax_frac"] == 1.0


def test_type_token_stats_case_insensitive(spark):
    df = spark.createDataFrame([(1, "The the THE")], ["doc_id", "text"])
    r = text.type_token_stats(df).collect()[0]
    assert r["n_types"] == 1 and r["n_hapax"] == 0


def test_embedding_outliers_flags_planted_junk(spark):
    import random
    rnd = random.Random(7)
    rows = [(i, [1.0 + rnd.uniform(-0.05, 0.05) for _ in range(8)]) for i in range(50)]
    rows.append((999, [-1.0] * 8))  # anti-aligned junk vector
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    out = similarity.embedding_outliers(df, "embedding", "vec_id", k=3).collect()
    assert out[0]["id"] == 999
    assert out[0]["centroid_cos"] < -0.9


# ---------------------------------------------------------------------------
# MP3 metadata-level ingest (frame-header/ID3 walk, no PCM decode)
# ---------------------------------------------------------------------------


def _mp3_frame(br_idx: int = 9, sr_idx: int = 0, mode_byte: int = 0x40) -> bytes:
    """One MPEG1 Layer III frame: sync + header per ISO/IEC 11172-3
    §2.4.1.3, zero-filled payload. br_idx 9 = 128 kbps, sr_idx 0 =
    44100 Hz -> frame length 144*128000/44100 = 417 bytes. The default
    ``mode_byte`` 0x40 is joint stereo with no mode extension; 0x50
    sets the intensity-stereo extension bit (outside the bundled
    codec's subset — still a strict raise)."""
    rates = {9: 128, 10: 160}
    kbps = rates[br_idx]
    flen = 144 * kbps * 1000 // 44100
    hdr = bytes([0xFF, 0xFB, (br_idx << 4) | (sr_idx << 2), mode_byte])
    return hdr + b"\x00" * (flen - 4)


def _id3v2(payload_len: int = 100) -> bytes:
    # 10-byte header + syncsafe size
    size = bytes([(payload_len >> 21) & 0x7F, (payload_len >> 14) & 0x7F,
                  (payload_len >> 7) & 0x7F, payload_len & 0x7F])
    return b"ID3\x04\x00\x00" + size + b"\x00" * payload_len


def _id3v1(title: str, artist: str) -> bytes:
    t = title.encode("latin-1").ljust(30, b"\x00")[:30]
    a = artist.encode("latin-1").ljust(30, b"\x00")[:30]
    return b"TAG" + t + a + b"\x00" * (128 - 3 - 60)


def test_mp3_metadata_frame_walk_cbr_with_tags(spark):
    frames = b"".join(_mp3_frame() for _ in range(38))
    data = _id3v2() + frames + _id3v1("A Song", "An Artist")
    df = spark.createDataFrame([(1, data)], "media_id LONG, data BINARY")
    row = multimodal.extract_audio_metadata(df).first()
    assert row["container"] == "mp3"
    assert row["mpeg_version"] == "1" and row["layer"] == 3
    assert row["bitrate_kbps"] == 128 and row["sample_rate"] == 44100
    assert row["channels"] == 2 and row["vbr"] is False
    assert row["n_frames"] == 38
    # 38 frames x 1152 samples @ 44100 Hz = 992.6 ms
    assert abs(row["duration_ms"] - 993) <= 1
    assert row["id3v2"] is True
    assert row["title"] == "A Song" and row["artist"] == "An Artist"


def test_mp3_metadata_vbr_average_bitrate(spark):
    frames = b"".join(
        _mp3_frame(br_idx=9 if i % 2 == 0 else 10) for i in range(20)
    )
    df = spark.createDataFrame([(1, frames)], "media_id LONG, data BINARY")
    row = multimodal.extract_audio_metadata(df).first()
    assert row["vbr"] is True
    assert row["bitrate_kbps"] == 144  # mean of 128/160 alternation


def test_audio_metadata_wav_and_unknown_rows(spark):
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(b"\x00\x00" * 4000)  # 0.5 s
    rows = [(1, buf.getvalue()), (2, b"\x00\x01not-audio-at-all")]
    df = spark.createDataFrame(rows, "media_id LONG, data BINARY")
    got = {r["media_id"]: r for r in
           multimodal.extract_audio_metadata(df).collect()}
    assert got[1]["container"] == "wav"
    assert got[1]["sample_rate"] == 8000
    assert got[1]["duration_ms"] == 500
    # unknown payloads profile as NULL-container rows, never raise
    assert got[2]["container"] is None and got[2]["n_bytes"] > 0


def test_mp3_strict_pcm_decode_boundary(spark):
    """The strict-raise contract tracks the ADR-0001 codec boundary:
    plain joint-stereo AND intensity-stereo frames genuinely DECODE
    (round 7 closed the Layer III feature set), while a stream
    selecting an unshipped big-values Huffman table — the one
    remaining boundary — keeps the strict raise."""
    plain = b"".join(_mp3_frame() for _ in range(5))
    df = spark.createDataFrame([(1, plain)], "media_id LONG, data BINARY")
    row = multimodal.extract_audio_features(df, strict=True).first()
    assert row["sample_rate"] == 44100
    assert abs(row["duration_ms"] - int(5 * 1152 / 44100 * 1000)) <= 1

    # intensity-flagged zero frames decode as silence since round 7
    intensity = b"".join(_mp3_frame(mode_byte=0x50) for _ in range(5))
    df2 = spark.createDataFrame([(2, intensity)], "media_id LONG, data BINARY")
    row2 = multimodal.extract_audio_features(df2, strict=True).first()
    assert row2["sample_rate"] == 44100
    assert abs(row2["duration_ms"] - int(5 * 1152 / 44100 * 1000)) <= 1

    # unshipped Huffman table: set a granule's big_values and point
    # region tables at table 7 -> strict raise survives
    import numpy as np

    from airflow_spark.operators.mp3 import encode_mp3

    t = np.arange(int(44100 * 0.2)) / 44100.0
    bad = bytearray(encode_mp3(0.5 * np.sin(2 * np.pi * 440 * t), 44100))
    # mono side info: gr0 side starts at bit 32+18; big_values is bits
    # 12..21 of the granule, table_select region0 at bits 12+9+8+4+1
    g0 = 32 + 18 + 12
    for i, bit in enumerate(f"{7:09b}"):  # big_values = 7
        byte, off = (g0 + i) // 8, 7 - ((g0 + i) % 8)
        if bit == "1":
            bad[byte] |= 1 << off
        else:
            bad[byte] &= ~(1 << off)
    ts0 = g0 + 9 + 8 + 4 + 1
    for i, bit in enumerate(f"{7:05b}"):  # table_select = 7
        byte, off = (ts0 + i) // 8, 7 - ((ts0 + i) % 8)
        if bit == "1":
            bad[byte] |= 1 << off
        else:
            bad[byte] &= ~(1 << off)
    df3 = spark.createDataFrame(
        [(3, bytes(bad))], "media_id LONG, data BINARY"
    )
    with pytest.raises(Exception, match="NotImplementedError|codec"):
        multimodal.extract_audio_features(df3, strict=True).collect()
    # non-strict: fake MFCCs but REAL duration from the metadata walk
    row3 = multimodal.extract_audio_features(df3, strict=False).first()
    assert row3["sample_rate"] == 44100


# ---------------------------------------------------------------------------
# MP4/ISO-BMFF metadata-level ingest (box walk, no frame decode)
# ---------------------------------------------------------------------------


def _mp4_box(typ: bytes, payload: bytes) -> bytes:
    return (len(payload) + 8).to_bytes(4, "big") + typ + payload


def _mini_mp4(duration_ms: int, w: int, h: int, n_frames: int,
              codec: bytes = b"avc1", with_audio: bool = False) -> bytes:
    """Minimal ISO BMFF per ISO/IEC 14496-12: ftyp + moov(mvhd +
    trak(tkhd + mdia(hdlr + minf(stbl(stsd + stsz))))), timescale
    1000 so mvhd duration units are milliseconds."""
    ftyp = _mp4_box(b"ftyp", b"isom" + (0).to_bytes(4, "big"))
    mvhd = _mp4_box(b"mvhd", bytes(4) + bytes(8)
                    + (1000).to_bytes(4, "big")
                    + duration_ms.to_bytes(4, "big") + bytes(80))
    tkhd = _mp4_box(b"tkhd", bytes(76)
                    + (w << 16).to_bytes(4, "big")
                    + (h << 16).to_bytes(4, "big"))
    hdlr = _mp4_box(b"hdlr", bytes(4) + bytes(4) + b"vide"
                    + bytes(12) + b"\x00")
    stsd = _mp4_box(b"stsd", bytes(4) + (1).to_bytes(4, "big")
                    + (16).to_bytes(4, "big") + codec + bytes(8))
    stsz = _mp4_box(b"stsz", bytes(4) + bytes(4)
                    + n_frames.to_bytes(4, "big"))
    stbl = _mp4_box(b"stbl", stsd + stsz)
    trak = _mp4_box(b"trak", tkhd + _mp4_box(
        b"mdia", hdlr + _mp4_box(b"minf", stbl)))
    parts = [mvhd, trak]
    if with_audio:
        a_hdlr = _mp4_box(b"hdlr", bytes(4) + bytes(4) + b"soun"
                          + bytes(12) + b"\x00")
        a_stsd = _mp4_box(b"stsd", bytes(4) + (1).to_bytes(4, "big")
                          + (16).to_bytes(4, "big") + b"mp4a" + bytes(8))
        a_trak = _mp4_box(b"trak", _mp4_box(
            b"mdia", a_hdlr + _mp4_box(
                b"minf", _mp4_box(b"stbl", a_stsd))))
        parts.append(a_trak)
    return ftyp + _mp4_box(b"moov", b"".join(parts))


def test_mp4_metadata_box_walk(spark):
    data = _mini_mp4(7500, 640, 360, 180, with_audio=True)
    df = spark.createDataFrame([(1, data)], "media_id LONG, data BINARY")
    row = multimodal.extract_video_metadata(df).first()
    assert row["container"] == "mp4" and row["brand"] == "isom"
    assert row["duration_ms"] == 7500
    assert row["width"] == 640 and row["height"] == 360
    assert row["n_frames"] == 180
    assert row["video_codec"] == "avc1"
    assert row["audio_codec"] == "mp4a"


def test_video_metadata_avi_and_unknown(spark):
    import struct

    def chunk(cid, body):
        pad = b"\x00" if len(body) % 2 else b""
        return cid + struct.pack("<I", len(body)) + body + pad

    def lst(ltype, body):
        return chunk(b"LIST", ltype + body)

    avih = struct.pack("<IIIIIIIIIIIIII", 40_000, 0, 0, 0, 3, 0, 1, 0,
                       8, 4, 0, 0, 0, 0)
    vids = lst(b"strl", chunk(b"strh", struct.pack("<4s4s", b"vids", b"DIB "))
               + chunk(b"strf", struct.pack("<IiiHHIIiiII", 40, 8, 4, 1, 24,
                                            0, 0, 0, 0, 0, 0)))
    movi = b"".join(chunk(b"00db", b"\x00" * 96) for _ in range(3))
    body = lst(b"hdrl", chunk(b"avih", avih) + vids) + lst(b"movi", movi)
    avi = b"RIFF" + struct.pack("<I", 4 + len(body)) + b"AVI " + body

    rows = [(1, avi), (2, b"\x00\x01definitely-not-video")]
    got = {r["media_id"]: r for r in multimodal.extract_video_metadata(
        spark.createDataFrame(rows, "media_id LONG, data BINARY")
    ).collect()}
    assert got[1]["container"] == "avi"
    assert got[1]["n_frames"] == 3
    assert got[1]["duration_ms"] == 120  # 3 frames x 40 ms
    assert got[1]["width"] == 8 and got[1]["height"] == 4
    assert got[1]["video_codec"] == "DIB "
    assert got[2]["container"] is None and got[2]["n_bytes"] > 0


def test_mp3_id3v2_text_frames_win_over_v1(spark):
    """TIT2/TPE1 from an ID3v2.4 tag (syncsafe frame sizes, UTF-8)
    override the fixed-width v1 trailer; a v2.3 tag (plain big-endian
    sizes, UTF-16) parses too."""
    def v2_frame(fid: bytes, text: str, enc: int, syncsafe: bool) -> bytes:
        body = bytes([enc]) + (
            text.encode("utf-8") if enc == 3 else text.encode("utf-16")
        )
        n = len(body)
        if syncsafe:
            sz = bytes([(n >> 21) & 0x7F, (n >> 14) & 0x7F,
                        (n >> 7) & 0x7F, n & 0x7F])
        else:
            sz = n.to_bytes(4, "big")
        return fid + sz + b"\x00\x00" + body

    def v2_tag(frames: bytes, major: int) -> bytes:
        n = len(frames)
        sz = bytes([(n >> 21) & 0x7F, (n >> 14) & 0x7F,
                    (n >> 7) & 0x7F, n & 0x7F])
        return b"ID3" + bytes([major, 0, 0]) + sz + frames

    audio = b"".join(_mp3_frame() for _ in range(4))
    v24 = v2_tag(
        v2_frame(b"TIT2", "Vérité", 3, True)
        + v2_frame(b"TPE1", "Ärtist", 3, True),
        major=4,
    ) + audio + _id3v1("old title", "old artist")
    v23 = v2_tag(
        v2_frame(b"TIT2", "Wide Title", 1, False), major=3
    ) + audio
    rows = [(1, v24), (2, v23)]
    got = {r["media_id"]: r for r in multimodal.extract_audio_metadata(
        spark.createDataFrame(rows, "media_id LONG, data BINARY")
    ).collect()}
    assert got[1]["title"] == "Vérité" and got[1]["artist"] == "Ärtist"
    assert got[1]["id3v2"] is True and got[1]["n_frames"] == 4
    assert got[2]["title"] == "Wide Title" and got[2]["artist"] is None


def test_video_neardup_pairs_majority_fold(spark):
    """Frame-sampled video near-dup: a brightness-shifted copy with
    ONE differing frame still pairs (the bitwise-majority signature
    absorbs the minority frame); unrelated clips and compressed /
    undecodable payloads don't pair."""
    import numpy as np
    from pyspark.sql import Row

    from airflow_spark.operators.multimodal import video_neardup_pairs

    rng = np.random.default_rng(7)

    def clip(base, alt_first=False, shift=0):
        frames = []
        for f in range(5):
            g = base.copy() if not (alt_first and f == 0) else (
                rng.integers(0, 2, base.shape) * 120 + 40
            )
            px = np.kron(g + f + shift,
                         np.ones((8, 8), np.int64)).astype(np.uint8)
            frames.append(np.repeat(px[:, :, None], 3, axis=2))
        return _rgb_avi(frames)

    ramp = 10 * np.arange(9, dtype=np.int64)[None, :]
    base_a = 40 + ramp + 120 * rng.integers(0, 2, (8, 9))
    base_c = 40 + ramp + 120 * rng.integers(0, 2, (8, 9))
    rows = [
        Row(media_id=1, data=clip(base_a)),
        Row(media_id=2, data=clip(base_a, alt_first=True, shift=4)),
        Row(media_id=3, data=clip(base_c)),           # unrelated clip
        Row(media_id=4, data=b"\x00" * 64),           # undecodable
    ]
    df = spark.createDataFrame(rows, "media_id LONG, data BINARY")
    pairs = [(r.id_a, r.id_b, r.hamming)
             for r in video_neardup_pairs(df).collect()]
    assert pairs == [(1, 2, 0)]


def test_collapse_and_survivors_compute_once_matches_standalone(spark):
    """The production composition must (a) return exactly what the two
    standalone registry ops compute and (b) share ONE pair graph +
    component labelling between the outputs — the LSH pipeline runs
    once and both physical plans read the same persisted clusters
    frame (InMemoryTableScan) instead of re-running it."""
    from unittest import mock

    import pyspark.sql.functions as F

    from airflow_spark.operators import dedup
    from airflow_spark.operators.registry import (
        op_dedup_collapse,
        op_dedup_survivors,
    )

    sf = "/root/testdata/sf0.001"
    docs = (
        spark.read.parquet(f"{sf}/documents.parquet")
        .withColumn("quality", F.length("text").cast("long"))
        .select("doc_id", "text", "quality")
    )
    real_verified = dedup.dedup_minhash_verified
    with mock.patch.object(
        dedup, "dedup_minhash_verified", side_effect=real_verified
    ) as verified:
        collapse, survivors = dedup.collapse_and_survivors(
            docs, quality_col="quality", threshold=0.8
        )
        got_collapse = sorted(map(tuple, collapse.collect()))
        got_survivors = sorted(map(tuple, survivors.collect()))
    assert verified.call_count == 1  # one LSH pair-graph computation
    # both outputs consume the shared persisted clusters frame
    for out in (collapse, survivors):
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" in plan
    want_collapse = sorted(
        map(tuple, op_dedup_collapse(spark, sf).collect())
    )
    want_survivors = sorted(
        map(tuple, op_dedup_survivors(spark, sf).collect())
    )
    assert got_collapse == want_collapse and len(got_collapse) > 0
    assert got_survivors == want_survivors and len(got_survivors) > 0
    spark.catalog.clearCache()


def test_external_decoder_override_clear_restores_auto(monkeypatch):
    """set_external_audio_decoder(None) must restore AUTO resolution,
    not pin rescue off for the process — the override slot and the
    resolver's presence cache are separate states."""
    sentinel = object()
    monkeypatch.setattr(multimodal, "_RESOLVED_DEFAULT", sentinel)
    monkeypatch.setattr(multimodal, "_EXTERNAL_AUDIO_DECODER", None)

    custom = lambda data: None  # noqa: E731
    multimodal.set_external_audio_decoder(custom)
    assert multimodal._resolve_external_audio_decoder() is custom
    multimodal.set_external_audio_decoder(None)
    assert multimodal._resolve_external_audio_decoder() is sentinel


def test_auto_decoder_resolves_on_driver_and_ships_in_closure(spark):
    """``external_decoder="auto"`` must resolve ONCE, on the driver, at
    call time: a decoder installed with set_external_audio_decoder on
    the driver reaches the mapInPandas workers because the RESOLVED
    callable ships in the task closure — per-worker PATH/import
    presence no longer decides (the round-9 per-process resolution
    made the same payload stub on one executor and decode on another
    in a heterogeneous cluster)."""
    import numpy as np

    payload = _table16_stream()
    df = spark.createDataFrame([(1, payload)], "media_id LONG, data BINARY")
    sr = 8000
    tone = 0.5 * np.sin(2 * np.pi * 440.0 * np.arange(sr // 2) / sr)
    multimodal.set_external_audio_decoder(lambda data: (tone, sr))
    try:
        # default "auto" — no explicit external_decoder= pass-through
        row = multimodal.extract_audio_features(df, strict=True).first()
        assert row["sample_rate"] == sr
        probe = multimodal.audio_quarantine_report(df).first()
        assert probe["status"] == "external"
    finally:
        multimodal.set_external_audio_decoder(None)


def test_video_quarantine_report_classes(spark):
    """The ADR-0002 probe must classify every decode-boundary class:
    DIB and Motion-JPEG AVIs inline (both bundled pixel paths), an
    inter-frame-codec AVI and an MP4 as unsupported_codec, and a
    foreign container as unsupported_container."""
    import struct

    import numpy as np

    from airflow_spark.operators.jpeg import encode_baseline_jpeg

    def chunk(cid, body):
        pad = b"\x00" if len(body) % 2 else b""
        return cid + struct.pack("<I", len(body)) + body + pad

    def lst(ltype, body):
        return chunk(b"LIST", ltype + body)

    def avi(codec, compression, cid, frame):
        w, h = 16, 8
        avih = struct.pack(
            "<IIIIIIIIIIIIII", 33366, 0, 0, 0, 1, 0, 1, 0, w, h, 0, 0, 0, 0
        )
        strh = struct.pack(
            "<4s4sIHHIIIIIIIIhhhh", b"vids", codec, 0, 0, 0, 0,
            1, 30, 0, 1, 0, 0, 0, 0, 0, 0, 0,
        )
        strf = struct.pack(
            "<IiiHHIIiiII", 40, w, h, 1, 24, compression, 0, 0, 0, 0, 0
        )
        hdrl = lst(
            b"hdrl",
            chunk(b"avih", avih)
            + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)),
        )
        body = b"AVI " + hdrl + lst(b"movi", chunk(cid, frame))
        return b"RIFF" + struct.pack("<I", len(body)) + body

    w, h = 16, 8
    stride = ((w * 3 + 3) // 4) * 4
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, : w * 3] = 128
    dib = avi(b"DIB ", 0, b"00db", rows.tobytes())
    mjpg = avi(
        b"MJPG", 0x47504A4D, b"00dc",
        encode_baseline_jpeg(np.full((h, w), 128, np.uint8), quality=85),
    )
    h264 = avi(b"H264", 0x34363248, b"00dc", b"\x00\x00\x00\x01" + b"\x65" * 32)
    mp4 = (
        (16).to_bytes(4, "big") + b"ftyp" + b"isom" + (0).to_bytes(4, "big")
    )
    df = spark.createDataFrame(
        [(1, dib), (2, mjpg), (3, h264), (4, mp4), (5, b"FLV\x01garbage")],
        "media_id LONG, data BINARY",
    )
    got = {
        r["media_id"]: (r["fmt"], r["status"], r["reason"])
        for r in multimodal.video_quarantine_report(df).collect()
    }
    assert got[1] == ("avi", "inline", None)
    assert got[2] == ("avi", "inline", None)
    assert got[3] == ("avi", "quarantined", "unsupported_codec")
    assert got[4] == ("mp4", "quarantined", "unsupported_codec")
    assert got[5] == ("unknown", "quarantined", "unsupported_container")
