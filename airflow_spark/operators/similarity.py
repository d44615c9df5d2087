"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``: brute-force top-k for one query vector. The dot
  product is a codegen'd higher-order function over the scan; top-k is
  TakeOrderedAndProject (no global sort, no collect).
- ``cosine_topk_many``: brute-force top-k for a small *set* of query
  vectors — broadcast the queries, one pass over the corpus, per-query
  window top-k.
- ``RandomHyperplaneLSH`` + ``ann_topk``: the scale path. B sign-bits
  from fixed pseudo-random hyperplanes bucket the corpus; a query
  probes its own bucket plus the ``n_probe`` nearest buckets (1-bit
  flips first). At 100 TB the corpus side can be written bucketed
  (partitionBy bucket) so a probe prunes partitions instead of
  scanning.
- ``cosine_neardup_pairs``: embedding near-duplicate detection —
  LSH buckets → exact cosine only within buckets (never a cross join).

Hyperplanes are generated from a seeded ``numpy`` RNG → plan literals,
so results are deterministic across runs and engines.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import cosine_similarity, lit_vector
from .dedup import bucket_pairs, keep_representatives


def cosine_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k by cosine similarity against one query vector.
    Deterministic output: score rounded, ties broken by id."""
    q = lit_vector(query_vec)
    scored = df.select(
        F.col(id_col).alias("id"),
        F.round(cosine_similarity(F.col(vec_col), q), 6).alias("score"),
    )
    return scored.orderBy(F.col("score").desc(), F.col("id")).limit(k)


def recall_at_k(
    got: DataFrame,
    truth: DataFrame,
    k: int,
    id_col: str = "id",
) -> DataFrame:
    """Retrieval-quality evaluation: recall@k of an approximate result
    list against the exact one — one row (n_overlap, k, recall_at_k).
    Both inputs are top-k lists (tiny), so the semi join is a no-shuffle
    broadcast; this is the continuous-eval hook that catches ANN index
    drift (stale centroids, bad bucket widths) in CI rather than in
    retrieval quality dashboards."""
    g = got.select(F.col(id_col).alias("__id")).limit(k)
    t = truth.select(F.col(id_col).alias("__id")).limit(k)
    return g.join(F.broadcast(t), "__id").agg(
        F.count(F.lit(1)).alias("n_overlap"),
        F.lit(k).cast("long").alias("k"),
        F.round(F.count(F.lit(1)) / F.lit(float(k)), 4).alias("recall_at_k"),
    )


def cosine_topk_many(
    df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    q_vec_col: str = "embedding",
    q_id_col: str = "query_id",
) -> DataFrame:
    """Top-k per query for a small query set: broadcast-join the
    queries against every corpus row (one corpus pass), then window
    top-k per query. Use ``ann_topk`` when the query set is large."""
    q = F.broadcast(
        queries.select(
            F.col(q_id_col).alias("query_id"), F.col(q_vec_col).alias("__qv")
        )
    )
    scored = df.crossJoin(q).select(
        "query_id",
        F.col(id_col).alias("id"),
        F.round(cosine_similarity(F.col(vec_col), F.col("__qv")), 6).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "id", "score", "rank")
    )


def lsh_planes(dim: int, num_bits: int = 16, seed: int = 42) -> "np.ndarray":
    """The deterministic hyperplane matrix shared by the Spark operators
    and the DuckDB oracle-SQL builder (same seed → same literals)."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((num_bits, dim))


class RandomHyperplaneLSH:
    """Sign-bit LSH for cosine similarity with deterministic planes."""

    def __init__(self, dim: int, num_bits: int = 16, seed: int = 42):
        self.dim = dim
        self.num_bits = num_bits
        self.planes = lsh_planes(dim, num_bits, seed)

    def bucket_col(self, vec_col: Column | str) -> Column:
        """Pack sign(v·plane_j) bits into an int bucket id — one codegen
        expression per plane, no UDF."""
        v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
        bucket = F.lit(0).cast("bigint")
        for j in range(self.num_bits):
            plane = self.planes[j]
            d = F.aggregate(
                F.zip_with(
                    v,
                    F.array(*[F.lit(float(x)) for x in plane]),
                    lambda a, b: a.cast("double") * b,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            bucket = bucket.bitwiseOR(
                F.when(d > 0, F.shiftleft(F.lit(1).cast("bigint"), j)).otherwise(
                    F.lit(0).cast("bigint")
                )
            )
        return bucket

    def bucket_of(self, vec: list[float]) -> int:
        b = 0
        for j in range(self.num_bits):
            if float(np.dot(self.planes[j], np.asarray(vec, dtype=float))) > 0:
                b |= 1 << j
        return b

    def probe_buckets(self, vec: list[float], n_probe: int = 1) -> list[int]:
        """The query's bucket plus (n_probe-1) 1-bit-flip neighbors,
        nearest hyperplane first (smallest |margin| = most likely
        misassigned bit)."""
        v = np.asarray(vec, dtype=float)
        base = self.bucket_of(vec)
        margins = sorted(
            range(self.num_bits), key=lambda j: abs(float(np.dot(self.planes[j], v)))
        )
        out = [base]
        for j in margins:
            if len(out) >= n_probe:
                break
            out.append(base ^ (1 << j))
        return out


def ann_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    num_bits: int = 8,
    n_probe: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: restrict the exact scan to the query's probe
    buckets. The bucket predicate is a plain column filter — with a
    bucket-partitioned corpus layout it becomes partition pruning."""
    lsh = RandomHyperplaneLSH(len(query_vec), num_bits, seed)
    probes = lsh.probe_buckets(query_vec, n_probe)
    bucketed = df.withColumn("__bucket", lsh.bucket_col(vec_col))
    cand = bucketed.where(F.col("__bucket").isin(probes))
    return cosine_topk(cand, query_vec, k, vec_col, id_col)


def spherical_kmeans(
    sample: "np.ndarray", k: int, iters: int = 10, seed: int = 42
) -> "np.ndarray":
    """Seeded spherical k-means (cosine Lloyd's) over a (n, dim) float64
    sample → (k, dim) L2-normalized centroids. Pure numpy and fully
    deterministic in (sample order, k, iters, seed) — shared by the
    Spark-side ``IVFIndex.train`` and the parquet-side
    ``ivf_centroids_from_parquet`` oracle twin."""
    sample = np.asarray(sample, dtype=float)
    sample = sample / np.maximum(
        np.linalg.norm(sample, axis=1, keepdims=True), 1e-12
    )
    rng = np.random.default_rng(seed)
    # more cells than sample rows: clamp (every row its own centroid)
    # instead of numpy's obscure replace=False ValueError
    k = min(k, len(sample))
    cent = sample[rng.choice(len(sample), size=k, replace=False)]
    for _ in range(iters):
        assign = np.argmax(sample @ cent.T, axis=1)
        for j in range(k):
            members = sample[assign == j]
            if len(members):
                c = members.mean(axis=0)
                cent[j] = c / max(np.linalg.norm(c), 1e-12)
    return cent


def ivf_centroids_from_parquet(
    path: str,
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    exclude_id: int | None = None,
    sample_rows: int = 10_000,
    iters: int = 10,
    seed: int = 42,
) -> "np.ndarray":
    """Recompute ``IVFIndex.train``'s exact centroids directly from a
    parquet file (pyarrow, no Spark) — the oracle-side twin used to
    embed centroid literals into DuckDB SQL. Bit-identical because both
    sides sort the sample by id and run ``spherical_kmeans``."""
    import pyarrow.parquet as pq

    tbl = pq.read_table(path, columns=[id_col, vec_col])
    ids = np.asarray(tbl.column(id_col).to_pylist())
    vecs = np.asarray(tbl.column(vec_col).to_pylist(), dtype=float)
    if exclude_id is not None:
        keep = ids != exclude_id
        ids, vecs = ids[keep], vecs[keep]
    order = np.argsort(ids, kind="stable")
    sample = vecs[order][:sample_rows]
    return spherical_kmeans(sample, k=k, iters=iters, seed=seed)


class IVFIndex:
    """Inverted-file (IVF) ANN index: k-means centroids partition the
    corpus; a query scans only its ``n_probe`` nearest cells.

    Centroids are trained driver-side on a bounded sample (k-means is
    tiny: k×dim floats) and shipped into the plan as literals — the
    cluster assignment is a pure codegen expression, and at scale the
    corpus can be written ``partitionBy(cell)`` so probing prunes
    partitions instead of filtering rows.
    """

    def __init__(self, centroids: "np.ndarray"):
        self.centroids = centroids  # (k, dim), L2-normalized

    @classmethod
    def train(
        cls,
        df: DataFrame,
        vec_col: str = "embedding",
        k: int = 16,
        sample_rows: int = 10_000,
        iters: int = 10,
        seed: int = 42,
        id_col: str | None = None,
    ) -> "IVFIndex":
        """Spherical k-means on a driver-side sample (seeded,
        deterministic). With ``id_col`` the sample is the first
        ``sample_rows`` rows *by id* (TakeOrdered — cheap, bounded), so
        the trained index is reproducible regardless of partitioning /
        scan order — the property that lets an external engine rebuild
        identical centroids from the same data."""
        q = df.select(*( [id_col] if id_col else [] ), vec_col)
        if id_col is not None:
            q = q.orderBy(id_col)
        sample = np.asarray(
            [r[vec_col] for r in q.limit(sample_rows).collect()],
            dtype=float,
        )
        return cls(spherical_kmeans(sample, k=k, iters=iters, seed=seed))

    def cell_col(self, vec_col: Column | str) -> Column:
        """argmax-dot cluster id as one codegen expression (array of
        per-centroid dots → struct-max picks the best cell)."""
        v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
        scored = [
            F.struct(
                F.aggregate(
                    F.zip_with(
                        v,
                        F.array(*[F.lit(float(x)) for x in c]),
                        lambda a, b: a.cast("double") * b,
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ).alias("dot"),
                F.lit(j).alias("cell"),
            )
            for j, c in enumerate(self.centroids)
        ]
        return F.array_max(F.array(*scored))["cell"]

    def probe_cells(self, vec: list[float], n_probe: int = 2) -> list[int]:
        v = np.asarray(vec, dtype=float)
        v = v / max(np.linalg.norm(v), 1e-12)
        order = np.argsort(-(self.centroids @ v))
        return [int(j) for j in order[:n_probe]]


def ivf_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    index: IVFIndex | None = None,
    n_cells: int = 16,
    n_probe: int = 4,
    seed: int = 42,
) -> DataFrame:
    """IVF approximate top-k: exact cosine only inside the query's
    probed cells. Pass a pre-trained ``index`` to amortize training
    across queries (the production shape)."""
    if index is None:
        index = IVFIndex.train(df, vec_col, k=n_cells, seed=seed)
    cells = index.probe_cells(query_vec, n_probe)
    cand = df.withColumn("__cell", index.cell_col(vec_col)).where(
        F.col("__cell").isin(cells)
    )
    return cosine_topk(cand, query_vec, k, vec_col, id_col)


def kmeans_assign(
    df: DataFrame,
    index: IVFIndex,
    vec_col: str = "embedding",
    cluster_col: str = "cluster",
) -> DataFrame:
    """Corpus-wide k-means cluster assignment (semantic clustering /
    semantic-dedup prep): the argmax-dot cell expression is pure
    codegen, so assignment is a projection over the scan — no shuffle,
    and at scale the output can be written ``partitionBy(cluster)``."""
    return df.withColumn(cluster_col, index.cell_col(vec_col))


def kmeans_cluster_stats(
    df: DataFrame,
    index: IVFIndex,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Cluster occupancy rollup: (cluster, n_vecs, min_id) — the layout
    planning / mixture-audit view over a clustered corpus."""
    return (
        kmeans_assign(df, index, vec_col)
        .groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n_vecs"), F.min(id_col).alias("min_id"))
    )


def _rounded_cosine(a: Column, b: Column) -> Column:
    """Cosine of two bucket members' ``v``, rounded to 6 decimals: the
    score of the embedding pair operators."""
    return F.round(cosine_similarity(a["v"], b["v"]), 6).alias("cosine")


def semantic_dedup(
    df: DataFrame,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k_cells: int = 64,
    max_cell: int = 4096,
    index: IVFIndex | None = None,
    seed: int = 42,
) -> DataFrame:
    """SemDeDup-style semantic deduplication: k-means cells partition
    the corpus, exact cosine runs only *within* a cell, and every
    near-duplicate cluster keeps its min-id representative.

    Returns the surviving rows of ``df`` (losers dropped). The
    within-cell pair scan reuses the sign-LSH pair machinery with the
    cell id as the bucket, so the cost model is the SemDeDup one: with
    k cells of bounded occupancy the pair work is Σ|cell|², never
    |corpus|². At 100 TB: train once (driver-side sample), write the
    corpus ``partitionBy(cell)``, and each cell dedups independently —
    embarrassingly parallel.
    """
    if index is None:
        index = IVFIndex.train(df, vec_col, k=k_cells, seed=seed, id_col=id_col)
    b = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        index.cell_col(vec_col).alias("bucket"),
    )
    pairs = bucket_pairs(b, ["bucket"], max_cell, _rounded_cosine).where(
        F.col("cosine") >= threshold
    )
    return keep_representatives(df, pairs, id_col=id_col)


def lsh_bucket_stats(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    num_bits: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Per-bucket occupancy of the sign-LSH partitioning: bucket id,
    member count, min member id. This is the planning view a 100 TB
    layout job uses to choose ``partitionBy(bucket)`` file layout, and
    it attests the same ``bucket_col`` expression that ``ann_topk`` and
    ``cosine_neardup_pairs`` filter on — one scan, one hash-agg."""
    dim = len(df.select(vec_col).first()[0])
    lsh = RandomHyperplaneLSH(dim, num_bits, seed)
    return (
        df.select(F.col(id_col).alias("id"), lsh.bucket_col(vec_col).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_vecs"), F.min("id").alias("min_id"))
    )


def cosine_neardup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    num_bits: int = 12,
    seed: int = 42,
    max_bucket: int = 512,
    dim: int | None = None,
) -> DataFrame:
    """Embedding near-duplicate pairs: bucket by sign-LSH, exact cosine
    within buckets only. A pair with cosine ≥ threshold collides with
    probability (1 - θ/π)^num_bits — tune num_bits for recall/cost."""
    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    lsh = RandomHyperplaneLSH(dim, num_bits, seed)
    b = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        lsh.bucket_col(vec_col).alias("bucket"),
    )
    pairs = bucket_pairs(b, ["bucket"], max_bucket, _rounded_cosine)
    return (
        pairs.select("id_a", "id_b", "cosine")
        .where(F.col("cosine") >= threshold)
        .distinct()
    )


def mmr_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    pool: int = 100,
    lam: float = 0.7,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Maximal-marginal-relevance top-k: greedily pick
    ``argmax λ·cos(q,d) − (1−λ)·max_{s∈picked} cos(d,s)`` — relevant
    results that aren't near-duplicates of each other (the diversity
    step after retrieval that a dedup-heavy training pipeline wants).

    Two-stage 100 TB shape: stage 1 is the distributed relevance top
    ``pool`` (TakeOrderedAndProject over the full corpus — the only
    part that sees all data); stage 2 is the inherently-sequential
    greedy over that bounded pool, done on the driver in numpy
    (``pool ≤ ~1000`` rows by contract, like IVF centroid training —
    a bounded, justified collect). Deterministic: scores are float64,
    ties break by id.
    """
    import numpy as np

    # relevance is ROUNDED to 6 decimals before ranking — the same
    # spelling as cosine_topk and the SQL oracles, so the pool order,
    # its boundary, and the first pick (pure-relevance argmax) are
    # reproducible across engines even when two raw float64 cosines
    # differ by less than 5e-7
    pooled = (
        df.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
            F.round(
                cosine_similarity(F.col(vec_col), lit_vector(query_vec)), 6
            ).alias("rel"),
        )
        .orderBy(F.col("rel").desc(), F.col("id"))
        .limit(pool)
        .collect()
    )
    if not pooled:
        id_type = df.schema[id_col].dataType.simpleString()
        return df.sparkSession.createDataFrame(
            [], f"rank int, id {id_type}, score double"
        )
    ids = np.array([r["id"] for r in pooled])
    rel = np.array([r["rel"] for r in pooled], dtype=np.float64)
    vs = np.array([r["v"] for r in pooled], dtype=np.float64)
    norms = np.linalg.norm(vs, axis=1)
    norms[norms == 0] = 1.0
    unit = vs / norms[:, None]

    max_sim = np.zeros(len(ids), dtype=np.float64)
    chosen = np.zeros(len(ids), dtype=bool)
    rows = []
    for rank in range(min(k, len(ids))):
        mmr = lam * rel - (1 - lam) * max_sim
        mmr[chosen] = -np.inf
        best = int(min(range(len(ids)), key=lambda i: (-mmr[i], ids[i])))
        chosen[best] = True
        rows.append((rank + 1, ids[best].item() if hasattr(ids[best], "item")
                     else ids[best], float(round(mmr[best], 6))))
        max_sim = np.maximum(max_sim, unit @ unit[best])
    id_type = df.schema[id_col].dataType.simpleString()
    return df.sparkSession.createDataFrame(
        rows, f"rank int, id {id_type}, score double"
    )


def label_centroids(
    df: DataFrame, label_col: str = "label", vec_col: str = "embedding"
) -> DataFrame:
    """Per-label mean vector as (label, pos, c) rows, pos 1-based.
    posexplode + grouped avg: the shuffle carries only
    labels × dims rows after partial aggregation — tiny at any corpus
    scale."""
    return (
        df.select(label_col, F.posexplode(vec_col).alias("pos0", "x"))
        .select(label_col, (F.col("pos0") + 1).alias("pos"), F.col("x").cast("double").alias("x"))
        .groupBy(label_col, "pos")
        .agg(F.avg("x").alias("c"))
    )


def label_outliers(
    df: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 20,
) -> DataFrame:
    """Rows farthest from their own label's centroid — mislabeled /
    out-of-distribution example mining. The centroid table (labels ×
    dims) is broadcast; the distance is a codegen expression via the
    ``‖v−c‖² = v·v − 2·v·c + c·c`` decomposition (dot products only —
    the FP form that is portable to the SQL oracle), so the corpus
    pass has NO explode and NO shuffle before the final top-k."""
    from ..functions.vectors import dot

    cents = (
        label_centroids(df, label_col, vec_col)
        .groupBy(label_col)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "c"))),
                lambda s: s.getField("c"),
            ).alias("__carr")
        )
    )
    vd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    d2 = F.greatest(
        F.lit(0.0),
        dot(vd, vd) - 2 * dot(vd, F.col("__carr")) + dot("__carr", "__carr"),
    )
    return (
        df.join(F.broadcast(cents), label_col)
        .select(
            id_col,
            label_col,
            F.round(F.sqrt(d2), 6).alias("dist"),
        )
        .orderBy(F.col("dist").desc(), F.col(id_col))
        .limit(k)
    )


def semantic_decontaminate(
    corpus: DataFrame,
    bench: DataFrame,
    threshold: float = 0.9,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Embedding-space benchmark decontamination — the semantic sibling
    of ``curation.decontaminate`` (n-gram overlap misses paraphrased
    leaks; cosine similarity doesn't). Every corpus vector is scored
    by its MAX cosine against the benchmark set; rows at or above
    ``threshold`` are flagged with the matching benchmark id.

    Scale shape: benchmarks are dimension-table-sized by nature, so
    the bench side broadcasts and the corpus is read ONCE; the partial
    max per corpus row happens map-side (struct-max aggregation), no
    corpus-sized shuffle. Ties on rounded score break to the smallest
    benchmark id. Returns (id, max_cos, matched_id, contaminated)."""
    b = F.broadcast(
        bench.select(
            F.col(id_col).alias("__bid"), F.col(vec_col).alias("__bv")
        )
    )
    scored = corpus.crossJoin(b).select(
        F.col(id_col).alias("id"),
        F.round(cosine_similarity(F.col(vec_col), F.col("__bv")), 6).alias(
            "__s"
        ),
        F.col("__bid"),
    )
    best = scored.groupBy("id").agg(
        F.max(F.struct(F.col("__s"), (-F.col("__bid")).alias("__nb"))).alias(
            "__m"
        )
    )
    # left-join back to the corpus ids: an EMPTY benchmark set means
    # "nothing is contaminated", not "drop every corpus row" (a bare
    # crossJoin against zero bench rows would silently return nothing
    # and a keep-the-clean-rows caller would discard the whole corpus)
    all_ids = corpus.select(F.col(id_col).alias("id"))
    return all_ids.join(best, "id", "left").select(
        "id",
        F.coalesce(F.col("__m.__s"), F.lit(0.0)).alias("max_cos"),
        F.when(
            F.col("__m.__s") >= F.lit(float(threshold)), -F.col("__m.__nb")
        ).alias("matched_id"),
        F.coalesce(
            F.col("__m.__s") >= F.lit(float(threshold)), F.lit(False)
        ).alias("contaminated"),
    )


def embedding_outliers(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 20,
) -> DataFrame:
    """The ``k`` vectors FARTHEST (lowest cosine) from the corpus
    centroid — the embedding-space outlier screen run before semantic
    dedup / clustering (mis-embedded, wrong-modality, or junk docs
    live in this tail).

    Shape: posexplode → per-dimension mean (a |dims|-row frame,
    broadcast back) → per-id dot/norm aggregate → TakeOrdered k.
    The corpus is read once; nothing driver-side. The final ordering
    uses the ROUNDED score with an id tiebreak so sub-ulp FP noise
    can't swap rows across the k boundary between engines."""
    dims = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.col(vec_col)).alias("pos", "v"),
    ).select("id", "pos", F.col("v").cast("double").alias("v"))
    centroid = dims.groupBy("pos").agg(F.avg("v").alias("c"))
    cnorm = centroid.agg(
        F.sqrt(F.sum(F.col("c") * F.col("c"))).alias("cn")
    )
    scored = (
        dims.join(F.broadcast(centroid), "pos")
        .groupBy("id")
        .agg(
            F.sum(F.col("v") * F.col("c")).alias("dot"),
            F.sqrt(F.sum(F.col("v") * F.col("v"))).alias("vn"),
        )
        .crossJoin(F.broadcast(cnorm))
        .select(
            "id",
            F.round(
                F.try_divide(F.col("dot"), F.col("vn") * F.col("cn")), 6
            ).alias("centroid_cos"),
        )
    )
    return scored.orderBy(F.col("centroid_cos").asc(), F.col("id")).limit(k)
