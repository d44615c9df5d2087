"""Deduplication operators for large text corpora.

Five strategies, all shuffle-light by construction (the 100 TB posture):

- **exact** (`dedup_exact`, `exact_text_groups`): group on a 128-bit
  content hash, not the full text — the shuffle moves 16-byte keys.
- **MinHash + LSH** (`minhash_signatures`, `minhash_candidate_pairs`,
  `dedup_minhash`): shingle → k minhashes (ONE shuffle: groupBy doc) →
  band buckets → pairs emerge from same-bucket grouping. Jaccard is
  estimated from signature agreement — candidate verification never
  re-joins the shingle sets.
- **SimHash** (`simhash_signatures`, `simhash_neardup_pairs`): 64-bit
  signatures via per-bit token votes; near-dup candidates from 16-bit
  band equality (any pair within Hamming distance 3 shares ≥1 of 4
  bands), verified with `bit_count(xor)`.
- **n-gram Jaccard** (`ngram_jaccard_pairs`): exact Jaccard via a
  shingle-inverted-index self-join, with a document-frequency cap that
  drops stop-shingles (the skew guard that makes this survive scale).
- **embedding cosine** (see similarity.py `cosine_neardup_pairs`):
  random-hyperplane LSH buckets, exact cosine only within buckets.

The near-duplicate pair family shares one copy of each building block:

- **`bucket_pairs`** is the one bucket-pair kernel: a hot-bucket cap,
  one sorted member array per bucket and the id_a < id_b enumeration.
  MinHash banding, SimHash banding, the embedding and k-means cell
  pairs (similarity.py) and the audio fingerprint pairs (multimodal.py)
  all call it.
- **The shingle index** (`_shingle_set`, `_shingle_index`) is each
  document's set of xxhash64 shingle values, exploded to (id, sh) rows
  for the signatures and the exact trio (`ngram_jaccard_pairs`,
  `ngram_jaccard_pairs_prefix`, `ngram_containment_pairs`), kept as an
  array for exact verification. `ngram_jaccard_pairs` and
  `ngram_containment_pairs` share one inverted-index pair count and
  differ only in their score.
- **The candidate budget guard** (`_fits_budget`) counts the trio's
  self-join candidates before the join runs, then raises or
  downgrades to banded LSH.
- **Every cache has an owner.** Each persisted frame goes through
  `caching._CacheOwner`, so a raise releases it, and each pair
  operator's lazy result owns the caches it reads: one `unpersist()`
  on the result frees them all.

Reference analog: the corpus has no dedup (it is an orchestrator); this
implements the north-star LLM-pipeline extension declared in
SURVEY.md §2 M5. Everything is built-in-function DataFrame code — no
Python UDFs anywhere in the hot path.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import char_shingles, tokens_ws, word_shingles
from .caching import _CacheOwner, _TruncatedFrame
from .width import ensure_wide


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def dedup_exact(df: DataFrame, keys: list[str], order_by: str | None = None) -> DataFrame:
    """Keep one row per distinct ``keys``. With ``order_by``, keep the
    row with the smallest value (deterministic representative) via
    min_by-style window; else ``dropDuplicates`` (any representative —
    cheaper: map-side partial dedup before the shuffle)."""
    if order_by is None:
        return df.dropDuplicates(keys)
    w = Window.partitionBy(*keys).orderBy(F.col(order_by).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def exact_text_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Duplicate groups by exact content: (content_hash, keep_id,
    n_copies). Shuffles only the md5 key + id — never the document."""
    return (
        df.select(F.md5(F.col(text_col).cast("binary")).alias("content_hash"), id_col)
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def dedup_exact_text(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Rows surviving exact-content dedup (min-id representative)."""
    keep = exact_text_groups(df, text_col, id_col).select(
        F.col("keep_id").alias(id_col)
    )
    return df.join(keep, id_col, "left_semi")


# ---------------------------------------------------------------------------
# Bucket pairs (the one kernel of every bucket-then-pair operator)
# ---------------------------------------------------------------------------


def bucket_pairs(
    rows: DataFrame,
    keys: list[str],
    max_bucket: int,
    score: Callable[[Column, Column], Column] | None = None,
) -> DataFrame:
    """Every pair of ``rows`` in one bucket (equal ``keys``) that holds
    2..``max_bucket`` members: ``(*keys, id_a, id_b)`` with
    ``id_a < id_b``, plus the aliased column ``score(a, b)`` returns
    for two members when given. A pair sharing several buckets appears
    once per bucket; callers dedupe or count the votes.

    A member is the bare ``id`` when ``rows`` holds nothing but ``id``
    and ``keys``; otherwise it is ``struct(id, <other columns>)``, whose
    fields ``score`` reads.

    The hot-bucket cap runs before the ``collect_list``, so a
    degenerate bucket (millions of identical docs) never materializes a
    member array; singletons, which pair with nothing, drop there too.
    The count is a window over the bucket, so ``rows`` is referenced
    ONCE. A ``groupBy(keys).count()`` semi-joined back onto ``rows``
    reads the input in two branches, and Spark evaluates the whole
    subtree in each: a Python decode stage beneath it ran twice per
    query. The window's exchange also serves the ``groupBy(keys)``, so
    the cap adds no shuffle of its own.

    The member array is sorted ONCE, in the aggregate, and bound to an
    attribute outside the enumeration lambdas: an ``array_sort``
    inlined at every reference inside the nested transforms made
    codegen re-emit (and re-run) the sort per member — measured 16.5 s
    cold / 2 s warm for ~1k SimHash pairs."""
    payload = [c for c in rows.columns if c != "id" and c not in keys]
    n = F.count(F.lit(1)).over(Window.partitionBy(*keys))
    buckets = (
        rows.withColumn("__bucket_n", n)
        .where((F.col("__bucket_n") > 1) & (F.col("__bucket_n") <= max_bucket))
        .groupBy(*keys)
        .agg(
            F.array_sort(
                F.collect_list(F.struct("id", *payload) if payload else "id")
            ).alias("__members")
        )
    )
    members = F.col("__members")

    def pair(a: Column, b: Column) -> Column:
        id_a, id_b = (a["id"], b["id"]) if payload else (a, b)
        extra = [score(a, b)] if score is not None else []
        return F.struct(id_a.alias("id_a"), id_b.alias("id_b"), *extra)

    return buckets.select(
        *keys,
        F.explode(
            F.flatten(
                F.transform(
                    members,
                    lambda a, i: F.transform(
                        F.slice(members, i + 2, F.size(members)),
                        lambda b: pair(a, b),
                    ),
                )
            )
        ).alias("__p"),
    ).select(*keys, "__p.*")


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def _shingle_set(text: Column, k: int, mode: str) -> Column:
    """The distinct ``xxhash64`` values of ``text``'s k-shingles: char
    k-grams (``mode='char'``) or word k-grams (``'word'``) — the one
    shingle-set definition of MinHash, exact verification and the
    exact trio.

    Each shingle STRING is hashed once, INSIDE the array, and the
    8-byte values are deduped instead of the strings: the k salted
    MinHash hashes then mix a long rather than re-hashing text k times,
    set sizes and intersections compare longs, and every shuffle or
    cache carries 8 bytes per shingle instead of text. Counts are
    hash-domain counts, identical on any corpus without a 64-bit
    shingle collision (~1e-13 per doc pair); a collision cannot change
    a MinHash component at all, since min over the multiset of hashed
    values equals min over its set. Measured sf0.1 char-5/k=128
    signatures (noop, 4 runs): 2.23 s -> 1.83 s warm, 9.3 s -> 2.9 s
    cold, bit-identical."""
    mk = char_shingles if mode == "char" else word_shingles
    return F.array_distinct(F.transform(mk(text, k), lambda s: F.xxhash64(s)))


def _shingle_index(
    df: DataFrame, text_col: str, id_col: str, k: int, mode: str
) -> DataFrame:
    """(id, sh): one row per distinct shingle hash of each document —
    the inverted index the signatures aggregate and the exact trio
    self-joins."""
    return ensure_wide(df, id_col).select(
        F.col(id_col).alias("id"),
        F.explode(_shingle_set(F.col(text_col), k, mode)).alias("sh"),
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 128,
    shingle_k: int = 5,
    mode: str = "char",
) -> DataFrame:
    """(id, sig: array<bigint>[num_hashes]) — one row per doc.

    Plan shape: shingle once → explode → ONE hash-aggregate computing
    all k salted minima (map-side partial combine makes the shuffle
    k×8 bytes per doc per partition, never the shingles themselves).
    A projection-only variant (k nested transforms over the shingle
    array) re-evaluates the shingle expression per hash — measured
    ~30× slower — so the explode+agg form is deliberate. A single
    ``aggregate`` fold over the hashed array (k-long accumulator,
    ``zip_with(acc, idx, least(a, xxhash64(i, x)))`` per element — the
    no-explode shape) was also measured and REJECTED: 11.1 s vs 2.0 s
    at sf0.1/k=128 (bit-identical output; the per-element k-array
    rebuild in interpreted HOF eval dwarfs the explode's shuffle).

    ``mode='word'`` shingles on word k-grams instead of char k-grams so
    the signatures estimate the SAME Jaccard space as the exact word-
    shingle pair operators (their over-budget LSH fallback)."""
    aggs = [
        F.min(F.xxhash64(F.lit(i), F.col("sh"))).alias(f"mh_{i}")
        for i in range(num_hashes)
    ]
    return (
        _shingle_index(df, text_col, id_col, shingle_k, mode)
        .groupBy("id")
        .agg(*aggs)
        .select("id", F.array(*[f"mh_{i}" for i in range(num_hashes)]).alias("sig"))
    )


def minhash_band_miss_prob(
    jaccard: float, num_bands: int, rows_per_band: int, min_matches: int
) -> float:
    """P(a pair with true Jaccard ``jaccard`` matches fewer than
    ``min_matches`` of the ``num_bands`` bands) — the banding recall
    bound. Per-band match is Bernoulli(p = jaccard**rows_per_band);
    matches are independent across bands, so the miss mass is the
    Binomial(num_bands, p) lower tail below ``min_matches``."""
    import math

    p = jaccard**rows_per_band
    return sum(
        math.comb(num_bands, i) * p**i * (1.0 - p) ** (num_bands - i)
        for i in range(min_matches)
    )


def minhash_candidate_pairs(
    sigs: DataFrame,
    num_bands: int = 32,
    max_bucket: int = 64,
    min_band_matches: int = 1,
) -> DataFrame:
    """LSH banding: split the signature into ``num_bands`` bands, hash
    each band, group by (band, hash). Pairs sharing any band are
    candidates. ``max_bucket`` caps pathological buckets (boilerplate
    text) — dropped buckets are the standard recall/cost trade at scale.

    ``min_band_matches`` > 1 turns banding into band VOTING: a pair is
    a candidate only if it collides in at least that many bands. On
    boilerplate-dense corpora single-band collisions are dominated by
    low-similarity noise (one 4-row band matching is common at
    Jaccard ~0.25; two matching is ~C(B,2)·p² ≈ rare), so requiring a
    second vote cuts the candidate set ~50× while the miss probability
    for a genuinely-similar pair stays negligible — quantify it with
    :func:`minhash_band_miss_prob` before raising the floor (the
    caller owns that recall budget; see ``dedup_minhash_verified``).
    The vote count reuses the exact shuffle the distinct() otherwise
    needs — zero extra cost.

    Returns distinct (id_a, id_b) with id_a < id_b.
    """
    n_hashes_col = F.size("sig")
    rows_per_band = (n_hashes_col / num_bands).cast("int")
    # hash the band SLICE directly (xxhash64 folds array elements) —
    # the old spelling cast the slice array<bigint> → array<string> →
    # string, building 32 strings per doc just to feed the hash. The
    # bucket ids change but bucket MEMBERSHIP does not: equal slices
    # hash equal under any function, so no true pair is lost, and the
    # ~2^-64 chance of two different slices colliding only ADDS a
    # candidate that the estimate/exact verification stages discard.
    banded = sigs.select(
        "id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(num_bands - 1)),
                lambda b: F.xxhash64(
                    F.lit("band:"),
                    b,
                    F.slice("sig", b * rows_per_band + 1, rows_per_band),
                ),
            )
        ).alias("band_id", "band_hash"),
    )
    pairs = bucket_pairs(banded, ["band_id", "band_hash"], max_bucket).select(
        "id_a", "id_b"
    )
    if min_band_matches <= 1:
        return pairs.distinct()
    # same shuffle as distinct(): a pair appears at most once per band
    # bucket, so the group count IS the number of matching bands
    return (
        pairs.groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("__bands"))
        .where(F.col("__bands") >= min_band_matches)
        .select("id_a", "id_b")
    )


def minhash_estimate_jaccard(pairs: DataFrame, sigs: DataFrame) -> DataFrame:
    """Estimated Jaccard = fraction of agreeing signature components
    (the unbiased MinHash estimator) — verification without touching
    the original shingle sets."""
    a = sigs.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    b = sigs.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    agree = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda eq: eq
        )
    )
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            (agree / F.size("sig_a")).cast("double").alias("jaccard_est"),
        )
    )


def dedup_minhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    num_hashes: int = 128,
    num_bands: int = 32,
    shingle_k: int = 5,
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, jaccard_est ≥ threshold).

    The signature frame feeds the banding AND both sides of the
    verification join — persist it so the shingle+128-min aggregation
    runs once, not three times (signatures are ~1 KB/doc: safely
    cacheable at any scale, spills to disk if not). The result owns
    that cache: ``unpersist()`` releases it."""
    with _CacheOwner() as caches:
        sigs = caches.persist(
            minhash_signatures(df, text_col, id_col, num_hashes, shingle_k)
        )
        pairs = minhash_candidate_pairs(sigs, num_bands)
        return caches.handoff(
            minhash_estimate_jaccard(pairs, sigs).where(F.col("jaccard_est") >= threshold)
        )


def _jaccard() -> Column:
    """``|A ∩ B| / |A ∪ B|`` from the ``n_common``, ``n_a`` and ``n_b``
    set-size columns."""
    return (
        F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    ).alias("jaccard")


def _containment() -> Column:
    """``|A ∩ B| / min(|A|, |B|)`` from the same columns."""
    return (F.col("n_common") / F.least("n_a", "n_b")).alias("containment")


def verify_pairs_exact_jaccard(
    pairs: DataFrame,
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 5,
    mode: str = "char",
    include_containment: bool = False,
) -> DataFrame:
    """Exact Jaccard for the given candidate pairs — the verification
    leg of candidate-generation dedup (MinHash banding proposes, this
    disposes). Values are computed in the 64-bit shingle-hash domain
    (sets of ``xxhash64(shingle)``), so a cross-doc hash collision can
    in principle perturb a count — probability ~2^-64 per shingle pair,
    ~1e-13 per doc pair on these set sizes. ``include_containment``
    adds the asymmetric ``containment = common / min(|A|, |B|)`` column
    (same inputs, one extra projection).

    Scale shape: shingling is *restricted to candidate ids* via a
    semi-join, so the exact computation touches only the (tiny)
    candidate subset of the corpus, never all documents — and each
    doc's distinct-shingle SET travels as one array row (bounded by
    doc length), never as exploded (id, shingle) rows. The
    intersection is one JVM hash-set ``array_intersect`` per pair —
    the same verification shape :func:`ngram_jaccard_pairs_prefix`
    ships — which replaces the former explode → shingle-keyed join →
    per-pair count-aggregate → two size joins (four extra exchanges,
    with the widest one keyed on shingle text). Pairs sharing zero
    shingles drop out (their Jaccard is 0 — below any useful
    threshold). The result owns the cached shingle sets:
    ``unpersist()`` releases them."""
    ids = (
        pairs.select(F.col("id_a").alias("id"))
        .union(pairs.select(F.col("id_b").alias("id")))
        .distinct()
    )
    with _CacheOwner() as caches:
        # semi-join BEFORE shingling: Catalyst cannot prune rows through
        # the shingle expression, so restricting afterwards would still
        # shingle the entire corpus — the exact cost this function
        # exists to avoid. The set frame feeds both join sides: persist
        # so the shingling runs once.
        sets = caches.persist(
            df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__t"))
            .join(ids, "id", "left_semi")
            .select("id", _shingle_set(F.col("__t"), shingle_k, mode).alias("shs"))
        )
        joined = pairs.join(
            sets.select(F.col("id").alias("id_a"), F.col("shs").alias("__sa")),
            "id_a",
        ).join(
            sets.select(F.col("id").alias("id_b"), F.col("shs").alias("__sb")),
            "id_b",
        ).select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("__sa", "__sb")).alias("n_common"),
            F.size("__sa").alias("n_a"),
            F.size("__sb").alias("n_b"),
        ).where(F.col("n_common") > 0)
        scores = [_containment(), _jaccard()] if include_containment else [_jaccard()]
        return caches.handoff(joined.select("id_a", "id_b", *scores))


def dedup_minhash_verified(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    num_hashes: int = 128,
    num_bands: int = 32,
    shingle_k: int = 5,
    est_margin: float = 0.2,
    mode: str = "char",
    max_bucket: int = 64,
) -> DataFrame:
    """Near-duplicate pairs with *exact* Jaccard ≥ threshold, candidates
    from MinHash-LSH banding. The production three-phase shape:

    1. banding proposes candidates (cheap, recall-oriented — on
       boilerplate-heavy corpora this set can be 1000× the true pairs),
    2. the signature ESTIMATE prunes candidates below
       ``threshold - est_margin`` using the already-materialized sigs
       (one zip_with per pair, no shuffle of text) — with 128 hashes a
       true ≥ 0.8 pair falls below 0.6 with probability ~1e-8, so the
       prune is recall-safe,
    3. exact verification re-touches shingles ONLY for the estimate
       survivors, so the expensive join is bounded by true-pair count,
       not candidate count.

    The result owns every cache it reads (signatures, estimate
    survivors, verification shingle sets): ``unpersist()`` releases
    them all.
    """
    # band VOTING: require a second band collision when that is
    # recall-free at this threshold (miss probability < 1e-5 for a
    # pair AT the final threshold — e.g. t=0.8, 32 bands of 4 rows:
    # P(<2 matches) ≈ 2e-6). On boilerplate-dense corpora this cuts
    # the candidate set ~50× (single-band collisions are ~all noise
    # at Jaccard 0.2-0.4); with loose thresholds where two votes
    # would cost real recall, it degrades to the classic any-band OR.
    votes = (
        2
        if minhash_band_miss_prob(
            threshold, num_bands, num_hashes // num_bands, 2
        )
        < 1e-5
        else 1
    )
    with _CacheOwner() as caches:
        sigs = caches.persist(
            minhash_signatures(df, text_col, id_col, num_hashes, shingle_k, mode=mode)
        )
        cand = minhash_candidate_pairs(
            sigs, num_bands, max_bucket=max_bucket, min_band_matches=votes
        )
        # survivors are ~true-pair-count sized and feed verification
        # three times (both sides of the id restriction + the pair join)
        survivors = caches.persist(
            minhash_estimate_jaccard(cand, sigs)
            .where(F.col("jaccard_est") >= threshold - est_margin)
            .select("id_a", "id_b")
        )
        verified = caches.own(
            verify_pairs_exact_jaccard(survivors, df, text_col, id_col, shingle_k, mode=mode)
        )
        return caches.handoff(verified.where(F.col("jaccard") >= threshold))


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """SimHash per doc: sign of per-bit votes over token hashes.

    Shape: hash each token once, explode, then ONE grouped aggregate
    computes all per-bit vote sums (map-side combine — the shuffle
    carries num_bits small ints per doc per partition, never tokens).
    The earlier projection-only form (num_bits separate ``aggregate``
    folds) re-traversed the token array once PER BIT and its generated
    code took seconds to compile — the same pathology
    ``minhash_signatures`` documents; explode+agg is the fix in both.
    Token-less docs are preserved via a left join (all-zero votes →
    signature 0), exactly as the fold form behaved.

    ``hash_fn='xxhash64'`` (default, fastest: JVM intrinsic) yields
    64-bit signatures; ``hash_fn='md5'`` yields 60-bit signatures from
    the first 15 hex chars of md5 — a *portable* hash every engine
    computes identically, so the signature (and downstream Hamming
    pairs) is reproducible outside Spark for cross-engine attestation.
    """
    import functools

    num_bits = 64 if hash_fn == "xxhash64" else 60
    if hash_fn == "xxhash64":
        tok_hash = lambda t: F.xxhash64(t)  # noqa: E731
    elif hash_fn == "md5":
        tok_hash = lambda t: F.conv(  # noqa: E731
            F.substring(F.md5(t.cast("binary")), 1, 15), 16, 10
        ).cast("bigint")
    else:
        raise ValueError(f"hash_fn must be 'xxhash64' or 'md5', got {hash_fn!r}")

    base = ensure_wide(df, id_col).select(
        F.col(id_col).alias("id"),
        tokens_ws(F.col(text_col)).alias("__t"),
    )
    exploded = base.select("id", F.explode("__t").alias("__tok")).select(
        "id", tok_hash(F.col("__tok")).alias("__h")
    )
    h = F.col("__h")
    voted = exploded.groupBy("id").agg(
        *[
            F.sum(
                F.when(
                    F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, 1
                ).otherwise(-1)
            ).alias(f"__v{j}")
            for j in range(num_bits)
        ]
    )
    sig = functools.reduce(
        lambda a, b: a.bitwiseOR(b),
        [
            F.when(
                F.col(f"__v{j}") > 0, F.shiftleft(F.lit(1).cast("bigint"), j)
            ).otherwise(F.lit(0).cast("bigint"))
            for j in range(num_bits)
        ],
    )
    return (
        base.select("id")
        .join(voted, "id", "left")
        .select(
            "id",
            F.coalesce(sig, F.lit(0).cast("bigint")).alias("simhash"),
        )
    )


def simhash_neardup_pairs(
    sigs: DataFrame,
    max_hamming: int = 3,
    max_bucket: int = 256,
    num_bits: int = 64,
) -> DataFrame:
    """Near-dup pairs within ``max_hamming`` bits. Candidates via the
    banding trick with ``max_hamming + 1`` bands (Hamming ≤ h ⇒ at
    least one of h+1 bands is untouched — pigeonhole, so recall is
    exactly 1.0 for ANY threshold, not just the classic 4-band h≤3),
    verified with bit_count(xor). Only same-band docs meet — no cross
    join. More bands = smaller bands = more candidate collisions, the
    usual recall/cost trade as the threshold loosens."""
    num_bands = max_hamming + 1
    if num_bands > num_bits:
        raise ValueError(
            f"max_hamming {max_hamming} needs {num_bands} bands but the "
            f"signature has only {num_bits} bits"
        )
    bounds = [b * num_bits // num_bands for b in range(num_bands + 1)]
    banded = sigs.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned("simhash", bounds[b])
                        .bitwiseAND(
                            F.lit((1 << (bounds[b + 1] - bounds[b])) - 1)
                        )
                        .alias("chunk"),
                    )
                    for b in range(num_bands)
                ]
            )
        ).alias("bk"),
    ).select("id", "simhash", "bk.band", "bk.chunk")
    pairs = bucket_pairs(
        banded,
        ["band", "chunk"],
        max_bucket,
        lambda a, b: F.bit_count(a["simhash"].bitwiseXOR(b["simhash"])).alias("hamming"),
    )
    return (
        pairs.select("id_a", "id_b", "hamming")
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


#: MinHash signature definition version, persisted with every store
#: row. v2 = shingle string hashed once, the k salts mix the 8-byte
#: value (5x cheaper, same estimator); v1 stores are incompatible.
SIGNATURE_VERSION = 2


def incremental_neardup(
    spark,
    new_docs: DataFrame,
    sig_store_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    num_hashes: int = 128,
    num_bands: int = 32,
    shingle_k: int = 5,
) -> DataFrame:
    """Near-dup check of a NEW batch against corpus history, without
    recomputing history: signatures live in a persistent store
    (parquet, upserted per batch); banding runs over new ∪ history but
    only pairs touching a new doc are returned.

    Cost per batch: signature computation for the batch only + one
    banded join against the store (shuffle of signatures, never text).
    Returns (id_a, id_b, jaccard_est, is_historical_pair=false-side),
    materialized as a checkpoint that ``unpersist()`` releases; the
    signature caches are released before it returns.
    """
    from ..sources.tables import upsert_parquet

    # existence via the reader (driver-local os.path is always False on
    # remote stores, which would silently skip the history side)
    from pyspark.errors import AnalysisException

    try:
        spark.read.parquet(sig_store_path).schema
        have_store = True
    except AnalysisException:
        # missing/empty store only; transient failures propagate
        have_store = False
    if have_store:
        history = spark.read.parquet(sig_store_path)
        # signature definitions are versioned: comparing v1 (per-salt
        # string hashing) against v2 (hash-once + salt-mix) signatures
        # yields ~zero agreement and silently under-drops duplicates,
        # so an incompatible store must fail loudly, not degrade.
        # The O(1) check is a sidecar written at store creation (the
        # pq_save_codes pattern); only a sidecar-less legacy/remote
        # store pays the one-off column scan (isNull: mixed-schema
        # stores read v1 rows as NULL).
        ver = _read_sig_version(sig_store_path)
        incompatible = (
            ver != SIGNATURE_VERSION
            if ver is not None
            else (
                "sig_v" not in history.columns
                or bool(
                    history.where(
                        F.col("sig_v").isNull()
                        | (F.col("sig_v") != SIGNATURE_VERSION)
                    ).take(1)
                )
            )
        )
        if incompatible:
            raise ValueError(
                f"signature store at {sig_store_path} was built by an "
                f"older minhash signature version (current: "
                f"v{SIGNATURE_VERSION}); rebuild it from the corpus "
                "(delete the store and re-ingest history)"
            )
    with _CacheOwner() as caches:
        new_sigs = caches.persist(
            minhash_signatures(new_docs, text_col, id_col, num_hashes, shingle_k)
            .withColumn("sig_v", F.lit(SIGNATURE_VERSION))
        )
        if have_store:
            # a re-delivered batch's ids already sit in the store: keep the
            # new copy only, or the union holds each id twice and every
            # band bucket emits (X, X) self-pairs with jaccard 1.0
            history = history.join(
                new_sigs.select("id"), "id", "left_anti"
            )
            allsigs = caches.persist(history.unionByName(new_sigs))
        else:
            allsigs = new_sigs
        pairs = minhash_candidate_pairs(allsigs, num_bands)
        nid = new_sigs.select("id")
        touching_new = (
            pairs.join(nid.withColumnRenamed("id", "id_a"), "id_a", "left_semi")
            .unionByName(
                pairs.join(nid.withColumnRenamed("id", "id_b"), "id_b", "left_semi")
            )
            .distinct()
        )
        out = minhash_estimate_jaccard(touching_new, allsigs).where(
            F.col("jaccard_est") >= threshold
        )
        # sever lineage from the store BEFORE rewriting it (the upsert
        # swaps the directory out from under the lazy plan)
        out = caches.truncate(out)
        upsert_parquet(spark, sig_store_path, new_sigs, "id")
        _write_sig_version(sig_store_path)
        return caches.keep(out)


def _read_sig_version(store_path: str) -> int | None:
    """Version sidecar (underscore-prefixed: invisible to parquet
    readers). None = absent/unreadable (legacy or non-local store)."""
    import json as _json
    import os as _os

    try:
        with open(_os.path.join(store_path, "_sig_version.json")) as f:
            return int(_json.load(f)["version"])
    except (OSError, ValueError, KeyError, TypeError):
        return None


def _write_sig_version(store_path: str) -> None:
    """Best-effort atomic sidecar write (a remote object store skips
    it and falls back to the column check)."""
    import json as _json
    import os as _os

    try:
        tmp = _os.path.join(store_path, "._sig_version.json.tmp")
        with open(tmp, "w") as f:
            _json.dump({"version": SIGNATURE_VERSION}, f)
        _os.replace(tmp, _os.path.join(store_path, "_sig_version.json"))
    except OSError:
        pass


# ---------------------------------------------------------------------------
# Pair graph → duplicate clusters
# ---------------------------------------------------------------------------


def dedup_clusters(pairs: DataFrame, max_iters: int = 20) -> DataFrame:
    """Connected components over a near-dup pair graph (id_a, id_b) →
    (id, cluster) with cluster = min id of the component (the survivor
    under the min-id keep rule): :func:`graph.connected_components`
    with its columns renamed, so chains converge in O(log diameter)
    rounds and a non-converged run raises. The returned frame owns the
    final round's cache: ``unpersist()`` releases it."""
    from .graph import connected_components

    cc = connected_components(pairs, max_iters, src="id_a", dst="id_b")
    return _TruncatedFrame(
        cc.select(F.col("node").alias("id"), F.col("component").alias("cluster")), cc
    )


def keep_representatives(
    df: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Drop every near-dup cluster member except the min-id survivor
    (the complete dedup: pairs → components → one kept per group). The
    result owns the cluster labels' cache: ``unpersist()`` releases it."""
    clusters = dedup_clusters(pairs)
    losers = clusters.where(F.col("id") != F.col("cluster")).select(
        F.col("id").alias(id_col)
    )
    return _TruncatedFrame(df.join(losers, id_col, "left_anti"), clusters)


def keep_best_representatives(
    df: DataFrame,
    pairs: DataFrame,
    quality_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Quality-aware dedup survivorship: within each near-dup cluster
    keep the HIGHEST-``quality_col`` member (ties → smallest id)
    instead of the arbitrary min-id — the form a curation pipeline
    actually wants ("of these 5 near-copies, keep the cleanest").

    Same component machinery as :func:`keep_representatives`; the
    survivor pick is one window over the cluster-joined frame (cluster
    cardinality per partition, never corpus-wide). The result owns the
    cluster labels' cache: ``unpersist()`` releases it."""
    clusters = dedup_clusters(pairs)  # (id, cluster)
    members = df.join(
        clusters.withColumnRenamed("id", id_col), id_col, "left"
    ).withColumn(
        # singletons (no pair edge) form their own cluster
        "cluster",
        F.coalesce(F.col("cluster"), F.col(id_col)),
    )
    w = Window.partitionBy("cluster").orderBy(
        F.col(quality_col).desc(), F.col(id_col).asc()
    )
    return _TruncatedFrame(
        members.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn", "cluster"),
        clusters,
    )


def collapse_and_survivors(
    df: DataFrame,
    quality_col: str,
    id_col: str = "doc_id",
    threshold: float = 0.8,
    **minhash_kwargs,
) -> tuple[DataFrame, DataFrame]:
    """Compute-once production composition of the corpus collapse and
    its emit side: ONE MinHash-LSH verified pair graph and ONE
    component labelling feed BOTH outputs, where the standalone
    registry attestations (``op_dedup_collapse`` /
    ``op_dedup_survivors``) deliberately recompute them independently
    (~2× the cost — each entry is a self-contained oracle check).

    Returns ``(collapse, survivors)``:

    - ``collapse``: one row per multi-member duplicate cluster —
      (keep_id = min member id, n_members, id_sum) — the collapse
      PLAN a pipeline logs/audits before deleting anything;
    - ``survivors``: the kept corpus — one row per surviving document
      (keep_id, cluster_id, n_members, quality), highest
      ``quality_col`` per cluster (ties → smallest id), singletons
      passing through as their own one-member cluster.

    Scale shape: the pair graph comes from the banded/bucket-capped
    LSH path (never all-pairs); components run on the pairs-sized
    graph with pointer jumping + lineage truncation
    (:func:`dedup_clusters`); the cluster labels are cached ONCE so the
    two outputs share the physical computation. Both outputs own that
    one cache: ``unpersist()`` on either releases it, so call it once
    both are consumed."""
    from pyspark.sql import Window

    with _CacheOwner() as caches:
        pairs = caches.own(
            dedup_minhash_verified(df, id_col=id_col, threshold=threshold, **minhash_kwargs)
        )
        # dedup_clusters returns its labels materialized and cached, so
        # both outputs read them without recomputing the component
        # loop, and the pair graph's caches are released here
        clusters = dedup_clusters(pairs.select("id_a", "id_b"))
    collapse = (
        clusters.groupBy(F.col("cluster").alias("keep_id"))
        .agg(F.count("*").alias("n_members"), F.sum("id").alias("id_sum"))
    )
    members = (
        df.select(id_col, F.col(quality_col).alias("quality"))
        .join(clusters.withColumnRenamed("id", id_col), id_col, "left")
        .withColumn("cluster_id", F.coalesce("cluster", F.col(id_col)))
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("quality").desc(), F.col(id_col).asc()
    )
    survivors = (
        members.withColumn("rn", F.row_number().over(w))
        .withColumn(
            "n_members", F.count("*").over(Window.partitionBy("cluster_id"))
        )
        .where(F.col("rn") == 1)
        .select(
            F.col(id_col).alias("keep_id"), "cluster_id", "n_members",
            "quality",
        )
    )
    return _TruncatedFrame(collapse, clusters), _TruncatedFrame(survivors, clusters)


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard (inverted-index self-join)
# ---------------------------------------------------------------------------


class CandidateBudgetExceeded(RuntimeError):
    """An exact pair operator refused to launch its inverted-index
    self-join because it would materialize more candidate pairs than
    its ``candidate_budget``. On duplication-dense corpora (clique-
    shaped duplicates) Σ C(df, 2) grows quadratically in the clique
    size — the thing that kills a 100 TB run. Use the LSH family
    (:func:`dedup_minhash_verified`, which caps pathological buckets)
    or pass ``on_over_budget='lsh'`` to downgrade automatically."""


def _fits_budget(
    op_name: str,
    index: DataFrame,
    df_cap: int | None,
    budget: int | None,
    on_over_budget: str,
) -> bool:
    """The candidate budget guard of the exact trio: whether the
    self-join of ``index`` (id, sh) on ``sh`` stays within ``budget``
    candidate pairs (always, when ``budget`` is None).

    The count is Σ C(n, 2) over the per-shingle document counts ``n``
    (those ≤ ``df_cap``, when given) — the EXACT number of (pre-dedup)
    pair rows the join will emit. It is one map-side-combined
    aggregate over the already-persisted index: control-plane cheap
    next to the join it guards, and run BEFORE any quadratic task is
    launched. Over budget the guard raises
    :class:`CandidateBudgetExceeded`, or returns False when the caller
    opted into the LSH downgrade (``on_over_budget='lsh'``); the
    caller's cache owner then releases the index."""
    if budget is None:
        return True
    counts = index.groupBy("sh").agg(F.count(F.lit(1)).alias("n"))
    if df_cap is not None:
        counts = counts.where(F.col("n") <= df_cap)
    row = counts.select(
        F.sum(F.col("n").cast("bigint") * (F.col("n") - 1) / 2).alias("c")
    ).first()
    n_cand = int(row["c"] or 0)
    if n_cand <= budget:
        return True
    if on_over_budget != "lsh":
        raise CandidateBudgetExceeded(
            f"{op_name}: inverted-index self-join would materialize "
            f"{n_cand:,} candidate pairs (> candidate_budget="
            f"{budget:,}). The corpus is duplication-dense; use "
            f"dedup_minhash_verified (banded LSH with bucket caps, "
            f"exact-verified) or pass on_over_budget='lsh' to "
            f"downgrade automatically, or raise candidate_budget "
            f"if the cluster can absorb the shuffle."
        )
    return False


def _common_shingles(index: DataFrame, df_cap: int) -> DataFrame:
    """The inverted-index pair count of :func:`ngram_jaccard_pairs` and
    :func:`ngram_containment_pairs`: ``(id_a, id_b, n_common, n_a,
    n_b)`` for every id_a < id_b pair of ``index`` (id, sh) sharing a
    shingle whose document frequency is ≤ ``df_cap``, with both set
    sizes."""
    sizes = index.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    sh_df = index.groupBy("sh").agg(F.count(F.lit(1)).alias("sh_df"))
    kept = index.join(sh_df.where(F.col("sh_df") <= df_cap).select("sh"), "sh")
    common = (
        kept.select(F.col("id").alias("id_a"), "sh")
        .join(kept.select(F.col("id").alias("id_b"), "sh"), "sh")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return common.join(
        sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a")), "id_a"
    ).join(sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b")), "id_b")


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    shingle_k: int = 5,
    df_cap: int = 1000,
    mode: str = "char",
    candidate_budget: int | None = 50_000_000,
    on_over_budget: str = "raise",
) -> DataFrame:
    """Exact Jaccard over n-gram shingle sets for every pair sharing at
    least one (non-stop) shingle. Computed in the 64-bit shingle-hash
    domain (collision probability ~2^-64 per shingle pair).

    ``mode='char'`` uses k-char shingles; ``mode='word'`` uses k-word
    shingles — far more selective on small-vocabulary text (char
    shingles there are near-universal → quadratic pair blowup).

    Plan shape: explode distinct shingles → drop shingles with document
    frequency > ``df_cap`` (stop-shingles create quadratic bucket
    blowup; dropping them only loses pairs whose entire overlap is
    boilerplate) → hash-join the inverted index with itself on shingle
    → count common shingles per pair → join per-doc set sizes →
    ``jaccard = common / (|A| + |B| - common)``.

    The df-cap bounds the per-shingle worst case but NOT clique blow-up
    (N exact copies share every shingle → C(N, 2) pairs per shingle,
    all under the cap). ``candidate_budget`` guards that: the exact
    Σ C(df, 2) candidate count is aggregated FIRST (cheap — one
    map-side-combined pass over the persisted index), and above the
    budget the operator raises :class:`CandidateBudgetExceeded`
    (``on_over_budget='raise'``) or downgrades to the banded-LSH
    exact-verified path (``'lsh'`` — same scores; recall bounded by
    banding + a 1024-member bucket cap, so duplicate cliques up to
    1024 copies are fully recovered and larger ones should be
    collapsed by exact dedup first — the designed 100 TB posture).
    ``candidate_budget=None`` disables the guard (trusted inputs).
    The result owns the persisted index: ``unpersist()`` releases it.
    """
    with _CacheOwner() as caches:
        # the index feeds doc sizes, shingle DF counts, the guard and
        # both join sides: persist so shingling runs once
        index = caches.persist(_shingle_index(df, text_col, id_col, shingle_k, mode))
        if _fits_budget("ngram_jaccard_pairs", index, df_cap, candidate_budget, on_over_budget):
            pairs = _common_shingles(index, df_cap).select("id_a", "id_b", _jaccard())
            return caches.handoff(pairs.where(F.col("jaccard") >= threshold))
    # identical copies share every band, so a duplicate clique lands in
    # ONE bucket per band — the cap must exceed the clique sizes worth
    # recovering (1024 -> <=0.5M pairs per bucket); collapse
    # mega-cliques with exact dedup first
    return dedup_minhash_verified(
        df, text_col, id_col, threshold, shingle_k=shingle_k, mode=mode, max_bucket=1024
    )


def ngram_jaccard_pairs_prefix(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    shingle_k: int = 5,
    mode: str = "char",
    candidate_budget: int | None = 50_000_000,
    on_over_budget: str = "raise",
) -> DataFrame:
    """Exact n-gram Jaccard pairs via PREFIX FILTERING (the public
    PPJoin/AllPairs family) — same output as
    :func:`ngram_jaccard_pairs` with no document-frequency cap, but the
    self-joined inverted index holds only each doc's PREFIX: with
    shingles canonically ordered rarest-first, two sets with
    ``J ≥ t`` must overlap within their first ``⌈(1−t)·|S|⌉ + 1``
    shingles (pigeonhole on the ``t/(1+t)``-overlap bound), so only
    those need indexing. At ``t = 0.8`` the index — and the quadratic
    bucket work — shrinks ~5×, and rarest-first ordering puts the
    surviving index entries in the LOW-frequency buckets, killing the
    stop-shingle skew the df-cap heuristic existed for (without its
    recall caveat).

    Verification joins candidate pairs back to per-doc sorted
    shingle-hash arrays (bounded by doc length) and computes the exact
    intersection JVM-side (``array_intersect``) — one extra narrow
    join, no Python.

    Prefix filtering shrinks boilerplate skew but not CLIQUE blow-up
    (N exact copies keep identical prefixes), so the same
    ``candidate_budget`` guard as :func:`ngram_jaccard_pairs` applies:
    candidates counted over the (persisted) prefix index before the
    self-join; over budget → raise or LSH downgrade. The result owns
    the persisted indexes: ``unpersist()`` releases them.
    """
    with _CacheOwner() as caches:
        index = caches.persist(_shingle_index(df, text_col, id_col, shingle_k, mode))
        sh_df = index.groupBy("sh").agg(F.count(F.lit(1)).alias("sh_df"))
        # rarest-first canonical order; (sh_df, sh) is a total order
        w_doc = Window.partitionBy("id").orderBy("sh_df", "sh")
        ranked = index.join(sh_df, "sh").select(
            "id",
            "sh",
            F.row_number().over(w_doc).alias("rn"),
            F.count(F.lit(1)).over(Window.partitionBy("id")).alias("n_sh"),
        )
        prefix_len = F.ceil((1.0 - threshold) * F.col("n_sh")).cast("int") + 1
        prefix = ranked.where(F.col("rn") <= prefix_len).select("id", "sh", "n_sh")
        if candidate_budget is not None:
            prefix = caches.persist(prefix)  # feeds the guard count + both join sides
        if _fits_budget(
            "ngram_jaccard_pairs_prefix", prefix, None, candidate_budget, on_over_budget
        ):
            # size filter inside the bucket join: t·|A| ≤ |B| ≤ |A|/t
            cand = (
                prefix.select(F.col("id").alias("id_a"), "sh", F.col("n_sh").alias("n_a"))
                .join(
                    prefix.select(F.col("id").alias("id_b"), "sh", F.col("n_sh").alias("n_b")),
                    "sh",
                )
                .where(
                    (F.col("id_a") < F.col("id_b"))
                    & (F.col("n_b") * F.lit(threshold) <= F.col("n_a"))
                    & (F.col("n_a") * F.lit(threshold) <= F.col("n_b"))
                )
                .select("id_a", "id_b")
                .distinct()
            )
            sets = index.groupBy("id").agg(F.sort_array(F.collect_list("sh")).alias("hs"))
            verified = (
                cand.join(
                    sets.select(F.col("id").alias("id_a"), F.col("hs").alias("hs_a")), "id_a"
                )
                .join(
                    sets.select(F.col("id").alias("id_b"), F.col("hs").alias("hs_b")), "id_b"
                )
                .select(
                    "id_a",
                    "id_b",
                    F.size(F.array_intersect("hs_a", "hs_b")).alias("n_common"),
                    F.size("hs_a").alias("n_a"),
                    F.size("hs_b").alias("n_b"),
                )
                .select("id_a", "id_b", _jaccard())
                .where(F.col("jaccard") >= threshold)
            )
            return caches.handoff(verified)
    # over budget: the same downgrade as ngram_jaccard_pairs
    return dedup_minhash_verified(
        df, text_col, id_col, threshold, shingle_k=shingle_k, mode=mode, max_bucket=1024
    )


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.6,
    shingle_n: int = 3,
    df_cap: int = 1000,
    candidate_budget: int | None = 50_000_000,
    on_over_budget: str = "raise",
) -> DataFrame:
    """Asymmetric near-dup: containment = |A ∩ B| / min(|A|, |B|) over
    word n-gram sets, computed in the 64-bit shingle-hash domain
    (collision probability ~2^-64 per shingle pair). Catches SUBSET
    duplication — a short doc quoted
    wholesale inside a much longer one — which symmetric Jaccard
    misses (|A ∩ B| / |A ∪ B| stays small when |B| ≫ |A|). Returns
    both scores so the gap (high containment, low jaccard) flags the
    embedded-copy case specifically.

    Same inverted-index shape as :func:`ngram_jaccard_pairs` (explode
    distinct shingles, document-frequency cap against stop-shingle
    bucket blowup, self-join on shingle, one pair-count hash-agg) —
    the only change is the denominator, so the 100 TB posture is
    identical: shuffles carry shingles and ids, never document text —
    including the ``candidate_budget`` clique-blow-up guard. The
    ``'lsh'`` downgrade uses symmetric MinHash banding for candidates,
    which under-recalls the ASYMMETRIC subset case (a short doc inside
    a much longer one has high containment but low Jaccard, so its
    bands rarely collide) — on over-budget corpora the blow-up is
    clique-shaped near-identical copies, which banding catches for
    cliques up to its bucket cap (1024 members here; collapse larger
    identical-copy cliques with exact dedup first — their pair lists
    are output-infeasible regardless of algorithm); the raise default
    stays right when embedded-copy recall matters. The result owns
    the caches it reads: ``unpersist()`` releases them.
    """
    with _CacheOwner() as caches:
        index = caches.persist(_shingle_index(df, text_col, id_col, shingle_n, "word"))
        if _fits_budget(
            "ngram_containment_pairs", index, df_cap, candidate_budget, on_over_budget
        ):
            pairs = _common_shingles(index, df_cap).select(
                "id_a", "id_b", _containment(), _jaccard()
            )
            return caches.handoff(pairs.where(F.col("containment") >= threshold))
    # over budget (the index is released): banded LSH candidates, exact scores
    with _CacheOwner() as caches:
        sigs = caches.persist(
            minhash_signatures(df, text_col, id_col, shingle_k=shingle_n, mode="word")
        )
        verified = caches.own(
            verify_pairs_exact_jaccard(
                minhash_candidate_pairs(sigs, max_bucket=1024), df, text_col, id_col,
                shingle_n, mode="word", include_containment=True,
            )
        )
        return caches.handoff(verified.where(F.col("containment") >= threshold))


# ---------------------------------------------------------------------------
# Bloom-pruned incremental exact dedup
# ---------------------------------------------------------------------------


def bloom_dedup_new(
    new_docs: DataFrame,
    history: DataFrame,
    key: Column | str,
    id_col: str = "doc_id",
    expected_items: int | None = None,
    fpp: float = 0.01,
    num_bits: int | None = None,
    num_hashes: int | None = None,
) -> DataFrame:
    """Exact incremental dedup: rows of ``new_docs`` whose ``key`` does
    not appear in ``history``, keeping the min-``id_col`` row per key
    within the new batch. The result is EXACT — the bloom filter only
    prunes; its false positives are eliminated by the verify join.

    100 TB shape: the history corpus is scanned (never shuffled) twice
    — once to build a fixed-size bloom bitset, once under a broadcast
    LeftSemi probe restricted to the few bloom-surviving candidate
    keys. The new batch (assumed ≪ history) pays one small shuffle for
    the within-batch min-id pick. Size the filter with
    ``expected_items`` ≈ distinct history keys (from table metadata at
    scale; an exact count is only acceptable on small inputs) or pass
    ``num_bits``/``num_hashes`` directly.
    """
    from . import bloom as _bloom

    key_col = F.col(key) if isinstance(key, str) else key
    if num_bits is None or num_hashes is None:
        if expected_items is None:
            raise ValueError(
                "bloom_dedup_new needs expected_items (approx distinct history "
                "keys) or explicit num_bits + num_hashes"
            )
        num_bits, num_hashes = _bloom.bloom_params(expected_items, fpp)

    hist_keys = history.select(key_col.alias("__k"))
    new_keyed = new_docs.withColumn("__k", key_col)
    filt = _bloom.bloom_build(hist_keys, "__k", num_bits, num_hashes)
    candidates = _bloom.bloom_filter_might_contain(
        new_keyed, "__k", filt, num_bits, num_hashes, id_col
    )
    # Only candidate keys (dup fraction + fpp of the batch) probe the
    # history: broadcast semi join — no history shuffle, no sort.
    matched_keys = (
        hist_keys.join(
            F.broadcast(candidates.select("__k").distinct()), "__k", "left_semi"
        )
        .distinct()
    )
    fresh = new_keyed.join(F.broadcast(matched_keys), "__k", "left_anti")
    w = Window.partitionBy("__k").orderBy(F.col(id_col))
    return (
        fresh.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn", "__k")
    )
