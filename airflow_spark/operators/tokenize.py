"""Real BPE subword tokenization, Spark-first.

Byte-pair-encoding is inherently sequential per word (each merge
depends on the previous one), so it cannot be a Catalyst expression —
this is one of the few legitimately Python operators in the repo, run
as one Arrow-batched ``pystage.map_rows`` stage with the learned merge
table broadcast as a plan literal (the IVF-centroid pattern:
``operators/similarity.py``). Everything around it stays engine-side:
the corpus is never collected, and a per-partition word cache means
each distinct word in a partition is tokenized once.

Training is deliberately ENGINE-INDEPENDENT pure Python over the
parquet word counts (via duckdb) — merges are model parameters, like
k-means centroids, so both the Spark operator and the DuckDB oracle
derive them from the same file and the driver's hash check attests
that the distributed application matches an independent reference
tokenization word-for-word.

Scale: training cost is bounded by VOCABULARY (distinct words), not
corpus size; application is embarrassingly parallel over documents
with merge ranks broadcast. At 100 TB the only change is training the
word counts distributed (one groupBy) before the bounded driver-side
merge loop — ``train_bpe`` accepts any word→count mapping.

Replaces the round-1 "BPE-ish regex" token counter with the real
algorithm (SURVEY.md §2 text-analysis row).
"""

from __future__ import annotations

import re
from collections import Counter

from pyspark.sql import DataFrame
from pyspark.sql import functions as F  # noqa: F401  (parity with siblings)
from pyspark.sql import types as T

from .pystage import map_rows
from .width import ensure_wide

_WS = re.compile(r"\s+")


def word_counts_from_parquet(path: str) -> dict[str, int]:
    """Lower-cased whitespace word frequencies of a documents parquet,
    computed OUTSIDE Spark (duckdb) so oracle and engine share one
    deterministic training input."""
    import os

    import duckdb

    target = os.path.join(path, "documents.parquet")
    if os.path.isdir(target):  # directory-style parquet (Spark writes)
        target = os.path.join(target, "*.parquet")
    rows = duckdb.sql(
        f"""
        SELECT w, count(*) AS c FROM (
          SELECT unnest(string_split_regex(lower(text), '\\s+')) AS w
          FROM read_parquet('{target}'))
        WHERE w <> '' GROUP BY w
        """
    ).fetchall()
    return {w: int(c) for w, c in rows}


def train_bpe(
    word_counts: dict[str, int], n_merges: int = 50
) -> list[tuple[str, str]]:
    """Classic BPE training: repeatedly merge the most frequent
    adjacent symbol pair. Fully deterministic — ties on count break to
    the lexicographically smallest pair. Cost is O(n_merges × vocab),
    independent of corpus size."""
    vocab: dict[tuple[str, ...], int] = {
        tuple(w): c for w, c in word_counts.items() if w
    }
    merges: list[tuple[str, str]] = []
    for _ in range(int(n_merges)):
        pairs: Counter = Counter()
        for syms, c in vocab.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += c
        if not pairs:
            break
        # most frequent pair; ties break to the lexicographically
        # smallest so training is fully deterministic
        pair = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(pair)
        merged = pair[0] + pair[1]
        new_vocab: dict[tuple[str, ...], int] = {}
        for syms, c in vocab.items():
            out: list[str] = []
            i = 0
            while i < len(syms):
                if (
                    i < len(syms) - 1
                    and syms[i] == pair[0]
                    and syms[i + 1] == pair[1]
                ):
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            t = tuple(out)
            new_vocab[t] = new_vocab.get(t, 0) + c
        vocab = new_vocab
    return merges


def bpe_word_tokens(
    word: str, ranks: dict[tuple[str, str], int]
) -> list[str]:
    """Apply trained merges to one word (greedy lowest-rank-first —
    the standard BPE inference loop)."""
    syms = list(word)
    while len(syms) > 1:
        best_rank = None
        best_i = -1
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_rank is None:
            break
        syms[best_i : best_i + 2] = [syms[best_i] + syms[best_i + 1]]
    return syms


def bpe_token_counts(
    df: DataFrame,
    id_col: str,
    text_col: str,
    merges: list[tuple[str, str]],
) -> DataFrame:
    """Distributed BPE application: per document, the whitespace words
    of lower(text) tokenized under ``merges``. Returns
    (id, n_words, n_tokens, roundtrip_ok) where roundtrip_ok attests
    every word reassembles exactly from its subword tokens.

    One ``map_rows`` stage; ``merges`` ride the closure as plan
    literals (train once, broadcast everywhere), and a per-partition
    word cache collapses the per-word cost to once per distinct word."""
    ranks = {tuple(p): i for i, p in enumerate(merges)}
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("n_words", T.LongType()),
            T.StructField("n_tokens", T.LongType()),
            T.StructField("roundtrip_ok", T.BooleanType()),
        ]
    )

    def bpe_tokens():
        cache: dict[str, list[str]] = {}

        def row(i, txt):
            # NULL text arrives as None (or NaN via pandas) — that is
            # zero words, not the literal string 'none'/'nan'
            text = txt if isinstance(txt, str) else ""
            words = [w for w in _WS.split(text.lower()) if w]
            n_tok = 0
            rt = True
            for w in words:
                tk = cache.get(w)
                if tk is None:
                    tk = cache[w] = bpe_word_tokens(w, ranks)
                n_tok += len(tk)
                rt = rt and "".join(tk) == w
            return i, len(words), n_tok, rt

        return row

    # 1-file scans would run the whole Arrow pipeline on one core
    return map_rows(ensure_wide(df.select(id_col, text_col), id_col), schema, bpe_tokens)


def word_counts_from_df(
    df: DataFrame, text_col: str = "text", max_vocab: int = 100_000
) -> dict[str, int]:
    """Distributed word-frequency training input: one explode +
    grouped count (map-side combine), top-``max_vocab`` collected
    DETERMINISTICALLY (count desc, then word — a bare limit would keep
    an arbitrary subset). The collect is bounded by vocabulary, never
    corpus size — this is the 100 TB training front-end; the parquet
    variant exists so the DuckDB oracle can derive identical counts."""
    from ..functions.text import tokens_ws

    rows = (
        df.select(
            F.explode(tokens_ws(F.lower(F.col(text_col)))).alias("w")
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), F.col("w"))
        .limit(int(max_vocab))
        .collect()
    )
    return {r["w"]: int(r["c"]) for r in rows}
