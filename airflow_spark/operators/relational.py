"""Relational operators Spark lacks as single calls — built as
shuffle-efficient compositions (SURVEY.md §2.3 'declared engine
capabilities'): as-of joins and interval (range) joins.

Both avoid the naive non-equi-join plan (BroadcastNestedLoopJoin /
cartesian at scale):

- ``asof_join``: union both sides, ONE shuffle on (key), sort within
  partitions, carry the most recent right row forward with
  last(ignorenulls) — the merge-join formulation of as-of.
- ``interval_join``: explode each interval into the time buckets it
  covers, equi-join on (key, bucket), residual-filter the exact range —
  turning an inequality join into a hash join whose fan-out is bounded
  by interval_span / bucket.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_cols: list[str] | None = None,
    suffix: str = "_r",
    direction: str = "backward",
    tolerance_s: float | None = None,
) -> DataFrame:
    """For each left row, attach the matching right row on the same
    key: the latest with ``right_ts <= left_ts`` (``direction=
    "backward"``, inclusive — the default), the earliest with
    ``right_ts >= left_ts`` (``"forward"``), or whichever of the two is
    closer in time (``"nearest"``, ties to backward). With
    ``tolerance_s`` the match is discarded (NULLs) when it is more than
    that many seconds away — all three pandas ``merge_asof`` axes,
    distributed.

    One shuffle (hash on key), one sort per partition — the same cost
    as a sort-merge join, with no row explosion (``nearest`` pays a
    second sort of the same shuffled partition for the forward carry).
    Left rows keep all their columns; matched right columns arrive
    suffixed, NULL when no right row qualifies.
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(
            f"asof_join: direction must be 'backward', 'forward', or "
            f"'nearest', got {direction!r}"
        )
    if right_cols is None:
        right_cols = [c for c in right.columns if c != key]
    lcols = left.columns
    # carry the right timestamp internally for the tolerance check
    carry_cols = list(right_cols)
    if right_ts not in carry_cols:
        carry_cols.append(right_ts)

    # carry the matched right row as ONE struct, not per-column lasts:
    # last(col, ignorenulls) per column would skip a matched row's NULL
    # field and fill it from an OLDER row — a chimera mixing values of
    # different right rows (and a tolerance check against the wrong
    # row's timestamp). The struct is non-null exactly when a right row
    # exists, so the whole row matches or none of it does.
    r_struct = F.struct(*[F.col(c).alias(c) for c in carry_cols])
    struct_type = right.select(r_struct.alias("__r")).schema["__r"].dataType
    l_tag = left.select(
        F.col(key),
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__is_left"),
        *[F.col(c).alias(f"__l_{c}") for c in lcols],
        F.lit(None).cast(struct_type).alias("__r"),
    )
    r_tag = right.select(
        F.col(key),
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__is_left"),
        *[F.lit(None).cast(dict(left.dtypes)[c]).alias(f"__l_{c}") for c in lcols],
        r_struct.alias("__r"),
    )
    # right rows sort before left rows at equal ts → inclusive bounds
    w_back = (
        Window.partitionBy(key)
        .orderBy(F.col("__ts").asc(), F.col("__is_left").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # scanning time DESCENDING makes "last seen" the earliest right row
    # at-or-after
    w_fwd = (
        Window.partitionBy(key)
        .orderBy(F.col("__ts").desc(), F.col("__is_left").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    union = l_tag.unionByName(r_tag)
    if direction == "backward":
        carried = union.select(
            "*", F.last("__r", ignorenulls=True).over(w_back).alias("__m")
        )
    elif direction == "forward":
        carried = union.select(
            "*", F.last("__r", ignorenulls=True).over(w_fwd).alias("__m")
        )
    else:  # nearest: both carries over the SAME shuffle, pick per row
        mb = F.last("__r", ignorenulls=True).over(w_back)
        mf = F.last("__r", ignorenulls=True).over(w_fwd)
        both = union.select("*", mb.alias("__mb"), mf.alias("__mf"))
        dist_b = (
            F.col("__ts").cast("double")
            - F.col(f"__mb.{right_ts}").cast("double")
        )
        dist_f = (
            F.col(f"__mf.{right_ts}").cast("double")
            - F.col("__ts").cast("double")
        )
        carried = both.select(
            "*",
            F.when(F.col("__mb").isNull(), F.col("__mf"))
            .when(F.col("__mf").isNull(), F.col("__mb"))
            # ties go to backward — pandas merge_asof semantics
            .when(dist_b <= dist_f, F.col("__mb"))
            .otherwise(F.col("__mf"))
            .alias("__m"),
        ).drop("__mb", "__mf")
    out = carried.where(F.col("__is_left") == 1)
    if tolerance_s is not None:
        within = (
            F.abs(
                F.col("__ts").cast("double")
                - F.col(f"__m.{right_ts}").cast("double")
            )
            <= F.lit(float(tolerance_s))
        )
        matched = F.when(within, F.col("__m"))
    else:
        matched = F.col("__m")
    out = out.select("*", matched.alias("__mt"))
    return out.select(
        *[F.col(f"__l_{c}").alias(c) for c in lcols],
        *[F.col(f"__mt.{c}").alias(f"{c}{suffix}") for c in right_cols],
    )


def interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "ts",
    start_col: str = "start",
    end_col: str = "end",
    bucket: str = "1 hour",
) -> DataFrame:
    """Join left events to right intervals: same key and
    ``start <= ts < end``.

    The interval side explodes into every ``bucket`` it covers; the
    event side computes its bucket; the join is a plain (key, bucket)
    hash join with the exact range as a residual filter — no
    BroadcastNestedLoopJoin, scalable on both sides. Choose ``bucket``
    near the typical interval length (fan-out = span/bucket + 1).
    """
    ev = left.withColumn("__bucket", F.date_trunc(_unit(bucket), F.col(left_ts)))
    iv = right.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                F.date_trunc(_unit(bucket), F.col(start_col)),
                # a malformed end < start interval would make sequence
                # throw and fail the whole job — clamp, it matches no
                # event anyway (the residual filter is empty for it)
                F.greatest(
                    F.date_trunc(_unit(bucket), F.col(end_col)),
                    F.date_trunc(_unit(bucket), F.col(start_col)),
                ),
                F.expr(f"INTERVAL {bucket}"),
            )
        ),
    )
    # qualify the residual predicate per side: a shared column name
    # (e.g. 'ts' on both) would otherwise be AMBIGUOUS_REFERENCE
    return (
        ev.join(iv, [key, "__bucket"])
        .where((ev[left_ts] >= iv[start_col]) & (ev[left_ts] < iv[end_col]))
        .drop("__bucket")
    )


def _unit(bucket: str) -> str:
    # '1 hour' → 'hour' (date_trunc unit); only single-unit buckets
    parts = bucket.split()
    if len(parts) != 2 or parts[0] != "1":
        raise ValueError(f"bucket must be a single unit like '1 hour', got {bucket!r}")
    return parts[1].rstrip("s")


def reduced_join(
    big: DataFrame,
    small: DataFrame,
    on: list[str],
    how: str = "inner",
) -> DataFrame:
    """Semi-join reduction: prune the big side by a BROADCAST of the
    small side's distinct join keys before the shuffle join.

    The classic distributed-join optimization for the case where the
    small side is too WIDE to broadcast whole (large payload columns)
    but its distinct key set is narrow: ship only the keys, drop the
    big side's non-matching rows scan-side, and shuffle only survivors
    into the real join. At 100 TB with a selective dim filter this cuts
    the fact-side shuffle by the dim's selectivity — the same effect
    Spark's runtime bloom filter targets, but exact and explicit.

    Only ``how='inner'`` (and ``'left_semi'``) preserve semantics under
    pruning — outer joins must keep unmatched big-side rows, so they
    are rejected.
    """
    if how not in ("inner", "left_semi"):
        raise ValueError(
            f"reduced_join preserves semantics only for inner/left_semi, got {how!r}"
        )
    keys = small.select(*on).distinct()
    pruned = big.join(F.broadcast(keys), on=on, how="left_semi")
    if how == "left_semi":
        return pruned
    return pruned.join(small, on=on, how="inner")


def running_total(
    df: DataFrame,
    key: str,
    order_by: list[str],
    value_col: str,
    out_col: str = "running_total",
) -> DataFrame:
    """W4 frame-spec aggregate: cumulative sum per key (rows unbounded
    preceding → current)."""
    w = (
        Window.partitionBy(key)
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return df.withColumn(out_col, F.sum(value_col).over(w))
