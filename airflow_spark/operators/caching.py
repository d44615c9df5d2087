"""Cache ownership for operators that persist or checkpoint frames.

:class:`_CacheOwner` tracks every frame an operator caches and releases
the ones it does not hand to its caller, on return, raise and a
cancelled job group. :class:`_TruncatedFrame` is a frame whose
``unpersist()`` releases the caches it was derived from: a
``localCheckpoint``'s pinned blocks, or the persisted frames it reads.
The iterative graph loops, the dedup cluster family, the near-duplicate
pair operators (MinHash, the exact n-gram trio, their exact
verification) and the streaming near-dup ingest all use these two
classes.
"""

from __future__ import annotations

import contextlib
import uuid

from pyspark.sql import DataFrame

# subclass the CLASSIC DataFrame: pyspark.sql.DataFrame is a
# classic/connect dispatcher in 4.x whose __new__ would not honor a
# plain subclass (this engine always runs a classic local JVM session)
from pyspark.sql.classic.dataframe import DataFrame as _ClassicDataFrame


class _TruncatedFrame(_ClassicDataFrame):
    """A frame whose ``unpersist()`` releases the caches it reads.

    Each of ``owners`` is released by its own ``unpersist``: a
    checkpointed RDD (a projection of a checkpoint wrapped with it owns
    those blocks; after unpersist the frame is NOT recomputable, its
    lineage was truncated away), or a cached frame it is derived from,
    itself possibly a ``_TruncatedFrame``. A lazy result that reads
    several caches owns them all, so one ``unpersist()`` frees them."""

    def __new__(cls, df: DataFrame, *owners) -> _TruncatedFrame:
        # the classic __new__ takes exactly (jdf, session) and runs
        # __init__ itself; Python runs this class's __init__ instead
        return object.__new__(cls)

    def __init__(self, df: DataFrame, *owners) -> None:
        super().__init__(df._jdf, df.sparkSession)
        self._owners = owners

    def unpersist(self, blocking: bool = False) -> DataFrame:
        for owner in self._owners:
            owner.unpersist(blocking)
        return self


class _CacheOwner:
    """Owns every frame an operator caches.

    ``persist`` and ``truncate`` cache a frame and track it; ``own``
    tracks a frame that something else already materialized and whose
    ``unpersist()`` releases it; ``drop`` releases a tracked frame the
    operator has superseded (untracked frames, ``None`` included, are
    left alone); ``keep`` hands a tracked frame to the caller, and
    ``handoff`` hands every tracked frame to a lazy result that reads
    them. On exit every tracked frame not kept is released, on every
    path: return, raise, and a cancelled job group. A failure to
    release never replaces the operator's own exception."""

    def __init__(self) -> None:
        self._held: list[DataFrame] = []

    def __enter__(self) -> _CacheOwner:
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        held, self._held = self._held, []
        failed = None
        for df in reversed(held):
            try:
                df.unpersist()
            except Exception as e:  # release the rest first
                failed = failed or e
        if failed is not None and exc_type is None:
            raise failed

    def _untrack(self, df) -> bool:
        n = len(self._held)
        self._held = [h for h in self._held if h is not df]
        return len(self._held) < n

    def persist(self, df: DataFrame) -> DataFrame:
        df = df.persist()
        self._held.append(df)
        return df

    def own(self, df: DataFrame) -> DataFrame:
        self._held.append(df)
        return df

    def truncate(self, df: DataFrame) -> DataFrame:
        """Materialize ``df`` AND truncate its lineage with
        ``localCheckpoint(eager=True)``: ONE job computes the segment
        once and pins the blocks executor-local. A plain persist caches
        the data but Catalyst still re-analyzes the full N-round logical
        plan on every later action, so planning cost grows with rounds —
        measured 2.4x on a 10-round PageRank whose final frame was
        persisted but not truncated (and 95 s of pure planning on an
        untruncated component loop at sf0.1)."""
        sc = df.sparkSession.sparkContext
        # The checkpoint RDD is pinned BEFORE its job runs, so a job
        # that fails or is cancelled leaves it registered with no frame
        # to release it by. A unique creation site (a thread-local
        # property) identifies it on that path.
        site = f"caching.truncate-{uuid.uuid4().hex}"
        outer = sc.getLocalProperty("callSite.short")
        sc.setLocalProperty("callSite.short", site)
        try:
            lc = df.localCheckpoint(eager=True)
        except BaseException:
            with contextlib.suppress(Exception):
                pinned = sc._jsc.getPersistentRDDs()
                for rid in pinned.keySet().toArray():
                    r = pinned.get(rid)
                    if r.rdd().creationSite().shortForm() == site:
                        r.unpersist()
            raise
        finally:
            sc.setLocalProperty("callSite.short", outer)
        # DataFrame.unpersist only clears CacheManager entries, and a
        # localCheckpoint never registers one — its blocks are pinned
        # on the RDD itself (the LogicalRDD leaf of the plan)
        out = _TruncatedFrame(lc, lc._jdf.queryExecution().analyzed().rdd())
        self._held.append(out)
        return out

    def drop(self, df: DataFrame | None) -> None:
        if self._untrack(df):
            df.unpersist()

    def keep(self, df: DataFrame) -> DataFrame:
        self._untrack(df)
        return df

    def handoff(self, df: DataFrame) -> _TruncatedFrame:
        held, self._held = self._held, []
        return _TruncatedFrame(df, *held)
