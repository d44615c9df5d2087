"""Incremental ingestion: scheduled availableNow streaming runs.

The production Spark pattern for "process only what's new on a cron":
a Structured-Streaming query with a checkpoint, fired with
``trigger(availableNow=True)`` by the scheduler. Each run drains
exactly the files that arrived since the last checkpointed offset and
terminates — cron cadence (O7) + streaming exactly-once bookkeeping,
without a resident cluster job.

This replaces hand-rolled "remember which files I processed" state
(the reference's metadata-DB bookkeeping) with the engine's native
offset log.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def incremental_ingest(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType | str,
    checkpoint_dir: str,
    output_dir: str,
    transform: Callable[[DataFrame], DataFrame] | None = None,
    source_format: str = "parquet",
    output_format: str = "parquet",
    timeout_s: float = 300.0,
) -> bool:
    """Drain all currently-available new files from ``source_dir``
    through ``transform`` into ``output_dir``, exactly once across
    runs (checkpointed file offsets). Returns the query's termination
    status. Designed to be a Pipeline task body fired on a schedule."""
    stream = spark.readStream.schema(schema).format(source_format).load(source_dir)
    if transform is not None:
        stream = transform(stream)
    q = (
        stream.writeStream.format(output_format)
        .option("checkpointLocation", checkpoint_dir)
        .option("path", output_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    done = q.awaitTermination(timeout_s)
    if not done:
        # leaving the query running would race the next scheduled run
        # on the same checkpoint ("Cannot start query with the same
        # checkpoint location concurrently")
        q.stop()
    return done


def incremental_task(
    source_dir: str,
    schema: T.StructType | str,
    checkpoint_dir: str,
    output_dir: str,
    transform: Callable[[DataFrame], DataFrame] | None = None,
    **kwargs,
):
    """A ready-made Pipeline task body: ``@p.task(...)(incremental_task(...))``."""

    def run(ctx) -> dict:
        ok = incremental_ingest(
            ctx.spark, source_dir, schema, checkpoint_dir, output_dir,
            transform, **kwargs,
        )
        if not ok:
            raise RuntimeError("incremental ingest did not terminate in time")
        return {"drained": True}

    run.__name__ = "incremental_ingest"
    return run


def idempotent_batch_writer(
    output_dir: str, fmt: str = "parquet"
) -> Callable[[DataFrame, int], None]:
    """An effectively-once ``foreachBatch`` sink: each micro-batch
    lands in its own ``batch_id=<id>`` partition directory with
    ``mode("overwrite")``. ``foreachBatch`` is at-least-once — a crash
    between the sink write and the checkpoint commit replays the batch
    — but a replay here overwrites its own partition instead of
    appending duplicates. Read the result as one partitioned table
    (``spark.read.parquet(output_dir)``); downstream sees each batch
    exactly once.

    (`dedup_ingest` below doesn't need this: its history append is
    self-healing because a replayed batch re-deduplicates against the
    history that already contains it.)"""

    def _write(batch: DataFrame, batch_id: int) -> None:
        batch.write.mode("overwrite").format(fmt).save(
            f"{output_dir}/batch_id={batch_id}"
        )

    return _write


def dedup_ingest(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType | str,
    checkpoint_dir: str,
    history_dir: str,
    key,
    id_col: str = "doc_id",
    expected_items: int = 1_000_000,
    fpp: float = 0.01,
    source_format: str = "parquet",
    timeout_s: float = 300.0,
) -> bool:
    """Streaming exact-dedup ingest: each micro-batch is deduplicated
    against the ever-growing history corpus via the bloom-pruned path
    (``dedup.bloom_dedup_new`` — history scanned, never shuffled) and
    survivors are appended to the history. Cross-batch AND cross-run
    exact dedup with per-batch cost proportional to the batch, not the
    corpus; the checkpoint gives exactly-once batch accounting.

    ``key`` is a Column or column name defining content identity.
    Runs with ``availableNow`` so a scheduler can fire it per interval
    (same cadence model as ``incremental_ingest``).
    """
    from pyspark.sql import functions as F

    from ..operators import dedup as _dedup

    def _handle(batch: DataFrame, _bid: int) -> None:
        # existence via the reader, NOT os.path: a driver-local isdir is
        # always False for remote stores (s3://, hdfs://), which would
        # take the first-batch branch forever and append duplicates
        # while reporting success
        from pyspark.errors import AnalysisException

        try:
            hist = batch.sparkSession.read.parquet(history_dir)
            hist.schema  # force resolution (PATH_NOT_FOUND surfaces here)
            exists = True
        except AnalysisException:
            # missing/empty history only — transient read failures
            # propagate rather than silently skipping cross-batch dedup
            exists = False
        if exists:
            fresh = _dedup.bloom_dedup_new(
                batch, hist, key, id_col=id_col,
                expected_items=expected_items, fpp=fpp,
            )
        else:
            # first batch: only within-batch dedup (min id per key)
            key_col = F.col(key) if isinstance(key, str) else key
            fresh = (
                batch.withColumn("__k", key_col)
                .groupBy("__k")
                .agg(F.min_by(F.struct(batch.columns), F.col(id_col)).alias("__r"))
                .select("__r.*")
            )
        fresh.write.mode("append").parquet(history_dir)

    stream = spark.readStream.schema(schema).format(source_format).load(source_dir)
    q = (
        stream.writeStream.foreachBatch(_handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    done = q.awaitTermination(timeout_s)
    if not done:
        q.stop()  # do not leave a writer racing the next run's query
    return done


def neardup_ingest(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType | str,
    checkpoint_dir: str,
    history_dir: str,
    sig_store_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    source_format: str = "parquet",
    timeout_s: float = 300.0,
) -> bool:
    """Streaming NEAR-duplicate ingest (the fuzzy sibling of
    ``dedup_ingest``): each micro-batch is MinHash-signed, banded
    against the persistent signature store, and batch docs that
    near-match history — or a smaller-id batch sibling — are dropped;
    survivors append to the history corpus. Per-batch cost is the
    batch's signatures + one banded join against the store (signatures
    shuffle, text never does), so ingest cost tracks arrival rate at
    100 TB corpus sizes.

    Signatures of dropped docs stay in the store — they are content
    proxies of their surviving cluster-mate, so future matches against
    them produce the same drop decisions at zero extra cost.

    availableNow + checkpoint: each batch is folded exactly once
    across process restarts."""
    from pyspark.sql import functions as F

    from ..operators import dedup as _dedup
    from ..operators.caching import _CacheOwner

    def _handle(batch: DataFrame, _bid: int) -> None:
        if not batch.take(1):
            return
        # every checkpoint and cache of the batch is released when it
        # has been appended, so a long-running stream holds none of them
        with _CacheOwner() as caches:
            batch = caches.truncate(batch)
            pairs = caches.own(
                _dedup.incremental_neardup(
                    spark,
                    batch,
                    sig_store_dir,
                    text_col=text_col,
                    id_col=id_col,
                    threshold=threshold,
                )
            )
            batch_ids = batch.select(F.col(id_col).alias("id"))
            if pairs.take(1):
                clusters = caches.own(_dedup.dedup_clusters(pairs))
                # a batch doc survives iff it IS its cluster's min label
                # AND that label is not a historical doc (history ids in
                # the pair graph are exactly the non-batch ids)
                member = clusters.join(batch_ids, "id", "left_semi")
                hist_labels = clusters.join(
                    batch_ids, "id", "left_anti"
                ).select(F.col("cluster").alias("__hc")).distinct()
                drop = (
                    member.join(
                        hist_labels,
                        member.cluster == F.col("__hc"),
                        "left_semi",
                    )
                    .select("id")
                    .unionByName(
                        member.where(F.col("id") != F.col("cluster")).select("id")
                    )
                    .distinct()
                    .withColumnRenamed("id", id_col)
                )
                survivors = batch.join(drop, id_col, "left_anti")
            else:
                survivors = batch
            # replay safety: foreachBatch is at-least-once — a crash between
            # this append and the checkpoint commit replays the batch, so
            # re-filter against ids already IN history (same self-healing
            # contract as dedup_ingest) before appending
            from pyspark.errors import AnalysisException

            try:
                seen = spark.read.parquet(history_dir).select(id_col)
            except AnalysisException:
                seen = None
            if seen is not None:
                survivors = caches.truncate(survivors.join(seen, id_col, "left_anti"))
            survivors.write.mode("append").parquet(history_dir)

    stream = spark.readStream.schema(schema).format(source_format).load(
        source_dir
    )
    q = (
        stream.writeStream.foreachBatch(_handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    return q.awaitTermination(timeout_s)


def _write_batch_sketch(
    sketch: DataFrame, sketch_dir: str, batch_id: int
) -> None:
    """Write one micro-batch's Count-Min counters under its batch-id
    partition with per-partition overwrite: a replayed batch (at-least-
    once foreachBatch) OVERWRITES its own partition instead of
    appending a second copy, so counters never double-count — the
    additive-merge analog of ``idempotent_batch_writer``."""
    from pyspark.sql import functions as F

    spark = sketch.sparkSession
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", None)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (
            sketch.withColumn("batch_id", F.lit(int(batch_id)))
            .write.mode("overwrite")
            .partitionBy("batch_id")
            .parquet(sketch_dir)
        )
    finally:
        if prev is not None:
            spark.conf.set(
                "spark.sql.sources.partitionOverwriteMode", prev
            )
        else:
            # conf.get(key, None) returns None for a never-set conf
            # (it does NOT surface the SQLConf default "static"), so
            # restoring requires unset — skipping would leave the
            # session permanently in "dynamic" mode and make later
            # plain overwrite+partitionBy writes retain stale
            # partitions.
            spark.conf.unset("spark.sql.sources.partitionOverwriteMode")


def heavy_hitter_ingest(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType | str,
    checkpoint_dir: str,
    sketch_dir: str,
    key_col: str,
    depth: int = 4,
    width: int = 256,
    source_format: str = "parquet",
    timeout_s: float = 300.0,
) -> bool:
    """Streaming heavy-hitter counting with FIXED-SIZE state: each
    micro-batch reduces to a Count-Min counter grid (depth×width rows
    regardless of key cardinality — the property an exact count table
    loses at 100 TB key spaces), written replay-safe per batch-id.
    ``merged_sketch`` aggregates the partitions by addition (Count-Min
    counters are mergeable), and point estimates never undercount.

    Runs with ``availableNow`` like the other ingest tasks — fire per
    scheduler interval, drain what arrived, exit."""
    from ..operators import sketches as _sketches

    def _handle(batch: DataFrame, batch_id: int) -> None:
        sk = _sketches.countmin_counts(batch, key_col, depth, width)
        _write_batch_sketch(sk, sketch_dir, batch_id)

    stream = (
        spark.readStream.schema(schema).format(source_format).load(source_dir)
    )
    q = (
        stream.writeStream.foreachBatch(_handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    done = q.awaitTermination(timeout_s)
    if not done:
        q.stop()
    return done


def merged_sketch(spark: SparkSession, sketch_dir: str) -> DataFrame:
    """The cross-batch Count-Min sketch: per-batch counter partitions
    summed by (row, bucket) — additive merge, exactly the distributed
    pre-aggregation shape."""
    from pyspark.sql import functions as F

    return (
        spark.read.parquet(sketch_dir)
        .groupBy("row", "bucket")
        .agg(F.sum("c").alias("c"))
    )
