"""Structured Streaming surface.

The reference is batch-only (SURVEY.md §2.8); the engine adds streaming
ingest because the north-star pipeline is continuous: cell assignment is a
stateless map, so the batch operators run unchanged per micro-batch.

- ``stream_assign_cells`` — stateless streaming transform (no state store)
- ``windowed_event_counts`` — tumbling window + watermark for late data
- ``stream_point_in_polygon`` — foreachBatch wrapper running the batch
  broadcast ``point_in_polygon_join`` against a (small) polygon table per
  micro-batch
- ``sessionize`` + ``stitch_partial_sessions`` — gap sessions as native
  ``session_window`` partials per (user, time shard), merged per user
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geoio_jl_spark.operators.cells import cell_id_col


def stream_assign_cells(stream: DataFrame, lon_i: str = "lon_i",
                        lat_i: str = "lat_i", res: int = 5) -> DataFrame:
    return stream.withColumn("cell_id", cell_id_col(lon_i, lat_i, res))


def windowed_event_counts(stream: DataFrame, ts: str = "ts",
                          key: str = "event_type", window: str = "5 minutes",
                          watermark: str = "10 minutes",
                          value_col: str | None = "value") -> DataFrame:
    """``value_col=None`` counts only (for streams without a numeric
    value column)."""
    aggs = [F.count("*").alias("n_events")]
    if value_col is not None:
        aggs.append(
            F.sum(F.floor(F.col(value_col) * 1000000).cast("bigint"))
            .alias("value_sum_e6"))
    return (
        stream.withWatermark(ts, watermark)
        .groupBy(F.window(F.col(ts), window).alias("w"), F.col(key))
        .agg(*aggs)
        .select(F.col("w.start").alias("window_start"), key, "n_events",
                *([] if value_col is None else ["value_sum_e6"]))
    )


def stream_exact_dedup(stream: DataFrame, ts: str = "ts",
                       text: str = "text",
                       watermark: str = "10 minutes") -> DataFrame:
    """Streaming exact dedup: first occurrence of each md5(text) wins;
    `dropDuplicatesWithinWatermark` bounds the dedup state store to the
    watermark horizon — unbounded streams never accumulate unbounded
    hash state (the batch exact_duplicates analog for ingest pipelines)."""
    hashed = stream.withColumn("text_hash", F.md5(F.col(text)))
    return (hashed.withWatermark(ts, watermark)
            .dropDuplicatesWithinWatermark(["text_hash"]))


def stream_url_dedup(stream: DataFrame, ts: str = "ts",
                     url: str = "url",
                     watermark: str = "10 minutes") -> DataFrame:
    """Streaming URL-level dedup: canonicalize (functions/urls.py — one
    codegen expression, no UDF) and keep the first occurrence of each
    canonical form within the watermark horizon.  The ingest-side twin
    of the batch `url_dup_groups` pass: at crawl scale the same page is
    re-fetched under utm/fragment/case variants within hours, so
    watermark-bounded state removes most copies before content hashing
    ever runs."""
    from geoio_jl_spark.functions import urls as U
    canon = stream.withColumn(
        "canon_url", F.expr(U.canonical_url_sql(url, "spark")))
    return (canon.withWatermark(ts, watermark)
            .dropDuplicatesWithinWatermark(["canon_url"]))


def sessionize(stream: DataFrame, gap_seconds: int = 1800,
               user_col: str = "user_id", ts_col: str = "ts") -> DataFrame:
    """Partial gap sessions per (user, time shard): one native
    ``session_window`` aggregation, the streaming twin of
    operators/sessionize.py.  Two events at most ``gap_seconds`` apart
    share a session (exactly the gap joins, one microsecond more
    splits), as in the batch ``session_rollup``.

    The key carries ``shard = floor(ts_us / (2 * gap_us))`` so a hot
    user's state fans out over shards instead of one state partition.
    Each row is a maximal run within one shard: (user_col, shard,
    session_start_us, session_end_us, n_events); partials in
    non-adjacent shards are more than a gap apart, and
    ``stitch_partial_sessions`` merges the adjacent ones into sessions.

    ``ts_col`` must be a TIMESTAMP.  Complete mode returns every
    session, still-open ones included.  Append mode needs
    ``stream.withWatermark(ts_col, delay)`` (Spark refuses the query
    without one): a session is emitted, and its state freed, once the
    event-time watermark passes its last event plus the gap —
    deterministic under replay, with no processing-time timeout.
    """
    ts_us = F.unix_micros(F.col(ts_col))
    shard = F.floor(ts_us / F.lit(2 * gap_seconds * 1_000_000))
    return (stream
            .groupBy(F.col(user_col), shard.alias("shard"),
                     F.session_window(ts_col, f"{gap_seconds} seconds"))
            .agg(F.min(ts_us).alias("session_start_us"),
                 F.max(ts_us).alias("session_end_us"),
                 F.count("*").alias("n_events"))
            .drop("session_window"))


def stitch_partial_sessions(partials: DataFrame, gap_seconds: int = 1800,
                            user_col: str = "user_id") -> DataFrame:
    """Merge ``sessionize`` partials across shard boundaries (batch /
    foreachBatch; input is one row per partial, so the per-user window
    is bounded by the session count, not the event count).  Two partials
    merge iff the next starts within the gap of the previous end —
    partials within one shard are > gap apart by construction, and the
    2×gap shard width makes merges possible only between consecutive
    shards.  → (user_col, session_start_us, session_end_us, n_events)."""
    from pyspark.sql import Window

    w = Window.partitionBy(user_col).orderBy("session_start_us")
    gap_us = gap_seconds * 1_000_000
    # RUNNING MAX of the preceding ends, not lag: a late-reopened shard
    # can emit a partial nested inside an earlier, longer one, and
    # comparing against only the immediately-preceding end would split
    # a session that the true furthest end still covers (review finding)
    prev_end = F.max("session_end_us").over(
        w.rowsBetween(Window.unboundedPreceding, -1))
    new_grp = F.when(prev_end.isNull()
                     | (F.col("session_start_us") - prev_end > gap_us),
                     1).otherwise(0)
    grp = F.sum(new_grp).over(
        w.rowsBetween(Window.unboundedPreceding, 0))
    return (partials.withColumn("_grp", grp)
            .groupBy(user_col, "_grp")
            .agg(F.min("session_start_us").alias("session_start_us"),
                 F.max("session_end_us").alias("session_end_us"),
                 F.sum("n_events").alias("n_events"))
            .drop("_grp"))


def stream_point_in_polygon(stream: DataFrame, polygons: DataFrame,
                            output_fn, res: int = 3,
                            checkpoint_dir: str | None = None,
                            refine=None):
    """foreachBatch: run the batch point-in-polygon join per micro-batch
    (the polygon side is static/broadcast; stateless, so exactly-once
    comes from the sink's idempotence + checkpointed offsets)."""
    from geoio_jl_spark.operators.sjoin import point_in_polygon_join

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        pairs = point_in_polygon_join(
            batch_df, polygons, res=res, wkb_col="geometry", refine=refine,
        )
        output_fn(pairs, batch_id)

    writer = stream.writeStream.foreachBatch(handle)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer


def stream_minhash_dedup(stream: DataFrame, output_path: str,
                         store_path: str, text_col: str = "text",
                         id_col: str = "doc_id"):
    """Incremental NEAR-dup filter for continuous ingest: a persistent
    LSH signature index grows with the stream, and each micro-batch
    drops documents whose minhash band bucket was already claimed by an
    earlier kept document (candidate-level LSH semantics — the
    aggressive crawl-dedup setting; for verified-similarity dedup run
    the batch star-edges + components pass over the kept corpus).

    Per micro-batch (foreachBatch — the dedup needs a cross-batch index
    the built-in state stores can't express):
      1. banded minhash signatures for the batch (xxhash64 fast path —
         no oracle replay on the ingest path),
      2. anti-join against the store → docs new w.r.t. ALL history,
      3. batch-local dedup: min id per bucket claims it,
      4. append survivors' buckets to the store, docs to the output.

    The store is a parquet table of (band, sig) under per-epoch
    subdirectories — foreachBatch is at-least-once, so BOTH writes go to
    ``<path>/epoch=N`` with overwrite: a replayed micro-batch rewrites
    its own epoch instead of appending a second copy (an append-then-
    retry would find the batch's own buckets already in the store and
    silently drop every document of the batch — review finding).  The
    epoch the retry reads is excluded from the anti-join for the same
    reason.  A production deployment keeps the store bucketed/Z-ordered
    so the per-batch anti-join prunes to matching files.  State grows
    with the kept corpus by design (it IS the dedup index), unlike the
    watermark-bounded exact/url variants above.

    Documents too short to shingle (under 3 tokens) have no signature
    and pass through unexamined — same as the batch path, where a doc
    in no bucket is its own keeper.

    Returns the ``DataStreamWriter`` (caller starts it)."""
    from geoio_jl_spark.operators.dedup import _lsh_bands

    def process(batch: DataFrame, epoch: int) -> None:
        spark = batch.sparkSession
        buckets = _lsh_bands(batch, text_col, id_col, fast_hash=True)
        dup_ids = None
        # Probe the store through the Hadoop FileSystem API (works for
        # hdfs/s3 paths where driver-local os.path.exists would lie).
        # Only a genuinely-missing store means "first batch, no history";
        # any OTHER read failure (corrupt store, transient FS error,
        # permissions) must propagate and fail the batch so Structured
        # Streaming retries it — swallowing it would silently disable
        # cross-batch dedup and admit duplicates (ADVICE r5).
        jpath = spark._jvm.org.apache.hadoop.fs.Path(store_path)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        if fs.exists(jpath):
            store = (spark.read.parquet(store_path)
                     .filter(F.col("epoch") != epoch))
            dup_ids = (buckets.join(store, ["band", "sig"], "left_semi")
                       .select(id_col).distinct())
            fresh = buckets.join(dup_ids, id_col, "left_anti")
        else:                                # first batch: no store yet
            fresh = buckets
        fresh = fresh.localCheckpoint()      # shared by 3 subtrees below
        # batch-local: the minimum id in each bucket claims it
        winners = (fresh.groupBy("band", "sig")
                   .agg(F.min(id_col).alias(id_col)))
        # a doc survives iff it claimed EVERY bucket it would write —
        # otherwise one of its buckets belongs to a smaller batch peer
        kept = (fresh.join(winners.withColumn("_win", F.lit(1)),
                           ["band", "sig", id_col], "left")
                .groupBy(id_col)
                .agg(F.count("*").alias("_nb"), F.sum("_win").alias("_nw"))
                .filter(F.col("_nb") == F.col("_nw"))
                .select(id_col)
                .localCheckpoint())
        # losers: docs with buckets that did not claim all of them;
        # docs with NO buckets (short texts) are in neither set → kept
        losers = (fresh.select(id_col).distinct()
                  .join(kept, id_col, "left_anti"))
        out_docs = batch.join(losers, id_col, "left_anti")
        if dup_ids is not None:
            out_docs = out_docs.join(dup_ids, id_col, "left_anti")
        new_buckets = (fresh.join(kept, id_col, "left_semi")
                       .select("band", "sig").distinct())
        new_buckets.write.mode("overwrite").parquet(
            f"{store_path}/epoch={epoch}")
        out_docs.write.mode("overwrite").parquet(
            f"{output_path}/epoch={epoch}")

    return stream.writeStream.foreachBatch(process)


def stream_tile_counts(stream: DataFrame, store_path: str,
                       x_col: str = "lon_i", y_col: str = "lat_i",
                       base_tile: int = 64):
    """Continuously updated map tiles from an event stream — the
    streaming half of ``operators/pyramid.tile_pyramid``.

    Each micro-batch partial-aggregates its points at the finest zoom
    and writes the per-epoch tile counts to its OWN ``epoch=N``
    subdirectory with overwrite — foreachBatch is at-least-once, and an
    append would double-count a replayed batch in the rollup (review
    finding); the overwrite makes the retry rewrite its epoch (no
    read-modify-write races; epochs are immutable).  The live tile
    table is ``rollup_tiles(spark, store_path, ...)`` — a fold over the
    epoch partials that costs O(|distinct tiles| × epochs touched), so
    a periodic compaction (re-writing the folded table as one epoch)
    bounds read cost at scale; the batch pyramid operator then rolls
    the folded base level up the zoom hierarchy unchanged.

    Returns the ``DataStreamWriter`` (caller starts it)."""
    ts = F.lit(base_tile)

    def process(batch: DataFrame, epoch: int) -> None:
        (batch
         .select(F.floor(F.col(x_col) / ts).alias("tx"),
                 F.floor(F.col(y_col) / ts).alias("ty"))
         .groupBy("tx", "ty")
         .agg(F.count("*").alias("n"))
         .write.mode("overwrite").parquet(f"{store_path}/epoch={epoch}"))

    return stream.writeStream.foreachBatch(process)


def rollup_tiles(spark, store_path: str, max_zoom: int,
                 min_zoom: int = 0):
    """Fold the epoch partials into current tiles, then roll up the
    zoom hierarchy with the batch pyramid machinery."""
    from geoio_jl_spark.operators.pyramid import tile_pyramid

    base = (spark.read.parquet(store_path)
            .groupBy("tx", "ty").agg(F.sum("n").alias("n")))
    # the folded base is already at tile granularity: identity binning
    # (base_tile=1) + weighted rollup through the batch operator — one
    # fold implementation, not a drifting copy (review finding)
    return tile_pyramid(base, "tx", "ty", max_zoom=max_zoom,
                        min_zoom=min_zoom, base_tile=1, weight_col="n")


def stream_ingest(stream: DataFrame, store_dir: str,
                  key_col: str = "url",
                  content_cols: tuple[str, ...] = ("text",),
                  checkpoint: str | None = None):
    """Continuous crawl ingestion: every micro-batch upserts into the
    log-structured corpus store (plans/store.py) with epoch = the
    Structured Streaming batch id.

    Exactly-once effect from at-least-once delivery: foreachBatch may
    re-run a batch after a failure, but ``store.ingest`` skips an epoch
    already in the manifest, so the retry is a no-op — the same
    idempotence contract as the minhash history store above, enforced
    by the store itself instead of path conventions.  Batch ids are
    monotonic per checkpoint, matching the store's epoch-must-advance
    rule; ingesting into one store from multiple queries (or after
    dropping the checkpoint) is rejected by that rule rather than
    silently interleaving."""
    from geoio_jl_spark.plans import store as _store

    def process(batch: DataFrame, epoch: int) -> None:
        _store.ingest(batch.sparkSession, store_dir, batch,
                      epoch=int(epoch), key_col=key_col,
                      content_cols=content_cols)

    writer = stream.writeStream.foreachBatch(process)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer
