"""Structured Streaming extension (SURVEY.md §2.10) — incremental
re-tile of only DIRTY tiles as new events/images arrive.

The reference has no streaming (tile servers re-render on demand);
north_rule requires resumability, which batch lineage already covers —
this module is the optional streaming leg: ingest a stream of
geo-events, assign each to its tile (same Column math as the batch
path — one codepath, A.2), watermark for late data, dedupe replays
inside the watermark, and maintain per-(window, tile) activity counts
that drive re-render invalidation.

All stateful pieces are Spark built-ins (withWatermark +
dropDuplicates + windowed agg) — state store, checkpointing and
exactly-once come for free; foreachBatch hands dirty tiles to the
batch encoder (EP1) so streaming and batch share every kernel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapnik_vector_tile_spark.functions import tilemath as tm

TWO_W = 2.0 * tm.W

EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def _event_points(events: DataFrame) -> DataFrame:
    """Deterministic mercator point per user (same Weyl-mix arithmetic
    as plans.flagship.derive_points — one source of truth for tests)."""
    k = F.col("user_id")
    mx = (((k * F.lit(2654435761)) % F.lit(4294967296)) / F.lit(4294967296.0)) * F.lit(
        TWO_W
    ) - F.lit(tm.W)
    my = (
        ((k * F.lit(1103515245) + F.lit(12345)) % F.lit(4294967296))
        / F.lit(4294967296.0)
    ) * F.lit(TWO_W) - F.lit(tm.W)
    return events.withColumn("mx", mx).withColumn("my", my)


def with_tile(df: DataFrame, z: int) -> DataFrame:
    # the shared CLAMPED tile expressions (a point exactly on the -W
    # edge would otherwise address row 2^z, outside the pyramid)
    return df.withColumn(
        "tx", tm.tile_x_col(F.col("mx"), z)
    ).withColumn("ty", tm.tile_y_col(F.col("my"), z))


def dirty_tile_counts(
    events: DataFrame,
    z: int = 8,
    watermark: str = "10 minutes",
    window_len: str = "1 minute",
) -> DataFrame:
    """Streaming (or batch — same plan) aggregation: per event-time
    window and tile, activity count + value sum. Late events beyond the
    watermark drop; duplicate event_ids inside the watermark dedupe
    (at-least-once upstream becomes effectively-once here)."""
    # dropDuplicatesWithinWatermark: plain dropDuplicates(event_id)
    # would key state WITHOUT the event-time column, so the watermark
    # never evicts it and dedup state grows one row per event forever
    e = events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    pts = with_tile(_event_points(e), z)
    return pts.groupBy(
        F.window("ts", window_len).alias("win"),
        F.lit(z).alias("z"),
        "tx",
        "ty",
    ).agg(
        F.count("*").alias("n_events"),
        F.sum("value").alias("sum_value"),
    )


def batch_oracle_counts(
    events: DataFrame, z: int = 8, window_len: str = "1 minute"
) -> DataFrame:
    """The batch twin of dirty_tile_counts — what the stream must
    converge to. Dedup is DETERMINISTIC (MIN per column, mirroring the
    DuckDB oracle) rather than dropDuplicates' arbitrary row pick:
    replay duplicates carry identical payloads so the result is the
    same, but a fixture with conflicting duplicates could not make the
    gate flaky."""
    e = events.groupBy("event_id").agg(
        F.min("ts").alias("ts"),
        F.min("user_id").alias("user_id"),
        F.min("value").alias("value"),
    )
    pts = with_tile(_event_points(e), z)
    return pts.groupBy(
        F.window("ts", window_len).alias("win"),
        F.lit(z).alias("z"),
        "tx",
        "ty",
    ).agg(
        F.count("*").alias("n_events"),
        F.sum("value").alias("sum_value"),
    )


DIRTY_OUT_SCHEMA = "tx long, ty long, version long"
DIRTY_STATE_SCHEMA = "cum long"


def dirty_tile_versions(
    events: DataFrame, z: int = 8, dirty_every: int = 5
) -> DataFrame:
    """CUSTOM stateful operator (applyInPandasWithState — §2.10's
    'custom stateful' leg): a per-tile running event counter that
    emits a (tx, ty, version) re-render ticket every time the
    cumulative count crosses a multiple of ``dirty_every``. Not
    expressible as a windowed aggregation in append mode — the state
    is a monotone counter across ALL batches, and the output is the
    threshold-crossing events, not the counts.

    The emitted SET is batching-invariant by construction:
    {(tx,ty,v) : 1 <= v <= total//dirty_every} regardless of how the
    stream is chunked into micro-batches — which is exactly what the
    convergence test asserts against the batch oracle. State per key
    is one int64; at 10^12 events the state store holds one row per
    ACTIVE tile, not per event."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    pts = with_tile(_event_points(events), z)

    def track(key, pdfs, state: GroupState):
        tx, ty = int(key[0]), int(key[1])
        n = 0
        for pdf in pdfs:
            n += len(pdf)
        (prev,) = state.get if state.exists else (0,)
        cum = prev + n
        state.update((cum,))
        lo = prev // dirty_every + 1
        hi = cum // dirty_every
        if hi >= lo:
            yield pd.DataFrame(
                {
                    "tx": tx,
                    "ty": ty,
                    "version": list(range(lo, hi + 1)),
                }
            )

    return pts.groupBy("tx", "ty").applyInPandasWithState(
        track,
        outputStructType=DIRTY_OUT_SCHEMA,
        stateStructType=DIRTY_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_stateful_stream_to_memory(
    spark: SparkSession,
    src_dir: str,
    table_name: str = "dirty_versions",
    z: int = 8,
    dirty_every: int = 5,
    checkpoint_dir: str | None = None,
    dedupe_watermark: str | None = "10 minutes",
    state_partitions: int | None = None,
) -> None:
    """Drive dirty_tile_versions over a chunked file source, one file
    per micro-batch, append-mode memory sink. ``dedupe_watermark``
    chains dropDuplicatesWithinWatermark BEFORE the stateful counter
    (Spark 4 supports the two-stateful-operator chain — verified), so
    at-least-once replays cannot inflate version tickets; pass None to
    count raw deliveries.  ``state_partitions`` pins the query's
    state-store count (streaming/util.py); None inherits the session."""
    from mapnik_vector_tile_spark.streaming.util import shuffle_partitions

    src = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    if dedupe_watermark is not None:
        src = src.withWatermark(
            "ts", dedupe_watermark
        ).dropDuplicatesWithinWatermark(["event_id"])
    out = dirty_tile_versions(src, z, dirty_every)
    writer = (
        out.writeStream.format("memory")
        .queryName(table_name)
        .outputMode("append")
        .trigger(availableNow=True)
    )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    with shuffle_partitions(spark, state_partitions):
        q = writer.start()
    q.awaitTermination()


def run_stream_to_memory(
    spark: SparkSession,
    src_dir: str,
    table_name: str = "dirty_tiles",
    z: int = 8,
    checkpoint_dir: str | None = None,
    state_partitions: int | None = None,
) -> None:
    """Drive the stream over a parquet file source with availableNow
    (process everything, then stop) into a complete-mode memory sink —
    the in-sandbox harness for the streaming path; swap the source for
    Kafka and the sink for foreachBatch(EP1 encode) in production.
    ``state_partitions`` pins the query's state-store count
    (streaming/util.py); None inherits the session."""
    from mapnik_vector_tile_spark.streaming.util import shuffle_partitions

    src = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    agg = dirty_tile_counts(src, z)
    writer = (
        agg.writeStream.format("memory")
        .queryName(table_name)
        .outputMode("complete")
        .trigger(availableNow=True)
    )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    with shuffle_partitions(spark, state_partitions):
        q = writer.start()
    q.awaitTermination()


def run_incremental_retile(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    z: int = 8,
    dirty_every: int = 5,
    checkpoint_dir: str | None = None,
    overzoom_dz: int = 0,
    overzoom_buffer: int = 128,
    rollup_to_z: int | None = None,
) -> None:
    """The production-shaped leg the module docstring promises: dirty
    tickets from the stateful counter drive foreachBatch, which
    re-encodes ONLY the ticketed tiles through the batch EP1 encoder
    against the current event store and appends the re-rendered Tile
    buffers (stamped with ticket version + micro-batch id) to
    ``out_dir``. Streaming and batch share every kernel; the final
    version of any tile is byte-identical to a cold batch encode of
    the same tiles (asserted in tests/test_streaming.py).

    Scale shape: the ticket set per micro-batch is bounded by ACTIVE
    tiles (not events), so the broadcast join against the fan-out is
    small; the re-encode reads the feature store pruned to those tile
    keys — at 10^12 images that scan is pruned by the tile-bucketed
    layout (README sizing note), not a full pass.

    ``overzoom_dz > 0``: a dirty parent's SERVED CHILDREN (z+1 ..
    z+dz, rendered via the EP3 overzoom slow path) are stale the
    moment the parent re-renders, so each micro-batch also re-derives
    them from the freshly encoded parents (composite.overzoom_band —
    the SAME helper the batch job serves from, so buffers and address
    math cannot drift) and appends them with the same version + batch
    stamp — byte-identical to a cold batch overzoom of the final
    parents (asserted in tests/test_streaming.py). ``overzoom_buffer``
    must match the buffer the serving store was built with.

    ``rollup_to_z``: the ANCESTOR direction — a dirty base tile makes
    every ancestor up to rollup_to_z stale, and an ancestor needs ALL
    its base descendants (clean siblings included), so each
    micro-batch rebuilds the full subtree under every dirty top-level
    ancestor: latest-version base tiles from the store (this batch's
    append included), downzoom_band to rollup_to_z
    (composite.downzoom_layers — the SAME rollup the batch --rollup
    pipeline serves from), appended to ``out_dir + "_rollup"`` with
    the max dirty version under each top ancestor. Byte-identical to
    a cold batch rollup of the final base tiles (asserted in tests).
    Intended for small z - rollup_to_z (1..3 levels), like
    overzoom_dz — the subtree read is 4^(z-to_z) base tiles per dirty
    top ancestor."""
    from pyspark.sql import functions as SF

    from mapnik_vector_tile_spark.operators import tiling as T

    src = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    src = src.withWatermark("ts", "10 minutes").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    tickets = dirty_tile_versions(src, z, dirty_every)

    def retile(batch_df: DataFrame, batch_id: int) -> None:
        keys = (
            batch_df.groupBy(
                SF.col("tx").alias("x"), SF.col("ty").alias("y")
            )
            .agg(SF.max("version").alias("version"))
        )
        if not keys.take(1):
            return
        events = spark.read.schema(EVENTS_SCHEMA).parquet(src_dir)
        feats = _event_points(events).select(
            SF.col("event_id").alias("feature_id"),
            SF.lit(1).alias("geom_type"),
            SF.array("mx").alias("xs"),
            SF.array("my").alias("ys"),
            SF.array(SF.lit(0), SF.lit(1)).alias("part_offsets"),
            SF.lit("c").alias("caption"),
        )
        assigned = T.assign_tiles(feats, z, z, buffer_units=0)
        todo = assigned.join(SF.broadcast(keys.select("x", "y")), ["x", "y"])
        tiles = T.encode_tiles(todo)
        stamped = tiles.join(SF.broadcast(keys), ["x", "y"]).withColumn(
            "batch_id", SF.lit(batch_id)
        )
        if overzoom_dz > 0:
            # persist: the parent write AND each dz branch re-execute
            # the encode pipeline otherwise (union branches share no
            # un-cached mapInPandas subplans)
            stamped = stamped.persist()
        stamped.write.mode("append").parquet(out_dir)
        if overzoom_dz > 0:
            from mapnik_vector_tile_spark.operators import composite as C

            # NOTE: the two appends (parents, then children) are not
            # jointly atomic — a retry of this batch_id can duplicate
            # rows, which is safe because encodes are byte-
            # deterministic and consumers pick latest by
            # (batch_id, version); same caveat as any foreachBatch
            # parquet append.
            parents = C.tiles_to_layers(
                stamped.select("z", "x", "y", "tile")
            )
            kids = C.overzoom_band(
                parents, z, overzoom_dz, buffer_units=overzoom_buffer
            )
            # version stamp travels via the PARENT address columns
            pk = keys.select(
                SF.col("x").alias("px"), SF.col("y").alias("py"), "version"
            )
            (
                kids.join(SF.broadcast(pk), ["px", "py"])
                .drop("px", "py")
                .withColumn("batch_id", SF.lit(batch_id))
                .write.mode("append")
                .parquet(out_dir + "_overzoom")
            )
            stamped.unpersist()

        if rollup_to_z is not None and rollup_to_z < z:
            from mapnik_vector_tile_spark.operators import composite as C

            dz = z - rollup_to_z
            tops = keys.select(
                SF.shiftright("x", dz).alias("ax"),
                SF.shiftright("y", dz).alias("ay"),
                "version",
            ).groupBy("ax", "ay").agg(SF.max("version").alias("version"))
            # prune to the dirty subtrees BEFORE the latest-version
            # aggregation: ax/ay are functions of the group keys, so
            # the semi-join commutes with the groupBy — without this
            # the per-batch cost would grow with TOTAL store size, not
            # with the dirty footprint
            store = spark.read.parquet(out_dir).withColumn(
                "ax", SF.shiftright("x", dz)
            ).withColumn("ay", SF.shiftright("y", dz)).join(
                SF.broadcast(tops.select("ax", "ay")), ["ax", "ay"]
            )
            sub = (
                store.groupBy("z", "x", "y")
                .agg(
                    SF.max(
                        SF.struct("batch_id", "version", "tile")
                    ).alias("r")
                )
                .select("z", "x", "y", SF.col("r.tile").alias("tile"))
            )
            band_levels: list = []
            band = C.downzoom_band(
                C.tiles_to_layers(sub.select("z", "x", "y", "tile")),
                rollup_to_z,
                dedupe_fids=True,
                persisted_out=band_levels,
            )
            from mapnik_vector_tile_spark.operators.tiling import (
                fold_tiles,
            )

            rolled = fold_tiles(band).withColumn(
                "ax", SF.expr(f"shiftright(x, z - {rollup_to_z})")
            ).withColumn(
                "ay", SF.expr(f"shiftright(y, z - {rollup_to_z})")
            )
            (
                rolled.join(SF.broadcast(tops), ["ax", "ay"])
                .drop("ax", "ay")
                .withColumn("batch_id", SF.lit(batch_id))
                .write.mode("append")
                .parquet(out_dir + "_rollup")
            )
            for lvl in band_levels:
                lvl.unpersist()  # foreachBatch runs per micro-batch:
                # leaked cache entries would accumulate for the
                # stream's lifetime

    writer = (
        tickets.writeStream.foreachBatch(retile)
        .outputMode("append")
        .trigger(availableNow=True)
    )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    q = writer.start()
    q.awaitTermination()
