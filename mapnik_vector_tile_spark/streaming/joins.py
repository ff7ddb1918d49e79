"""Stream-stream watermarked interval join (§2.10): view→click
attribution over the events log.

The reference has no streaming (tile servers re-render on demand); this
covers the one Structured Streaming operator class the rest of
streaming/ didn't exercise — a JOIN between two watermarked streams.
Semantics: every (view, click) pair of the same user with
``view_ts <= click_ts <= view_ts + bound`` (classic attribution; the
as-of join in operators/temporal.py is the nearest-ONE variant, this
is the all-matches-in-window variant, and `q_click_attribution`
carries its full DuckDB oracle on the batch twin).

Scale story: both sides carry event-time watermarks and the join
predicate is an equi-key (user_id) plus a closed time range, which is
exactly the shape Spark's streaming symmetric hash join needs to bound
state — each side's rows are evicted once the other side's watermark
passes ``ts + bound``. State is therefore O(events within the bound
window per partition), independent of stream length. In batch mode the
same function is a plain range-predicate equi-join (AQE-splittable).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapnik_vector_tile_spark.streaming.incremental import EVENTS_SCHEMA

# 24 h attribution window — calibrated to the synthetic events corpus
# (5 min yields 3 pairs at sf0.01; 24 h yields 878 — non-vacuous).
ATTRIB_BOUND_SECONDS = 86_400


def attribution_join(
    views: DataFrame,
    clicks: DataFrame,
    bound_seconds: int = ATTRIB_BOUND_SECONDS,
    how: str = "inner",
) -> DataFrame:
    """Same-user (view, click) pairs with the click inside the view's
    attribution window. Batch and streaming frames alike (for
    streaming, callers watermark ``ts`` on BOTH inputs first).

    ``how="left_outer"``: unmatched views also emit, with NULL click
    columns — in streaming this is the null-on-window-close semantics
    (the row emits only once the watermark proves no click can still
    arrive), the state-eviction behavior an inner join never
    exercises."""
    v = views.select(
        F.col("event_id").alias("view_id"),
        F.col("user_id"),
        F.col("ts").alias("view_ts"),
    )
    c = clicks.select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("click_user"),
        F.col("ts").alias("click_ts"),
    )
    cond = (
        (v["user_id"] == c["click_user"])
        & (c["click_ts"] >= v["view_ts"])
        & (
            c["click_ts"]
            <= v["view_ts"] + F.expr(f"INTERVAL {bound_seconds} SECONDS")
        )
    )
    joined = v.join(c, cond, how)
    return joined.select(
        "view_id",
        "click_id",
        "user_id",
        F.expr(
            "timestampdiff(MICROSECOND, view_ts, click_ts)"
        ).alias("gap_us"),
    )


def run_attribution_stream(
    spark: SparkSession,
    src_dir: str,
    table_name: str = "attrib",
    bound_seconds: int = ATTRIB_BOUND_SECONDS,
    watermark: str = "36500 days",
    checkpoint_dir: str | None = None,
    how: str = "inner",
    state_partitions: int | None = None,
) -> None:
    """Drive the stream-stream join over a chunked parquet source with
    availableNow into an append-mode memory sink (the in-sandbox
    harness; swap source/sink for Kafka/foreachBatch in production).

    The default watermark is effectively infinite so a bounded replay
    emits EXACTLY the batch join (asserted in tests/test_streaming.py);
    production sets it to the real lateness bound, trading late-pair
    completeness for bounded state.

    ``state_partitions`` pins spark.sql.shuffle.partitions for this
    query's start, which fixes its state-store count per micro-batch
    (streaming/util.py); None inherits the session setting."""
    from mapnik_vector_tile_spark.streaming.util import shuffle_partitions

    src = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    wm = src.withWatermark("ts", watermark)
    out = attribution_join(
        wm.filter(F.col("event_type") == "view"),
        wm.filter(F.col("event_type") == "click"),
        bound_seconds=bound_seconds,
        how=how,
    )
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
