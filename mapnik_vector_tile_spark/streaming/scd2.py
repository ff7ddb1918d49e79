"""Streaming SCD2 maintenance (SURVEY.md §2.10) — the CDC tail of a
warehouse dimension applied CONTINUOUSLY: change batches arrive as a
stream and each micro-batch folds into the effective-dated dimension
store with the SAME batch operator (temporal.scd2_apply), so the
streamed result is pinned equal to one big batch merge.

Chunking contract (the associativity condition, asserted by the
batch-equality test): scd2_apply(scd2_apply(D, C1), C2) equals
scd2_apply(D, C1 ∪ C2) exactly when every change in C2 is no earlier
than every C1 change OF THE SAME KEY — i.e. micro-batches must
respect per-key timestamp order.  File-source streams of time-split
CDC chunks satisfy this by construction; an out-of-order feed needs
a watermark-buffered reorder upstream (the standard CDC staging
step).  Within one micro-batch, ordering is handled by the operator
itself ((ts, change_id) windows).

Scale: the store rewrite per micro-batch touches history — for a
fleet deployment the store is partitioned by key range and only
partitions with changed keys rewrite (the standard merge-on-read
compaction trade); this module keeps the single-store form, its
equality contract.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

CHANGES_SCHEMA = (
    "key long, change_id long, ts long, op string, attr long"
)


def run_scd2_stream(
    spark: SparkSession,
    current: DataFrame,
    src_dir: str,
    store_dir: str,
    checkpoint_dir: str | None = None,
    state_partitions: int | None = None,
):
    """readStream(CDC parquet chunks) → foreachBatch scd2_apply fold
    into <store_dir>/dim.  Seeds the store with `current`, runs the
    availableNow trigger to completion, returns the finished query
    handle; read <store_dir>/dim for the merged dimension.
    ``state_partitions`` pins the per-batch fold's shuffle width
    (streaming/util.py); None inherits the session."""
    from mapnik_vector_tile_spark.operators.temporal import scd2_apply
    from mapnik_vector_tile_spark.streaming.util import shuffle_partitions

    dim_dir = os.path.join(store_dir, "dim")
    current.write.mode("overwrite").parquet(dim_dir)
    src = (
        spark.readStream.schema(CHANGES_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        ss = batch_df.sparkSession
        cur = ss.read.parquet(dim_dir)
        merged = scd2_apply(cur, batch_df).localCheckpoint(eager=True)
        merged.write.mode("overwrite").parquet(dim_dir)

    writer = (
        src.writeStream.foreachBatch(fold)
        .outputMode("append")
        .trigger(availableNow=True)
    )
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    with shuffle_partitions(spark, state_partitions):
        q = writer.start()
    q.awaitTermination()
    return q
