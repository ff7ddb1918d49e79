"""State-partition sizing for the dirty-tile re-tile streams of
streaming/incremental.py, this module's one caller.

A Structured Streaming query creates one state store per shuffle
partition per stateful operator and commits every one of them each
micro-batch, so the per-batch FIXED cost scales with the partition
count even when the data is tiny.  Production sizes this to executor
parallelism × state volume; the oracle gates size it to their
few-chunk corpora.  The count is baked into the checkpoint
at first query start — pick it before launch (Spark refuses to change
it on resume)."""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import SparkSession

_KEY = "spark.sql.shuffle.partitions"


@contextmanager
def shuffle_partitions(spark: SparkSession, n: int | None):
    """Temporarily pin spark.sql.shuffle.partitions around a streaming
    query's ``writer.start()``; always restores the previous value.
    The query clones the session and fixes its state partitioning at
    start, so it keeps n for its whole run, while the session-global
    knob is back at its own value for anything else (scope only the
    start, never ``awaitTermination``)."""
    if n is None:
        yield
        return
    prev = spark.conf.get(_KEY)
    spark.conf.set(_KEY, str(int(n)))
    try:
        yield
    finally:
        spark.conf.set(_KEY, prev)
