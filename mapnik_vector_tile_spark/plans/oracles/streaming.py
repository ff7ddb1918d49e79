"""Oracle pairs for the streaming operators (streaming.incremental,
streaming.trending).

`pairs()` maps each query key to (spark_fn, oracle SQL template);
`plans.oracles.sql_pairs()` merges the families."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from mapnik_vector_tile_spark.functions.tilemath import W
from mapnik_vector_tile_spark.plans import shared_sql as S


def q_events_tile_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-twin batch aggregation: per (minute-window, z8 tile)
    event counts + value sums (the §2.10 plan run as a batch — same
    code path as the stream)."""
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.streaming import incremental as SI

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    agg = SI.batch_oracle_counts(ev, z=8)
    return agg.select(
        F.col("win.start").alias("ws"),
        "tx",
        "ty",
        F.col("n_events").cast("bigint").alias("n_events"),
        F.round(F.col("sum_value"), 6).alias("sum_value6"),
    )


def _sql_events_tile_window() -> str:
    from mapnik_vector_tile_spark.plans.shared_sql import TWO_W, flit

    # clamped to [0, 2^z-1] like streaming.with_tile (shared tilemath
    # expressions): a point exactly on the -W edge must not address
    # tile row 2^z
    utx, uty = S.tile_xy_exprs(8)
    lim = (1 << 8) - 1
    tx = f"GREATEST(0, LEAST({lim}, {utx}))"
    ty = f"GREATEST(0, LEAST({lim}, {uty}))"
    mx = (
        f"((((user_id) * 2654435761) % 4294967296) / {flit(2**32)})"
        f" * {flit(TWO_W)} - {flit(W)}"
    )
    my = (
        f"((((user_id) * 1103515245 + 12345) % 4294967296) / {flit(2**32)})"
        f" * {flit(TWO_W)} - {flit(W)}"
    )
    return f"""
WITH e AS (
  -- deterministic dedup (DISTINCT ON picks an arbitrary row): for
  -- at-least-once replays duplicate ids carry identical payloads, so
  -- MIN per column equals the replayed row while staying stable if a
  -- fixture ever contained conflicting duplicates
  SELECT event_id, MIN(ts) AS ts, MIN(user_id) AS user_id,
         MIN(value) AS value
  FROM events GROUP BY event_id
),
p AS (SELECT ts, value, {mx} AS mx, {my} AS my FROM e)
SELECT date_trunc('minute', ts) AS ws,
       {tx} AS tx,
       {ty} AS ty,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 6) AS sum_value6
FROM p
GROUP BY 1, 2, 3
"""


def q_trending_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the streaming trending-tiles leg
    (streaming/trending.py: shared plan, watermark only added on the
    stream side; stream-sink == this twin is pinned in
    tests/test_streaming.py). FULL oracle: hourly tumbling windows,
    per-tile counts at z6, serving-side top-3 rank with the pinned
    (n_events DESC, tx, ty) tie order."""
    from mapnik_vector_tile_spark.streaming.trending import (
        batch_trending_topk,
    )

    return batch_trending_topk(spark, sf_dir)


def _sql_trending_tiles() -> str:
    from mapnik_vector_tile_spark.plans.shared_sql import TWO_W, flit
    from mapnik_vector_tile_spark.streaming.trending import (
        TREND_K,
        TREND_Z,
    )

    utx, uty = S.tile_xy_exprs(TREND_Z)
    lim = (1 << TREND_Z) - 1
    tx = f"GREATEST(0, LEAST({lim}, {utx}))"
    ty = f"GREATEST(0, LEAST({lim}, {uty}))"
    mx = (
        f"((((user_id) * 2654435761) % 4294967296) / {flit(2**32)})"
        f" * {flit(TWO_W)} - {flit(W)}"
    )
    my = (
        f"((((user_id) * 1103515245 + 12345) % 4294967296) / {flit(2**32)})"
        f" * {flit(TWO_W)} - {flit(W)}"
    )
    return f"""
WITH p AS (
  SELECT event_id, ts, {mx} AS mx, {my} AS my FROM events),
cnt AS (
  SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS wstart,
         {tx} AS tx, {ty} AS ty,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(MIN(event_id) AS BIGINT) AS min_id
  FROM p GROUP BY 1, 2, 3),
rnk AS (
  SELECT *, CAST(row_number() OVER (
    PARTITION BY wstart ORDER BY n_events DESC, tx, ty) AS BIGINT)
    AS rnk
  FROM cnt)
SELECT wstart, tx, ty, n_events, min_id, rnk
FROM rnk WHERE rnk <= {TREND_K}
"""


def _write_chunk_file(df: DataFrame, src: str, i: int) -> None:
    """Materialize one micro-batch chunk as a SINGLE parquet FILE
    directly in ``src`` (the streaming file source ignores
    non-partition subdirectories) with a pinned mtime so the source
    processes chunks in order."""
    import glob
    import os
    import shutil

    tmp = os.path.join(src, f"_tmp{i}")
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    (part,) = glob.glob(os.path.join(tmp, "part-*.parquet"))
    dst = os.path.join(src, f"chunk{i}.parquet")
    shutil.move(part, dst)
    shutil.rmtree(tmp)
    base = 1_700_000_000 + i * 100
    os.utime(dst, (base, base))


def _events_chunks(spark: SparkSession, sf_dir: str, prefix: str) -> str:
    """Write the events table as three ts-range parquet chunks with
    pinned modification times (file-source order), return the dir."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    lo, hi = ev.agg(
        F.min("ts").alias("a"), F.max("ts").alias("b")
    ).first()
    import datetime

    span = (hi - lo) / 3
    bounds = [lo + span, lo + 2 * span, hi + datetime.timedelta(seconds=1)]
    work = tempfile.mkdtemp(prefix=prefix)
    src = os.path.join(work, "src")
    os.makedirs(src)
    prev = None
    for i, b in enumerate(bounds):
        chunk = ev.filter(F.col("ts") < F.lit(b))
        if prev is not None:
            chunk = chunk.filter(F.col("ts") >= F.lit(prev))
        prev = b
        _write_chunk_file(chunk, src, i)
    return src


_STREAM_SEQ = [0]


def q_stream_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 windowed streaming aggregation, DRIVER-EXECUTED: the
    events table streams as three time-ordered chunks through
    dirty_tile_counts (watermark + dropDuplicatesWithinWatermark +
    event-time window groupBy) into a complete-mode memory sink via
    availableNow; the final table must equal the batch window
    aggregation — the twin is _sql_events_tile_window() verbatim."""
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.streaming.incremental import (
        run_stream_to_memory,
    )

    src = _events_chunks(spark, sf_dir, "stream_window_")
    _STREAM_SEQ[0] += 1
    name = f"q_stream_window_{_STREAM_SEQ[0]}"
    run_stream_to_memory(
        spark, src, table_name=name, z=8, state_partitions=8
    )
    agg = spark.table(name)
    return agg.select(
        F.col("win.start").alias("ws"),
        "tx",
        "ty",
        F.col("n_events").cast("bigint").alias("n_events"),
        F.round(F.col("sum_value"), 6).alias("sum_value6"),
    )


DIRTY_EVERY = 5


def q_dirty_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 CUSTOM STATEFUL streaming operator, DRIVER-EXECUTED:
    dirty_tile_versions (applyInPandasWithState re-render tickets)
    over the chunked events stream, availableNow to completion,
    append-mode memory sink.  The emitted ticket set is
    batching-invariant by construction — {(tx,ty,v) : 1 ≤ v ≤
    n_tile // dirty_every} — so the DuckDB twin regenerates it
    closed-form from per-tile deduped event counts with
    generate_series."""
    from mapnik_vector_tile_spark.streaming.incremental import (
        run_stateful_stream_to_memory,
    )

    src = _events_chunks(spark, sf_dir, "dirty_stream_")
    _STREAM_SEQ[0] += 1
    name = f"q_dirty_stream_{_STREAM_SEQ[0]}"
    run_stateful_stream_to_memory(
        spark, src, table_name=name, z=8, dirty_every=DIRTY_EVERY,
        state_partitions=8,
    )
    return spark.table(name).select("tx", "ty", "version")


def _sql_dirty_stream(dirty_every: int = DIRTY_EVERY) -> str:
    from mapnik_vector_tile_spark.plans.shared_sql import TWO_W, flit

    utx, uty = S.tile_xy_exprs(8)
    lim = (1 << 8) - 1
    tx = f"GREATEST(0, LEAST({lim}, {utx}))"
    ty = f"GREATEST(0, LEAST({lim}, {uty}))"
    mx = (
        f"((((user_id) * 2654435761) % 4294967296) / {flit(2**32)})"
        f" * {flit(TWO_W)} - {flit(W)}"
    )
    my = (
        f"((((user_id) * 1103515245 + 12345) % 4294967296) / {flit(2**32)})"
        f" * {flit(TWO_W)} - {flit(W)}"
    )
    return f"""
WITH e AS (
  SELECT event_id, MIN(user_id) AS user_id FROM events GROUP BY event_id
),
p AS (SELECT {mx} AS mx, {my} AS my FROM e),
counts AS (
  SELECT {tx} AS tx, {ty} AS ty, COUNT(*) AS n
  FROM p GROUP BY 1, 2
)
SELECT tx, ty, unnest(generate_series(1, CAST(n // {dirty_every}
       AS BIGINT))) AS version
FROM counts
WHERE n >= {dirty_every}
"""


def pairs() -> dict[str, tuple[Callable, str]]:
    """key -> (spark_fn, oracle SQL template)."""
    return {
        "q_events_tile_window": (
            q_events_tile_window,
            _sql_events_tile_window(),
        ),
        "q_trending_tiles": (q_trending_tiles, _sql_trending_tiles()),
        "q_stream_window": (q_stream_window, _sql_events_tile_window()),
        "q_dirty_stream": (q_dirty_stream, _sql_dirty_stream()),
    }
