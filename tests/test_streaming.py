"""Structured Streaming incremental re-tile (§2.10): the stream over
chunked files must converge to the batch oracle, dedupe replays, and
assign tiles identically to the batch path."""

from __future__ import annotations

import os
import shutil

import pytest

from mapnik_vector_tile_spark.streaming import incremental as S

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def chunked_events(spark, tmp_path):
    """Split the events table into 3 parquet chunk files (micro-batch
    fodder), duplicating one chunk to exercise dedup."""
    src = str(tmp_path / "stream_src")
    os.makedirs(src)
    ev = spark.read.parquet(f"{SF}/events.parquet").orderBy("event_id")
    n = ev.count()
    pdf = ev.toPandas()
    cuts = [0, n // 3, 2 * n // 3, n]
    for i in range(3):
        # microsecond timestamps: Spark's streaming schema reads
        # TIMESTAMP, not the raw INT64 nanos pandas writes by default
        pdf.iloc[cuts[i] : cuts[i + 1]].to_parquet(
            f"{src}/chunk{i}.parquet",
            coerce_timestamps="us",
            allow_truncated_timestamps=True,
        )
    # replay chunk1 verbatim — at-least-once upstream
    shutil.copy(f"{src}/chunk1.parquet", f"{src}/chunk1_replay.parquet")
    return src, ev


def test_stream_matches_batch_oracle(spark, chunked_events, tmp_path):
    src, ev = chunked_events
    S.run_stream_to_memory(
        spark,
        src,
        table_name="dirty_t",
        z=6,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    got = spark.sql(
        "SELECT win.start AS ws, z, tx, ty, n_events, sum_value FROM dirty_t"
    ).toPandas()
    from pyspark.sql import functions as F

    want = (
        S.batch_oracle_counts(ev, z=6)
        .select(
            F.col("win.start").alias("ws"),
            "z",
            "tx",
            "ty",
            "n_events",
            "sum_value",
        )
        .toPandas()
    )
    key = ["ws", "tx", "ty"]
    g = got.sort_values(key).reset_index(drop=True)
    w = want.sort_values(key).reset_index(drop=True)
    assert len(g) == len(w)
    assert (g["n_events"].to_numpy() == w["n_events"].to_numpy()).all()
    assert abs(g["sum_value"].to_numpy() - w["sum_value"].to_numpy()).max() < 1e-9
    # dedup proof: total events == distinct event ids, not file rows
    assert g["n_events"].sum() == ev.count()


def test_stateful_dirty_versions_batching_invariant(spark, tmp_path):
    """applyInPandasWithState custom operator: the emitted (tile,
    version) ticket set must equal {(t, v): v <= total//D} computed
    from the batch totals, REGARDLESS of micro-batch chunking — proof
    the counter state survives across batches (a per-batch agg would
    restart at 0 each file)."""
    import os

    from pyspark.sql import functions as F

    import shutil

    src = str(tmp_path / "stateful_src")
    os.makedirs(src)
    ev = spark.read.parquet(f"{SF}/events.parquet").orderBy("event_id")
    pdf = ev.toPandas()
    n = len(pdf)
    cuts = [0, n // 4, n // 2, 3 * n // 4, n]
    for i in range(4):
        pdf.iloc[cuts[i] : cuts[i + 1]].to_parquet(
            f"{src}/chunk{i}.parquet",
            coerce_timestamps="us",
            allow_truncated_timestamps=True,
        )
    # at-least-once replay: the chained dropDuplicatesWithinWatermark
    # must keep the counter (and the ticket set) replay-invariant
    shutil.copy(f"{src}/chunk1.parquet", f"{src}/chunk1_replay.parquet")

    D = 5
    S.run_stateful_stream_to_memory(
        spark,
        src,
        table_name="dirty_v",
        z=6,
        dirty_every=D,
        checkpoint_dir=str(tmp_path / "ckpt_state"),
    )
    got = spark.sql("SELECT tx, ty, version FROM dirty_v").toPandas()
    assert got.duplicated().sum() == 0

    totals = (
        S.with_tile(S._event_points(ev), 6)
        .groupBy("tx", "ty")
        .agg(F.count("*").alias("total"))
        .toPandas()
    )
    want = {
        (r.tx, r.ty, v)
        for r in totals.itertuples()
        for v in range(1, int(r.total) // D + 1)
    }
    have = {(r.tx, r.ty, r.version) for r in got.itertuples()}
    assert have == want and len(want) > 0
    # cross-batch proof: some tile must have crossed a threshold in a
    # LATER batch than its first event (chunks are 1/4 of the data, so
    # any tile with total >= 2*D has versions from different batches)
    assert (totals["total"] >= 2 * D).any()


def test_tile_assignment_consistent_with_batch_path(spark):
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.plans.flagship import derive_points

    ev = spark.read.parquet(f"{SF}/events.parquet").limit(500)
    via_stream_path = S.with_tile(S._event_points(ev), 9).select(
        "event_id", "tx", "ty"
    )
    span = 2 * S.tm.W / (1 << 9)
    via_batch = derive_points(ev, "user_id").select(
        F.floor((F.col("mx") + F.lit(S.tm.W)) / F.lit(span)).alias("btx"),
        F.floor((F.lit(S.tm.W) - F.col("my")) / F.lit(span)).alias("bty"),
    )
    a = via_stream_path.toPandas().sort_values(["tx", "ty"]).reset_index(drop=True)
    b = via_batch.toPandas().sort_values(["btx", "bty"]).reset_index(drop=True)
    assert (a["tx"].to_numpy() == b["btx"].to_numpy()).all()
    assert (a["ty"].to_numpy() == b["bty"].to_numpy()).all()


def test_incremental_retile_matches_batch_encode(spark, chunked_events, tmp_path):
    """foreachBatch re-tile leg: the latest re-rendered Tile buffer for
    every ticketed tile must be byte-identical to a cold batch encode
    of the same tiles over the full event store."""
    import pyspark.sql.functions as F

    from mapnik_vector_tile_spark.operators import tiling as T

    src, _ev = chunked_events
    out = str(tmp_path / "retile_out")
    ckpt = str(tmp_path / "retile_ckpt")
    Z, D = 6, 5
    S.run_incremental_retile(
        spark, src, out, z=Z, dirty_every=D, checkpoint_dir=ckpt
    )
    got = spark.read.parquet(out)
    # latest batch wins per tile
    from pyspark.sql import Window

    w = Window.partitionBy("x", "y").orderBy(
        F.col("batch_id").desc(), F.col("version").desc()
    )
    latest = (
        got.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select("x", "y", "tile")
    )
    rows = {(r.x, r.y): bytes(r.tile) for r in latest.collect()}
    assert rows, "no tiles re-rendered"

    # cold batch encode of the same tiles over the full store
    events = spark.read.schema(S.EVENTS_SCHEMA).parquet(src)
    feats = S._event_points(events).select(
        F.col("event_id").alias("feature_id"),
        F.lit(1).alias("geom_type"),
        F.array("mx").alias("xs"),
        F.array("my").alias("ys"),
        F.array(F.lit(0), F.lit(1)).alias("part_offsets"),
        F.lit("c").alias("caption"),
    )
    assigned = T.assign_tiles(feats, Z, Z, buffer_units=0)
    batch = {
        (r.x, r.y): bytes(r.tile)
        for r in T.encode_tiles(assigned).collect()
        if (r.x, r.y) in rows
    }
    assert set(rows) == set(batch)
    for k in rows:
        assert rows[k] == batch[k], f"tile {k} differs from batch encode"

    # resume: re-running with the same checkpoint is a no-op
    n_before = spark.read.parquet(out).count()
    S.run_incremental_retile(
        spark, src, out, z=Z, dirty_every=D, checkpoint_dir=ckpt
    )
    assert spark.read.parquet(out).count() == n_before


def test_incremental_retile_overzoom_children(spark, chunked_events, tmp_path):
    """overzoom_dz: each dirty parent's served children are re-derived
    per micro-batch; the LATEST child bytes equal a cold overzoom of
    the final batch-encoded parents — streaming and batch share the
    whole EP3 slow path."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from mapnik_vector_tile_spark.operators import composite as C

    src, _ev = chunked_events
    out = str(tmp_path / "oz_out")
    ckpt = str(tmp_path / "oz_ckpt")
    Z, D = 6, 5
    S.run_incremental_retile(
        spark, src, out, z=Z, dirty_every=D, checkpoint_dir=ckpt,
        overzoom_dz=1,
    )
    kids = spark.read.parquet(out + "_overzoom")
    w = Window.partitionBy("z", "x", "y").orderBy(
        F.col("batch_id").desc(), F.col("version").desc()
    )
    latest = {
        (r.z, r.x, r.y): bytes(r.tile)
        for r in kids.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select("z", "x", "y", "tile")
        .collect()
    }
    assert latest, "no children re-rendered"

    # cold path: batch-encode the parents that streaming re-rendered
    # last, overzoom them once, compare bytes
    base = spark.read.parquet(out)
    wb = Window.partitionBy("x", "y").orderBy(
        F.col("batch_id").desc(), F.col("version").desc()
    )
    parents_latest = (
        base.withColumn("rn", F.row_number().over(wb))
        .filter("rn = 1")
        .select("z", "x", "y", "tile")
    )
    cold = {
        (r.z, r.x, r.y): bytes(r.tile)
        for r in C.overzoom_band(
            C.tiles_to_layers(parents_latest), Z, 1
        ).drop("px", "py").collect()
    }
    assert set(latest) == set(cold)
    for k in latest:
        assert latest[k] == cold[k], f"child {k} differs from cold overzoom"


def test_incremental_retile_rollup_ancestors(spark, chunked_events, tmp_path):
    """§2.10 ancestor refresh: after the stream completes, the latest
    version of every rolled-up ancestor must be byte-identical to a
    cold batch rollup of the final base tiles."""
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.operators import composite as C
    from mapnik_vector_tile_spark.operators import tiling as T

    src, ev = chunked_events
    out = str(tmp_path / "tiles_r")
    S.run_incremental_retile(
        spark,
        src,
        out,
        z=6,
        dirty_every=3,
        checkpoint_dir=str(tmp_path / "ckpt_r"),
        rollup_to_z=4,
    )
    store = spark.read.parquet(out)
    latest_base = (
        store.groupBy("z", "x", "y")
        .agg(F.max(F.struct("batch_id", "version", "tile")).alias("r"))
        .select("z", "x", "y", F.col("r.tile").alias("tile"))
    )
    want = {
        (r["z"], r["x"], r["y"]): bytes(r["tile"])
        for r in T.fold_tiles(
            C.downzoom_band(
                C.tiles_to_layers(latest_base), 4, dedupe_fids=True
            )
        ).collect()
    }
    rolled = spark.read.parquet(out + "_rollup")
    got = {
        (r["z"], r["x"], r["y"]): bytes(r["r"]["tile"])
        for r in rolled.groupBy("z", "x", "y")
        .agg(F.max(F.struct("batch_id", "version", "tile")).alias("r"))
        .collect()
    }
    # every cold-batch ancestor exists in the stream's rollup store
    # with identical bytes (the stream may hold superseded versions
    # of intermediate batches underneath — consumers take latest)
    assert set(want) == set(got)
    assert all(got[k] == want[k] for k in want)


def test_trending_stream_counts_match_batch(spark, tmp_path):
    """Trending-tiles leg: append-mode window counts emitted by the
    stream are a subset of the batch twin's count table (only
    watermark-closed windows emit) with near-full coverage on the
    30-day corpus; rows that emitted match exactly."""
    from mapnik_vector_tile_spark.streaming import trending as T

    src = str(tmp_path / "trend_src")
    os.makedirs(src)
    ev = spark.read.parquet(f"{SF}/events.parquet").orderBy("event_id")
    pdf = ev.toPandas()
    n = len(pdf)
    cuts = [0, n // 3, 2 * n // 3, n]
    for i in range(3):
        pdf.iloc[cuts[i] : cuts[i + 1]].to_parquet(
            f"{src}/chunk{i}.parquet",
            coerce_timestamps="us",
            allow_truncated_timestamps=True,
        )
    T.run_trending_stream_to_memory(
        spark, src, table_name="trend_t",
        checkpoint_dir=str(tmp_path / "ckpt_trend"),
    )
    from pyspark.sql import functions as F

    got = {
        (r["ws"], r["tx"], r["ty"], r["n_events"], r["min_id"])
        for r in spark.sql(
            "SELECT unix_timestamp(win.start) AS ws, tx, ty,"
            " n_events, min_id FROM trend_t"
        ).collect()
    }
    want = {
        (r["ws"], r["tx"], r["ty"], r["n_events"], r["min_id"])
        for r in T.trending_counts(ev)
        .select(
            F.unix_timestamp(F.col("win.start")).alias("ws"),
            "tx", "ty", "n_events", "min_id",
        )
        .collect()
    }
    assert got <= want
    assert len(got) >= 0.8 * len(want)
    # the serving-side rank over the sink table is deterministic and
    # bounded at k per window
    ranked = T.topk_trending(spark.table("trend_t")).collect()
    per_w: dict = {}
    for r in ranked:
        per_w.setdefault(r["wstart"], []).append(r["rnk"])
    for rnk_list in per_w.values():
        assert sorted(rnk_list) == list(range(1, len(rnk_list) + 1))
        assert len(rnk_list) <= T.TREND_K


def test_trending_topk_foreachbatch_sink_equals_batch(spark, tmp_path):
    """§2.10 serving leg end-to-end: the foreachBatch ranking sink's
    published artifact equals the batch top-k EXACTLY.  A far-future
    sentinel event in the last chunk pushes the watermark past every
    real window (the 'infinite watermark' condition), so all real
    windows close and emit; the sentinel's own window never closes
    and so never pollutes the store."""
    import pandas as pd

    from mapnik_vector_tile_spark.streaming import trending as T

    src = str(tmp_path / "topk_src")
    os.makedirs(src)
    ev = spark.read.parquet(f"{SF}/events.parquet").orderBy("event_id")
    pdf = ev.toPandas()
    n = len(pdf)
    cuts = [0, n // 3, 2 * n // 3, n]
    for i in range(3):
        pdf.iloc[cuts[i] : cuts[i + 1]].to_parquet(
            f"{src}/chunk{i}.parquet",
            coerce_timestamps="us",
            allow_truncated_timestamps=True,
        )
    sent = pdf.iloc[[0]].copy()
    sent["event_id"] = int(pdf["event_id"].max()) + 1
    sent["ts"] = pdf["ts"].max() + pd.Timedelta(days=30)
    sent.to_parquet(
        f"{src}/chunk3.parquet",
        coerce_timestamps="us",
        allow_truncated_timestamps=True,
    )
    out = str(tmp_path / "topk_out")
    q = T.run_trending_topk_stream(
        spark, src, out, watermark="0 seconds",
        checkpoint_dir=str(tmp_path / "ckpt_topk"),
    )
    assert q.lastProgress is not None
    got = sorted(
        map(tuple, spark.read.parquet(f"{out}/topk").collect())
    )
    want = sorted(
        map(tuple, T.topk_trending(T.trending_counts(ev)).collect())
    )
    assert got == want and len(got) > 0


def test_shuffle_partitions_pins_only_the_query_start(spark, tmp_path):
    """The pinned spark.sql.shuffle.partitions is captured when the
    query starts: scoping the pin to writer.start() hands the stateful
    operator (and the batch session foreachBatch receives) n partitions,
    while the user's session is back at its own value during the
    batches."""
    import threading

    from mapnik_vector_tile_spark.streaming.util import shuffle_partitions

    key = "spark.sql.shuffle.partitions"
    src = str(tmp_path / "src")
    spark.range(40).selectExpr("id % 5 AS k").write.parquet(src)
    prev = spark.conf.get(key)
    n = int(prev) + 3
    started, seen = threading.Event(), []

    def batch(df, batch_id):
        started.wait(60)  # run the batch only after start() returned
        seen.append((spark.conf.get(key), df.sparkSession.conf.get(key)))
        df.collect()  # a stateful query's batch must be consumed whole

    writer = (
        spark.readStream.schema("k long").parquet(src)
        .groupBy("k").count()
        .writeStream.foreachBatch(batch)
        .outputMode("complete")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
    )
    with shuffle_partitions(spark, n):
        q = writer.start()
    started.set()
    q.awaitTermination()
    assert seen == [(prev, str(n))]
    ops = q.lastProgress["stateOperators"]
    assert ops and all(op["numShufflePartitions"] == n for op in ops)
