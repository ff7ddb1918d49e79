"""Plan-quality assertions (SURVEY.md §4.1): the properties we rely on
at 100 TB — filter pushdown into the parquet scan, broadcast on small
dims, map-side partial aggregation, column pruning — must be visible
in the physical plan, not just assumed. These tests freeze them."""

import pytest

from tests.conftest import SF_DIR

from mapnik_vector_tile_spark.operators import tiling as T


def _plan(df) -> str:
    jqe = df._jdf.queryExecution()
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return jqe.explainString(mode)


@pytest.fixture(scope="module")
def tiles_parquet(spark, tmp_path_factory):
    from mapnik_vector_tile_spark.sources import synth

    path = str(tmp_path_factory.mktemp("planq") / "tiles.parquet")
    images = synth.images_df(spark, 30, with_bytes=False, slices=2)
    feats = T.images_to_features(images)
    T.encode_tiles(T.assign_tiles(feats, 3, 5)).write.parquet(path)
    return path


def test_decode_bbox_prunes_at_scan(spark, tiles_parquet):
    """S2 decode-scan: the bbox predicate must reach the parquet
    source as PushedFilters carrying the ACTUAL per-zoom literal
    ranges (EqualTo(z,..) AND x/y bounds) — an IsNotNull-only pushed
    list means the range math stayed column-dependent and row groups
    are NOT skipped (the vacuous state a prior version of this test
    failed to catch)."""
    from mapnik_vector_tile_spark.functions import tilemath as tm

    tiles = spark.read.parquet(tiles_parquet)
    dec = T.decode_tiles_to_features(tiles, bbox=(-tm.W, 0.0, 0.0, tm.W))
    plan = _plan(dec)
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln][0]
    assert "EqualTo(z," in pushed
    assert "LessThanOrEqual(x," in pushed and "LessThanOrEqual(y," in pushed
    assert "GreaterThanOrEqual(x," in pushed or "GreaterThanOrEqual(x,0)" in pushed


def test_pyramid_uses_partial_aggregation(spark):
    """Flagship pyramid: two HashAggregates (partial before the
    Exchange, final after) and zero Python evaluation nodes — the
    whole plan stays in whole-stage codegen."""
    from mapnik_vector_tile_spark.plans.flagship import pyramid_counts

    df = pyramid_counts(spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("HashAggregate") >= 2
    assert "partial_count" in plan or "partial" in plan
    assert "BatchEvalPython" not in plan  # no per-row Python anywhere


def test_pip_join_broadcasts_region_side(spark):
    """J3: the region cell-cover (small dim) must broadcast — the
    billion-row point side never shuffles for the candidate join."""
    from mapnik_vector_tile_spark.operators import joins as J

    pts = J._order_points(spark, SF_DIR, "orders", "o_orderkey")
    regions = J.merc_rect_regions(spark, SF_DIR)
    pairs = J.pip_join_broadcast(pts, regions, z=6)
    plan = _plan(pairs)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    # the probe (points) side must not have an Exchange hashpartitioning
    # before the broadcast join — count exchanges: only the broadcast one
    assert "BroadcastExchange" in plan


def test_feature_scan_prunes_columns(spark):
    """P1 column pruning: assigning tiles from the orders-derived
    points must read only the columns the query needs (ReadSchema in
    the scan excludes unused order columns like o_comment/o_custkey)."""
    from mapnik_vector_tile_spark.plans.flagship import derive_points

    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    pts = derive_points(orders, "o_orderkey")
    plan = _plan(pts)
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "o_orderkey" in read
    assert "o_custkey" not in read and "o_comment" not in read


def test_balanced_topk_group_limit_before_shuffle(spark):
    """balanced_topk's rank<=k predicate must be rewritten to
    WindowGroupLimit on BOTH sides of the exchange — the map-side one
    bounds shuffle volume to k rows per stratum per input partition,
    which is what makes exact per-stratum sampling viable at 100 TB."""
    from mapnik_vector_tile_spark.operators import sampling as SMP

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(SMP.balanced_topk(docs, k=20))
    assert plan.count("WindowGroupLimit") >= 2
    # map-side partial = a WindowGroupLimit deeper in the tree than the
    # exchange (printed after it in formatted mode)
    exch = plan.index("Exchange")
    assert "WindowGroupLimit" in plan[exch:]
    assert "WindowGroupLimit" in plan[:exch]  # final limit above it too


def test_overzoom_narrow_no_exchange(spark, tiles_parquet):
    """The default overzoom path must stay a narrow fan-out: reading a
    tiles store, splitting to layers, and overzooming adds NO Exchange
    — one pipelined stage from scan to children. redistribute=True
    adds exactly the one hash Exchange it promises."""
    from mapnik_vector_tile_spark.operators import composite as C

    tiles = spark.read.parquet(tiles_parquet).select("z", "x", "y", "tile")
    layers = C.tiles_to_layers(tiles)
    plan = _plan(C.overzoom_layers(layers, 1, buffer_units=64))
    assert "Exchange" not in plan
    plan_r = _plan(
        C.overzoom_layers(layers, 1, buffer_units=64, redistribute=True)
    )
    import re

    # formatted mode prints each node once in the tree and once as a
    # "(n) Exchange" detail header — count distinct nodes
    assert len(re.findall(r"\(\d+\) Exchange", plan_r)) == 1


def test_hot_bucket_guard_broadcasts_tiny_stats(spark):
    """The banded-join hot-bucket guard must tag rows via a BROADCAST
    of the over-limit bucket table (≤ N/limit rows by construction) —
    a shuffle join on the tag, or a window over the full banded table,
    would add full-table exchanges per consumer at 100 TB."""
    from mapnik_vector_tile_spark.operators import dedup as D

    imgs = spark.range(2000).selectExpr(
        "id AS image_id", "id * 2654435761 AS phash"
    )
    plan = _plan(D.phash_neardup_pairs(imgs))
    assert "BroadcastExchange" in plan
    # the banded table is built once behind a checkpoint; its four
    # consumers re-scan the checkpoint, not the upstream pipeline
    assert "Scan ExistingRDD" in plan
    assert "Window" not in plan


def test_geohash_is_single_scan_projection(spark):
    """T15b: the whole geohash encode (code + string + prefix) is ONE
    parquet scan with zero exchanges and zero Python nodes — it must
    stay a codegen projection at 100 TB."""
    import re

    from mapnik_vector_tile_spark.plans.oracles.tiles import q_geohash

    plan = _plan(q_geohash(spark, SF_DIR))
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert "Exchange" not in plan, plan
    assert "Python" not in plan and "BatchEvalPython" not in plan
    # only the two point columns should be read
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "c_custkey" in read and "text" not in read


def test_cell_cover_is_narrow_no_exchange(spark):
    """T15 polyfill: corpus synth + covering kernel are two chained
    mapInPandas stages over spark.range — NO Exchange anywhere (the
    covering fan-out is a narrow flatMap, exactly like overzoom), so
    at 100 TB the stage scales with input splits."""
    from mapnik_vector_tile_spark.plans.oracles.tiles import q_cell_cover

    plan = _plan(q_cell_cover(spark, SF_DIR))
    assert "Exchange" not in plan, plan


def test_pip_cover_join_shape(spark):
    """J4-cover: exactly the intended exchanges — both sides
    hash-repartitioned on (ctx, cty) for the cell equi-join plus the
    geometry join's distribution — and NO broadcast of the big point
    side, no cartesian product."""
    from mapnik_vector_tile_spark.plans.oracles.joins import q_pip_cover_join

    plan = _plan(q_pip_cover_join(spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "hashpartitioning(ctx" in plan, plan


def test_geom_measures_pure_column_no_exchange(spark):
    """§2.9 measures: the shoelace/length/centroid expressions over a
    Column-built features frame compile to a single projection — no
    Exchange, no Python evaluation nodes."""
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.functions import measures as M

    feats = spark.range(0, 100).select(
        F.col("id").alias("feature_id"),
        F.array(F.lit(0.0), F.lit(4.0), F.lit(4.0), F.lit(0.0), F.lit(0.0)).alias("xs"),
        F.array(F.lit(0.0), F.lit(0.0), F.lit(2.0), F.lit(2.0), F.lit(0.0)).alias("ys"),
        F.array(F.lit(0), F.lit(5)).alias("part_offsets"),
    )
    df = feats.select(
        "feature_id",
        M.signed_area2().alias("a2"),
        M.boundary_length().alias("ln"),
        M.vertex_mean("xs").alias("vx"),
    )
    plan = _plan(df)
    assert "Exchange" not in plan, plan
    assert "Python" not in plan and "BatchEvalPython" not in plan, plan


def test_radius_join_single_equi_join_no_cartesian(spark):
    """J5-companion: the distance join compiles to ONE cell equi-join
    (SortMerge or ShuffledHash) — never a cartesian/BNL product — and
    the d2 filter stays Column algebra (no Python nodes)."""
    from mapnik_vector_tile_spark.plans.oracles.joins import q_radius_join

    plan = _plan(q_radius_join(spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "Python" not in plan and "BatchEvalPython" not in plan, plan


def test_zonal_stats_partial_then_final_agg(spark):
    """R4-companion: the per-tile mask pass partial-aggregates before
    the final region_id aggregation (two HashAggregates around one
    Exchange on region_id) and no cartesian product appears."""
    from mapnik_vector_tile_spark.plans.oracles.raster import q_zonal_stats

    plan = _plan(q_zonal_stats(spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert plan.count("HashAggregate") >= 2, plan
    assert "partial" in plan, plan


def test_downzoom_single_bounded_shuffle(spark, tiles_parquet):
    """U5: one rollup level over a layer table adds exactly ONE
    Exchange (the parent-key shuffle with its hard 4-row fan-in bound)
    and no cartesian/driver-side structure."""
    from mapnik_vector_tile_spark.operators import composite as C

    tiles = spark.read.parquet(tiles_parquet)
    layers = C.tiles_to_layers(tiles)
    plan = _plan(C.downzoom_layers(layers))
    # formatted mode lists every node twice (tree + detail section):
    # count the tree edge form
    assert plan.count("+- Exchange") == 1, plan
    assert "CartesianProduct" not in plan, plan


def test_tilejson_two_level_partial_aggregation(spark, tiles_parquet):
    """groupBy(layer,z) first with map-side partials, then the k-row
    layer aggregate."""
    from mapnik_vector_tile_spark.operators import composite as C

    tiles = spark.read.parquet(tiles_parquet)
    plan = _plan(C.tilejson_layers(C.tiles_to_layers(tiles)))
    assert plan.count("HashAggregate") >= 3, plan
    assert "partial" in plan, plan


def test_label_grid_map_side_top1(spark):
    """W4 label collision: the per-cell top-1 must be rewritten by
    WindowGroupLimit on both sides of the exchange (map-side partial
    limit before the shuffle), same 100 TB shape as balanced_topk."""
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.operators import tiling as T
    from mapnik_vector_tile_spark.sources.synth import images_df

    feats = T.images_to_features(images_df(spark, 500, with_bytes=False))
    assigned = T.assign_tiles(feats, 3, 3, buffer_units=0)
    out = T.label_grid_top1(
        assigned, priority=(F.col("feature_id") * 7) % 100
    )
    plan = _plan(out)
    assert plan.count("WindowGroupLimit") >= 2
    exch = plan.index("Exchange")
    assert "WindowGroupLimit" in plan[exch:]
    assert "WindowGroupLimit" in plan[:exch]


def test_tile_store_partition_and_rowgroup_pruning(spark, tmp_path):
    """S6 store layout: a z filter must reach PartitionFilters
    (directory pruning — low-zoom files never open) and an x filter
    must reach PushedFilters (sorted row-group stats pruning)."""
    import pandas as pd

    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.sources.store import (
        read_tile_store,
        write_tile_store,
    )

    rows = []
    for z in (3, 4, 5):
        for x in range(1 << z):
            rows.append((z, x, x % (1 << z), b"\x1a\x00"))
    tiles = spark.createDataFrame(
        pd.DataFrame(rows, columns=["z", "x", "y", "tile"]),
        "z int, x long, y long, tile binary",
    )
    path = str(tmp_path / "store")
    write_tile_store(tiles, path)

    back = read_tile_store(spark, path)
    plan = back.filter((F.col("z") == 5) & (F.col("x") >= 12))._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "z" in plan.split("PartitionFilters")[1][:120]
    assert "PushedFilters" in plan
    pushed = plan.split("PushedFilters")[1][:160]
    assert "GreaterThanOrEqual(x,12)" in pushed

    # layout: one directory per z
    import os

    assert sorted(
        d for d in os.listdir(path) if d.startswith("z=")
    ) == ["z=3", "z=4", "z=5"]
    # round-trip row counts per z
    got = {r.z: r.cnt for r in back.groupBy("z").count().withColumnRenamed("count", "cnt").collect()}
    assert got == {3: 8, 4: 16, 5: 32}


def _jobs_run(spark, fn):
    """(fn(), number of Spark jobs fn started), counted in a job group
    of its own once the listener bus has caught up."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_tile_store_read_starts_no_job(spark, tmp_path):
    """read_tile_store takes its schema from a parquet footer instead of
    a schema-inference job: creating the DataFrame runs no Spark job,
    the schema equals Spark's inferred one, and a stored-tile request
    (pruned scan + decode) is one job."""
    import pandas as pd

    from pyspark.errors import AnalysisException
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.sources import synth
    from mapnik_vector_tile_spark.sources.store import (
        read_tile_store,
        write_tile_store,
    )

    plain = spark.createDataFrame(
        pd.DataFrame(
            [(z, x, x, b"\x1a\x00") for z in (2, 3) for x in range(1 << z)],
            columns=["z", "x", "y", "tile"],
        ),
        "z int, x long, y long, tile binary",
    )
    feats = T.images_to_features(
        synth.images_df(spark, 40, with_bytes=False, slices=2)
    )
    encoded = T.encode_tiles_from_features(feats, 0, 4)
    for name, tiles, cols in (
        ("plain", plain, {"tile"}),
        ("encoded", encoded, {"tile", "n_layers", "n_features"}),
    ):
        path = str(tmp_path / name)
        write_tile_store(tiles, path)
        back, jobs = _jobs_run(spark, lambda: read_tile_store(spark, path))
        assert jobs == 0, name
        assert back.schema == spark.read.parquet(path).schema, name
        assert cols <= set(back.columns), name
        uri, jobs = _jobs_run(
            spark, lambda: read_tile_store(spark, "file://" + path)
        )
        assert jobs == 0 and uri.schema == back.schema, name

    key = encoded.select("z", "x", "y").orderBy("z", "x", "y").first()
    rows, jobs = _jobs_run(
        spark,
        lambda: T.decode_tiles_to_features(
            read_tile_store(spark, path).filter(
                (F.col("z") == key.z) & (F.col("x") == key.x)
                & (F.col("y") == key.y)
            )
        ).collect(),
    )
    assert rows and jobs == 1

    with pytest.raises(AnalysisException):
        read_tile_store(spark, str(tmp_path / "missing"))


def test_pyramid_build_is_one_encode_exchange(spark, tmp_path):
    """A whole pyramid (z0-11) from features to the store: the features
    are evaluated once, every zoom goes through ONE encode exchange
    that finishes each tile inline (no partial encode, no fold), and
    the build runs 3 Spark jobs: the encode exchange, the store's
    repartition on z and the write.  The input has a partition per core,
    as the pyramid_build workload's does, so assign_tiles adds no
    exchange of its own."""
    from mapnik_vector_tile_spark.sources import synth
    from mapnik_vector_tile_spark.sources.store import write_tile_store

    slices = spark.sparkContext.defaultParallelism
    feats = T.images_to_features(
        synth.images_df(spark, 40, with_bytes=False, slices=slices)
    )
    tiles = T.encode_tiles_from_features(feats, 0, 11)

    def physical(df):
        return df._jdf.queryExecution().executedPlan().toString()

    plan = physical(tiles)
    # the features' own MapInPandas nodes, then the assign and the encode
    assert plan.count("MapInPandas") == physical(feats).count("MapInPandas") + 2
    assert plan.count("Exchange") == 1
    _, jobs = _jobs_run(
        spark, lambda: write_tile_store(tiles, str(tmp_path / "store"))
    )
    assert jobs == 3


def test_spatial_block_split_no_exchange(spark):
    """T17d: block assignment + split coin is a narrow projection (one
    Arrow-batched hash, no shuffle) — a split that shuffled the fact
    table would be a 100 TB anti-pattern."""
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.operators.sampling import (
        spatial_block_split,
    )

    df = spark.range(1000).select(
        F.col("id"),
        (F.rand(3) * 2e7 - 1e7).alias("mx"),
        (F.rand(4) * 2e7 - 1e7).alias("my"),
    )
    plan = _plan(spatial_block_split(df))
    assert "Exchange" not in plan, plan


def test_vtquery_prunes_store_and_takes_ordered(spark, tiles_parquet):
    """S7: the serving query must (1) push the radius-derived address
    ranges to the tile scan (two-level prune, no full store read) and
    (2) rank via TakeOrderedAndProject, never a full sort of the
    decoded features."""
    import re

    # the fixture pyramid lives at z3..5 near the assigned points; a
    # query at their lon/lat with a small radius prunes to a few tiles
    q = T.vtquery(spark.read.parquet(tiles_parquet), 12.5, 41.9, 500, 5, k=3)
    plan = _plan(q)
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln][0]
    assert "EqualTo(z," in pushed and "LessThanOrEqual(x," in pushed
    assert "TakeOrderedAndProject" in plan, plan
    assert len(re.findall(r"\(\d+\) Sort\b", plan)) == 0, plan


def test_zoom_thin_filter_is_scan_level(spark):
    """The standalone zoom_thin post-filter compiles to ONE Filter
    over the assigned relation — the only Python is the shared
    splitmix coin pandas UDF (Arrow-batched), no Exchange, no join."""
    from mapnik_vector_tile_spark.operators import tiling as T

    assigned = spark.createDataFrame(
        [(1, 0, 0, 0), (2, 5, 3, 3)], "feature_id long, z int, x int, y int"
    )
    plan = _plan(T.zoom_thin(assigned, base_z=8))
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_utfgrid_jvm_side_bounded_exchanges(spark):
    """S9: the UTFGrid encode is pure Column math — no Python eval
    anywhere in the plan, and only the cell aggregate / tile window /
    row fold exchanges (every one keyed by the tile address, the
    partitioning a tile store already has)."""
    from mapnik_vector_tile_spark.operators.tiling import utfgrid_rows
    from mapnik_vector_tile_spark.plans.flagship import derive_points

    pts = derive_points(spark.range(2000), "id")
    plan = _plan(utfgrid_rows(pts, z=6))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("Exchange hashpartitioning") <= 3


def test_str_pack_no_global_sort(spark):
    """S8: STR packing must never materialize a global sort — the
    exact cuts come from bounded histogram rank-selects; the final
    plan (post-cut assignment) is one hash aggregate with map-side
    partials and broadcast joins only."""
    import numpy as np

    from mapnik_vector_tile_spark.operators.spatial_index import (
        str_pack_points,
    )

    rng = np.random.default_rng(3)
    n = 2000
    rows = [
        (int(i), int(x) * 1000 + int(i), int(y) * 1000 + int(i))
        for i, (x, y) in enumerate(
            zip(rng.permutation(n), rng.permutation(n))
        )
    ]
    df = spark.createDataFrame(rows, "k long, xi long, yi long")
    out = str_pack_points(df, "xi", "yi", "k", capacity=64)
    plan = _plan(out)
    # rank-select windows are per-bucket (partitioned); the final plan
    # must not contain a global (empty-partition) sort-based window
    assert "Sort [" not in plan or "SortExec" not in plan
    assert "Exchange rangepartitioning" not in plan
    assert "partial_" in plan  # map-side combine on the leaf aggregate


def test_voronoi_broadcasts_seeds_and_partial_aggs(spark):
    """ST5: the seed side must broadcast (never shuffle the cell
    table against it) and the argmin groupBy must partial-aggregate
    map-side so shuffle rows are one per cell, not cells x seeds."""
    from mapnik_vector_tile_spark.operators.geostats import voronoi_assign

    cells = spark.range(100).selectExpr(
        "id % 10 AS cx", "id DIV 10 AS cy"
    )
    seeds = spark.range(5).selectExpr(
        "id AS seed_id", "id * 2 AS sx", "id * 3 AS sy"
    )
    plan = _plan(voronoi_assign(cells, seeds))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "partial_min" in plan or "partial" in plan
    assert "PythonUDF" not in plan


def test_hilbert_zero_shuffle_projection(spark):
    """S11: the whole z-level recurrence is one codegen projection —
    no Exchange, no Python."""
    from mapnik_vector_tile_spark.plans.oracles.tiles import _hilbert_query
    from mapnik_vector_tile_spark.plans.shared_sql import load_views

    load_views(spark, SF_DIR)
    plan = _plan(spark.sql(_hilbert_query("spark")))
    assert "Exchange" not in plan
    assert "PythonUDF" not in plan
    # the codegen star on Project marks whole-stage codegen in
    # formatted explain output
    assert "* Project" in plan


def test_pagerank_round_is_join_plus_partial_agg(spark):
    """G3: each round = one equi-join on the edge table + a partial
    sum before the exchange; no cartesian anywhere."""
    from mapnik_vector_tile_spark.operators.graph import pagerank_rounds

    edges = spark.range(20).selectExpr("id % 5 AS u", "(id + 1) % 5 AS v")
    plan = _plan(pagerank_rounds(edges, rounds=1))
    assert "CartesianProduct" not in plan
    assert "partial_sum" in plan or "partial" in plan


def test_way_assembly_pushes_only_needed_columns(spark, tmp_path):
    """J12: the node-table scan must read only (node_id, x, y) even
    when the source carries extra payload columns."""
    from mapnik_vector_tile_spark.operators.joins import assemble_ways

    p = str(tmp_path / "nodes.parquet")
    spark.range(50).selectExpr(
        "id AS node_id", "id AS x", "id AS y",
        "repeat('p', 10) AS payload", "id AS extra"
    ).write.parquet(p)
    nodes = spark.read.parquet(p)
    ways = spark.createDataFrame(
        [(1, [1, 2, 3])], "way_id long, refs array<long>"
    )
    plan = _plan(assemble_ways(ways, nodes))
    scan = [
        ln for ln in plan.splitlines()
        if "ReadSchema" in ln and "node_id" in ln
    ]
    assert scan and "payload" not in scan[0] and "extra" not in scan[0]


def test_hausdorff_two_level_minmax_partial_aggs(spark):
    """W10: both directed folds keep the min partial-aggregated
    map-side (two HashAggregates per direction) with no cartesian."""
    from mapnik_vector_tile_spark.operators.temporal import hausdorff_pairs

    pts = spark.range(20).selectExpr(
        "id % 4 AS tid", "id AS x", "id * 2 AS y"
    )
    pairs = spark.createDataFrame([(0, 1), (2, 3)], "ta long, tb long")
    plan = _plan(hausdorff_pairs(pts, pairs))
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 4
    assert "partial_min" in plan or "partial" in plan


def test_erosion_round_is_join_plus_count_aware_min(spark):
    """ST7: each round = one left equi-join + a partial min/count
    aggregate; no Python, no cartesian."""
    from mapnik_vector_tile_spark.operators.geostats import erosion_depth

    cells = spark.range(25).selectExpr("id % 5 AS cx", "id DIV 5 AS cy")
    plan = _plan(erosion_depth(cells, rounds=1))
    assert "CartesianProduct" not in plan
    assert "PythonUDF" not in plan
    assert "partial" in plan
