"""Spatial joins — SURVEY.md §2.3 J3/J4/J5 (north_rule mandated; the
reference has no relational joins, its one join-shaped computation is
the per-tile datasource probe this engine inverts in operators.tiling).

Design: candidate generation stays ENTIRELY in Catalyst (explode +
equi-join on integer cell coordinates — broadcastable / shuffleable /
AQE-skew-splittable like any relational join); only the exact
point-in-polygon refine drops into a vectorized Arrow kernel, grouped
by region inside each batch so the ray-cast runs over thousands of
points per Python call.

Scale:
* J3 broadcast: regions << points (the common case — admin polygons vs
  10^12 image points). Cell cover of the region side is a few thousand
  rows — broadcast; the point side never shuffles at all.
* J4 range-partitioned: same candidate algebra but both sides shuffle
  on the cell key (PBSM/GridJoin); used when regions don't fit in a
  broadcast. Skewed cells (a metro-area cell with 10^8 points) are
  handled by AQE skew-join splitting — candidates are a plain equi-join,
  exactly the shape AQE knows how to split.
* J5 kNN: expanding Chebyshev cell-block probe. Round r searches the
  (2r+1)^2 block; a query is FINAL when its kth candidate distance
  <= r * cell_span (no unsearched cell can contain anything closer).
  Survivors re-probe at a wider radius; the tiny remainder falls back
  to a broadcast brute-force. All distance arithmetic is Column math
  (bit-exact vs the DuckDB oracle); Python never touches a row.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapnik_vector_tile_spark.functions import pip as pipmod
from mapnik_vector_tile_spark.functions import tilemath as tm

TWO_W = 2.0 * tm.W


def _tile_xy_cols(mx, my, z: int):
    # delegate to THE clamped tile-coord expressions (tilemath) — a
    # private copy here could drift from the tiling grid / SQL oracle
    return tm.tile_x_col(mx, z), tm.tile_y_col(my, z)


def with_point_cell(points: DataFrame, z: int, mx="mx", my="my") -> DataFrame:
    """Attach integer cell coords (A.2 point assignment) — pure Column
    math, stays in whole-stage codegen."""
    tx, ty = _tile_xy_cols(F.col(mx), F.col(my), z)
    return points.withColumn("ctx", tx).withColumn("cty", ty)


def cover_region_cells(regions: DataFrame, z: int) -> DataFrame:
    """region -> one row per covering cell of its envelope (A.2 range
    cover). Envelope + floor-range math in Columns; the explode is the
    only row-amplifying step. Input needs xs/ys array<double> (merc)."""
    env = regions.select(
        "region_id",
        F.array_min("xs").alias("minx"),
        F.array_max("xs").alias("maxx"),
        F.array_min("ys").alias("miny"),
        F.array_max("ys").alias("maxy"),
    )
    lox, _ = _tile_xy_cols(F.col("minx"), F.col("miny"), z)
    hix, _ = _tile_xy_cols(F.col("maxx"), F.col("miny"), z)
    # y grows downward in tile space: maxy -> lo row
    _, loy = _tile_xy_cols(F.col("minx"), F.col("maxy"), z)
    _, hiy = _tile_xy_cols(F.col("minx"), F.col("miny"), z)
    cells = (
        env.withColumn("lox", lox)
        .withColumn("hix", hix)
        .withColumn("loy", loy)
        .withColumn("hiy", hiy)
        .select(
            "region_id",
            F.explode(F.sequence("lox", "hix")).alias("ctx"),
            F.sequence("loy", "hiy").alias("_ys"),
        )
        .select("region_id", "ctx", F.explode("_ys").alias("cty"))
    )
    # no range filter needed: _tile_xy_cols clamps lo/hi to [0, lim],
    # so every exploded cell is in range by construction (fully
    # off-world regions degrade to edge-cell candidates, removed by
    # the exact refine)
    return cells


REFINE_SCHEMA = "point_id long, region_id long"


def packed_geometry(regions: DataFrame) -> DataFrame:
    """(region_id, xs, ys, ring_offsets) → (region_id, geom binary):
    region geometry packed to ONE binary column (tiling._pack_coords)
    for transport through joins. Geometry must never cross an exchange
    as Arrow list columns: a join materializes a geometry copy PER
    CANDIDATE ROW, and list columns through exchange+Arrow cost ~5-20x
    a binary of the same bytes (measured in operators.tiling) — at
    10^9 candidates that is the difference between a working join and
    a stalled one. Shared by _refine and raster.zonal_stats."""
    from mapnik_vector_tile_spark.operators.tiling import _pack_coords

    def pack_gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            yield pd.DataFrame(
                {
                    "region_id": pdf["region_id"],
                    "geom": [
                        _pack_coords(x, y, o)
                        for x, y, o in zip(
                            pdf["xs"], pdf["ys"], pdf["ring_offsets"]
                        )
                    ],
                }
            )

    return regions.select(
        "region_id", "xs", "ys", "ring_offsets"
    ).mapInPandas(pack_gen, schema="region_id long, geom binary")


def _refine(cands: DataFrame, regions: DataFrame, broadcast_geo: bool) -> DataFrame:
    """Exact PIP refine over (point, region) candidates: join region
    geometry back on (packed binary — see packed_geometry), then a
    batch-grouped vectorized ray cast (A.7) — one numpy call per
    region per batch, not per point."""
    from mapnik_vector_tile_spark.operators.tiling import _unpack_coords

    geo = packed_geometry(regions)
    if broadcast_geo:
        geo = F.broadcast(geo)
    joined = cands.join(geo, "region_id").select(
        "point_id", "region_id", "mx", "my", "geom"
    )

    def refine_batches(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            pdf = pdf.sort_values("region_id", kind="mergesort")
            rid = pdf["region_id"].to_numpy()
            starts = np.concatenate(
                ([0], np.flatnonzero(rid[1:] != rid[:-1]) + 1, [len(pdf)])
            )
            mx = pdf["mx"].to_numpy()
            my = pdf["my"].to_numpy()
            geom_col = pdf["geom"].to_numpy()
            pid = pdf["point_id"].to_numpy()
            out_p, out_r = [], []
            for i in range(len(starts) - 1):
                s, e = int(starts[i]), int(starts[i + 1])
                gx, gy, gro = _unpack_coords(geom_col[s])
                inside = pipmod.points_in_polygon(
                    mx[s:e], my[s:e], gx, gy, gro
                )
                sel = np.flatnonzero(inside) + s
                out_p.append(pid[sel])
                out_r.append(rid[sel])
            yield pd.DataFrame(
                {
                    "point_id": np.concatenate(out_p),
                    "region_id": np.concatenate(out_r),
                }
            )

    return joined.mapInPandas(refine_batches, schema=REFINE_SCHEMA)


def _pip_candidates(
    points: DataFrame, cells: DataFrame, z: int, broadcast: bool
) -> DataFrame:
    """Candidate (point, region) pairs of every PIP join: each point's
    z-cell equi-joined to the regions' covering ``cells`` (region_id,
    ctx, cty). ``broadcast`` ships the cells to the point side (which
    then never shuffles); otherwise both sides shuffle on the cell key
    (PBSM), where AQE skew-join splits hot cells."""
    pts = with_point_cell(points, z).select(
        F.col("id").alias("point_id"), "mx", "my", "ctx", "cty"
    )
    if broadcast:
        cands = pts.join(F.broadcast(cells), ["ctx", "cty"])
    else:
        n = int(
            points.sparkSession.conf.get("spark.sql.shuffle.partitions", "64")
        )
        cands = pts.repartition(n, "ctx", "cty").join(
            cells.repartition(n, "ctx", "cty"), ["ctx", "cty"]
        )
    return cands.select("point_id", "region_id", "mx", "my")


def _exact_cover_cells(regions: DataFrame, z: int) -> DataFrame:
    """(region_id, ctx, cty) for every cell the region's polygon
    touches (operators/cellcover.py), not its envelope's range."""
    from mapnik_vector_tile_spark.operators.cellcover import (
        cover_polygon_cells,
    )

    feats = regions.select(
        F.col("region_id").alias("feature_id"),
        F.lit(3).alias("geom_type"),
        "xs",
        "ys",
        F.col("ring_offsets").alias("part_offsets"),
        F.lit("").alias("caption"),
    )
    return cover_polygon_cells(feats, z).select(
        F.col("feature_id").alias("region_id"),
        F.col("cx").alias("ctx"),
        F.col("cy").alias("cty"),
    )


def pip_join_broadcast(
    points: DataFrame, regions: DataFrame, z: int = 7
) -> DataFrame:
    """J3: points(id,mx,my) ⋈ regions(region_id,xs,ys,ring_offsets) ON
    ST_Contains — broadcast cell prefilter + exact refine. Point side
    never shuffles; output (point_id, region_id)."""
    cands = _pip_candidates(
        points, cover_region_cells(regions, z), z, broadcast=True
    )
    return _refine(cands, regions, broadcast_geo=True)


def pip_join_partitioned(
    points: DataFrame, regions: DataFrame, z: int = 7
) -> DataFrame:
    """J4: same algebra, both sides shuffled on the cell key (PBSM) —
    for region tables too large to broadcast. AQE skew-join splits hot
    cells; candidates stay an equi-join Catalyst understands."""
    cands = _pip_candidates(
        points, cover_region_cells(regions, z), z, broadcast=False
    )
    return _refine(cands, regions, broadcast_geo=False)


def pip_join_cover(
    points: DataFrame, regions: DataFrame, z: int = 7
) -> DataFrame:
    """J4 upgrade: partitioned PIP whose candidate cells come from the
    EXACT polygon covering (operators/cellcover.py) instead of the
    envelope range — for concave or diagonal regions the envelope
    cover manufactures candidates the refine must discard (a thin
    diagonal region of D cells has a D² envelope), while the exact
    cover's candidate count is proportional to the region's true cell
    footprint. Same algebra downstream: cell equi-join, packed-binary
    geometry refine. Closed-boundary covering guarantees no false
    negatives: a point's floor-cell always intersects any region
    containing the point, so the covered-cell equi-join can't miss."""
    cands = _pip_candidates(
        points, _exact_cover_cells(regions, z), z, broadcast=False
    )
    return _refine(cands, regions, broadcast_geo=False)


def pip_join_anti(
    points: DataFrame, regions: DataFrame, z: int = 7
) -> DataFrame:
    """J3 anti variant: the points contained in NO region (keeps the
    point side's columns). At scale the broadcast cell prefilter does
    the heavy lifting — a point whose cell touches no region cover is
    proven outside without ever reaching the geometry test — so the
    anti join only has to subtract the refined hit set. No explicit
    broadcast hint on that set: its size is data-dependent (dense
    region covers can make it ~|points|), so AQE's runtime size check
    picks broadcast-anti vs shuffle-anti. Semi is the same shape with
    ``left_semi`` (pip_join_semi)."""
    return _pip_join_membership(points, regions, z, "left_anti")


def pip_join_semi(
    points: DataFrame, regions: DataFrame, z: int = 7
) -> DataFrame:
    """J3 semi variant: the points contained in at least one region,
    each emitted once regardless of how many regions contain it (the
    `dropDuplicates`-on-surviving-keys shape from SURVEY §2.3 J3,
    expressed as a proper left_semi so Catalyst can pick the
    build side)."""
    return _pip_join_membership(points, regions, z, "left_semi")


def _pip_join_membership(
    points: DataFrame, regions: DataFrame, z: int, how: str
) -> DataFrame:
    hits = pip_join_broadcast(points, regions, z).select("point_id")
    return points.join(hits, points["id"] == hits["point_id"], how)


def radius_join(
    queries: DataFrame,
    targets: DataFrame,
    radius: float,
    z: int | None = None,
) -> DataFrame:
    """J5 companion: every (query, target) pair within Euclidean merc
    distance ≤ radius — the fixed-radius twin of the kNN join (same
    cell-block candidate algebra, no ring EXPANSION because the radius
    bounds the search up front).

    Plan: pick the FINEST z whose cell span is still ≥ radius (the
    tightest grid where the 3×3 neighbor block around a query's cell
    PROVABLY contains every target within the radius — Chebyshev ⊇
    Euclidean; finer would miss, coarser wastes candidates). The query
    side
    explodes its 9 block cells (bounded 9× amplification), candidates
    are ONE equi-join on the cell key (AQE skew-splits a hot cell's
    shuffle), and the exact squared-distance filter is pure Column
    algebra — whole plan stays in codegen, no UDF, no crossJoin.
    Output (query_id, target_id, d2) with d2 the exact squared
    distance (no sqrt — monotone, and exact in float64 for dyadic
    corpora, which keeps the oracle hashable)."""
    if radius <= 0:
        raise ValueError("radius_join: radius must be > 0")
    if z is None:
        z = 0
        while z < 30 and tm.tile_span(z + 1) >= radius:
            z += 1
    elif tm.tile_span(z) < radius:
        raise ValueError(
            f"radius_join: tile_span(z={z}) < radius — the 3x3 block "
            "would miss in-radius targets; pass a coarser z"
        )
    qc = (
        with_point_cell(queries, z)
        .select(
            F.col("id").alias("query_id"),
            F.col("mx").alias("qx"),
            F.col("my").alias("qy"),
            "ctx", "cty",
        )
        .withColumn("_d", F.explode(F.sequence(F.lit(0), F.lit(8))))
        .select(
            "query_id", "qx", "qy",
            (F.col("ctx") + F.col("_d") % 3 - 1).alias("ctx"),
            (F.col("cty") + F.floor(F.col("_d") / 3).cast("long") - 1).alias("cty"),
        )
    )
    tc = with_point_cell(targets, z).select(
        F.col("id").alias("target_id"),
        F.col("mx").alias("tx"),
        F.col("my").alias("ty"),
        "ctx", "cty",
    )
    d2 = (F.col("qx") - F.col("tx")) * (F.col("qx") - F.col("tx")) + (
        F.col("qy") - F.col("ty")
    ) * (F.col("qy") - F.col("ty"))
    return (
        qc.join(tc, ["ctx", "cty"])
        .withColumn("d2", d2)
        .filter(F.col("d2") <= F.lit(float(radius) * float(radius)))
        .select("query_id", "target_id", "d2")
    )


def idw_interpolate(
    queries: DataFrame,
    targets: DataFrame,
    radius: float,
    value_col: str = "v",
    z: int | None = None,
) -> DataFrame:
    """J5c inverse-distance-weighted interpolation — the classic
    spatial estimator (GDAL gdal_grid invdist; power=2): each query
    point's value is Σ(vᵢ/dᵢ²)/Σ(1/dᵢ²) over targets within
    ``radius``. Candidates come from the radius_join cell-block plan
    (one equi-join, no crossJoin); queries with no in-radius target
    emit no row (estimator undefined — callers outer-join if they
    need NULLs).

    Cross-engine exactness WITHOUT rounding: every 1/d² and v/d² is
    one correctly-rounded IEEE division of identically-computed
    doubles, and both folds run in the SAME order (ascending
    target_id, the bigram-LM ordered-fold precedent) — so the final
    division is bit-identical in DuckDB and the hash needs no epsilon.
    An EXACT HIT (d² == 0, where the weight is infinite) short-
    circuits to the lowest-id zero-distance target's value — the
    standard IDW convention, pinned in tests.

    Output: (query_id, n_nbrs, idw)."""
    pairs = radius_join(queries, targets, radius, z=z)
    tv = targets.select(
        F.col("id").alias("target_id"), F.col(value_col).alias("_v")
    )
    j = pairs.join(tv, "target_id")
    # collect_list skips nulls: exact hits (d2 == 0, infinite weight)
    # stay out of the folds — they resolve through the hit branch, and
    # a 0-divisor element would NULL-poison the fold in both engines
    ordered = F.sort_array(
        F.collect_list(
            F.when(
                F.col("d2") > 0.0,
                F.struct(
                    F.col("target_id"),
                    F.col("_v").cast("double").alias("v"),
                    F.col("d2"),
                ),
            )
        )
    )
    g = j.groupBy("query_id").agg(
        ordered.alias("nb"),
        F.count(F.lit(1)).cast("long").alias("n_nbrs"),
        F.min(
            F.when(F.col("d2") == 0.0, F.struct("target_id", F.col("_v")))
        ).alias("hit"),
    )
    num = F.aggregate(
        F.col("nb"), F.lit(0.0), lambda a, s: a + s["v"] / s["d2"]
    )
    den = F.aggregate(
        F.col("nb"), F.lit(0.0), lambda a, s: a + F.lit(1.0) / s["d2"]
    )
    idw = F.when(
        F.col("hit").isNotNull(), F.col("hit")["_v"].cast("double")
    ).otherwise(num / den)
    return g.select("query_id", "n_nbrs", idw.alias("idw"))


def knn_auto_z(n_targets: int, k: int, r0: int = 2) -> int:
    """Pick the probe-grid level from target density: aim for ~8k
    expected candidates inside the FIRST (2·r0+1)² probe block, so
    most queries are provably final in round one (kth distance well
    under the r0·span bound) while the block join stays ~O(k) per
    query. z too coarse (z=6 on 150k targets: 37 targets/cell ⇒ 333
    candidates/query through the first window) measured 5-8x slower
    than z at this density rule; z too fine pays extra rounds. Clamped
    to [3, 14]."""
    cells = max(1.0, n_targets * (2 * r0 + 1) ** 2 / (8.0 * k))
    return max(3, min(14, round(math.log(cells, 4))))


def knn_join(
    queries: DataFrame,
    targets: DataFrame,
    k: int = 5,
    z: int = 7,
    radii: tuple[int, ...] = (1, 2, 4),
) -> DataFrame:
    """J5: for each query point the k nearest targets, by expanding
    Chebyshev cell-block probes. Pure DataFrame algebra — explode of a
    (2r+1)^2 offset grid, equi-join on cell coords, Window top-k;
    distance math is Column arithmetic (oracle-bit-exact). Queries not
    provably final at the widest radius fall back to a broadcast
    brute-force (a vanishing fraction on real data).

    queries: (id, mx, my); targets: (tid, tx, ty).
    Returns (id, nbr, rank) with deterministic (dist2, nbr) tiebreak.
    """
    span = TWO_W / (1 << z)
    lim = (1 << z) - 1
    tgt = with_point_cell(targets, z, "tx", "ty").select(
        "tid", "tx", "ty", "ctx", "cty"
    )
    q = with_point_cell(queries, z).select("id", "mx", "my", "ctx", "cty")

    dist2 = (F.col("tx") - F.col("mx")) * (F.col("tx") - F.col("mx")) + (
        F.col("ty") - F.col("my")
    ) * (F.col("ty") - F.col("my"))
    w = Window.partitionBy("id").orderBy("dist2", "nbr")

    results = []
    remaining = q
    for r in radii:
        off = F.sequence(F.lit(-r), F.lit(r))
        probes = (
            remaining.withColumn("dx", F.explode(off))
            .withColumn("dy", F.explode(off))
            .select(
                "id",
                "mx",
                "my",
                "ctx",
                "cty",
                (F.col("ctx") + F.col("dx")).alias("ptx"),
                (F.col("cty") + F.col("dy")).alias("pty"),
            )
            .filter(
                (F.col("ptx") >= 0)
                & (F.col("ptx") <= lim)
                & (F.col("pty") >= 0)
                & (F.col("pty") <= lim)
            )
        )
        cands = probes.join(
            tgt.withColumnRenamed("ctx", "ptx").withColumnRenamed("cty", "pty"),
            ["ptx", "pty"],
        ).select(
            "id",
            "mx",
            "my",
            "ctx",
            "cty",
            F.col("tid").alias("nbr"),
            dist2.alias("dist2"),
        )
        bound2 = float(r * span) ** 2
        # ONE materialization of the expensive probe-join+window per
        # round (localCheckpoint): finality stats, the emitted rows,
        # and the next frontier all derive from it — without this the
        # candidate window re-executes once per consumer (~3x).
        wfull = Window.partitionBy("id")
        marked = (
            cands.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .withColumn("n_cand", F.count("*").over(wfull))
            .withColumn("kth", F.max("dist2").over(wfull))
            .localCheckpoint(eager=True)
        )
        is_final = (F.col("n_cand") == k) & (F.col("kth") <= F.lit(bound2))
        results.append(
            marked.filter(is_final).select("id", "nbr", "rank")
        )
        final_ids = marked.filter(is_final).select("id").distinct()
        remaining = remaining.join(F.broadcast(final_ids), "id", "left_anti")
        if remaining.isEmpty():  # one job; the post-loop check reuses it
            remaining = None
            break

    if remaining is not None:  # loop exhausted radii with a live frontier
        # brute force for the stragglers: broadcast the (small) frontier
        bf = (
            F.broadcast(remaining.select("id", "mx", "my"))
            .crossJoin(targets.select("tid", "tx", "ty"))
            .select(
                "id", F.col("tid").alias("nbr"), dist2.alias("dist2")
            )
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("id", "nbr", "rank")
        )
        results.append(bf)

    out = results[0]
    for r_df in results[1:]:
        out = out.unionByName(r_df)
    return out


# --- bench entry points ------------------------------------------------------


def _order_points(spark: SparkSession, sf_dir: str, table: str, key: str):
    from mapnik_vector_tile_spark.plans.flagship import derive_points

    df = spark.read.parquet(f"{sf_dir}/{table}.parquet")
    return derive_points(df, key)


def merc_rect_regions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """25 deterministic mercator rectangles from nation — the Spark twin
    of plans.shared_sql.rect_regions_cte, as polygon rows the engine
    joins against."""
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    k = F.col("n_nationkey").cast("long")
    cx = (((k * 2654435761) % 4294967296) / F.lit(float(2**32))) * F.lit(
        TWO_W
    ) - F.lit(tm.W)
    cy = (((k * 40503 + 7) % 65536) / F.lit(65536.0)) * F.lit(TWO_W) - F.lit(
        tm.W
    )
    hw = F.lit(500000.0) + (k % 7).cast("double") * F.lit(400000.0)
    r = nation.select(
        k.alias("region_id"), cx.alias("cx"), cy.alias("cy"), hw.alias("hw")
    )
    return r.select(
        "region_id",
        F.array(
            F.col("cx") - F.col("hw"),
            F.col("cx") + F.col("hw"),
            F.col("cx") + F.col("hw"),
            F.col("cx") - F.col("hw"),
            F.col("cx") - F.col("hw"),
        ).alias("xs"),
        F.array(
            F.col("cy") - F.col("hw"),
            F.col("cy") - F.col("hw"),
            F.col("cy") + F.col("hw"),
            F.col("cy") + F.col("hw"),
            F.col("cy") - F.col("hw"),
        ).alias("ys"),
        F.array(F.lit(0), F.lit(5)).alias("ring_offsets"),
    )


def bench_pip_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = _order_points(spark, sf_dir, "orders", "o_orderkey")
    regions = merc_rect_regions(spark, sf_dir)
    pairs = pip_join_broadcast(pts, regions, z=6)
    return pairs.groupBy("region_id").agg(
        F.count("*").alias("n_pts"), F.min("point_id").alias("min_id")
    )


def bench_knn(spark: SparkSession, sf_dir: str, k: int = 5) -> DataFrame:
    q = _order_points(spark, sf_dir, "customer", "c_custkey")
    t = _order_points(spark, sf_dir, "orders", "o_orderkey").select(
        F.col("id").alias("tid"),
        F.col("mx").alias("tx"),
        F.col("my").alias("ty"),
    )
    # target count from parquet metadata (count-star pushdown) — the
    # derived-points pipeline itself is never executed just for sizing
    n = spark.read.parquet(f"{sf_dir}/orders.parquet").count()
    return knn_join(q, t, k=k, z=knn_auto_z(n, k), radii=(2, 4, 8, 16))


def rect_cover_cells(rects: DataFrame, z: int) -> DataFrame:
    """(rect_id, ctx, cty) — every z-level cell a rectangle's CLOSED
    envelope touches (a rect IS its envelope, so the range explode is
    exact). Pure Column: sequence() over the integer cell ranges."""
    span = TWO_W / (1 << z)
    nmax = (1 << z) - 1

    def clamp(c):
        return F.least(F.lit(nmax), F.greatest(F.lit(0), c))

    cx0 = clamp(F.floor((F.col("x0") + F.lit(tm.W)) / F.lit(span)).cast("long"))
    cx1 = clamp(F.floor((F.col("x1") + F.lit(tm.W)) / F.lit(span)).cast("long"))
    cy0 = clamp(F.floor((F.lit(tm.W) - F.col("y1")) / F.lit(span)).cast("long"))
    cy1 = clamp(F.floor((F.lit(tm.W) - F.col("y0")) / F.lit(span)).cast("long"))
    return (
        rects.withColumn("ctx", F.explode(F.sequence(cx0, cx1)))
        .withColumn("cty", F.explode(F.sequence(cy0, cy1)))
        .select("rect_id", "ctx", "cty")
    )


def _rect_poly_intersects(x0, y0, x1, y1, xs, ys, offs) -> bool:
    """Exact closed-set intersects test: rectangle [x0,x1]x[y0,y1] vs
    an even-odd polygon (holes subtract). True iff
      (a) any ring vertex lies in the closed rect, or
      (b) any rect corner is inside the polygon (the house half-open
          even-odd ray cast — the SAME arithmetic the SQL twin runs), or
      (c) any ring edge overlaps the rect (separating-axis test: the
          only candidate axes for segment-vs-AABB are x, y, the edge
          normal and the edge direction; every product is a plain
          double op replayed verbatim by the twin).
    If none hold the shapes are disjoint (or the rect sits strictly
    inside a hole, which even-odd correctly reports as outside)."""
    import numpy as np

    from mapnik_vector_tile_spark.functions import pip as pipmod

    # (a) vertex in closed rect
    if bool(
        ((xs >= x0) & (xs <= x1) & (ys >= y0) & (ys <= y1)).any()
    ):
        return True
    # (b) rect corner in polygon
    cxs = np.array([x0, x1, x1, x0])
    cys = np.array([y0, y0, y1, y1])
    if bool(
        pipmod.points_in_polygon(cxs, cys, xs, ys, offs).any()
    ):
        return True
    # (c) SAT per ring edge
    for r in range(len(offs) - 1):
        s, e = int(offs[r]), int(offs[r + 1])
        px, py = xs[s:e - 1], ys[s:e - 1]
        qx, qy = xs[s + 1:e], ys[s + 1:e]
        bb = (
            (np.maximum(px, qx) >= x0)
            & (np.minimum(px, qx) <= x1)
            & (np.maximum(py, qy) >= y0)
            & (np.minimum(py, qy) <= y1)
        )
        if not bb.any():
            continue
        dx, dy = qx - px, qy - py
        # normal axis: corners must straddle (or touch) the edge line
        cr = [
            dx * (cy - py) - dy * (cx - px)
            for cx, cy in zip(cxs, cys)
        ]
        cmin = np.minimum.reduce(cr)
        cmax = np.maximum.reduce(cr)
        straddle = (cmin <= 0.0) & (cmax >= 0.0)
        # direction axis: rect projection must overlap [0, |d|^2]
        dots = [
            dx * (cx - px) + dy * (cy - py)
            for cx, cy in zip(cxs, cys)
        ]
        dmin = np.minimum.reduce(dots)
        dmax = np.maximum.reduce(dots)
        dir_ok = (dmax >= 0.0) & (dmin <= dx * dx + dy * dy)
        if bool((bb & straddle & dir_ok).any()):
            return True
    return False


def polygon_rect_join(
    rects: DataFrame, regions: DataFrame, z: int = 6
) -> DataFrame:
    """J8: polygon x rectangle INTERSECTS overlay join. Candidates =
    EXACT polygon cell cover (operators/cellcover.py) equi-joined with
    the rect envelope cell range at level z, deduplicated — a thin
    diagonal region contributes its true cell footprint, not its
    envelope square. Refine = the exact closed-set test above, run in
    one Arrow kernel over the candidate pairs with the (small) region
    table broadcast-joined in. Returns (rect_id, region_id).

    Scale: candidates are one integer equi-join (broadcastable /
    AQE-skew-splittable); the refine is O(edges) per candidate pair
    and never sees a non-candidate. With both sides large, swap the
    broadcast for the range-partitioned shape — the algebra is
    unchanged."""
    import pandas as pd

    from mapnik_vector_tile_spark.operators.cellcover import (
        cover_polygon_cells,
    )

    feats = regions.select(
        F.col("region_id").alias("feature_id"),
        F.lit(3).alias("geom_type"),
        "xs",
        "ys",
        F.col("ring_offsets").alias("part_offsets"),
        F.lit("").alias("caption"),
    )
    pcells = cover_polygon_cells(feats, z).select(
        F.col("feature_id").alias("region_id"),
        F.col("cx").alias("ctx"),
        F.col("cy").alias("cty"),
    )
    rcells = rect_cover_cells(rects, z)
    cands = (
        rcells.join(pcells, ["ctx", "cty"])
        .select("rect_id", "region_id")
        .distinct()
    )
    paired = (
        cands.join(F.broadcast(regions), "region_id")
        .join(
            rects.select("rect_id", "x0", "y0", "x1", "y1"), "rect_id"
        )
    )

    def refine(it):
        import numpy as np

        for pdf in it:
            keep_r, keep_g = [], []
            for row in pdf.itertuples():
                if _rect_poly_intersects(
                    float(row.x0), float(row.y0),
                    float(row.x1), float(row.y1),
                    np.asarray(row.xs, dtype=np.float64),
                    np.asarray(row.ys, dtype=np.float64),
                    np.asarray(row.ring_offsets, dtype=np.int64),
                ):
                    keep_r.append(row.rect_id)
                    keep_g.append(row.region_id)
            yield pd.DataFrame(
                {"rect_id": keep_r, "region_id": keep_g}
            )

    return paired.mapInPandas(
        refine, schema="rect_id long, region_id long"
    )


def _segments_of(xs, ys, offs):
    """Concatenated per-ring consecutive vertex pairs (explicitly
    closed rings: no wrap edge)."""
    import numpy as np

    pxs, pys, qxs, qys = [], [], [], []
    for r in range(len(offs) - 1):
        s, e = int(offs[r]), int(offs[r + 1])
        pxs.append(xs[s:e - 1])
        pys.append(ys[s:e - 1])
        qxs.append(xs[s + 1:e])
        qys.append(ys[s + 1:e])
    return (
        np.concatenate(pxs), np.concatenate(pys),
        np.concatenate(qxs), np.concatenate(qys),
    )


def _poly_poly_intersects(axs, ays, aoffs, bxs, bys, boffs) -> bool:
    """Exact closed-set polygon/polygon intersects (even-odd, holes
    subtract): (a) any A-vertex inside B, (b) any B-vertex inside A
    (both via the house half-open ray cast), or (c) any A-edge meets
    any B-edge — the orientation test o1·o2 <= 0 AND o3·o4 <= 0, with
    the all-collinear case falling back to 1D bbox overlap. Every
    product is a single double op replayed verbatim by the SQL twin.
    If none hold, either disjoint or one sits in the other's hole
    (which even-odd correctly reports as outside)."""
    import numpy as np

    from mapnik_vector_tile_spark.functions import pip as pipmod

    if bool(pipmod.points_in_polygon(axs, ays, bxs, bys, boffs).any()):
        return True
    if bool(pipmod.points_in_polygon(bxs, bys, axs, ays, aoffs).any()):
        return True
    p1x, p1y, q1x, q1y = _segments_of(axs, ays, aoffs)
    p2x, p2y, q2x, q2y = _segments_of(bxs, bys, boffs)
    # all A-edges x all B-edges, vectorized (na x nb)
    P1x, P1y = p1x[:, None], p1y[:, None]
    Q1x, Q1y = q1x[:, None], q1y[:, None]
    P2x, P2y = p2x[None, :], p2y[None, :]
    Q2x, Q2y = q2x[None, :], q2y[None, :]
    d1x, d1y = Q1x - P1x, Q1y - P1y
    d2x, d2y = Q2x - P2x, Q2y - P2y
    o1 = d1x * (P2y - P1y) - d1y * (P2x - P1x)
    o2 = d1x * (Q2y - P1y) - d1y * (Q2x - P1x)
    o3 = d2x * (P1y - P2y) - d2y * (P1x - P2x)
    o4 = d2x * (Q1y - P2y) - d2y * (Q1x - P2x)
    proper = (o1 * o2 <= 0.0) & (o3 * o4 <= 0.0)
    noncol = (o1 != 0.0) | (o2 != 0.0) | (o3 != 0.0) | (o4 != 0.0)
    bbox = (
        (np.maximum(P1x, Q1x) >= np.minimum(P2x, Q2x))
        & (np.minimum(P1x, Q1x) <= np.maximum(P2x, Q2x))
        & (np.maximum(P1y, Q1y) >= np.minimum(P2y, Q2y))
        & (np.minimum(P1y, Q1y) <= np.maximum(P2y, Q2y))
    )
    hit = bbox & ((proper & noncol) | (~noncol))
    return bool(hit.any())


def polygon_polygon_join(
    a: DataFrame, b: DataFrame, z: int = 6
) -> DataFrame:
    """J9: polygon x polygon INTERSECTS overlay join — the general GIS
    overlay shape (admin x landuse, footprint x zone). Candidates =
    EXACT cell cover of BOTH sides equi-joined on the cell id (closed
    covers: a shared intersection point's cell is in both covers, so
    no false negatives), deduplicated; refine = the exact closed-set
    test above in one Arrow kernel, with side b broadcast-joined (swap
    to the range-partitioned shape when both sides are large — the
    candidate algebra is unchanged). Inputs both carry
    (region_id, xs, ys, ring_offsets); returns (a_id, b_id)."""
    import pandas as pd

    from mapnik_vector_tile_spark.operators.cellcover import (
        cover_polygon_cells,
    )

    def cells_of(df, alias):
        feats = df.select(
            F.col("region_id").alias("feature_id"),
            F.lit(3).alias("geom_type"),
            "xs",
            "ys",
            F.col("ring_offsets").alias("part_offsets"),
            F.lit("").alias("caption"),
        )
        return cover_polygon_cells(feats, z).select(
            F.col("feature_id").alias(alias),
            F.col("cx").alias("ctx"),
            F.col("cy").alias("cty"),
        )

    cands = (
        cells_of(a, "a_id")
        .join(cells_of(b, "b_id"), ["ctx", "cty"])
        .select("a_id", "b_id")
        .distinct()
    )
    paired = cands.join(
        F.broadcast(
            a.select(
                F.col("region_id").alias("a_id"),
                F.col("xs").alias("axs"),
                F.col("ys").alias("ays"),
                F.col("ring_offsets").alias("aoffs"),
            )
        ),
        "a_id",
    ).join(
        F.broadcast(
            b.select(
                F.col("region_id").alias("b_id"),
                F.col("xs").alias("bxs"),
                F.col("ys").alias("bys"),
                F.col("ring_offsets").alias("boffs"),
            )
        ),
        "b_id",
    )

    def refine(it):
        import numpy as np

        for pdf in it:
            ka, kb = [], []
            for row in pdf.itertuples():
                if _poly_poly_intersects(
                    np.asarray(row.axs, dtype=np.float64),
                    np.asarray(row.ays, dtype=np.float64),
                    np.asarray(row.aoffs, dtype=np.int64),
                    np.asarray(row.bxs, dtype=np.float64),
                    np.asarray(row.bys, dtype=np.float64),
                    np.asarray(row.boffs, dtype=np.int64),
                ):
                    ka.append(row.a_id)
                    kb.append(row.b_id)
            yield pd.DataFrame({"a_id": ka, "b_id": kb})

    return paired.mapInPandas(refine, schema="a_id long, b_id long")


def dissolve_polygons(polys: DataFrame, z: int = 6) -> DataFrame:
    """U12 dissolve — merge every set of transitively touching or
    overlapping polygons into one group (the GIS dissolve operation;
    the grouping half of wagyu's multi_polygon_union, whose
    constructive boundary extraction remains the documented F12
    narrowing — the relational layer needs the GROUPS, and those are
    exact here):

    pairs   = the exact J9 overlay self-join (cell-cover candidates,
              closed-set refine) filtered to a_id < b_id — INTERSECTS
              includes touching, matching dissolve's merge-adjacent
              semantics;
    groups  = pointer-doubling min-label connected components over the
              pair graph (O(log diameter) shuffle rounds);
    singletons (no intersecting partner) keep their own id via a left
    join + coalesce — every input polygon appears exactly once.

    Scale shape: self-join candidates come from ONE cell-cover
    equi-join (never all-pairs); CC shuffles |edges|+|nodes| rows of
    two longs per round. Returns (region_id, group) with group = min
    region_id of the component."""
    from mapnik_vector_tile_spark.operators.dedup import (
        connected_components,
    )

    pairs = polygon_polygon_join(polys, polys, z).filter(
        F.col("a_id") < F.col("b_id")
    )
    cc = connected_components(
        pairs.select(
            F.col("a_id").alias("doc_a"), F.col("b_id").alias("doc_b")
        )
    )
    return (
        polys.select("region_id")
        .join(
            cc.select(
                F.col("doc_id").alias("region_id"), "cluster_rep"
            ),
            "region_id",
            "left",
        )
        .select(
            "region_id",
            F.coalesce(F.col("cluster_rep"), F.col("region_id")).alias(
                "group"
            ),
        )
    )


def polygon_polygon_join_ri(
    a: DataFrame, b: DataFrame, z: int = 6
) -> DataFrame:
    """J9b: polygon x polygon intersects with the Raster-Intervals
    shortcut (SIGMOD 2023 — full/partial cell classification): both
    sides take the CLASSIFIED exact cover
    (cellcover.cover_polygon_cells_classified); candidate pairs
    equi-join on the cell as in polygon_polygon_join, but a pair
    sharing ANY cell where either side is FULL (cell entirely inside
    that polygon) intersects definitively — the other side's closed
    cover guarantees it meets that cell, which lies inside the first.
    Only pairs whose every shared cell is PARTIAL x PARTIAL reach the
    exact edge/containment kernel. Identical output relation to
    polygon_polygon_join (gated on the same oracle); the win is that
    the Arrow refine kernel now runs on boundary-only pairs — for
    large overlapping admin/landuse polygons the decided fraction
    dominates, which is the paper's point.

    Plan shape: same one cell equi-join; the decide/refine split is a
    groupBy(pair).agg(max(full-flag)) — partial-agg'd, no extra pass
    over geometry."""
    import pandas as pd

    from mapnik_vector_tile_spark.operators.cellcover import (
        cover_polygon_cells_classified,
    )

    def cells_of(df, alias, bflag):
        feats = df.select(
            F.col("region_id").alias("feature_id"),
            F.lit(3).alias("geom_type"),
            "xs",
            "ys",
            F.col("ring_offsets").alias("part_offsets"),
            F.lit("").alias("caption"),
        )
        return cover_polygon_cells_classified(feats, z).select(
            F.col("feature_id").alias(alias),
            F.col("cx").alias("ctx"),
            F.col("cy").alias("cty"),
            F.col("boundary").alias(bflag),
        )

    pairs = (
        cells_of(a, "a_id", "a_bnd")
        .join(cells_of(b, "b_id", "b_bnd"), ["ctx", "cty"])
        .groupBy("a_id", "b_id")
        .agg(
            F.max(
                (~F.col("a_bnd") | ~F.col("b_bnd")).cast("int")
            ).alias("_decided")
        )
    )
    decided = pairs.filter(F.col("_decided") == 1).select("a_id", "b_id")
    undecided = pairs.filter(F.col("_decided") == 0).select("a_id", "b_id")

    paired = undecided.join(
        F.broadcast(
            a.select(
                F.col("region_id").alias("a_id"),
                F.col("xs").alias("axs"),
                F.col("ys").alias("ays"),
                F.col("ring_offsets").alias("aoffs"),
            )
        ),
        "a_id",
    ).join(
        F.broadcast(
            b.select(
                F.col("region_id").alias("b_id"),
                F.col("xs").alias("bxs"),
                F.col("ys").alias("bys"),
                F.col("ring_offsets").alias("boffs"),
            )
        ),
        "b_id",
    )

    def refine(it):
        import numpy as np

        for pdf in it:
            ka, kb = [], []
            for row in pdf.itertuples():
                if _poly_poly_intersects(
                    np.asarray(row.axs, dtype=np.float64),
                    np.asarray(row.ays, dtype=np.float64),
                    np.asarray(row.aoffs, dtype=np.int64),
                    np.asarray(row.bxs, dtype=np.float64),
                    np.asarray(row.bys, dtype=np.float64),
                    np.asarray(row.boffs, dtype=np.int64),
                ):
                    ka.append(row.a_id)
                    kb.append(row.b_id)
            yield pd.DataFrame({"a_id": ka, "b_id": kb})

    refined = paired.mapInPandas(refine, schema="a_id long, b_id long")
    return decided.unionByName(refined)


def pip_join_sampled(
    points: DataFrame,
    regions: DataFrame,
    rate_bp: int,
    z: int = 7,
) -> DataFrame:
    """J4c: uniform sampling OVER the spatial join, pushed BELOW the
    refine (the 'Random Sampling over Spatial Range Joins' shape,
    ICDE 2025): the deterministic pair coin
    splitmix64(point_id·1000003 + region_id) fires on the CANDIDATE
    pairs from the exact-cover equi-join, so the geometry refine runs
    on only ~rate_bp/10000 of the candidates — yet because the coin
    is a pure function of the output pair key and independent of the
    geometry predicate, the result is EXACTLY the same row set as
    sampling the full join output afterwards (bit-identical, gated by
    the oracle). At 100 TB this is the difference between refining
    10^12 candidate pairs and refining the 1% you keep.

    rate_bp is per-10000 (the sampling-module bucket convention)."""
    from mapnik_vector_tile_spark.operators.sampling import (
        BUCKETS,
        sample_hash,
    )

    cands = _pip_candidates(
        points, _exact_cover_cells(regions, z), z, broadcast=False
    )
    coin = sample_hash(
        F.col("point_id") * F.lit(1000003) + F.col("region_id")
    )
    cands = cands.filter(F.pmod(coin, F.lit(BUCKETS)) < F.lit(rate_bp))
    return _refine(cands, regions, broadcast_geo=False)


EARTH_R_M = 6371008.8  # IUGG mean radius


def haversine_radius_join(
    a: DataFrame, b: DataFrame, radius_m: float, cell_deg: float
) -> DataFrame:
    """J5b geodesic fixed-radius join: pairs within ``radius_m``
    GREAT-CIRCLE meters (the radius_join sibling for lon/lat data —
    planar mercator distance is wrong by 2x at 60° latitude). Both
    sides carry (id, lon, lat) in degrees.

    Candidates: a uniform lon/lat grid of ``cell_deg`` degrees with a
    3x3 ring explode on the a-side — sound (no false negatives) iff
    cell_deg >= the radius in LONGITUDE degrees at the corpus's
    highest |lat| (callers size it; e.g. 300 km at |lat|<=55° needs
    >= 4.71°). Antimeridian: index-space wrapping (pmod into
    360°/cell columns) is UNSOUND whenever 360 is not an integer
    multiple of cell_deg — the seam column comes out narrower than
    cell_deg, so within-radius pairs can sit two index steps apart
    and never meet. Instead the grid stays UNWRAPPED (every cell full
    width) and a-side points within cell_deg of the seam are
    DUPLICATED at lon ± 360 before cell assignment, which lands the
    copy next to the other side's cells; the refine needs no wrap
    handling because sin²(Δλ/2) is already 360°-periodic
    (sin(π−x)=sin x), so the copy passes the exact test iff the
    original pair is in radius. Copies can only produce duplicate
    output pairs when the whole grid is ≤ 4 columns wide (both the
    original's and the copy's rings can then reach the same cell) —
    only that degenerate configuration pays a distinct().
    Refine: PURE Column trig — the predicate compares the
    haversine term h = sin²(Δφ/2) + cosφ1·cosφ2·sin²(Δλ/2) against
    the constant sin²(R / 2·earth_R), so no asin/acos in the
    distributed plan and no Python anywhere. Cross-engine float note:
    JVM and DuckDB libm sin/cos may differ by ~1 ulp; the oracle
    corpus keeps every pair's |h - τ| margin >> that drift (same
    discipline as the GeoJSON trig oracle). Returns (a_id, b_id)."""
    tau = float(np.sin(radius_m / (2.0 * EARTH_R_M)) ** 2)
    rad = float(np.pi / 180.0)

    def cells(df, pid, ring):
        cx = F.floor(F.col("lon") / cell_deg).cast("long")
        cy = F.floor(F.col("lat") / cell_deg).cast("long")
        out = df.select(
            F.col("id").alias(pid),
            F.col("lon").alias(pid + "_lon"),
            F.col("lat").alias(pid + "_lat"),
            cx.alias("_cx"),
            cy.alias("_cy"),
        )
        if not ring:
            return out.withColumnRenamed("_cx", "jx").withColumnRenamed(
                "_cy", "jy"
            )
        offs = F.array(
            *[
                F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                for dx in (-1, 0, 1)
                for dy in (-1, 0, 1)
            ]
        )
        return (
            out.withColumn("_o", F.explode(offs))
            .select(
                pid,
                pid + "_lon",
                pid + "_lat",
                (F.col("_cx") + F.col("_o.dx")).alias("jx"),
                (F.col("_cy") + F.col("_o.dy")).alias("jy"),
            )
        )

    # seam copies: a-side points within one cell of ±180 reappear on
    # the other side of the unwrapped axis (lon ± 360); original rows
    # keep their lon so the refine's Δλ stays in-range for non-seam
    # partners, and the copy's Δλ differs by exactly 360° (periodic)
    lon = F.col("lon")
    east = a.filter(lon >= 180.0 - cell_deg).withColumn("lon", lon - 360.0)
    west = a.filter(lon < -180.0 + cell_deg).withColumn("lon", lon + 360.0)
    a_all = a.unionByName(east).unionByName(west)

    ca = cells(a_all, "a_id", ring=True)
    cb = cells(b, "b_id", ring=False)
    j = ca.join(cb, ["jx", "jy"])
    p1 = F.col("a_id_lat") * rad
    p2 = F.col("b_id_lat") * rad
    dphi = (F.col("b_id_lat") - F.col("a_id_lat")) * rad
    dlam = (F.col("b_id_lon") - F.col("a_id_lon")) * rad
    h = (
        F.pow(F.sin(dphi / 2), 2)
        + F.cos(p1) * F.cos(p2) * F.pow(F.sin(dlam / 2), 2)
    )
    pairs = j.filter(h <= tau).select("a_id", "b_id")
    if 360.0 / cell_deg <= 4.0:
        # degenerate wide-cell grid: an original's ring and its seam
        # copy's ring can reach the same b cell -> dedupe output pairs
        pairs = pairs.distinct()
    return pairs


# --- J10: map-matching snap join (nearest segment within radius) ----------

SNAP_SCALE_BITS = 24


def snap_join(
    points: DataFrame,
    segments: DataFrame,
    radius: int = 32,
    cell_shift: int = 5,
) -> DataFrame:
    """J10 map-matching snap join — assign each point to its nearest
    line segment within `radius` (GPS-trace → road-network matching,
    the candidate-generation step of every map-matcher; ref: the
    engine's J5 kNN is point×point, this is point×segment).

    ENTIRELY Catalyst (no Python on any row): candidate generation is
    a cell-grid equi-join — segments explode to the cells of their
    radius-expanded bbox (arithmetic >> keeps floor semantics for
    coordinates that go negative after expansion, identical in both
    engines), points hash straight to one cell, so every segment
    within `radius` of a point is guaranteed a candidate. The exact
    point-to-segment squared distance is the rational
        (|AP|²·|AB|² − dot²) / |AB|²  for interior projection,
        |AP|² or |BP|²                for clamped endpoints,
    kept EXACT by floor-scaling: d2s = (num << 24) // den. Distinct
    fractions differ by ≥ 1/(den_i·den_j) > 2⁻²⁴ whenever
    |AB|² < 2¹² (segment length < 64 grid units — corpus-capped), so
    scaled equality ⟺ exact equality and the min-struct arg-min is
    the true nearest; ties break to the smallest sid.

    points: (pid, px, py) integer grid coords;
    segments: (sid, ax, ay, bx, by) integer endpoints.
    Output (pid, sid, d2s, n_cand) — only points with ≥1 segment in
    range emit a row (row count is itself a witness).

    Scale: one shuffle on the cell key each side; cells-per-segment is
    bounded by (len/cell + 2)² ≈ 16, skewed road-dense cells split by
    AQE exactly like J4."""
    scored = snap_candidates(points, segments, radius, cell_shift)
    return scored.groupBy("pid").agg(
        F.min("sd").alias("m"),
        F.count(F.lit(1)).cast("long").alias("n_cand"),
    ).select(
        "pid",
        F.col("m.sid").alias("sid"),
        F.col("m.d2s").alias("d2s"),
        "n_cand",
    )


def snap_candidates(
    points: DataFrame,
    segments: DataFrame,
    radius: int = 32,
    cell_shift: int = 5,
) -> DataFrame:
    """The candidate stage of `snap_join`, exposed for operators that
    need ALL within-radius (point, segment) pairs rather than the
    arg-min — e.g. Viterbi map matching's emission sets. Returns
    (pid, sd) with sd = struct(d2s, sid), d2s the floor-scaled exact
    squared distance (see snap_join for the exactness argument)."""
    r2 = radius * radius

    seg_cells = segments.select(
        "sid", "ax", "ay", "bx", "by",
        F.explode(
            F.sequence(
                F.shiftright(F.least("ax", "bx") - F.lit(radius), cell_shift),
                F.shiftright(
                    F.greatest("ax", "bx") + F.lit(radius), cell_shift
                ),
            )
        ).alias("cx"),
    ).select(
        "sid", "ax", "ay", "bx", "by", "cx",
        F.explode(
            F.sequence(
                F.shiftright(F.least("ay", "by") - F.lit(radius), cell_shift),
                F.shiftright(
                    F.greatest("ay", "by") + F.lit(radius), cell_shift
                ),
            )
        ).alias("cy"),
    )
    pts = points.select(
        "pid", "px", "py",
        F.shiftright("px", cell_shift).alias("cx"),
        F.shiftright("py", cell_shift).alias("cy"),
    )
    cand = pts.join(seg_cells, ["cx", "cy"])
    apx = F.col("px") - F.col("ax")
    apy = F.col("py") - F.col("ay")
    abx = F.col("bx") - F.col("ax")
    aby = F.col("by") - F.col("ay")
    bpx = F.col("px") - F.col("bx")
    bpy = F.col("py") - F.col("by")
    dot = apx * abx + apy * aby
    ab2 = abx * abx + aby * aby
    ap2 = apx * apx + apy * apy
    bp2 = bpx * bpx + bpy * bpy
    num = (
        F.when((ab2 == 0) | (dot <= 0), ap2)
        .when(dot >= ab2, bp2)
        .otherwise(ap2 * ab2 - dot * dot)
    )
    den = (
        F.when((ab2 == 0) | (dot <= 0) | (dot >= ab2), F.lit(1)).otherwise(ab2)
    )
    scored = (
        cand.select(
            "pid",
            "sid",
            num.cast("long").alias("num"),
            den.cast("long").alias("den"),
        )
        .filter(F.col("num") <= F.lit(r2) * F.col("den"))
        .select(
            "pid",
            F.struct(
                F.expr(f"(num * {1 << SNAP_SCALE_BITS}) div den").alias("d2s"),
                F.col("sid"),
            ).alias("sd"),
        )
    )
    return scored


# --- J11: segment-segment intersection join --------------------------------


def segment_intersect_join(
    segments: DataFrame, cell_shift: int = 5
) -> DataFrame:
    """J11 exact segment×segment intersection join — road-network
    intersection discovery (the line×line case the engine's polygon
    joins don't cover).

    ENTIRELY Catalyst: candidates are unordered pairs sharing a bbox
    cover cell (sid_a < sid_b, distinct over multi-cell shares); the
    refine is the classic exact integer orientation predicate
    (cross-product signs d1..d4, CLRS 33.1): proper crossing iff the
    endpoint orientations straddle on both segments; touching /
    collinear-overlap iff some d_i = 0 with the endpoint inside the
    other's bbox. All int64 (coords < 2¹⁰ → crosses < 2²²).

    Completeness: an intersection point lies in both bboxes, so both
    segments cover its cell — no candidate is lost.

    Output: (sid_a, sid_b, proper) one row per intersecting pair;
    proper = 1 for transversal crossings, 0 for touch/collinear."""

    def cells_of(df):
        return df.select(
            "sid", "ax", "ay", "bx", "by",
            F.explode(
                F.sequence(
                    F.shiftright(F.least("ax", "bx"), cell_shift),
                    F.shiftright(F.greatest("ax", "bx"), cell_shift),
                )
            ).alias("cx"),
        ).select(
            "*",
            F.explode(
                F.sequence(
                    F.shiftright(F.least("ay", "by"), cell_shift),
                    F.shiftright(F.greatest("ay", "by"), cell_shift),
                )
            ).alias("cy"),
        )

    a = cells_of(segments).select(
        F.col("sid").alias("sa"), F.col("ax").alias("p1x"),
        F.col("ay").alias("p1y"), F.col("bx").alias("p2x"),
        F.col("by").alias("p2y"), "cx", "cy",
    )
    b = cells_of(segments).select(
        F.col("sid").alias("sb"), F.col("ax").alias("q1x"),
        F.col("ay").alias("q1y"), F.col("bx").alias("q2x"),
        F.col("by").alias("q2y"), "cx", "cy",
    )
    cand = a.join(b, ["cx", "cy"]).filter(F.col("sa") < F.col("sb"))

    def cross(ox, oy, axx, ayy, bxx, byy):
        return (axx - ox) * (byy - oy) - (ayy - oy) * (bxx - ox)

    p1x, p1y = F.col("p1x"), F.col("p1y")
    p2x, p2y = F.col("p2x"), F.col("p2y")
    q1x, q1y = F.col("q1x"), F.col("q1y")
    q2x, q2y = F.col("q2x"), F.col("q2y")
    d1 = cross(q1x, q1y, q2x, q2y, p1x, p1y)
    d2 = cross(q1x, q1y, q2x, q2y, p2x, p2y)
    d3 = cross(p1x, p1y, p2x, p2y, q1x, q1y)
    d4 = cross(p1x, p1y, p2x, p2y, q2x, q2y)

    def on_seg(axx, ayy, bxx, byy, px, py):
        return (
            (px >= F.least(axx, bxx)) & (px <= F.greatest(axx, bxx))
            & (py >= F.least(ayy, byy)) & (py <= F.greatest(ayy, byy))
        )

    straddle_p = ((d1 > 0) & (d2 < 0)) | ((d1 < 0) & (d2 > 0))
    straddle_q = ((d3 > 0) & (d4 < 0)) | ((d3 < 0) & (d4 > 0))
    proper = straddle_p & straddle_q
    touch = (
        ((d1 == 0) & on_seg(q1x, q1y, q2x, q2y, p1x, p1y))
        | ((d2 == 0) & on_seg(q1x, q1y, q2x, q2y, p2x, p2y))
        | ((d3 == 0) & on_seg(p1x, p1y, p2x, p2y, q1x, q1y))
        | ((d4 == 0) & on_seg(p1x, p1y, p2x, p2y, q2x, q2y))
    )
    return (
        cand.filter(proper | touch)
        .select(
            F.col("sa").alias("sid_a"),
            F.col("sb").alias("sid_b"),
            proper.cast("long").alias("proper"),
        )
        .distinct()
    )


def assemble_ways(ways: DataFrame, nodes: DataFrame) -> DataFrame:
    """J11 way assembly — the OSM-planet ETL join: ways carry ordered
    node-ref arrays, nodes carry coordinates; resolve every ref and
    fold per-way geometry stats.  This is THE big-data shape of vector
    ingest (osm2pgsql / osmium / planetiler all start here): at planet
    scale the node table is ~10^10 rows, so the resolve step is a
    posexplode + partitioned equi-join on node_id (AQE handles ref
    skew on motorway junction nodes), then ONE window pass per way
    reassembles order — no Python anywhere, the whole plan is
    Catalyst/codegen.

    ways: (way_id, refs array<long>); nodes: (node_id, x, y).
    Unresolved refs (deleted/out-of-extract nodes — the standard OSM
    headache) stay as gap rows: they count in n_missing and break the
    polyline (a segment contributes only when BOTH endpoints
    resolve).

    Output per way: n_refs, n_missing, mlen (Σ Manhattan segment
    lengths over resolved consecutive pairs), vhash (order-sensitive
    Σ (pos+1)·(x·8191+y) over resolved refs)."""
    from pyspark.sql import Window

    ex = ways.select(
        "way_id", F.posexplode("refs").alias("pos", "node_id")
    )
    j = ex.join(
        nodes.select("node_id", "x", "y"), "node_id", "left"
    )
    w = Window.partitionBy("way_id").orderBy("pos")
    seg = j.select(
        "way_id",
        "pos",
        "x",
        "y",
        F.lag("x").over(w).alias("px"),
        F.lag("y").over(w).alias("py"),
    )
    return seg.groupBy("way_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_refs"),
        F.sum(F.col("x").isNull().cast("long")).cast("long").alias(
            "n_missing"
        ),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("x").isNotNull() & F.col("px").isNotNull(),
                    F.abs(F.col("x") - F.col("px"))
                    + F.abs(F.col("y") - F.col("py")),
                )
            ),
            F.lit(0),
        ).cast("long").alias("mlen"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("x").isNotNull(),
                    (F.col("pos") + 1)
                    * (F.col("x") * 8191 + F.col("y")),
                )
            ),
            F.lit(0),
        ).cast("long").alias("vhash"),
    )
