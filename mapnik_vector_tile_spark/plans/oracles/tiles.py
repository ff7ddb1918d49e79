"""Oracle pairs for tiling, compositing, cell indexes and tile
metadata (operators.tiling, operators.composite, operators.cellcover,
the cell-id functions), plus the pure-SQL template keys whose one SQL
text runs on both engines (`_make_spark_fn`).

`pairs()` maps each query key to (spark_fn, oracle SQL template);
`plans.oracles.sql_pairs()` merges the families."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from mapnik_vector_tile_spark.functions.tilemath import W, cell_id_sql_expr
from mapnik_vector_tile_spark.plans import shared_sql as S
from mapnik_vector_tile_spark.plans.shared_sql import (
    bbox_rect_join_sql,
    load_views,
    splitmix64_sql,
)


def _sql_tile_assign() -> str:
    tx, ty = S.tile_xy_exprs(14)
    return f"""
WITH {S.point_cte('orders', 'o_orderkey')}
SELECT id, {tx} AS tx, {ty} AS ty
FROM pts
"""


def _sql_pyramid_counts_band(z_lo: int, z_hi: int) -> str:
    """THE pyramid-counts oracle template (single source: the other
    pyramid variants are z-range specializations of this one)."""
    tx, ty = S.tile_xy_exprs(14)
    ax = S.ancestor_expr("tx", "14 - z")
    ay = S.ancestor_expr("ty", "14 - z")
    return f"""
WITH {S.point_cte('orders', 'o_orderkey')},
t14 AS (SELECT id, {tx} AS tx, {ty} AS ty FROM pts)
SELECT z, {ax} AS x, {ay} AS y, COUNT(*) AS n_features
FROM t14 CROSS JOIN {{ZSEQ}} zs
WHERE z >= {z_lo} AND z <= {z_hi}
GROUP BY 1, 2, 3
"""


def _sql_pyramid_counts() -> str:
    return _sql_pyramid_counts_band(0, 14)


def _sql_quantize() -> str:
    tx, ty = S.tile_xy_exprs(14)
    px, py = S.quantize_exprs(14, "tx", "ty")
    return f"""
WITH {S.point_cte('orders', 'o_orderkey')},
t14 AS (SELECT id, mx, my, {tx} AS tx, {ty} AS ty FROM pts)
SELECT id, tx, ty, {px} AS px, {py} AS py
FROM t14
"""


def _sql_zigzag() -> str:
    zz1 = S.zigzag_expr("l_orderkey - 3 * l_partkey")
    zz2 = S.zigzag_expr("l_suppkey - l_partkey")
    return f"""
SELECT l_orderkey AS id, l_linenumber AS ln,
       {zz1} AS zz_dx, {zz2} AS zz_dy,
       CAST(1 + 8 * l_linenumber AS BIGINT) AS cmd_move
FROM lineitem
"""


def _sql_cell_morton() -> str:
    z = 10
    tx, ty = S.tile_xy_exprs(z)
    cell = cell_id_sql_expr("tx", "ty", z)
    return f"""
WITH {S.point_cte('customer', 'c_custkey')},
t AS (SELECT id, {tx} AS tx, {ty} AS ty FROM pts)
SELECT id, CAST({cell} AS BIGINT) AS cell
FROM t
"""


def _sql_tile_cube(z: int = 5) -> str:
    """A6 grouping sets via built-ins: per-tile counts with CUBE over
    (x, y) — subtotal rows tagged by GROUPING() and NULL-coalesced to
    -1 so the driver's value hash is NULL-free. One ANSI template for
    both engines."""
    tx, ty = S.tile_xy_exprs(z)
    return f"""
WITH {S.point_cte('orders', 'o_orderkey')},
t AS (SELECT {tx} AS x, {ty} AS y FROM pts)
SELECT COALESCE(x, -1) AS x, COALESCE(y, -1) AS y,
       CAST(GROUPING(x) AS BIGINT) AS gx,
       CAST(GROUPING(y) AS BIGINT) AS gy,
       COUNT(*) AS n
FROM t
GROUP BY CUBE(x, y)
"""


def _sql_tile_rollup(z: int = 6) -> str:
    """A6's hierarchical twin of the CUBE query: ROLLUP over
    (z-ancestor, x, y) — the tile pyramid's natural drill path
    (level subtotal → column subtotal → grand total). Same
    GROUPING()-tag + NULL-coalesce discipline, one ANSI template for
    both engines."""
    tx, ty = S.tile_xy_exprs(z)
    return f"""
WITH {S.point_cte('orders', 'o_orderkey')},
t AS (SELECT id, {tx} AS x, {ty} AS y FROM pts)
SELECT COALESCE(x, -1) AS x, COALESCE(y, -1) AS y,
       CAST(GROUPING(x) AS BIGINT) AS gx,
       CAST(GROUPING(y) AS BIGINT) AS gy,
       COUNT(*) AS n,
       MIN(id) AS min_id
FROM t
GROUP BY ROLLUP(x, y)
"""


def _sql_hex_assign(size: float = W / 64.0) -> str:
    """T18/H3-analog: axial hex cell assignment of customer points —
    shared cube-round template (shared_sql.hex_cell_cte), numpy twin
    in functions/hexcell.py."""
    return f"""
WITH {S.point_cte('customer', 'c_custkey')},
{S.hex_cell_cte(size, src='pts')}
SELECT id, hq, hr FROM hex
"""


def _sql_hex_density(size: float = W / 64.0) -> str:
    """Hex-binned density + ring-1 disk smoothing: per-cell count,
    then each cell's 7-cell neighborhood sum via the axial unit
    offsets — the H3 kRing/gridDisk aggregation pattern. The neighbor
    lookup is an equi-join on (hq+dq, hr+dr): broadcast-size offset
    relation, no range predicate, shuffle only on the final groupBy."""
    return f"""
WITH {S.point_cte('orders', 'o_orderkey')},
{S.hex_cell_cte(size, src='pts')},
d AS (SELECT hq, hr, COUNT(*) AS n, MIN(id) AS min_id FROM hex GROUP BY 1, 2),
{S.HEX_RING1}
SELECT d.hq AS hq, d.hr AS hr, d.n AS n, d.min_id AS min_id,
       CAST(SUM(d2.n) AS BIGINT) AS n_disk
FROM d CROSS JOIN nb
JOIN d AS d2 ON d2.hq = d.hq + nb.dq AND d2.hr = d.hr + nb.dr
GROUP BY 1, 2, 3, 4
"""


def _sql_json_props() -> str:
    """F15 JSON scalar path: extract $.k from the events props JSON
    string (engine-specific function via the {{JSONK}} token), then an
    integer-exact fold per k-bucket. The money-ish sum uses
    FLOOR(value*100) before the BIGINT cast because CAST(double)
    truncates in Spark but ROUNDS in DuckDB — floor makes them agree."""
    return """
WITH ex AS (SELECT event_id, {JSONK} AS k, value FROM events)
SELECT k % 10 AS kb,
       COUNT(*) AS n,
       MIN(event_id) AS min_id,
       CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM ex
GROUP BY 1
"""


def _sql_tile_setop(op: str, z: int = 8) -> str:
    """U3 set ops via pure built-ins: the z8 tiles containing an order
    point EXCEPT/INTERSECT those containing a customer point. One
    shared ANSI template runs on BOTH engines (Spark EXCEPT ==
    EXCEPT DISTINCT == DuckDB's)."""
    tx, ty = S.tile_xy_exprs(z)
    return f"""
WITH {S.point_cte('orders', 'o_orderkey')},
{S.point_cte('customer', 'c_custkey', cte='cpts')},
ot AS (SELECT DISTINCT {tx} AS x, {ty} AS y FROM pts),
ct AS (SELECT DISTINCT {tx} AS x, {ty} AS y FROM cpts)
SELECT x, y FROM ot
{op}
SELECT x, y FROM ct
"""


def _sql_pyramid_counts_z(z_hi: int) -> str:
    return _sql_pyramid_counts_band(0, z_hi)


def q_engine_tile_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL EP1 pipeline (assign_tiles -> salted applyInPandas
    encode -> merge) on orders-derived points, z0..8, buffer=0 — its
    per-tile feature counts must equal the pure-SQL pyramid oracle.
    This gates the whole Arrow/UDF encode machinery, not just SQL math.
    """
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.operators import tiling as T

    feats = _engine_point_features(spark, sf_dir)
    assigned = T.assign_tiles(feats, 0, 8, buffer_units=0)
    layers = T.encode_layers(assigned, n_salts=8)
    return layers.select(
        "z", "x", "y", F.col("n_features").cast("bigint").alias("n_features")
    )


def q_vtquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 mapbox/vtquery parity (tiling.vtquery — nearest features to
    a point, served FROM THE ENCODED TILES): the engine path encodes
    order points at z6, prunes tile addresses to the query radius
    (literal pushed ranges), decodes only those blobs, and ranks by
    exact BIGINT global-pixel d². The twin never sees a tile: it
    quantizes every point closed-form (per-tile formula — the global
    one differs by FP rounding) and replays the same top-k. Gates the
    full store→decode→distance→TakeOrdered serving chain."""
    from mapnik_vector_tile_spark.operators import tiling as T

    feats = _engine_point_features(spark, sf_dir)
    assigned = T.assign_tiles(feats, 6, 6, buffer_units=0)
    tiles = T.fold_tiles(T.encode_layers(assigned))
    return T.vtquery(tiles, 12.5, 41.9, 8000, 6, k=25)


def _sql_vtquery(
    lon: float = 12.5,
    lat: float = 41.9,
    radius_px: int = 8000,
    z: int = 6,
    k: int = 25,
) -> str:
    import numpy as np

    from mapnik_vector_tile_spark.functions import tilemath as tm

    # the query point's grid coords come from the operator's own
    # driver-side derivation — one shared pair of integer literals
    mxa, mya = tm.lonlat_to_merc_np(
        np.array([float(lon)]), np.array([float(lat)])
    )
    scale = 4096.0 / tm.tile_span(z)
    qgx = int(
        tm.round_half_away_np(np.array([(float(mxa[0]) + tm.W) * scale]))[0]
    )
    qgy = int(
        tm.round_half_away_np(np.array([(tm.W - float(mya[0])) * scale]))[0]
    )
    tx, ty = S.tile_xy_exprs(z)
    qx, qy = S.quantize_exprs(z, "tx", "ty")
    return f"""
WITH {S.point_cte('orders', 'o_orderkey')},
t AS (SELECT id, mx, my, {tx} AS tx, {ty} AS ty FROM pts),
g AS (SELECT id, tx * 4096 + {qx} AS gx, ty * 4096 + {qy} AS gy FROM t),
d AS (SELECT id AS feature_id,
             (gx - {qgx}) * (gx - {qgx}) + (gy - {qgy}) * (gy - {qgy}) AS d2
      FROM g),
near AS (SELECT feature_id, d2 FROM d WHERE d2 <= {radius_px * radius_px}
         ORDER BY d2, feature_id LIMIT {k})
SELECT feature_id, CAST(d2 AS BIGINT) AS d2,
       CAST(row_number() OVER (ORDER BY d2, feature_id) AS BIGINT) AS rnk
FROM near
"""


def q_engine_decode_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EP1∘EP2: encode z6..8 tiles through the FULL pipeline, decode
    them back (S2 tile-as-datasource scan), count features per tile —
    must equal the pure-SQL pyramid oracle. Gates the entire wire
    format both directions."""
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.operators import tiling as T

    feats = _engine_point_features(spark, sf_dir)
    assigned = T.assign_tiles(feats, 6, 8, buffer_units=0)
    tiles = T.fold_tiles(T.encode_layers(assigned, n_salts=8))
    decoded = T.decode_tiles_to_features(tiles)
    return decoded.groupBy("z", "x", "y").agg(
        F.count("*").cast("bigint").alias("n_features")
    )


def _engine_point_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.plans.flagship import derive_points

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    pts = derive_points(orders, "o_orderkey")
    return pts.select(
        F.col("id").alias("feature_id"),
        F.lit(1).alias("geom_type"),
        F.array("mx").alias("xs"),
        F.array("my").alias("ys"),
        F.array(F.lit(0), F.lit(1)).alias("part_offsets"),
        F.lit("c").alias("caption"),
    )


THIN_BASE_Z = 10  # q_zoom_thin base zoom


def q_zoom_thin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6 zoom-gated point thinning (tippecanoe --drop-rate 2.5
    semantics; tiling.thin_thresholds / assign_tiles(thin_base_z=...))
    with a FULL oracle: order points fan out z0..10 with thinning
    applied INSIDE the assign kernel (buffer 0, so each point covers
    exactly one tile per zoom and the per-z row count IS the kept-set
    size), summarized per zoom as (n_kept, sum of kept feature ids).
    The DuckDB twin replays the splitmix64 coin and the exact integer
    thresholds 2^53·2^k//5^k — any drift in the coin, the threshold
    arithmetic, or the in-kernel mask breaks the hash. The nested-
    kept-set invariant is pinned in tests/test_pipeline.py."""
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.operators import tiling as T

    feats = _engine_point_features(spark, sf_dir)
    assigned = T.assign_tiles(
        feats, 0, THIN_BASE_Z, buffer_units=0, thin_base_z=THIN_BASE_Z
    )
    return assigned.groupBy("z").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.sum("feature_id").cast("long").alias("sum_fid"),
    )


def _sql_zoom_thin(base_z: int = THIN_BASE_Z) -> str:
    from mapnik_vector_tile_spark.operators.tiling import thin_thresholds

    thr = thin_thresholds(base_z, 0)
    thr_case = " ".join(
        f"WHEN {z} THEN {t}" for z, t in sorted(thr.items())
    )
    return f"""
WITH {S.point_cte('orders', 'o_orderkey')},
h AS (
  SELECT id, CAST(({splitmix64_sql('id')}) // 2048 AS BIGINT) AS hord
  FROM pts
),
zs AS (SELECT unnest(generate_series(0, {base_z})) AS z),
keep AS (
  SELECT zs.z, h.id
  FROM h, zs
  WHERE h.hord < (CASE zs.z {thr_case} ELSE {1 << 53} END)
)
SELECT z, CAST(COUNT(*) AS BIGINT) AS n_kept,
       CAST(SUM(id) AS BIGINT) AS sum_fid
FROM keep GROUP BY z
"""


OZ_PARENT_Z = 3
OZ_BUF = 64


def q_engine_overzoom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EP3 slow path across zoom levels (overzoom) with a FULL
    bit-exact oracle: encode z3 parent tiles from deterministic order
    points (buffer 0 so assignment == membership), overzoom every
    parent layer to its 4 children at z4 with buffer 64 via
    composite.overzoom_children (integer scale+offset, re-clip,
    re-encode — src/vector_tile_composite.hpp's re-render path), fold
    and DECODE the children, and report per-child feature counts plus
    the sums of tile-local coordinates. Every child coordinate is
    px*2 - cx*4096 exactly (power-of-two scale on ints), so the DuckDB
    twin replays assignment, quantization, child membership
    (closed-interval buffered clip) and local coords with pure integer
    math — any off-by-one in the clip bounds, the fan-out addressing,
    or the wire round-trip breaks the hash."""
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.operators import composite as comp
    from mapnik_vector_tile_spark.operators import tiling as T

    feats = _engine_point_features(spark, sf_dir)
    assigned = T.assign_tiles(feats, OZ_PARENT_Z, OZ_PARENT_Z, buffer_units=0)
    layers = T.encode_layers(assigned, buffer_units=0, n_salts=4)
    kids = comp.overzoom_layers(layers, 1, buffer_units=OZ_BUF)
    dec = T.decode_tiles_to_features(T.fold_tiles(kids))
    return dec.groupBy("z", "x", "y").agg(
        F.count("*").cast("bigint").alias("n_features"),
        F.sum(F.col("pxs")[0]).cast("bigint").alias("sum_px"),
        F.sum(F.col("pys")[0]).cast("bigint").alias("sum_py"),
    )


RSC_Z = 5
RSC_TO_EXTENT = 512


def q_engine_rescale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1 extent-rescale slow path with a FULL oracle: encode z5 point
    layers at extent 4096 (buffer 0), push them through
    composite_layers(target_extent=512) — the decode → scale by
    512/4096 (an exact dyadic multiply) → round-half-away → re-encode
    kernel (rescale_layer_blob) — fold, decode, and report per-tile
    counts plus sums of the rescaled local ints. DuckDB replays
    assignment, the 4096-extent quantize, and round(px * 0.125)
    closed-form; coordinates are nonnegative (buffer 0) so
    round-half-away == round-half-up exactly."""
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.operators import composite as comp
    from mapnik_vector_tile_spark.operators import tiling as T

    feats = _engine_point_features(spark, sf_dir)
    assigned = T.assign_tiles(feats, RSC_Z, RSC_Z, buffer_units=0)
    layers = T.encode_layers(assigned, buffer_units=0, n_salts=4)
    rescaled = comp.composite_layers([layers], target_extent=RSC_TO_EXTENT)
    dec = T.decode_tiles_to_features(T.fold_tiles(rescaled))
    return dec.groupBy("z", "x", "y").agg(
        F.count("*").cast("bigint").alias("n_features"),
        F.sum(F.col("pxs")[0]).cast("bigint").alias("sum_px"),
        F.sum(F.col("pys")[0]).cast("bigint").alias("sum_py"),
    )


def _sql_rescale(z: int = RSC_Z, to_extent: int = RSC_TO_EXTENT) -> str:
    tx, ty = S.tile_xy_exprs(z)
    px, py = S.quantize_exprs(z, "tx", "ty")
    ratio = S.flit(to_extent / 4096.0)
    rx = S.round_half_up_nonneg(f"CAST(px AS DOUBLE) * {ratio}")
    ry = S.round_half_up_nonneg(f"CAST(py AS DOUBLE) * {ratio}")
    return f"""
WITH {S.point_cte('orders', 'o_orderkey')},
t AS (SELECT id, mx, my, {tx} AS tx, {ty} AS ty FROM pts),
q AS (SELECT id, tx, ty, {px} AS px, {py} AS py FROM t),
r AS (SELECT tx, ty, {rx} AS rpx, {ry} AS rpy FROM q)
SELECT CAST({z} AS INT) AS z, tx AS x, ty AS y,
       CAST(COUNT(*) AS BIGINT) AS n_features,
       CAST(SUM(rpx) AS BIGINT) AS sum_px,
       CAST(SUM(rpy) AS BIGINT) AS sum_py
FROM r GROUP BY 1, 2, 3
"""


def q_engine_overzoom_redistribute(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The redistribute overzoom plan (explode (parent, child) pairs,
    hash-repartition, one child per task — the few-parents/deep-dz
    skew shape) against the SAME integer-exact oracle as
    q_engine_overzoom: both paths must produce identical children, so
    they share one DuckDB twin."""
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.operators import composite as comp
    from mapnik_vector_tile_spark.operators import tiling as T

    feats = _engine_point_features(spark, sf_dir)
    assigned = T.assign_tiles(feats, OZ_PARENT_Z, OZ_PARENT_Z, buffer_units=0)
    layers = T.encode_layers(assigned, buffer_units=0, n_salts=4)
    kids = comp.overzoom_layers(
        layers, 1, buffer_units=OZ_BUF, redistribute=True
    )
    dec = T.decode_tiles_to_features(T.fold_tiles(kids))
    return dec.groupBy("z", "x", "y").agg(
        F.count("*").cast("bigint").alias("n_features"),
        F.sum(F.col("pxs")[0]).cast("bigint").alias("sum_px"),
        F.sum(F.col("pys")[0]).cast("bigint").alias("sum_py"),
    )


def _sql_overzoom(pz: int = OZ_PARENT_Z, buf: int = OZ_BUF) -> str:
    tx, ty = S.tile_xy_exprs(pz)
    px, py = S.quantize_exprs(pz, "tx", "ty")
    return f"""
WITH {S.point_cte('orders', 'o_orderkey')},
t AS (SELECT id, mx, my, {tx} AS tx, {ty} AS ty FROM pts),
q AS (SELECT id, tx, ty, {px} AS px, {py} AS py FROM t),
c AS (
  SELECT tx * 2 + cx.v AS x, ty * 2 + cy.v AS y,
         px * 2 - cx.v * 4096 AS lpx,
         py * 2 - cy.v * 4096 AS lpy
  FROM q
  CROSS JOIN (SELECT 0 AS v UNION ALL SELECT 1) cx
  CROSS JOIN (SELECT 0 AS v UNION ALL SELECT 1) cy
  WHERE px * 2 - cx.v * 4096 BETWEEN -{buf} AND {4096 + buf}
    AND py * 2 - cy.v * 4096 BETWEEN -{buf} AND {4096 + buf}
)
SELECT CAST({pz + 1} AS INT) AS z, x, y,
       CAST(COUNT(*) AS BIGINT) AS n_features,
       CAST(SUM(lpx) AS BIGINT) AS sum_px,
       CAST(SUM(lpy) AS BIGINT) AS sum_py
FROM c GROUP BY 1, 2, 3
"""


DZ_CHILD_Z = 4


def q_engine_downzoom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U5 child->parent pyramid rollup (downzoom — the inverse of
    overzoom, and the bottom-up build direction: derive z-1 from z
    without re-scanning source) with a FULL bit-exact oracle: encode
    z4 point layers from deterministic order points (buffer 0 so
    assignment == membership and each feature lives in exactly one
    child), roll the 4 quadrants of every parent into one z3 layer via
    composite.downzoom_layers (exact integer floor-shift
    X = (px + cx*4096) >> 1, dictionary re-merge, deterministic
    (cy, cx) quadrant order), fold, DECODE, and report per-parent
    feature counts plus sums of parent-local coordinates. The DuckDB
    twin replays z4 assignment + quantization closed-form and the
    floor-shift as FLOOR((px + (tx%2)*4096)/2) — any off-by-one in the
    quadrant addressing, the shift's negative-floor semantics, or the
    dictionary splice breaks the hash."""
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.operators import composite as comp
    from mapnik_vector_tile_spark.operators import tiling as T

    feats = _engine_point_features(spark, sf_dir)
    assigned = T.assign_tiles(feats, DZ_CHILD_Z, DZ_CHILD_Z, buffer_units=0)
    layers = T.encode_layers(assigned, buffer_units=0, n_salts=4)
    parents = comp.downzoom_layers(layers)
    dec = T.decode_tiles_to_features(T.fold_tiles(parents))
    return dec.groupBy("z", "x", "y").agg(
        F.count("*").cast("bigint").alias("n_features"),
        F.sum(F.col("pxs")[0]).cast("bigint").alias("sum_px"),
        F.sum(F.col("pys")[0]).cast("bigint").alias("sum_py"),
    )


def _sql_downzoom(cz: int = DZ_CHILD_Z) -> str:
    tx, ty = S.tile_xy_exprs(cz)
    px, py = S.quantize_exprs(cz, "tx", "ty")
    return f"""
WITH {S.point_cte('orders', 'o_orderkey')},
t AS (SELECT id, mx, my, {tx} AS tx, {ty} AS ty FROM pts),
q AS (SELECT id, tx, ty, {px} AS px, {py} AS py FROM t),
p AS (
  SELECT tx // 2 AS x, ty // 2 AS y,
         CAST(FLOOR((px + (tx % 2) * 4096) / 2.0e0) AS BIGINT) AS ppx,
         CAST(FLOOR((py + (ty % 2) * 4096) / 2.0e0) AS BIGINT) AS ppy
  FROM q
)
SELECT CAST({cz - 1} AS INT) AS z, x, y,
       CAST(COUNT(*) AS BIGINT) AS n_features,
       CAST(SUM(ppx) AS BIGINT) AS sum_px,
       CAST(SUM(ppy) AS BIGINT) AS sum_py
FROM p GROUP BY 1, 2, 3
"""


def q_engine_downzoom_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The iterated rollup (downzoom_band z4 -> z2: each level derived
    from the one below, levels persisted so the union costs O(L) not
    O(L^2) shuffles) against a twin that composes the floor-shift
    twice — floors do NOT commute with composition unless replayed
    level-by-level, so this pins the per-level (not shortcut) math."""
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.operators import composite as comp
    from mapnik_vector_tile_spark.operators import tiling as T

    feats = _engine_point_features(spark, sf_dir)
    assigned = T.assign_tiles(feats, DZ_CHILD_Z, DZ_CHILD_Z, buffer_units=0)
    layers = T.encode_layers(assigned, buffer_units=0, n_salts=4)
    band = comp.downzoom_band(layers, DZ_CHILD_Z - 2)
    dec = T.decode_tiles_to_features(T.fold_tiles(band))
    return dec.groupBy("z", "x", "y").agg(
        F.count("*").cast("bigint").alias("n_features"),
        F.sum(F.col("pxs")[0]).cast("bigint").alias("sum_px"),
        F.sum(F.col("pys")[0]).cast("bigint").alias("sum_py"),
    )


def _sql_downzoom_band(cz: int = DZ_CHILD_Z) -> str:
    tx, ty = S.tile_xy_exprs(cz)
    px, py = S.quantize_exprs(cz, "tx", "ty")
    return f"""
WITH {S.point_cte('orders', 'o_orderkey')},
t AS (SELECT id, mx, my, {tx} AS tx, {ty} AS ty FROM pts),
q AS (SELECT id, tx, ty, {px} AS px, {py} AS py FROM t),
l1 AS (
  SELECT tx // 2 AS tx, ty // 2 AS ty,
         CAST(FLOOR((px + (tx % 2) * 4096) / 2.0e0) AS BIGINT) AS px,
         CAST(FLOOR((py + (ty % 2) * 4096) / 2.0e0) AS BIGINT) AS py
  FROM q
),
l2 AS (
  SELECT tx // 2 AS tx, ty // 2 AS ty,
         CAST(FLOOR((px + (tx % 2) * 4096) / 2.0e0) AS BIGINT) AS px,
         CAST(FLOOR((py + (ty % 2) * 4096) / 2.0e0) AS BIGINT) AS py
  FROM l1
),
u AS (
  SELECT CAST({cz - 1} AS INT) AS z, tx, ty, px, py FROM l1
  UNION ALL
  SELECT CAST({cz - 2} AS INT) AS z, tx, ty, px, py FROM l2
)
SELECT z, tx AS x, ty AS y,
       CAST(COUNT(*) AS BIGINT) AS n_features,
       CAST(SUM(px) AS BIGINT) AS sum_px,
       CAST(SUM(py) AS BIGINT) AS sum_py
FROM u GROUP BY 1, 2, 3
"""


def q_engine_load_compressed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4+S5+P5 through the driver surface: encode z4..6 tiles (fused
    EP1), compress every tile buffer (alternating gzip/zlib by tile x,
    exercising BOTH magic-byte codec detections), then LOAD them back —
    maybe_decompress + tile_is_valid + feature counts read from the
    decoded wire bytes, i.e. the merge_from_compressed_buffer /
    add_buffer_to_tile path (vector_tile_load_tile.hpp,
    vector_tile_compression.hpp). Oracle: per-z distinct-tile and
    feature counts from pure SQL — only matches if every compressed
    buffer survives the round trip AND validates."""
    import pandas as pd
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.functions import pbf
    from mapnik_vector_tile_spark.operators import tiling as T
    from mapnik_vector_tile_spark.operators.composite import tile_is_valid

    feats = _engine_point_features(spark, sf_dir)
    assigned = T.assign_tiles(feats, 4, 6, buffer_units=0)
    tiles = T.encode_tiles(assigned)

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            zs, nt, nf = [], [], []
            for z, x, tile in zip(pdf["z"], pdf["x"], pdf["tile"]):
                buf = pbf.compress(bytes(tile), gzip=(int(x) % 2 == 0))
                ok, _ = tile_is_valid(buf)
                count = 0
                if ok:
                    for lmsg in pbf.decode_tile(pbf.maybe_decompress(buf)):
                        count += len(pbf.decode_layer(lmsg)["features"])
                zs.append(int(z))
                nt.append(1 if ok else 0)
                nf.append(count)
            yield pd.DataFrame({"z": zs, "ok": nt, "nf": nf})

    loaded = tiles.mapInPandas(gen, schema="z int, ok int, nf long")
    return loaded.groupBy("z").agg(
        F.sum("ok").cast("bigint").alias("n_tiles"),
        F.sum("nf").cast("bigint").alias("n_features"),
    )


def _sql_load_compressed(z_lo: int = 4, z_hi: int = 6) -> str:
    tx, ty = S.tile_xy_exprs(14)
    ax = S.ancestor_expr("tx", "14 - z")
    ay = S.ancestor_expr("ty", "14 - z")
    return f"""
WITH {S.point_cte('orders', 'o_orderkey')},
t14 AS (SELECT id, {tx} AS tx, {ty} AS ty FROM pts),
per_tile AS (
  SELECT z, {ax} AS x, {ay} AS y, COUNT(*) AS nf
  FROM t14 CROSS JOIN {{ZSEQ}} zs
  WHERE z >= {z_lo} AND z <= {z_hi}
  GROUP BY 1, 2, 3)
SELECT z, CAST(COUNT(*) AS BIGINT) AS n_tiles,
       CAST(SUM(nf) AS BIGINT) AS n_features
FROM per_tile GROUP BY z
"""


VALIDITY_Z = 6


def q_engine_validity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 at the driver surface: encode z6 tiles (fused EP1), then
    deterministically corrupt a subset keyed on (x*3+y)%5 —
    0: whole-tile self-concat (duplicate layer name), 1: append a
    version-3 layer, 2: append a version-3 AND empty-name layer,
    3/4: untouched — and run tile_is_valid over everything. Output
    (x, y, valid, n_reasons). The oracle regenerates the tile set
    relationally and predicts the verdicts closed-form; it matches
    only if every engine-encoded tile validates clean AND the
    validator flags each corruption class with exactly the expected
    reasons (vector_tile_is_valid.hpp semantics)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.functions import pbf
    from mapnik_vector_tile_spark.operators import tiling as T
    from mapnik_vector_tile_spark.operators.composite import validate_tiles

    feats = _engine_point_features(spark, sf_dir)
    assigned = T.assign_tiles(feats, VALIDITY_Z, VALIDITY_Z, buffer_units=0)
    tiles = T.encode_tiles(assigned)

    bad_version = pbf.layer_to_tile(pbf.LayerBuilder("v3", version=3).build())
    bad_both = pbf.layer_to_tile(pbf.LayerBuilder("", version=3).build())

    def corrupt(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            out = {"z": [], "x": [], "y": [], "tile": []}
            for z, x, y, tile in zip(
                pdf["z"], pdf["x"], pdf["y"], pdf["tile"]
            ):
                t = bytes(tile)
                cls = (int(x) * 3 + int(y)) % 5
                if cls == 0:
                    t = t + t
                elif cls == 1:
                    t = t + bad_version
                elif cls == 2:
                    t = t + bad_both
                out["z"].append(int(z))
                out["x"].append(int(x))
                out["y"].append(int(y))
                out["tile"].append(t)
            yield pd.DataFrame(out)

    corrupted = tiles.mapInPandas(
        corrupt, schema="z int, x long, y long, tile binary"
    )
    return validate_tiles(corrupted).select(
        "x", "y", "valid", F.size("reasons").alias("n_reasons")
    )


def _sql_validity(z: int = VALIDITY_Z) -> str:
    tx, ty = S.tile_xy_exprs(14)
    ax = S.ancestor_expr("tx", str(14 - z))
    ay = S.ancestor_expr("ty", str(14 - z))
    return f"""
WITH {S.point_cte('orders', 'o_orderkey')},
t14 AS (SELECT id, {tx} AS tx, {ty} AS ty FROM pts),
tiles AS (SELECT DISTINCT {ax} AS x, {ay} AS y FROM t14)
SELECT x, y,
       ((x * 3 + y) % 5) >= 3 AS valid,
       CAST(CASE (x * 3 + y) % 5
            WHEN 0 THEN 1 WHEN 1 THEN 1 WHEN 2 THEN 2 ELSE 0
            END AS INTEGER) AS n_reasons
FROM tiles
"""


LABEL_Z = 3
LABEL_SHIFT = 8  # 256-pixel collision cells (16x16 grid per tile)


def q_label_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4 label collision placement (tiling.label_grid_top1): assign
    order-key points at z3 buffer 0 — 64 tiles x 256 cells for
    15k points, so cells collide constantly and the priority/tiebreak
    rule decides thousands of discards — then keep the top-priority
    feature per 256-pixel grid cell (priority = (id·2654435761) mod
    1000, descending; id ascending tiebreak). The twin replays
    assignment, the exact quantize, arithmetic-shift cell addressing
    and the window rule relationally — a wrong pixel, cell boundary,
    or tiebreak order breaks the hash."""
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.operators import tiling as T

    feats = _engine_point_features(spark, sf_dir)
    assigned = T.assign_tiles(feats, LABEL_Z, LABEL_Z, buffer_units=0)
    pr = (F.col("feature_id") * 2654435761) % 1000
    out = T.label_grid_top1(assigned, cell_shift=LABEL_SHIFT, priority=pr)
    return out.select(
        "x", "y", "gx", "gy", "feature_id", "label_priority",
        F.col("px").cast("bigint").alias("px"),
        F.col("py").cast("bigint").alias("py"),
    )


def _sql_label_grid(z: int = LABEL_Z) -> str:
    tx, ty = S.tile_xy_exprs(z)
    return f"""
WITH {S.point_cte('orders', 'o_orderkey')},
t AS (SELECT id, mx, my, {tx} AS tx, {ty} AS ty FROM pts),
q AS (SELECT id, tx, ty,
             {S.quantize_exprs(z, 'tx', 'ty')[0]} AS px,
             {S.quantize_exprs(z, 'tx', 'ty')[1]} AS py,
             (id * 2654435761) % 1000 AS pr
      FROM t),
g AS (SELECT id, tx, ty, px, py, pr,
             px // {1 << LABEL_SHIFT} AS gx,
             py // {1 << LABEL_SHIFT} AS gy
      FROM q),
r AS (SELECT *, row_number() OVER (
        PARTITION BY tx, ty, gx, gy ORDER BY pr DESC, id) AS rn
      FROM g)
SELECT tx AS x, ty AS y, gx, gy, id AS feature_id,
       CAST(pr AS BIGINT) AS label_priority, px, py
FROM r WHERE rn = 1
"""


SOLID_Z = 3  # 8x8 grid — one tile per (class x position) combination


def q_engine_solid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U9 solid-tile detection (composite.is_solid_extent; ref:
    src/vector_tile_util.hpp — is_solid_extent, tilelive's solid-blob
    dedup gate). The corpus is built through the REAL wire encoder
    (LayerBuilder + encode_geometry) in five deterministic classes on
    (x*3+y)%5 at z3 — this is a decode-side store operator, so the
    gate drives blobs directly, like q_engine_validity:

      0: two layers, each one clip-box fill   -> solid T, covers T
      1: fill + a point feature               -> solid F (non-polygon),
                                                 covers T
      2: fill + a small interior polygon      -> solid F (interior
                                                 vertex), covers T
      3: corner triangle, vertices beyond the
         clip box, hypotenuse crossing inside -> solid T, covers F
         (the reference heuristic's documented false-positive class —
         the reason both columns exist)
      4: a named layer with zero features     -> solid F, covers F

    The oracle predicts all four output columns closed-form from the
    class; the engine must decode the real wire bytes, apply the
    both-axes strict-interior vertex test and the even-odd corner
    test, and land exactly on the prediction. sf_dir unused
    (committed synth recipe)."""
    import numpy as np
    import pandas as pd

    from mapnik_vector_tile_spark.functions import geomcodec as gc
    from mapnik_vector_tile_spark.functions import pbf
    from mapnik_vector_tile_spark.operators.composite import solid_tiles

    n = 1 << SOLID_Z

    def build(batches):
        fill = gc.encode_geometry(
            gc.GEOM_POLYGON,
            np.array([-64, 4160, 4160, -64]),
            np.array([-64, -64, 4160, 4160]),
            np.array([0, 4]),
        )
        pt = gc.encode_geometry(
            gc.GEOM_POINT, np.array([2048]), np.array([2048]), np.array([0, 1])
        )
        inner = gc.encode_geometry(
            gc.GEOM_POLYGON,
            np.array([1000, 1500, 1500, 1000]),
            np.array([1000, 1000, 1500, 1500]),
            np.array([0, 4]),
        )
        tri = gc.encode_geometry(
            gc.GEOM_POLYGON,
            np.array([-64, 6000, -64]),
            np.array([-64, -64, 6000]),
            np.array([0, 3]),
        )
        for pdf in batches:
            out = {"z": [], "x": [], "y": [], "tile": []}
            for i in pdf["id"]:
                x, y = int(i) // n, int(i) % n
                cls = (x * 3 + y) % 5
                lb = pbf.LayerBuilder("water")
                if cls != 4:
                    lb.add_feature(1, gc.GEOM_POLYGON, fill if cls != 3 else tri)
                if cls == 1:
                    lb.add_feature(2, gc.GEOM_POINT, pt)
                elif cls == 2:
                    lb.add_feature(2, gc.GEOM_POLYGON, inner)
                layers = [lb.build()]
                if cls == 0:
                    lb2 = pbf.LayerBuilder("land")
                    lb2.add_feature(1, gc.GEOM_POLYGON, fill)
                    layers.append(lb2.build())
                out["z"].append(SOLID_Z)
                out["x"].append(x)
                out["y"].append(y)
                out["tile"].append(pbf.concat_tile(layers))
            yield pd.DataFrame(out)

    tiles = spark.range(0, n * n, 1, 8).mapInPandas(
        build, schema="z int, x long, y long, tile binary"
    )
    return solid_tiles(tiles).select(
        "x", "y", "solid", "covers", "key", "n_features"
    )


def _sql_solid() -> str:
    n = 1 << SOLID_Z
    return f"""
WITH g AS (SELECT CAST(v.generate_series // {n} AS BIGINT) AS x,
                  CAST(v.generate_series % {n} AS BIGINT) AS y,
                  (v.generate_series // {n} * 3
                   + v.generate_series % {n}) % 5 AS cls
           FROM generate_series(0, {n * n - 1}) v)
SELECT x, y,
       cls IN (0, 3) AS solid,
       cls IN (0, 1, 2) AS covers,
       CASE WHEN cls = 0 THEN 'water-land' ELSE 'water' END AS key,
       CAST(CASE cls WHEN 0 THEN 2 WHEN 1 THEN 2 WHEN 2 THEN 2
                     WHEN 3 THEN 1 ELSE 0 END AS BIGINT) AS n_features
FROM g
"""


SPRUNE_Z = 4  # 16x16 grid of 2x2 parent quads


def q_solid_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U9b mask-level pruning gate (composite.prunable_solid_children
    ∘ solid_tiles): a 16x16 z4 store built through the real wire
    encoder where entire 2x2 quads are solid iff (bx·3+by)%4==0,
    scattered extra solids ((x·3+y)%7==0) make PARTIAL quads that must
    NOT prune, and every fifth solid quad mixes two layer keys inside
    the quad ('land' on even x) so the same-key rule is load-bearing.
    The oracle derives the prunable set closed-form: exactly the
    uniform-key fully-solid quads' children."""
    import numpy as np
    import pandas as pd

    from mapnik_vector_tile_spark.functions import geomcodec as gc
    from mapnik_vector_tile_spark.functions import pbf
    from mapnik_vector_tile_spark.operators.composite import (
        prunable_solid_children,
        solid_tiles,
    )

    n = 1 << SPRUNE_Z

    def build(batches):
        fill = gc.encode_geometry(
            gc.GEOM_POLYGON,
            np.array([-64, 4160, 4160, -64]),
            np.array([-64, -64, 4160, 4160]),
            np.array([0, 4]),
        )
        pt = gc.encode_geometry(
            gc.GEOM_POINT, np.array([2048]), np.array([2048]),
            np.array([0, 1]),
        )
        for pdf in batches:
            out = {"z": [], "x": [], "y": [], "tile": []}
            for i in pdf["id"]:
                x, y = int(i) // n, int(i) % n
                bx, by = x // 2, y // 2
                block_solid = (bx * 3 + by) % 4 == 0
                solid = block_solid or (x * 3 + y) % 7 == 0
                mixed = block_solid and (bx + by) % 5 == 0
                name = "land" if (mixed and x % 2 == 0) else "water"
                lb = pbf.LayerBuilder(name)
                lb.add_feature(1, gc.GEOM_POLYGON, fill)
                if not solid:
                    lb.add_feature(2, gc.GEOM_POINT, pt)
                out["z"].append(SPRUNE_Z)
                out["x"].append(x)
                out["y"].append(y)
                out["tile"].append(pbf.concat_tile([lb.build()]))
            yield pd.DataFrame(out)

    tiles = spark.range(0, n * n, 1, 8).mapInPandas(
        build, schema="z int, x long, y long, tile binary"
    )
    return prunable_solid_children(solid_tiles(tiles)).select(
        "x", "y", "parent_x", "parent_y", "key"
    )


def _sql_solid_prune() -> str:
    n = 1 << SPRUNE_Z
    return f"""
WITH g AS (SELECT CAST(v.generate_series // {n} AS BIGINT) AS x,
                  CAST(v.generate_series % {n} AS BIGINT) AS y
           FROM generate_series(0, {n * n - 1}) v),
c AS (SELECT x, y, x // 2 AS px, y // 2 AS py,
             ((x // 2) * 3 + (y // 2)) % 4 = 0 AS block_solid,
             ((x // 2) + (y // 2)) % 5 = 0 AS fifth
      FROM g)
SELECT x, y, px AS parent_x, py AS parent_y, 'water' AS key
FROM c
WHERE block_solid AND NOT (block_solid AND fifth)
"""


def _typed_layers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared typed-attribute layer fixture (see q_engine_typed_values
    doc): lineitem rows as z8 point features carrying (int qty, double
    price, bool rflag) through the value-variant encode; returns
    (tx, ty, blob)."""
    import pandas as pd

    from mapnik_vector_tile_spark.functions import pbf
    from mapnik_vector_tile_spark.operators.grouped import apply_grouped

    Z = 8
    span = S.TWO_W / (1 << Z)

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
        "l_returnflag",
    )

    def to_points(batches):
        import numpy as np

        for pdf in batches:
            if not len(pdf):
                continue
            ids = (
                pdf["l_orderkey"].to_numpy().astype(np.int64) * 8
                + pdf["l_linenumber"].to_numpy().astype(np.int64)
            )
            mx = ((ids * 2654435761) % 2**32) / float(2**32) * S.TWO_W - W
            my = (
                ((ids * 1103515245 + 12345) % 2**32) / float(2**32)
            ) * S.TWO_W - W
            tx = np.floor((mx + W) / span).astype(np.int64)
            ty = np.floor((W - my) / span).astype(np.int64)
            yield pd.DataFrame(
                {
                    "tx": tx,
                    "ty": ty,
                    "id": ids,
                    "qty": pdf["l_quantity"].to_numpy().astype(np.int64),
                    "price": pdf["l_extendedprice"].to_numpy(),
                    "rflag": (pdf["l_returnflag"] == "R").to_numpy(),
                }
            )

    pts = li.mapInPandas(
        to_points,
        schema="tx long, ty long, id long, qty long, price double, rflag boolean",
    )

    def encode_group(key, cols, sl):
        tx, ty = int(key[0]), int(key[1])
        lb = pbf.LayerBuilder("li", extent=4096)
        for i in range(sl.start, sl.stop):
            lb.add_feature(
                int(cols["id"][i]),
                1,
                (9, 0, 0),
                {
                    "qty": int(cols["qty"][i]),
                    "price": float(cols["price"][i]),
                    "rflag": bool(cols["rflag"][i]),
                },
            )
        return [(tx, ty, lb.build())]

    layers = apply_grouped(
        pts,
        keys=["tx", "ty"],
        order_by=["tx", "ty", "id"],
        fn=encode_group,
        schema="tx long, ty long, blob binary",
        out_columns=["tx", "ty", "blob"],
    )
    return layers


def q_engine_typed_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F14/A1/A2 at the driver surface: features carry TYPED attributes
    (int qty, double price, bool rflag from lineitem) through the
    Layer value-variant encode — dictionaries are type-sensitive and
    bit-exact — then per-tile stats are read back FROM THE DECODED
    WIRE BYTES: n_keys/n_values are the dictionary cardinalities,
    sum/min/max come from the decoded typed values. The SQL oracle
    recomputes everything relationally; it matches only if the oneof
    tagging, varint/two's-complement int64, double bits, and
    first-appearance dedup all round-trip."""
    import pandas as pd

    from mapnik_vector_tile_spark.functions import pbf

    layers = _typed_layers(spark, sf_dir)

    def decode_stats(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            rows = []
            for tx, ty, blob in zip(pdf["tx"], pdf["ty"], pdf["blob"]):
                layer = pbf.decode_layer(bytes(blob))
                qtys, prices, nflag = [], [], 0
                for f in layer["features"]:
                    props = pbf.feature_props(layer, f)
                    qtys.append(props["qty"])
                    prices.append(props["price"])
                    nflag += 1 if props["rflag"] else 0
                rows.append(
                    (
                        int(tx), int(ty), len(layer["features"]),
                        len(layer["keys"]), len(layer["values"]),
                        int(sum(qtys)), nflag,
                        float(min(prices)), float(max(prices)),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "tx", "ty", "n_features", "n_keys", "n_values",
                    "sum_qty", "n_rflag", "min_price", "max_price",
                ],
            )

    return layers.mapInPandas(
        decode_stats,
        schema=(
            "tx long, ty long, n_features long, n_keys long, n_values long, "
            "sum_qty long, n_rflag long, min_price double, max_price double"
        ),
    )


def q_engine_layer_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tile-transform at the driver surface (composite.
    filter_layer_features — the tilelive/tile-join server-side
    reshape): build the typed-values layer store (int qty, double
    price, bool rflag through the bit-exact value-variant encode),
    filter features to qty >= 30 with a property projection to
    (qty, price) and a layer rename, then read the stats back FROM THE
    FILTERED WIRE BYTES: per-tile feature count, qty sum, min price,
    and the projected dictionary cardinality (n_keys == 2 proves the
    projection rebuilt the dictionaries, not just the tag list). The
    SQL twin replays the predicate relationally — a wrong typed
    decode, a mis-projected dictionary, or a dropped/extra feature
    breaks the hash."""
    import pandas as pd
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.functions import pbf
    from mapnik_vector_tile_spark.operators.composite import (
        filter_layer_features,
    )

    layers = _typed_layers(spark, sf_dir).select(
        F.lit(8).alias("z"),
        F.col("tx").alias("x"),
        F.col("ty").alias("y"),
        F.lit("li").alias("layer"),
        F.col("blob"),
        F.lit(0).cast("long").alias("n_features"),
        F.lit(0).cast("long").alias("n_points"),
    )
    filtered = filter_layer_features(
        layers, key="qty", op=">=", value=30,
        keep_keys=["qty", "price"], rename="li30",
    )

    def decode_stats(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            rows = []
            for x, y, blob in zip(pdf["x"], pdf["y"], pdf["blob"]):
                layer = pbf.decode_layer(bytes(blob))
                qtys, prices = [], []
                for f in layer["features"]:
                    props = pbf.feature_props(layer, f)
                    qtys.append(props["qty"])
                    prices.append(props["price"])
                rows.append(
                    (
                        int(x), int(y), layer["name"],
                        len(layer["features"]), len(layer["keys"]),
                        int(sum(qtys)), float(min(prices)),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "x", "y", "layer", "n_features", "n_keys",
                    "sum_qty", "min_price",
                ],
            )

    return filtered.mapInPandas(
        decode_stats,
        schema=(
            "x long, y long, layer string, n_features long, "
            "n_keys long, sum_qty long, min_price double"
        ),
    )


def _sql_layer_filter(z: int = 8) -> str:
    tx, ty = S.tile_xy_exprs(z)
    mx = (
        f"((((id) * 2654435761) % 4294967296) / {S.flit(2**32)})"
        f" * {S.flit(2.0 * W)} - {S.flit(W)}"
    )
    my = (
        f"((((id) * 1103515245 + 12345) % 4294967296) / {S.flit(2**32)})"
        f" * {S.flit(2.0 * W)} - {S.flit(W)}"
    )
    return f"""
WITH li AS (
  SELECT l_orderkey * 8 + l_linenumber AS id,
         CAST(l_quantity AS BIGINT) AS qty,
         l_extendedprice AS price
  FROM lineitem
),
pts AS (SELECT id, qty, price, {mx} AS mx, {my} AS my FROM li),
t AS (SELECT qty, price, {tx} AS tx, {ty} AS ty FROM pts)
SELECT tx AS x, ty AS y, 'li30' AS layer,
       CAST(COUNT(*) AS BIGINT) AS n_features,
       CAST(2 AS BIGINT) AS n_keys,
       CAST(SUM(qty) AS BIGINT) AS sum_qty,
       MIN(price) AS min_price
FROM t WHERE qty >= 30
GROUP BY 1, 2
"""


def _sql_typed_values(z: int = 8) -> str:
    # mx/my inlined per ROW (duplicate (orderkey,linenumber) pairs
    # exist in the synthetic lineitem — a join back on id would fan out)
    tx, ty = S.tile_xy_exprs(z)
    mx = (
        f"((((id) * 2654435761) % 4294967296) / {S.flit(2**32)})"
        f" * {S.flit(2.0 * W)} - {S.flit(W)}"
    )
    my = (
        f"((((id) * 1103515245 + 12345) % 4294967296) / {S.flit(2**32)})"
        f" * {S.flit(2.0 * W)} - {S.flit(W)}"
    )
    return f"""
WITH li AS (
  SELECT l_orderkey * 8 + l_linenumber AS id,
         CAST(l_quantity AS BIGINT) AS qty,
         l_extendedprice AS price,
         (l_returnflag = 'R') AS rflag
  FROM lineitem
),
p AS (SELECT id, qty, price, rflag, {mx} AS mx, {my} AS my FROM li),
t AS (SELECT id, qty, price, rflag, {tx} AS tx, {ty} AS ty FROM p)
SELECT tx, ty,
       CAST(COUNT(*) AS BIGINT) AS n_features,
       CAST(3 AS BIGINT) AS n_keys,
       CAST(COUNT(DISTINCT qty) + COUNT(DISTINCT price)
            + COUNT(DISTINCT rflag) AS BIGINT) AS n_values,
       CAST(SUM(qty) AS BIGINT) AS sum_qty,
       CAST(SUM(CASE WHEN rflag THEN 1 ELSE 0 END) AS BIGINT) AS n_rflag,
       MIN(price) AS min_price, MAX(price) AS max_price
FROM t GROUP BY 1, 2
"""


def _attr_join_stats(spark: SparkSession, sf_dir: str, join) -> DataFrame:
    """Join a 33-row attribute dimension onto the typed-values layer
    store with `join` (how='left' on the decoded ``qty``), then read
    the per-tile stats back from the enriched wire bytes: the shared
    body of q_engine_attr_join and q_engine_attr_join_shuffle."""
    import pandas as pd
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.functions import pbf

    layers = _typed_layers(spark, sf_dir).select(
        F.lit(8).alias("z"),
        F.col("tx").alias("x"),
        F.col("ty").alias("y"),
        F.lit("li").alias("layer"),
        F.col("blob"),
        F.lit(0).cast("long").alias("n_features"),
        F.lit(0).cast("long").alias("n_points"),
    )
    attrs = (
        spark.range(1, 51)
        .filter(F.col("id") % 3 != 0)
        .select(
            F.col("id").cast("long").alias("qty"),
            F.concat(F.lit("g"), (F.col("id") % 7).cast("string")).alias(
                "grade"
            ),
            (F.col("id").cast("double") / 4).alias("bonus"),
        )
    )
    enriched = join(layers, attrs, on="qty", how="left")

    def decode_stats(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            rows = []
            for x, y, blob in zip(pdf["x"], pdf["y"], pdf["blob"]):
                layer = pbf.decode_layer(bytes(blob))
                qty_sum, n_match, bonus_sum = 0, 0, 0.0
                min_grade = None
                for f in layer["features"]:
                    props = pbf.feature_props(layer, f)
                    qty_sum += props["qty"]
                    if "grade" in props:
                        n_match += 1
                        bonus_sum += props["bonus"]
                        g = props["grade"]
                        if min_grade is None or g < min_grade:
                            min_grade = g
                rows.append(
                    (
                        int(x), int(y), len(layer["features"]),
                        len(layer["keys"]), len(layer["values"]),
                        qty_sum, n_match, bonus_sum, min_grade,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "x", "y", "n_features", "n_keys", "n_values",
                    "sum_qty", "n_matched", "sum_bonus", "min_grade",
                ],
            )

    return enriched.mapInPandas(
        decode_stats,
        schema=(
            "x long, y long, n_features long, n_keys long, n_values long, "
            "sum_qty long, n_matched long, sum_bonus double, "
            "min_grade string"
        ),
    )


def q_engine_attr_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U10 attribute-enrichment join (composite.join_attributes — the
    tippecanoe tile-join CSV semantic over a distributed store): build
    the typed-values layer store, join a 33-row attribute dimension on
    the decoded int property ``qty`` (rows exist only for qty%3 != 0,
    so ~1/3 of features stay unmatched under how='left'), appending
    (grade string, bonus double) — bonus = qty/4 is exact-dyadic so
    every float in the gate is order-free exact — then read the stats
    back FROM THE ENRICHED WIRE BYTES: per-tile feature count, the
    rebuilt dictionary cardinalities (n_keys = 3 + 2·[any match in
    tile] proves new keys enter the dictionary only when used;
    n_values adds the matched grades/bonuses to the typed distincts),
    match count, exact bonus sum and lexicographic min grade. The SQL
    twin replays the join relationally; a wrong decoded join key, a
    value-dictionary dedup miss, or an unmatched feature mutated in
    any way breaks the hash."""
    from mapnik_vector_tile_spark.operators.composite import join_attributes

    return _attr_join_stats(spark, sf_dir, join_attributes)


def q_engine_attr_join_shuffle(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """U10b fact-scale attribute join gate
    (composite.join_attributes_relational): the SAME corpus, join
    spec, readback and SQL twin as q_engine_attr_join, but through the
    extract → shuffle equi-join → regroup → rebuild path instead of
    the broadcast kernel — the hier-cover discipline: both paths must
    land on the identical enriched wire bytes."""
    from mapnik_vector_tile_spark.operators.composite import (
        join_attributes_relational,
    )

    return _attr_join_stats(spark, sf_dir, join_attributes_relational)


def _sql_attr_join(z: int = 8) -> str:
    tx, ty = S.tile_xy_exprs(z)
    mx = (
        f"((((id) * 2654435761) % 4294967296) / {S.flit(2**32)})"
        f" * {S.flit(2.0 * W)} - {S.flit(W)}"
    )
    my = (
        f"((((id) * 1103515245 + 12345) % 4294967296) / {S.flit(2**32)})"
        f" * {S.flit(2.0 * W)} - {S.flit(W)}"
    )
    return f"""
WITH li AS (
  SELECT l_orderkey * 8 + l_linenumber AS id,
         CAST(l_quantity AS BIGINT) AS qty,
         l_extendedprice AS price,
         (l_returnflag = 'R') AS rflag
  FROM lineitem
),
p AS (SELECT id, qty, price, rflag, {mx} AS mx, {my} AS my FROM li),
t AS (SELECT id, qty, price, rflag, (qty % 3 <> 0) AS m,
             {tx} AS tx, {ty} AS ty
      FROM p)
SELECT tx AS x, ty AS y,
       CAST(COUNT(*) AS BIGINT) AS n_features,
       CAST(3 + CASE WHEN SUM(CASE WHEN m THEN 1 ELSE 0 END) > 0
                THEN 2 ELSE 0 END AS BIGINT) AS n_keys,
       CAST(COUNT(DISTINCT qty) + COUNT(DISTINCT price)
            + COUNT(DISTINCT rflag)
            + COUNT(DISTINCT CASE WHEN m THEN qty % 7 END)
            + COUNT(DISTINCT CASE WHEN m THEN qty END)
            AS BIGINT) AS n_values,
       CAST(SUM(qty) AS BIGINT) AS sum_qty,
       CAST(SUM(CASE WHEN m THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
       SUM(CASE WHEN m THEN qty ELSE 0 END) * {S.flit(0.25)} AS sum_bonus,
       MIN(CASE WHEN m THEN 'g' || CAST(qty % 7 AS VARCHAR) END)
         AS min_grade
FROM t GROUP BY 1, 2
"""


def q_engine_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EP3 composite: two single-layer tile pyramids (orders points as
    layer 'orders', customer points as layer 'customer') merged per
    tile — n_layers per (z,x,y) must equal the SQL union-presence
    oracle."""
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.operators import composite as C
    from mapnik_vector_tile_spark.operators import tiling as T
    from mapnik_vector_tile_spark.plans.flagship import derive_points

    z = 5

    def layer_of(table, key, name):
        df = spark.read.parquet(f"{sf_dir}/{table}.parquet")
        pts = derive_points(df, key)
        feats = pts.select(
            F.col("id").alias("feature_id"),
            F.lit(1).alias("geom_type"),
            F.array("mx").alias("xs"),
            F.array("my").alias("ys"),
            F.array(F.lit(0), F.lit(1)).alias("part_offsets"),
            F.lit("c").alias("caption"),
        )
        assigned = T.assign_tiles(feats, z, z, buffer_units=0)
        return T.encode_layers(assigned, layer_name=name, n_salts=4)

    lo = layer_of("orders", "o_orderkey", "orders")
    lc = layer_of("customer", "c_custkey", "customer")
    tiles = C.composite_tiles([lo, lc])
    return tiles.select(
        "z", "x", "y", F.col("n_layers").cast("bigint").alias("n_layers")
    )


def _sql_composite_n_layers(z: int = 5) -> str:
    tx, ty = S.tile_xy_exprs(z)
    return f"""
WITH {S.point_cte('orders', 'o_orderkey')},
{S.point_cte('customer', 'c_custkey', cte='cpts')},
lo AS (SELECT DISTINCT {tx} AS x, {ty} AS y FROM pts),
lc AS (SELECT DISTINCT {tx} AS x, {ty} AS y FROM cpts),
both_u AS (
  SELECT x, y, 1 AS has_o, 0 AS has_c FROM lo
  UNION ALL
  SELECT x, y, 0 AS has_o, 1 AS has_c FROM lc
)
SELECT {z} AS z, x, y,
       CAST(MAX(has_o) + MAX(has_c) AS BIGINT) AS n_layers
FROM both_u GROUP BY x, y
"""


S2_LEVEL = 10


def q_s2_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2-style spherical cell encoding (functions.cellid): sphere →
    cube face → quadratic ST → Morton-in-face at level 10, plus the
    level-5 parent (pure bit shift). Spark side = vectorized numpy
    pandas UDF; oracle = the same formula chain rendered as DuckDB SQL.
    numpy's SIMD trig and DuckDB's libm differ by ~1 ulp on a quarter
    of inputs (measured), so the match is drift-TOLERANT rather than
    bit-exact: a 1-ulp st perturbation flips the level-10 floor only
    within ~1e-13 of a cell boundary — ~1e-10 odds across this corpus,
    vs certainty if the formulas diverged structurally."""
    import pandas as pd

    from mapnik_vector_tile_spark.functions import cellid as C
    from mapnik_vector_tile_spark.plans.flagship import derive_points

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    pts = derive_points(cust, "c_custkey")

    def gen(batches):
        for pdf in batches:
            cells = C.s2_cell_np(
                pdf["mx"].to_numpy(), pdf["my"].to_numpy(), S2_LEVEL
            )
            yield pd.DataFrame(
                {
                    "id": pdf["id"],
                    "s2_cell": cells,
                    "s2_parent5": C.s2_parent_np(cells, S2_LEVEL, 5),
                }
            )

    return pts.mapInPandas(gen, "id long, s2_cell long, s2_parent5 long")


GEOHASH_P = 8


def q_geohash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Base-32 geohash encoding (functions/geohash.py) at precision 8
    plus the precision-4 prefix — the cell-index family's third member
    (public standard; prefix = containment). Pure Column algebra: the
    whole encode is one codegen projection, no shuffle, no Python, and
    unlike the S2 twin there is NO trig — every step is IEEE-exact in
    both engines, so this pair is bit-exact, not drift-tolerant.

    lon/lat are derived from the shared deterministic mercator points
    by exact axis rescale ((mx/W)·180, (my/W)·85 — synthetic world
    cover; the oracle gates the ENCODE semantics)."""
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.functions import geohash as GH
    from mapnik_vector_tile_spark.plans.flagship import derive_points

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    pts = derive_points(cust, "c_custkey")
    lon = (F.col("mx") / F.lit(W)) * F.lit(180.0)
    lat = (F.col("my") / F.lit(W)) * F.lit(85.0)
    coded = pts.select(
        "id", GH.geohash_code_col(lon, lat, GEOHASH_P).alias("code")
    )
    gh8 = GH.geohash_str_col(F.col("code"), GEOHASH_P)
    return coded.select(
        "id",
        "code",
        gh8.alias("gh8"),
        F.substring(gh8, 1, 4).alias("gh4"),
    )


def _sql_geohash() -> str:
    from mapnik_vector_tile_spark.functions import geohash as GH

    ix, iy = GH.lonlat_index_sql("lon", "lat", GEOHASH_P)
    code = GH.interleave_sql("gx", "gy", GEOHASH_P)
    gh8 = GH.geohash_sql("code", GEOHASH_P)
    return f"""
WITH {S.point_cte('customer', 'c_custkey')},
ll AS (SELECT id, (mx / {S.flit(W)}) * 180e0 AS lon,
              (my / {S.flit(W)}) * 85e0 AS lat FROM pts),
g AS (SELECT id, {ix} AS gx, {iy} AS gy FROM ll),
c AS (SELECT id, CAST({code} AS BIGINT) AS code FROM g),
h AS (SELECT id, code, {gh8} AS gh8 FROM c)
SELECT id, code, gh8, substr(gh8, 1, 4) AS gh4 FROM h
"""


def _sql_s2_cells() -> str:
    from mapnik_vector_tile_spark.functions import cellid as C

    face, i, j = C.s2_cell_sql("mx", "my", S2_LEVEL)
    morton = C.morton_sql("ii", "jj", S2_LEVEL)
    return f"""
WITH {S.point_cte('customer', 'c_custkey')},
s AS (SELECT id, {face} AS face, {i} AS ii, {j} AS jj FROM pts),
c AS (SELECT id,
             CAST(face AS BIGINT) * {1 << (2 * S2_LEVEL)} + ({morton}) AS s2_cell
      FROM s)
SELECT id, s2_cell, (s2_cell >> {2 * (S2_LEVEL - 5)}) AS s2_parent5 FROM c
"""


SIMP_TOL = 256.0  # tile units; z0 extent 4096 -> real thinning


def q_engine_simplify_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9 Douglas-Peucker with a FULL vertex-exact oracle: 16-vertex
    world-spanning polylines (pure-arithmetic mercator coords from
    orders keys — no trig anywhere) encoded in the z0 tile (everything
    inside => no clip splits) with simplify_distance=256, decoded back
    to the surviving vertex sequence. The DuckDB twin replays the
    whole chain bit-exactly: the Liang-Barsky interior-vertex rewrite
    a+(b-a) via lag(), the (d*scale) quantize with the precomputed
    scale constant, recursive-CTE DP (clamped-projection d2, strict
    >tol2, first-max tiebreak), F7 consecutive dedup, and the <2-point
    drop. Output: (feature_id, rnk, px, py) per surviving vertex."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.operators import tiling as T

    NV = 16
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select("o_orderkey")

    def gen(batches):
        for pdf in batches:
            ids = pdf["o_orderkey"].to_numpy().astype(np.int64)
            if not len(ids):
                continue
            vk = (ids[:, None] * NV + np.arange(NV)[None, :]).reshape(-1)
            mx = ((vk * 2654435761) % 2**32) / float(2**32) * S.TWO_W - W
            my = (
                ((vk * 1103515245 + 12345) % 2**32) / float(2**32)
            ) * S.TWO_W - W
            mx = mx.reshape(-1, NV)
            my = my.reshape(-1, NV)
            yield pd.DataFrame(
                {
                    "feature_id": ids,
                    "geom_type": 2,
                    "xs": [r.tolist() for r in mx],
                    "ys": [r.tolist() for r in my],
                    "part_offsets": [[0, NV]] * len(ids),
                    "caption": "l",
                }
            )

    feats = orders.mapInPandas(gen, schema=T.FEATURES_SCHEMA)
    assigned = T.assign_tiles(feats, 0, 0)
    tiles = T.encode_tiles(assigned, simplify_distance=SIMP_TOL)
    dec = T.decode_tiles_to_features(tiles)
    z = dec.select(
        "feature_id",
        F.posexplode(F.arrays_zip("pxs", "pys")).alias("rnk", "v"),
    )
    return z.select(
        "feature_id",
        F.col("rnk").cast("bigint").alias("rnk"),
        F.col("v.pxs").alias("px"),
        F.col("v.pys").alias("py"),
    )


def _simplify_line_feats(spark: SparkSession, sf_dir: str, nv: int = 16):
    """The shared simplify-strategy corpus (see q_engine_simplify_radial
    for the construction rationale): one nv-vertex line per order, even
    vertices far-apart hash points, odd vertices small deterministic
    offsets off their even base — distances straddle the radial
    tolerance AND triangle areas straddle the VW tolerance."""
    import numpy as np
    import pandas as pd

    from mapnik_vector_tile_spark.operators import tiling as T

    TU = S.TWO_W / 4096.0  # one z0 tile unit in mercator meters
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey"
    )

    def gen(batches):
        for pdf in batches:
            ids = pdf["o_orderkey"].to_numpy().astype(np.int64)
            if not len(ids):
                continue
            vk = (ids[:, None] * nv + np.arange(nv)[None, :]).reshape(-1)
            vkb = vk - (vk % 2)  # each odd vertex shares its even base
            fr_x = ((vkb * 2654435761) % 2**32) / float(2**32)
            fr_y = ((vkb * 1103515245 + 12345) % 2**32) / float(2**32)
            mx = fr_x * (1.7 * W) - 0.85 * W
            my = fr_y * (1.7 * W) - 0.85 * W
            odd = (vk % 2).astype(np.float64)
            dx = ((vk % 667) - 333) * 0.6 * TU * odd
            dy = (((vk * 31) % 667) - 333) * 0.6 * TU * odd
            mx = (mx + dx).reshape(-1, nv)
            my = (my + dy).reshape(-1, nv)
            yield pd.DataFrame(
                {
                    "feature_id": ids,
                    "geom_type": 2,
                    "xs": [r.tolist() for r in mx],
                    "ys": [r.tolist() for r in my],
                    "part_offsets": [[0, nv]] * len(ids),
                    "caption": "l",
                }
            )

    return orders.mapInPandas(gen, schema=T.FEATURES_SCHEMA)


VW_TOL = 300000.0  # doubled-area threshold 6e5 in z0 tile units² —


def q_engine_simplify_vw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9c Visvalingam–Whyatt simplification (simplify.
    visvalingam_whyatt; ref: include/mapnik/simplify_converter.hpp —
    the reference's third strategy, completing its strategy set next
    to Douglas-Peucker and radial-distance), vertex-exact on the
    SHARED simplify corpus: iteratively drop the smallest-effective-
    area interior vertex while its DOUBLED area < 2·tol, lowest index
    on ties, neighbors recomputed after each drop — all integer
    arithmetic on quantized coords. The DuckDB twin replays the exact
    removal SEQUENCE as a recursive CTE carrying the surviving
    coordinate LISTS (list_min + list_position = the same
    first-minimum tie rule as np.argmin). Output: (feature_id, rnk,
    px, py)."""
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.operators import tiling as T

    feats = _simplify_line_feats(spark, sf_dir)
    assigned = T.assign_tiles(feats, 0, 0)
    tiles = T.encode_tiles(
        assigned,
        simplify_distance=VW_TOL,
        simplify_strategy="visvalingam-whyatt",
    )
    dec = T.decode_tiles_to_features(tiles)
    z = dec.select(
        "feature_id",
        F.posexplode(F.arrays_zip("pxs", "pys")).alias("rnk", "v"),
    )
    return z.select(
        "feature_id",
        F.col("rnk").cast("bigint").alias("rnk"),
        F.col("v.pxs").alias("px"),
        F.col("v.pys").alias("py"),
    )


def _sql_simplify_vw(nv: int = 16, tol: float = VW_TOL) -> str:
    from mapnik_vector_tile_spark.functions import tilemath as tm

    scale = 4096.0 / tm.tile_span(0)
    f32 = S.flit(2**32)
    fw = S.flit(W)
    fs = S.flit(scale)
    f17w = S.flit(1.7 * W)
    f085w = S.flit(0.85 * W)
    ftu = S.flit(S.TWO_W / 4096.0)
    f06 = S.flit(0.6)
    thr2 = (
        str(int(2 * tol)) if float(2 * tol).is_integer() else S.flit(2 * tol)
    )
    return f"""
WITH RECURSIVE raw AS (
  SELECT o_orderkey AS fid, i,
         o_orderkey * {nv} + i AS vk,
         o_orderkey * {nv} + i - (o_orderkey * {nv} + i) % 2 AS vkb
  FROM orders CROSS JOIN (SELECT unnest(generate_series(0, {nv - 1})) AS i) s
),
world AS (
  SELECT fid, i,
         (((vkb * 2654435761) % 4294967296) / {f32}) * {f17w} - {f085w}
           + ((vk % 667) - 333) * {f06} * {ftu} * (vk % 2) AS mx,
         (((vkb * 1103515245 + 12345) % 4294967296) / {f32}) * {f17w}
           - {f085w}
           + (((vk * 31) % 667) - 333) * {f06} * {ftu} * (vk % 2) AS my
  FROM raw
),
verts AS (
  SELECT fid, i AS idx,
         {S.round_half_up_nonneg(f'((mx + {fw}) * {fs})')} AS px,
         {S.round_half_up_nonneg(f'(({fw} - my) * {fs})')} AS py
  FROM world
),
lines_ AS (
  SELECT fid, list(px ORDER BY idx) AS xs, list(py ORDER BY idx) AS ys
  FROM verts GROUP BY fid
),
vw(fid, step, xs, ys, done) AS (
  SELECT fid, 0, xs, ys, len(xs) <= 2 FROM lines_
  UNION ALL
  SELECT fid, step + 1,
         CASE WHEN rm > 0
              THEN xs[1:rm - 1] || xs[rm + 1:len(xs)] ELSE xs END,
         CASE WHEN rm > 0
              THEN ys[1:rm - 1] || ys[rm + 1:len(ys)] ELSE ys END,
         rm = 0 OR len(xs) - 1 <= 2
  FROM (
    SELECT fid, step, xs, ys,
           CASE WHEN list_min(areas) < {thr2}
                THEN list_position(areas, list_min(areas)) + 1
                ELSE 0 END AS rm
    FROM (
      SELECT fid, step, xs, ys,
             list_transform(generate_series(2, len(xs) - 1), i ->
               abs((xs[i] - xs[i - 1]) * (ys[i + 1] - ys[i - 1])
                   - (ys[i] - ys[i - 1]) * (xs[i + 1] - xs[i - 1])))
               AS areas
      FROM vw WHERE NOT done
    )
  )
),
fin AS (
  SELECT fid, xs, ys,
         row_number() OVER (PARTITION BY fid ORDER BY step DESC) AS rn
  FROM vw
),
seq AS (
  SELECT fid, unnest(xs) AS px, unnest(ys) AS py,
         generate_subscripts(xs, 1) AS pos
  FROM fin WHERE rn = 1
)
SELECT fid AS feature_id, CAST(pos - 1 AS BIGINT) AS rnk, px, py
FROM seq
"""


def q_engine_simplify_radial(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9b radial-distance simplification (simplify.radial_distance;
    ref: include/mapnik/simplify_converter.hpp — the reference's cheap
    strategy next to Douglas-Peucker), vertex-exact like
    q_engine_simplify_exact but on a corpus built to be NON-VACUOUS
    for this strategy: even vertices are far-apart hash points (kept
    always), each odd vertex is its predecessor plus a small
    deterministic offset of ±0..283 tile units straddling the 256
    tolerance — so roughly half the odd vertices drop and half
    survive, and the forced-emit-last rule (final vertex always
    output, elided only when byte-identical to the last kept) is
    exercised on the odd tail vertex. Geometry stays ≥0.05·W inside
    the world so the clip stage never splits. The DuckDB twin replays
    quantization then the sequential keep-last-kept chain as a
    16-step RECURSIVE CTE carrying (last-kept px, py) — exact BIGINT
    compares throughout. Output: (feature_id, rnk, px, py)."""
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.operators import tiling as T

    feats = _simplify_line_feats(spark, sf_dir)
    assigned = T.assign_tiles(feats, 0, 0)
    tiles = T.encode_tiles(
        assigned,
        simplify_distance=SIMP_TOL,
        simplify_strategy="radial-distance",
    )
    dec = T.decode_tiles_to_features(tiles)
    z = dec.select(
        "feature_id",
        F.posexplode(F.arrays_zip("pxs", "pys")).alias("rnk", "v"),
    )
    return z.select(
        "feature_id",
        F.col("rnk").cast("bigint").alias("rnk"),
        F.col("v.pxs").alias("px"),
        F.col("v.pys").alias("py"),
    )


def _sql_simplify_radial(nv: int = 16, tol: float = SIMP_TOL) -> str:
    from mapnik_vector_tile_spark.functions import tilemath as tm

    scale = 4096.0 / tm.tile_span(0)
    f32 = S.flit(2**32)
    fw = S.flit(W)
    fs = S.flit(scale)
    f17w = S.flit(1.7 * W)
    f085w = S.flit(0.85 * W)
    ftu = S.flit(S.TWO_W / 4096.0)
    f06 = S.flit(0.6)
    tol2 = (
        str(int(tol * tol))
        if float(tol * tol).is_integer()
        else S.flit(tol * tol)
    )
    return f"""
WITH RECURSIVE raw AS (
  SELECT o_orderkey AS fid, i,
         o_orderkey * {nv} + i AS vk,
         o_orderkey * {nv} + i - (o_orderkey * {nv} + i) % 2 AS vkb
  FROM orders CROSS JOIN (SELECT unnest(generate_series(0, {nv - 1})) AS i) s
),
world AS (
  SELECT fid, i,
         (((vkb * 2654435761) % 4294967296) / {f32}) * {f17w} - {f085w}
           + ((vk % 667) - 333) * {f06} * {ftu} * (vk % 2) AS mx,
         (((vkb * 1103515245 + 12345) % 4294967296) / {f32}) * {f17w}
           - {f085w}
           + (((vk * 31) % 667) - 333) * {f06} * {ftu} * (vk % 2) AS my
  FROM raw
),
verts AS (
  SELECT fid, i AS idx,
         {S.round_half_up_nonneg(f'((mx + {fw}) * {fs})')} AS px,
         {S.round_half_up_nonneg(f'(({fw} - my) * {fs})')} AS py
  FROM world
),
rad(fid, idx, lx, ly, kept) AS (
  SELECT fid, 0, px, py, TRUE FROM verts WHERE idx = 0
  UNION ALL
  SELECT v.fid, v.idx,
         CASE WHEN (v.px - r.lx) * (v.px - r.lx)
                 + (v.py - r.ly) * (v.py - r.ly) > {tol2}
              THEN v.px ELSE r.lx END,
         CASE WHEN (v.px - r.lx) * (v.px - r.lx)
                 + (v.py - r.ly) * (v.py - r.ly) > {tol2}
              THEN v.py ELSE r.ly END,
         (v.px - r.lx) * (v.px - r.lx)
           + (v.py - r.ly) * (v.py - r.ly) > {tol2}
  FROM rad r JOIN verts v ON v.fid = r.fid AND v.idx = r.idx + 1
),
k0 AS (SELECT fid, idx FROM rad WHERE kept),
fin AS (
  SELECT r.fid, v.px, v.py, r.lx, r.ly, r.kept
  FROM rad r JOIN verts v ON v.fid = r.fid AND v.idx = {nv - 1}
  WHERE r.idx = {nv - 1}
),
extra AS (
  SELECT fid, {nv - 1} AS idx FROM fin
  WHERE NOT kept AND (px <> lx OR py <> ly)
),
kept_all AS (SELECT * FROM k0 UNION ALL SELECT * FROM extra),
seq AS (
  SELECT k.fid, v.px, v.py,
         row_number() OVER (PARTITION BY k.fid ORDER BY k.idx) AS pos
  FROM kept_all k JOIN verts v ON v.fid = k.fid AND v.idx = k.idx
)
SELECT fid AS feature_id,
       CAST(pos - 1 AS BIGINT) AS rnk, px, py
FROM seq
QUALIFY COUNT(*) OVER (PARTITION BY fid) >= 2
"""


def _sql_simplify_exact(nv: int = 16, tol: float = SIMP_TOL) -> str:
    from mapnik_vector_tile_spark.functions import tilemath as tm

    scale = 4096.0 / tm.tile_span(0)  # the engine's precomputed constant
    f32 = S.flit(2**32)
    fw = S.flit(W)
    f2w = S.flit(2.0 * W)
    fs = S.flit(scale)
    # clamped-projection squared distance of v to segment (va, vb) on
    # BIGINT px/py promoted to DOUBLE — pip/simplify._seg_dist2 verbatim
    d2 = """
CASE WHEN (CAST(vb.px - va.px AS DOUBLE) * (vb.px - va.px)
         + CAST(vb.py - va.py AS DOUBLE) * (vb.py - va.py)) = 0.0
     THEN CAST(v.px - va.px AS DOUBLE) * (v.px - va.px)
        + CAST(v.py - va.py AS DOUBLE) * (v.py - va.py)
     ELSE
       (v.px - (va.px + LEAST(1.0, GREATEST(0.0,
          ((v.px - va.px) * CAST(vb.px - va.px AS DOUBLE)
           + (v.py - va.py) * CAST(vb.py - va.py AS DOUBLE))
          / (CAST(vb.px - va.px AS DOUBLE) * (vb.px - va.px)
             + CAST(vb.py - va.py AS DOUBLE) * (vb.py - va.py))
       )) * CAST(vb.px - va.px AS DOUBLE))) ** 2
     + (v.py - (va.py + LEAST(1.0, GREATEST(0.0,
          ((v.px - va.px) * CAST(vb.px - va.px AS DOUBLE)
           + (v.py - va.py) * CAST(vb.py - va.py AS DOUBLE))
          / (CAST(vb.px - va.px AS DOUBLE) * (vb.px - va.px)
             + CAST(vb.py - va.py AS DOUBLE) * (vb.py - va.py))
       )) * CAST(vb.py - va.py AS DOUBLE))) ** 2
END"""
    return f"""
WITH RECURSIVE raw AS (
  SELECT o_orderkey AS fid, i,
         o_orderkey * {nv} + i AS vk
  FROM orders CROSS JOIN (SELECT unnest(generate_series(0, {nv - 1})) AS i) s
),
world AS (
  SELECT fid, i,
         (((vk * 2654435761) % 4294967296) / {f32}) * {f2w} - {fw} AS mx,
         (((vk * 1103515245 + 12345) % 4294967296) / {f32}) * {f2w} - {fw} AS my
  FROM raw
),
adj AS (
  -- Liang-Barsky rewrites every interior vertex as a + 1*(b - a)
  SELECT fid, i,
         CASE WHEN i = 0 THEN mx
              ELSE lag(mx) OVER w + (mx - lag(mx) OVER w) END AS mx2,
         CASE WHEN i = 0 THEN my
              ELSE lag(my) OVER w + (my - lag(my) OVER w) END AS my2
  FROM world WINDOW w AS (PARTITION BY fid ORDER BY i)
),
verts AS (
  SELECT fid, i AS idx,
         {S.round_half_up_nonneg(f'((mx2 + {fw}) * {fs})')} AS px,
         {S.round_half_up_nonneg(f'(({fw} - my2) * {fs})')} AS py
  FROM adj
),
splits(fid, a, b) AS (
  SELECT fid, 0, {nv - 1} FROM (SELECT DISTINCT fid FROM verts) f
  UNION ALL
  SELECT s.fid,
         CASE WHEN ch.side = 0 THEN s.a ELSE s.mid END,
         CASE WHEN ch.side = 0 THEN s.mid ELSE s.b END
  FROM (
    SELECT c.fid, c.a, c.b, c.idx AS mid, c.d2,
           row_number() OVER (
             PARTITION BY c.fid, c.a, c.b ORDER BY c.d2 DESC, c.idx
           ) AS rn
    FROM (
      SELECT s.fid, s.a, s.b, v.idx, {d2} AS d2
      FROM splits s
      JOIN verts va ON va.fid = s.fid AND va.idx = s.a
      JOIN verts vb ON vb.fid = s.fid AND vb.idx = s.b
      JOIN verts v  ON v.fid = s.fid AND v.idx > s.a AND v.idx < s.b
    ) c
  ) s
  CROSS JOIN (SELECT 0 AS side UNION ALL SELECT 1) ch
  WHERE s.rn = 1 AND s.d2 > {S.flit(tol * tol)}
),
kept AS (
  SELECT DISTINCT fid, a AS idx FROM splits
  UNION SELECT DISTINCT fid, b FROM splits
),
seq AS (
  SELECT k.fid, v.px, v.py,
         row_number() OVER (PARTITION BY k.fid ORDER BY k.idx) AS pos
  FROM kept k JOIN verts v ON v.fid = k.fid AND v.idx = k.idx
),
dedup AS (
  SELECT fid, px, py, pos,
         lag(px) OVER wd AS lx, lag(py) OVER wd AS ly
  FROM seq WINDOW wd AS (PARTITION BY fid ORDER BY pos)
)
SELECT fid AS feature_id,
       CAST(row_number() OVER (PARTITION BY fid ORDER BY pos) - 1
            AS BIGINT) AS rnk,
       px, py
FROM dedup
WHERE lx IS NULL OR px <> lx OR py <> ly
QUALIFY COUNT(*) OVER (PARTITION BY fid) >= 2
"""


DIFF_Z = 6


def _diff_stores(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Tile stores A (order keys % 5 != 0) and B (% 7 != 0) at z DIFF_Z,
    built through the real encode pipeline: the inputs of q_tile_diff
    and q_tile_patch."""
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.operators import tiling as T

    feats = _engine_point_features(spark, sf_dir)

    def store(mod: int):
        sub = feats.filter(F.col("feature_id") % mod != 0)
        return T.encode_tiles(
            T.assign_tiles(sub, DIFF_Z, DIFF_Z, buffer_units=0),
            buffer_units=0,
        )

    return store(5), store(7)


def q_tile_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tile-store content diff (delta updates) with a FULL oracle:
    store A = z6 tiles of order points with key % 5 != 0, store B =
    key % 7 != 0 — the engine diffs ACTUAL TILE BYTES (xxhash64 over
    the encoded buffers, composite.diff_tiles), while DuckDB derives
    added/removed/changed purely from per-tile membership set algebra
    (a tile changed iff the two key sets differ). The hash only
    matches if the encode pipeline is byte-deterministic AND injective
    on feature sets — a nondeterministic dictionary order or a
    dropped/duplicated feature shows up as a spurious or missing diff
    row."""
    from mapnik_vector_tile_spark.operators import composite as comp

    return comp.diff_tiles(*_diff_stores(spark, sf_dir))


def _sql_tile_diff(z: int = DIFF_Z) -> str:
    tx, ty = S.tile_xy_exprs(z)
    return f"""
WITH {S.point_cte('orders', 'o_orderkey')},
t AS (SELECT id, {tx} AS x, {ty} AS y FROM pts),
m AS (
  SELECT x, y,
         SUM(CASE WHEN id % 5 <> 0 THEN 1 ELSE 0 END) AS na,
         SUM(CASE WHEN id % 7 <> 0 THEN 1 ELSE 0 END) AS nb,
         SUM(CASE WHEN (id % 5 <> 0) <> (id % 7 <> 0) THEN 1 ELSE 0 END)
           AS nsym
  FROM t GROUP BY 1, 2
)
SELECT CAST({z} AS INT) AS z, x, y,
       CASE WHEN nb = 0 THEN 'removed'
            WHEN na = 0 THEN 'added'
            ELSE 'changed' END AS status
FROM m
WHERE (na > 0 OR nb > 0) AND (na = 0 OR nb = 0 OR nsym > 0)
"""


def q_engine_v1_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 v1-tolerant decode under the driver gate: per order key,
    build a VERSION-1 layer whose single linestring stream is a valid
    2-point part followed by a trailing 1-point part (legal v1 wire,
    rejected by v2 rules). The tolerant decoder must DROP the
    degenerate trailing part and keep the valid one — the decode scan
    returns exactly 2 vertices per feature, whose deterministic
    integer coordinates DuckDB regenerates closed-form. A decoder that
    errors (strict-v2 regression) loses the row; one that keeps the
    1-point part breaks the sums."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.functions import geomcodec as gc
    from mapnik_vector_tile_spark.functions import pbf
    from mapnik_vector_tile_spark.operators import tiling as T

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select("o_orderkey")

    def zz(v: int) -> int:
        return (v << 1) ^ (v >> 63)

    def gen(it):
        for pdf in it:
            rows = {"z": [], "x": [], "y": [], "tile": []}
            for k in pdf["o_orderkey"]:
                k = int(k)
                p = [
                    (
                        (k * (i + 1) * 2654435761) % 4096,
                        (k * (i + 3) * 1103515245 + 12345) % 4096,
                    )
                    for i in range(3)
                ]
                stream = [
                    9, zz(p[0][0]), zz(p[0][1]),
                    10, zz(p[1][0] - p[0][0]), zz(p[1][1] - p[0][1]),
                    9, zz(p[2][0] - p[1][0]), zz(p[2][1] - p[1][1]),
                ]
                lb = pbf.LayerBuilder("features", extent=4096, version=1)
                lb.add_feature(
                    k, gc.GEOM_LINESTRING,
                    np.array(stream, dtype=np.int64), {"caption": "v1"},
                )
                rows["z"].append(9)
                rows["x"].append(k % 512)
                rows["y"].append((k * 7) % 512)
                rows["tile"].append(pbf.concat_tile([lb.build()]))
            yield pd.DataFrame(rows)

    tiles = orders.mapInPandas(gen, schema="z int, x long, y long, tile binary")
    dec = T.decode_tiles_to_features(tiles)
    return dec.select(
        F.col("feature_id"),
        F.size("pxs").cast("bigint").alias("n_pts"),
        F.aggregate(
            "pxs", F.lit(0).cast("long"), lambda a, v: a + v
        ).alias("sum_px"),
        F.aggregate(
            "pys", F.lit(0).cast("long"), lambda a, v: a + v
        ).alias("sum_py"),
    )


def _sql_v1_decode() -> str:
    def px(i: int) -> str:
        return f"((k * {i + 1} * 2654435761) % 4096)"

    def py(i: int) -> str:
        return f"((k * {i + 3} * 1103515245 + 12345) % 4096)"

    return f"""
SELECT o_orderkey AS feature_id,
       CAST(2 AS BIGINT) AS n_pts,
       CAST({px(0)} + {px(1)} AS BIGINT) AS sum_px,
       CAST({py(0)} + {py(1)} AS BIGINT) AS sum_py
FROM (SELECT o_orderkey, o_orderkey AS k FROM orders) t
"""


WAFER_Z, WAFER_K = 8, 3  # q_engine_wafer: z8 tiles rendered as z5 wafers


def q_engine_wafer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wafer rendering (the mapycz fork's multi-tile render strategy,
    SURVEY §0) through the REAL pipeline with a FULL oracle: orders
    points are encoded as 2^k×2^k tile BLOCKS — one wafer tile at z−k
    with extent 4096·2^k (the exact z-level grid) — then split into
    children by pure integer translation (overzoom_children with
    child_extent=4096, coordinate factor f=1). The DuckDB twin replays
    the whole chain closed-form: wafer assignment, the wafer-anchored
    quantize (round-half-away on (mx−minx_w)·scale_w, op-for-op), the
    inclusive [0, extent] bounds check, and the child-range floor
    division — INCLUDING the duplication of points that quantize onto
    an internal child boundary (px ≡ 0 mod 4096), which buffer-0 wafer
    splitting shares with every buffered-tile semantic.
    Ref parity: mapycz wafer rendering (merc wafer blocks); SURVEY §0
    fork-specific table."""
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.operators import tiling as T

    feats = _engine_point_features(spark, sf_dir)
    tiles = T.encode_wafer_tiles(feats, z=WAFER_Z, k=WAFER_K, buffer_units=0)
    return tiles.select(
        "z", "x", "y", F.col("n_features").cast("bigint").alias("n_features")
    )


def _sql_wafer(z: int = WAFER_Z, k: int = WAFER_K) -> str:
    from mapnik_vector_tile_spark.functions import tilemath as tm

    zw = z - k
    s = 1 << k
    ce = 4096
    wext = ce << k
    span_w = (2.0 * tm.W) / float(1 << zw)
    scale_w = float(wext) / span_w
    txw, tyw = S.tile_xy_exprs(zw)
    rawx = f"((mx - (-{S.flit(tm.W)} + txw * {S.flit(span_w)})) * {S.flit(scale_w)})"
    rawy = f"((({S.flit(tm.W)} - tyw * {S.flit(span_w)}) - my) * {S.flit(scale_w)})"
    return f"""
WITH {S.point_cte('orders', 'o_orderkey')},
w AS (SELECT id, mx, my, {txw} AS txw, {tyw} AS tyw FROM pts),
q AS (SELECT id, txw, tyw,
             {S.round_half_up_nonneg(rawx)} AS px,
             {S.round_half_up_nonneg(rawy)} AS py
      FROM w),
m AS (SELECT * FROM q
      WHERE px BETWEEN 0 AND {wext} AND py BETWEEN 0 AND {wext}),
cx AS (SELECT *, unnest(generate_series(
         GREATEST(0, -CAST(floor(({ce} - px) / {S.flit(ce)}) AS BIGINT)),
         LEAST({s - 1}, CAST(floor(px / {S.flit(ce)}) AS BIGINT)))) AS cxi
       FROM m),
cxy AS (SELECT *, unnest(generate_series(
          GREATEST(0, -CAST(floor(({ce} - py) / {S.flit(ce)}) AS BIGINT)),
          LEAST({s - 1}, CAST(floor(py / {S.flit(ce)}) AS BIGINT)))) AS cyi
        FROM cx)
SELECT CAST({z} AS INT) AS z,
       txw * {s} + cxi AS x,
       tyw * {s} + cyi AS y,
       COUNT(*) AS n_features
FROM cxy GROUP BY 1, 2, 3
"""


COVER_N = 400  # q_cell_cover corpus size
COVER_Z = 10


def q_cell_cover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T15-family polygon→cell covering ("polyfill") with a FULL
    oracle. Corpus: 400 polygons at z=10, i%2 picks the shape —
    0: axis-aligned rectangle (w,h = cell-multiples + span/2, anchored
    at cell-fraction +0.25 so no edge ever lies ON a cell boundary),
    1: right triangle with axis-aligned legs (hypotenuse x+y = T with
    T at cell-corner-sum + span/2, so no corner ever lies ON it) —
    the triangle exercises the edge-crossing + center-PIP paths, not
    just bbox ranges. The engine runs the real vectorized kernel
    (operators/cellcover.py: vertex binning, Liang–Barsky edge×cell
    pairs, even-odd center PIP); the DuckDB twin enumerates cells by
    INTEGER arithmetic only (lateral generate_series + the halfplane
    inequality reduced to ints), a fully independent derivation.
    Output is the raw covering relation (feature_id, z, cx, cy).
    sf_dir unused (committed synth recipe). Ref parity: the
    processor's per-zoom tile loop over the layer envelope
    (tile-intersects-geometry decisions); S2 RegionCoverer semantics
    at fixed level; SURVEY §2 T15."""
    from mapnik_vector_tile_spark.operators.cellcover import cover_polygon_cells

    return cover_polygon_cells(_cell_cover_corpus(spark), COVER_Z)


def _cell_cover_corpus(spark: SparkSession) -> DataFrame:
    """The q_cell_cover rect/right-triangle corpus (shared with
    q_cell_cover_hier so both kernels are gated on identical input)."""
    import pandas as pd

    from mapnik_vector_tile_spark.functions import tilemath as tm

    span = tm.tile_span(COVER_Z)

    def gen(it):
        from mapnik_vector_tile_spark.functions import geomcodec as gc

        for pdf in it:
            ids = pdf["id"].to_numpy()
            if not len(ids):
                continue
            rows = {"feature_id": [], "geom_type": [], "xs": [], "ys": [],
                    "part_offsets": [], "caption": []}
            for i in ids:
                i = int(i)
                k = (i * 7) % 900
                m = (i * 11) % 900
                a = -tm.W + k * span + span / 4
                c = -tm.W + m * span + span / 4
                if i % 2 == 0:
                    w = (1 + i % 5) * span + span / 2
                    h = (2 + i % 4) * span + span / 2
                    xs = [a, a + w, a + w, a, a]
                    ys = [c, c, c + h, c + h, c]
                else:
                    L = (2 + i % 5) * span
                    xs = [a, a + L, a, a]
                    ys = [c, c, c + L, c]
                rows["feature_id"].append(i)
                rows["geom_type"].append(int(gc.GEOM_POLYGON))
                rows["xs"].append(xs)
                rows["ys"].append(ys)
                rows["part_offsets"].append([0, len(xs)])
                rows["caption"].append("")
            yield pd.DataFrame(rows)

    from mapnik_vector_tile_spark.operators.tiling import FEATURES_SCHEMA

    return spark.range(0, COVER_N, 1, 8).mapInPandas(
        gen, schema=FEATURES_SCHEMA
    )


def q_cell_cover_hier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical covering gate (cellcover.cover_polygon_cells_hier —
    the S2-RegionCoverer-style scale path: coarse cover at z−3,
    interior coarse cells expand to all children directly, boundary
    coarse cells refine through the exact kernel inside their child
    window). Same corpus and same SQL twin as q_cell_cover, so the
    gate proves the hierarchical path emits the IDENTICAL relation to
    the flat kernel while doing O(boundary·4^dz) work instead of
    O(bbox·4^dz). SURVEY §2 T15."""
    from mapnik_vector_tile_spark.operators.cellcover import (
        cover_polygon_cells_hier,
    )

    corpus = _cell_cover_corpus(spark)
    return cover_polygon_cells_hier(corpus, COVER_Z, coarse_dz=3)


def _sql_cell_cover(n: int = COVER_N) -> str:
    """Integer-only twin of q_cell_cover: rect covers the closed
    floor-ranges; the triangle adds the halfplane cut reduced to
    cx - cy <= k + m + tl - 1023 (derivation in the query docstring's
    design: T sits at corner-sum + span/2, so the float inequality is
    equivalent to this integer one)."""
    return f"""
WITH ids AS (SELECT unnest(generate_series(0, {n - 1})) AS i),
base AS (
  SELECT i, (i * 7) % 900 AS k, (i * 11) % 900 AS m, i % 2 AS kind,
         1 + i % 5 AS rw, 2 + i % 4 AS rh, 2 + i % 5 AS tl
  FROM ids
),
rect AS (
  SELECT b.i AS feature_id, gx.cx AS cx, gy.cy AS cy
  FROM base b,
       LATERAL (SELECT unnest(generate_series(b.k, b.k + b.rw)) AS cx) gx,
       LATERAL (SELECT unnest(generate_series(1023 - b.m - b.rh, 1023 - b.m)) AS cy) gy
  WHERE b.kind = 0
),
tri AS (
  SELECT b.i AS feature_id, gx.cx AS cx, gy.cy AS cy
  FROM base b,
       LATERAL (SELECT unnest(generate_series(b.k, b.k + b.tl)) AS cx) gx,
       LATERAL (SELECT unnest(generate_series(1023 - b.m - b.tl, 1023 - b.m)) AS cy) gy
  WHERE b.kind = 1 AND gx.cx - gy.cy <= b.k + b.m + b.tl - 1023
)
SELECT feature_id, CAST({COVER_Z} AS INT) AS z, cx, cy FROM rect
UNION ALL
SELECT feature_id, CAST({COVER_Z} AS INT) AS z, cx, cy FROM tri
"""


MBT_Z_LO, MBT_Z_HI = 3, 6  # q_mbtiles_roundtrip pyramid band


def q_tilejson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TileJSON 3.0 vector_layers summary with a FULL oracle: split
    the orders points into two real layers by id parity, encode the
    z3..z6 pyramid per layer (buffer 0), and run
    composite.tilejson_layers — per-layer zoom range, tile/feature
    counts, and the EXACT dyadic mercator bounds of painted max-zoom
    tiles. DuckDB replays assignment, per-zoom distinct-tile sets, the
    arg-max extent selection and the (x·2W)/2^z − W bounds math
    closed-form; any drift in the pyramid, the painted set, or the
    double expression order breaks the hash."""
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.operators import composite as comp
    from mapnik_vector_tile_spark.operators import tiling as T

    feats = _engine_point_features(spark, sf_dir)
    parts = []
    for name, par in (("even", 0), ("odd", 1)):
        sub = feats.filter(F.col("feature_id") % 2 == par)
        assigned = T.assign_tiles(sub, MBT_Z_LO, MBT_Z_HI, buffer_units=0)
        parts.append(
            T.encode_layers(assigned, layer_name=name, n_salts=4)
        )
    layers = parts[0].unionByName(parts[1])
    return comp.tilejson_layers(layers)


def _sql_tilejson(z_lo: int = MBT_Z_LO, z_hi: int = MBT_Z_HI) -> str:
    from mapnik_vector_tile_spark.functions.tilemath import W

    tx, ty = S.tile_xy_exprs(z_hi)
    two_w = S.flit(2.0 * W)
    w = S.flit(W)
    p2 = S.flit(float(1 << z_hi))
    return f"""
WITH {S.point_cte('orders', 'o_orderkey')},
t AS (SELECT id % 2 AS par, {tx} AS tx, {ty} AS ty FROM pts),
zs AS (SELECT unnest(generate_series({z_lo}, {z_hi})) AS z),
lv AS (
  SELECT par, zz.z AS z, tx >> ({z_hi} - zz.z) AS x,
         ty >> ({z_hi} - zz.z) AS y, COUNT(*) AS nf
  FROM t, zs zz GROUP BY 1, 2, 3, 4
),
perz AS (
  SELECT par, z, COUNT(*) AS nt, SUM(nf) AS nf,
         MIN(x) AS xmin, MAX(x) AS xmax,
         MIN(y) AS ymin, MAX(y) AS ymax
  FROM lv GROUP BY 1, 2
),
agg AS (
  SELECT par, MIN(z) AS minzoom, MAX(z) AS maxzoom,
         SUM(nt) AS n_tiles, SUM(nf) AS n_features,
         arg_max(xmin, z) AS bxmin, arg_max(xmax, z) AS bxmax,
         arg_max(ymin, z) AS bymin, arg_max(ymax, z) AS bymax
  FROM perz GROUP BY par
)
SELECT CASE par WHEN 0 THEN 'even' ELSE 'odd' END AS layer,
       CAST(minzoom AS INT) AS minzoom, CAST(maxzoom AS INT) AS maxzoom,
       CAST(n_tiles AS BIGINT) AS n_tiles,
       CAST(n_features AS BIGINT) AS n_features,
       (CAST(bxmin AS DOUBLE) * {two_w}) / {p2} - {w} AS west_merc,
       {w} - (CAST(bymax + 1 AS DOUBLE) * {two_w}) / {p2} AS south_merc,
       (CAST(bxmax + 1 AS DOUBLE) * {two_w}) / {p2} - {w} AS east_merc,
       {w} - (CAST(bymin AS DOUBLE) * {two_w}) / {p2} AS north_merc
FROM agg
"""


LI_T = 0.35  # q_line_interpolate fraction


def q_line_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Along-line point placement (measures.line_interpolate — mapnik
    markers_placement line mode) with a FULL oracle on the staircase
    polylines of the measures corpus: every vertex/segment value is
    dyadic-exact, axis-aligned segment lengths come out of sqrt
    bit-exact (sqrt of an exact square), and the twin replays the
    engine's exact expression tree — rem = t·total − m(r+u), then
    x0m + (rem/len)·len on the hit segment — via the closed-form
    segment index m = floor(target/(r+u)) and the rem ≤ r
    horizontal/vertical branch. Identical doubles in, identical
    doubles out; hash-exact."""
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.functions import geomcodec as gc
    from mapnik_vector_tile_spark.functions import measures as M

    corpus = _measures_corpus(spark).filter(
        F.col("geom_type") == gc.GEOM_LINESTRING
    )
    px, py = M.line_interpolate(LI_T)
    return corpus.select(
        "feature_id",
        px.alias("px"),
        py.alias("py"),
        M.boundary_length().alias("length"),
    )


def _sql_line_interpolate(n: int = 500, t: float = LI_T) -> str:
    from mapnik_vector_tile_spark.plans.shared_sql import flit

    # engine-exact replay (see q_line_interpolate): target/rem/frac use
    # the same operations on the same exact doubles; m stays < k for
    # any t < 1 because target < total strictly
    return f"""
WITH ids AS (SELECT unnest(generate_series(0, {n - 1})) AS i),
base AS (
  SELECT i,
         {flit(-200.0)} + (i * 3) % 400 + {flit(0.125)} AS x0,
         {flit(-100.0)} + (i * 7) % 200 + {flit(0.0625)} AS y0,
         1 + i % 5 + {flit(0.5)} AS r,
         2 + i % 3 + {flit(0.25)} AS u,
         2 + i % 4 AS k
  FROM ids WHERE i % 2 = 1
),
tgt AS (
  SELECT *, {flit(t)} * (k * (r + u)) AS target FROM base
),
seg AS (
  SELECT *, CAST(FLOOR(target / (r + u)) AS BIGINT) AS m,
         target - CAST(FLOOR(target / (r + u)) AS BIGINT) * (r + u) AS rem
  FROM tgt
)
SELECT i AS feature_id,
       CASE WHEN rem <= r
            THEN (x0 + m * r) + (rem / r) * r
            ELSE x0 + (m + 1) * r END AS px,
       CASE WHEN rem <= r
            THEN y0 + m * u
            ELSE (y0 + m * u) + ((rem - r) / u) * u END AS py,
       k * (r + u) AS length
FROM seg
"""


def q_area_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True area-weighted centroid (measures.area_centroid — mapnik
    util::centroid, NOT the vertex mean) with a FULL oracle on the
    rectangle half of the measures corpus plus a holed variant: for a
    CCW rectangle the exact fold lands on x0 + w/2 bit-for-bit (all
    intermediates dyadic-exact); a second output row class punches a
    concentric half-size hole (CW ring appended as a second part) —
    the hole's negative cross sums shift nothing for the concentric
    case, pinning the holes-subtract path against the SAME closed
    form."""
    import pandas as pd

    from mapnik_vector_tile_spark.functions import geomcodec as gc
    from mapnik_vector_tile_spark.functions import measures as M

    def gen(it):
        for pdf in it:
            ids = pdf["id"].to_numpy()
            if not len(ids):
                continue
            rows = {"feature_id": [], "geom_type": [], "xs": [], "ys": [],
                    "part_offsets": [], "caption": []}
            for i in ids:
                i = int(i)
                x0 = -200.0 + (i * 3) % 400 + 0.125
                y0 = -100.0 + (i * 7) % 200 + 0.0625
                w = 1 + i % 9 + 0.25
                h = 2 + i % 7 + 0.5
                xs = [x0, x0 + w, x0 + w, x0, x0]
                ys = [y0, y0, y0 + h, y0 + h, y0]
                offs = [0, 5]
                if i % 2 == 1:
                    # concentric CW hole at half size (quarter margins)
                    hx0, hy0 = x0 + w / 4.0, y0 + h / 4.0
                    hw, hh = w / 2.0, h / 2.0
                    xs += [hx0, hx0, hx0 + hw, hx0 + hw, hx0]
                    ys += [hy0, hy0 + hh, hy0 + hh, hy0, hy0]
                    offs.append(10)
                rows["feature_id"].append(i)
                rows["geom_type"].append(int(gc.GEOM_POLYGON))
                rows["xs"].append(xs)
                rows["ys"].append(ys)
                rows["part_offsets"].append(offs)
                rows["caption"].append("")
            yield pd.DataFrame(rows)

    from mapnik_vector_tile_spark.operators.tiling import FEATURES_SCHEMA

    corpus = spark.range(0, MEASURES_N, 1, 8).mapInPandas(
        gen, schema=FEATURES_SCHEMA
    )
    cx, cy = M.area_centroid()
    return corpus.select(
        "feature_id",
        cx.alias("cx"),
        cy.alias("cy"),
        M.signed_area2().alias("a2"),
    )


def _sql_area_centroid(n: int = 500) -> str:
    from mapnik_vector_tile_spark.plans.shared_sql import flit

    # outer 2wh minus (for odd i) the CW half-size hole's 2*(w/2)(h/2)
    return f"""
WITH ids AS (SELECT unnest(generate_series(0, {n - 1})) AS i),
base AS (
  SELECT i,
         {flit(-200.0)} + (i * 3) % 400 + {flit(0.125)} AS x0,
         {flit(-100.0)} + (i * 7) % 200 + {flit(0.0625)} AS y0,
         1 + i % 9 + {flit(0.25)} AS w,
         2 + i % 7 + {flit(0.5)} AS h
  FROM ids
)
SELECT i AS feature_id,
       x0 + w / {flit(2.0)} AS cx,
       y0 + h / {flit(2.0)} AS cy,
       CASE WHEN i % 2 = 0 THEN {flit(2.0)} * w * h
            ELSE {flit(2.0)} * w * h
                 - {flit(2.0)} * (w / {flit(2.0)}) * (h / {flit(2.0)})
       END AS a2
FROM base
"""


def q_pyramid_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Store-integrity audit (composite.pyramid_orphans) with a FULL
    oracle: build the z3..z6 painted pyramid from orders points, DROP
    a deterministic subset of z5 tiles ((x + y) % 7 == 0 — a partial
    build failure), and report every z6 tile whose parent vanished.
    The twin replays the painted sets and the anti-join closed-form;
    an audit that misses an orphan (or invents one) hash-mismatches.
    Address-only plan: tile bytes never enter it."""
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.operators import composite as comp
    from mapnik_vector_tile_spark.operators import tiling as T

    feats = _engine_point_features(spark, sf_dir)
    assigned = T.assign_tiles(feats, MBT_Z_LO, MBT_Z_HI, buffer_units=0)
    tiles = T.fold_tiles(T.encode_layers(assigned, n_salts=8))
    broken = tiles.filter(
        ~((F.col("z") == 5) & ((F.col("x") + F.col("y")) % 7 == 0))
    )
    return comp.pyramid_orphans(broken)


def _band_tiles_ctes(z_lo: int, z_hi: int) -> str:
    """CTEs pts, base, zs and lv: the distinct (z, x, y) tiles the
    order points paint at z_lo..z_hi."""
    tx, ty = S.tile_xy_exprs(z_hi)
    return f"""{S.point_cte('orders', 'o_orderkey')},
base AS (SELECT DISTINCT {tx} AS tx, {ty} AS ty FROM pts),
zs AS (SELECT unnest(generate_series({z_lo}, {z_hi})) AS z),
lv AS (
  SELECT DISTINCT zz.z AS z,
         b.tx >> ({z_hi} - zz.z) AS x,
         b.ty >> ({z_hi} - zz.z) AS y
  FROM base b, zs zz
)"""


def _sql_pyramid_audit(z_lo: int = MBT_Z_LO, z_hi: int = MBT_Z_HI) -> str:
    return f"""
WITH {_band_tiles_ctes(z_lo, z_hi)},
kept AS (
  SELECT * FROM lv WHERE NOT (z = 5 AND (x + y) % 7 = 0)
)
SELECT CAST(k.z AS INT) AS z, k.x, k.y,
       k.x >> 1 AS parent_x, k.y >> 1 AS parent_y
FROM kept k
WHERE k.z > {z_lo}
  AND NOT EXISTS (
    SELECT 1 FROM kept p
    WHERE p.z = k.z - 1 AND p.x = k.x >> 1 AND p.y = k.y >> 1
  )
"""


def q_tilestats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mapbox-tilestats attribute statistics (composite.
    layer_attribute_stats) over the typed-values layer store, FULL
    oracle: per attribute — type class, feature count, EXACT distinct
    count (identity = raw Value encoding bits, so doubles never need a
    cross-engine repr), numeric min/max, and the most frequent
    discrete value (count-desc, repr-asc). The DuckDB twin recomputes
    all of it relationally from lineitem; a wrong dictionary decode,
    a collapsed double, or a nondeterministic top-value tiebreak
    breaks the hash."""
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.operators.composite import (
        layer_attribute_stats,
    )

    layers = _typed_layers(spark, sf_dir).select(
        F.lit(8).alias("z"),
        F.col("tx").alias("x"),
        F.col("ty").alias("y"),
        F.lit("li").alias("layer"),
        F.col("blob"),
        F.lit(0).cast("long").alias("n_features"),
        F.lit(0).cast("long").alias("n_points"),
    )
    return layer_attribute_stats(layers)


def _sql_tilestats() -> str:
    return """
WITH li AS (
  SELECT CAST(l_quantity AS BIGINT) AS qty,
         l_extendedprice AS price,
         (l_returnflag = 'R') AS rflag
  FROM lineitem
),
qty_top AS (
  SELECT CAST(qty AS VARCHAR) AS r, COUNT(*) AS c FROM li GROUP BY 1
),
rflag_top AS (
  SELECT CASE WHEN rflag THEN 'true' ELSE 'false' END AS r,
         COUNT(*) AS c
  FROM li GROUP BY 1
)
SELECT 'li' AS layer, 'qty' AS attr, 'number' AS vtype,
       CAST(COUNT(*) AS BIGINT) AS n_features,
       CAST(COUNT(DISTINCT qty) AS BIGINT) AS n_distinct,
       CAST(MIN(qty) AS DOUBLE) AS min_num,
       CAST(MAX(qty) AS DOUBLE) AS max_num,
       (SELECT r FROM qty_top ORDER BY c DESC, r ASC LIMIT 1)
         AS top_value
FROM li
UNION ALL
SELECT 'li', 'price', 'number',
       CAST(COUNT(*) AS BIGINT),
       CAST(COUNT(DISTINCT price) AS BIGINT),
       MIN(price), MAX(price), NULL
FROM li
UNION ALL
SELECT 'li', 'rflag', 'boolean',
       CAST(COUNT(*) AS BIGINT),
       CAST(COUNT(DISTINCT rflag) AS BIGINT),
       NULL, NULL,
       (SELECT r FROM rflag_top ORDER BY c DESC, r ASC LIMIT 1)
FROM li
"""


QK_Z = 12  # q_quadkey zoom


def q_quadkey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bing/Azure quadkey strings (functions/cellid.quadkey_col — the
    third standard tile addressing beside XYZ/TMS, used by every
    Bing-schema tile store) with a FULL oracle: assign orders points
    at z12, emit the quadkey, and PARSE IT BACK with
    quadkey_parse_cols — the output carries the parsed (px, py), and
    the twin emits the assigned (tx, ty) in those columns, so any
    encode/parse asymmetry hash-mismatches. Pure Column bit math both
    ways; zero shuffle beyond the scan."""
    from mapnik_vector_tile_spark.functions.cellid import (
        quadkey_col,
        quadkey_parse_cols,
    )

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    tx, ty = S.tile_xy_exprs(QK_Z)
    # the point_cte mercator mix, rendered as Spark SQL (dialect-
    # common subset: %, /, CAST, floor)
    mxe = (
        "((((o_orderkey) * 2654435761) % 4294967296) / "
        f"{S.flit(2**32)}) * {S.flit(S.TWO_W)} - {S.flit(W)}"
    )
    mye = (
        "((((o_orderkey) * 1103515245 + 12345) % 4294967296) / "
        f"{S.flit(2**32)}) * {S.flit(S.TWO_W)} - {S.flit(W)}"
    )
    pts = orders.selectExpr(
        "o_orderkey AS id", f"{mxe} AS mx", f"{mye} AS my"
    ).selectExpr("id", f"{tx} AS x", f"{ty} AS y")
    qk = pts.withColumn("quadkey", quadkey_col(QK_Z))
    px, py = quadkey_parse_cols("quadkey", QK_Z)
    return qk.select(
        "id", "quadkey", px.alias("px"), py.alias("py")
    )


def _sql_quadkey(z: int = QK_Z) -> str:
    from mapnik_vector_tile_spark.functions.cellid import quadkey_sql

    tx, ty = S.tile_xy_exprs(z)
    return f"""
WITH {S.point_cte('orders', 'o_orderkey')},
t AS (SELECT id, {tx} AS tx, {ty} AS ty FROM pts)
SELECT id, {quadkey_sql('tx', 'ty', z)} AS quadkey,
       tx AS px, ty AS py
FROM t
"""


SG_RULES = (  # q_scale_gate style rules: (rule_id, min_sd, max_sd)
    (0, 0.0, 25_000.0),          # street-level only
    (1, 25_000.0, 1_500_000.0),  # mid zooms
    (2, 1_500_000.0, 1e18),      # overview
    (3, 0.0, 1e18),              # always on
    (4, 500_000.0, 500_001.0),   # knife-edge band (no zoom qualifies
                                 # unless a denominator lands inside)
)


def q_scale_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3 scale-denominator gating (tilemath.scale_denominator /
    layer_visible — mapnik's Min/MaxScaleDenominator rule, min
    inclusive / max exclusive, 559082264.0287178 at z0) with a FULL
    oracle: the z0..22 denominator table crosses a committed rule set
    and both engines must agree on every visibility bit AND the
    denominator doubles themselves (exact halvings + one division).
    sf_dir unused (closed-form)."""
    from mapnik_vector_tile_spark.functions.tilemath import (
        layer_visible,
        scale_denominator,
    )

    rows = []
    for z in range(23):
        for rid, lo, hi in SG_RULES:
            rows.append(
                (
                    z,
                    rid,
                    scale_denominator(z),
                    bool(layer_visible(z, lo, hi)),
                )
            )
    return spark.createDataFrame(
        rows, "z int, rule_id int, scale_denom double, visible boolean"
    ).orderBy("z", "rule_id").select(
        "z", "rule_id", "scale_denom", "visible"
    )


def _sql_scale_gate() -> str:
    w2 = S.flit(2.0 * W)
    rules = ", ".join(
        f"({rid}, {S.flit(lo)}, {S.flit(hi)})" for rid, lo, hi in SG_RULES
    )
    return f"""
WITH zs AS (SELECT unnest(generate_series(0, 22)) AS z),
rules(rule_id, lo, hi) AS (VALUES {rules}),
sd AS (
  SELECT z, (({w2} / (1 << z)) / 256) / 0.00028e0 AS scale_denom
  FROM zs
)
SELECT sd.z, r.rule_id, sd.scale_denom,
       (r.lo <= sd.scale_denom AND sd.scale_denom < r.hi) AS visible
FROM sd, rules r
"""


HEAT_Z = 6  # q_heatmap_tiles zoom
HEAT_RES = 64  # density raster resolution (pixels per tile side)


def q_heatmap_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R6 point-density heatmap tiles (the mapbox heatmap-layer /
    datashader shape): order points bin into the HEAT_RES×HEAT_RES
    pixel grid of their covering z6 tile — one narrow projection
    (pure Column floor math on the shared mercator mix) and ONE
    map-side-combined aggregate per (tile, pixel), then a per-tile
    rollup emitting n_points, occupied-pixel count, and the
    collision-sensitive Σcount² (distinguishes 10 points in one pixel
    from 10 spread out — a plain count wouldn't). All integers; the
    DuckDB twin replays the mix, the two-level floor binning, and
    both moments bit-for-bit. At 10^12 points this is exactly the
    EP1 fan-out shape with a finer key — no new scaling risk."""
    from pyspark.sql import functions as F

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    tx, ty = S.tile_xy_exprs(HEAT_Z)
    mxe = (
        "((((o_orderkey) * 2654435761) % 4294967296) / "
        f"{S.flit(2**32)}) * {S.flit(S.TWO_W)} - {S.flit(W)}"
    )
    mye = (
        "((((o_orderkey) * 1103515245 + 12345) % 4294967296) / "
        f"{S.flit(2**32)}) * {S.flit(S.TWO_W)} - {S.flit(W)}"
    )
    span = S.TWO_W / (1 << HEAT_Z)
    pts = orders.selectExpr(
        "o_orderkey AS id", f"{mxe} AS mx", f"{mye} AS my"
    ).selectExpr("id", "mx", "my", f"{tx} AS x", f"{ty} AS y")
    px = (
        f"CAST(floor((mx + {S.flit(W)} - x * {S.flit(span)}) / "
        f"{S.flit(span / HEAT_RES)}) AS BIGINT)"
    )
    py = (
        f"CAST(floor(({S.flit(W)} - y * {S.flit(span)} - my) / "
        f"{S.flit(span / HEAT_RES)}) AS BIGINT)"
    )
    # clamp the boundary ulp (a point exactly on a tile edge can land
    # at index HEAT_RES): LEAST is mirrored verbatim in the twin
    binned = pts.selectExpr(
        "x",
        "y",
        f"LEAST({px}, {HEAT_RES - 1}) AS px",
        f"LEAST({py}, {HEAT_RES - 1}) AS py",
    )
    cells = binned.groupBy("x", "y", "px", "py").agg(
        F.count(F.lit(1)).alias("c")
    )
    return cells.groupBy("x", "y").agg(
        F.sum("c").cast("long").alias("n_points"),
        F.count(F.lit(1)).cast("long").alias("n_occupied"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("sum_c2"),
    )


def _sql_heatmap_tiles(z: int = HEAT_Z, res: int = HEAT_RES) -> str:
    tx, ty = S.tile_xy_exprs(z)
    span = S.TWO_W / (1 << z)
    px = (
        f"CAST(floor((mx + {S.flit(W)} - x * {S.flit(span)}) / "
        f"{S.flit(span / res)}) AS BIGINT)"
    )
    py = (
        f"CAST(floor(({S.flit(W)} - y * {S.flit(span)} - my) / "
        f"{S.flit(span / res)}) AS BIGINT)"
    )
    return f"""
WITH {S.point_cte('orders', 'o_orderkey')},
t AS (SELECT id, mx, my, {tx} AS x, {ty} AS y FROM pts),
b AS (
  SELECT x, y, LEAST({px}, {res - 1}) AS px, LEAST({py}, {res - 1}) AS py
  FROM t
),
cells AS (
  SELECT x, y, px, py, COUNT(*) AS c FROM b GROUP BY 1, 2, 3, 4
)
SELECT x, y, CAST(SUM(c) AS BIGINT) AS n_points,
       CAST(COUNT(*) AS BIGINT) AS n_occupied,
       CAST(SUM(c * c) AS BIGINT) AS sum_c2
FROM cells GROUP BY 1, 2
"""


MEASURES_N = 500  # q_geom_measures corpus size


def q_geom_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 geometry measures as PURE Column algebra with a FULL
    oracle (functions/measures.py — shoelace signed area, boundary
    length, vertex centroid; transform/zip_with/aggregate only, no
    UDF, no shuffle). Corpus: i%2 picks — 0: closed CCW rectangle
    (a2 = 2wh, length = 2(w+h)), 1: axis-aligned staircase polyline of
    k (right r, up u) steps (a2 = k·r·u via the wrap edge, length =
    k·(r+u), vertex means = x0 + rk(k+1)/(2k+1), y0 + uk²/(2k+1)).
    Every coordinate/dimension is dyadic and small, so every product
    and partial sum is EXACT in float64 — the engine's fold order and
    the twin's closed forms land on identical doubles, and the final
    divisions see identical operands. Ref parity: mapnik
    util::area/length/centroid over geometry<double>; SURVEY §2.9."""
    from mapnik_vector_tile_spark.functions import measures as M

    corpus = _measures_corpus(spark)
    return corpus.select(
        "feature_id",
        M.signed_area2().alias("a2"),
        M.boundary_length().alias("length"),
        M.vertex_mean("xs").alias("vx"),
        M.vertex_mean("ys").alias("vy"),
    )


def _measures_corpus(spark: SparkSession, n: int = None) -> DataFrame:
    """The shared dyadic-exact measures corpus (see q_geom_measures
    doc): even i -> closed CCW rectangle, odd i -> axis-aligned
    staircase polyline; every coordinate exact in float64."""
    import pandas as pd

    if n is None:
        n = MEASURES_N

    def gen(it):
        from mapnik_vector_tile_spark.functions import geomcodec as gc

        for pdf in it:
            ids = pdf["id"].to_numpy()
            if not len(ids):
                continue
            rows = {"feature_id": [], "geom_type": [], "xs": [], "ys": [],
                    "part_offsets": [], "caption": []}
            for i in ids:
                i = int(i)
                x0 = -200.0 + (i * 3) % 400 + 0.125
                y0 = -100.0 + (i * 7) % 200 + 0.0625
                if i % 2 == 0:
                    w = 1 + i % 9 + 0.25
                    h = 2 + i % 7 + 0.5
                    xs = [x0, x0 + w, x0 + w, x0, x0]
                    ys = [y0, y0, y0 + h, y0 + h, y0]
                    gt = gc.GEOM_POLYGON
                else:
                    r = 1 + i % 5 + 0.5
                    u = 2 + i % 3 + 0.25
                    k = 2 + i % 4
                    xs, ys = [x0], [y0]
                    for j in range(1, k + 1):
                        xs.append(x0 + j * r); ys.append(y0 + (j - 1) * u)
                        xs.append(x0 + j * r); ys.append(y0 + j * u)
                    gt = gc.GEOM_LINESTRING
                rows["feature_id"].append(i)
                rows["geom_type"].append(int(gt))
                rows["xs"].append(xs)
                rows["ys"].append(ys)
                rows["part_offsets"].append([0, len(xs)])
                rows["caption"].append("")
            yield pd.DataFrame(rows)

    from mapnik_vector_tile_spark.operators.tiling import FEATURES_SCHEMA

    return spark.range(0, n, 1, 8).mapInPandas(gen, schema=FEATURES_SCHEMA)


def _sql_geom_measures(n: int = MEASURES_N) -> str:
    from mapnik_vector_tile_spark.plans.shared_sql import flit

    return f"""
WITH ids AS (SELECT unnest(generate_series(0, {n - 1})) AS i),
base AS (
  SELECT i,
         {flit(-200.0)} + (i * 3) % 400 + {flit(0.125)} AS x0,
         {flit(-100.0)} + (i * 7) % 200 + {flit(0.0625)} AS y0,
         1 + i % 9 + {flit(0.25)} AS w,
         2 + i % 7 + {flit(0.5)} AS h,
         1 + i % 5 + {flit(0.5)} AS r,
         2 + i % 3 + {flit(0.25)} AS u,
         2 + i % 4 AS k
  FROM ids
)
SELECT i AS feature_id,
       CASE WHEN i % 2 = 0 THEN {flit(2.0)} * w * h
            ELSE k * r * u END AS a2,
       CASE WHEN i % 2 = 0 THEN {flit(2.0)} * (w + h)
            ELSE k * (r + u) END AS length,
       CASE WHEN i % 2 = 0 THEN ({flit(5.0)} * x0 + {flit(2.0)} * w) / {flit(5.0)}
            ELSE ((2 * k + 1) * x0 + r * k * (k + 1))
                 / CAST(2 * k + 1 AS DOUBLE) END AS vx,
       CASE WHEN i % 2 = 0 THEN ({flit(5.0)} * y0 + {flit(2.0)} * h) / {flit(5.0)}
            ELSE ((2 * k + 1) * y0 + u * k * k)
                 / CAST(2 * k + 1 AS DOUBLE) END AS vy
FROM base
"""


COMPACT_N = 600  # q_cell_compact corpus size


def q_cell_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T15 cell-union normalization gate with a FULL oracle
    (cellcover.compact_cells — the S2 CellUnion::Normalize analogue):
    three closed-form shapes at z=10, i%3 picks — 0: a 4×4 block
    aligned to a 4-grid (must CASCADE two rounds to one z=8 cell),
    1: an aligned 2×2 (one z=9 cell), 2: a 3×3 at an even corner (one
    z=9 cell + exactly 5 z=10 leaves). Input cells are generated with
    pure Column algebra (sequence/explode — no Python anywhere in the
    query); the engine runs the real per-round count-aggregate +
    anti-join plan; the DuckDB twin emits the minimal covers directly
    from the shape parameters. The uncompact inverse is pinned by
    round-trip unit tests. sf_dir unused (committed synth recipe).
    Ref parity: quadtree pyramid normalization (the tile-tree algebra
    under the reference's overzoom/composite); SURVEY §2 T15."""
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.operators.cellcover import compact_cells

    base = spark.range(0, COMPACT_N, 1, 8).select(
        F.col("id").alias("feature_id"),
        (F.col("id") % 3).alias("kind"),
        ((F.col("id") * 3) % 250).alias("k4"),
        ((F.col("id") * 5) % 250).alias("m4"),
        ((F.col("id") * 3) % 500).alias("p"),
        ((F.col("id") * 5) % 500).alias("q"),
    )
    k0 = (
        base.filter(F.col("kind") == 0)
        .select(
            "feature_id", "k4", "m4",
            F.explode(F.sequence(F.lit(0), F.lit(15))).alias("t"),
        )
        .select(
            "feature_id",
            F.lit(10).alias("z"),
            (F.col("k4") * 4 + F.col("t") % 4).cast("long").alias("cx"),
            (F.col("m4") * 4 + F.floor(F.col("t") / 4)).cast("long").alias("cy"),
        )
    )
    k1 = (
        base.filter(F.col("kind") == 1)
        .select(
            "feature_id", "p", "q",
            F.explode(F.sequence(F.lit(0), F.lit(3))).alias("t"),
        )
        .select(
            "feature_id",
            F.lit(10).alias("z"),
            (F.col("p") * 2 + F.col("t") % 2).cast("long").alias("cx"),
            (F.col("q") * 2 + F.floor(F.col("t") / 2)).cast("long").alias("cy"),
        )
    )
    k2 = (
        base.filter(F.col("kind") == 2)
        .select(
            "feature_id", "p", "q",
            F.explode(F.sequence(F.lit(0), F.lit(8))).alias("t"),
        )
        .select(
            "feature_id",
            F.lit(10).alias("z"),
            (F.col("p") * 2 + F.col("t") % 3).cast("long").alias("cx"),
            (F.col("q") * 2 + F.floor(F.col("t") / 3)).cast("long").alias("cy"),
        )
    )
    return compact_cells(k0.unionByName(k1).unionByName(k2), levels=3)


def _sql_cell_compact(n: int = COMPACT_N) -> str:
    return f"""
WITH ids AS (SELECT unnest(generate_series(0, {n - 1})) AS i),
base AS (
  SELECT i, i % 3 AS kind, (i * 3) % 250 AS k4, (i * 5) % 250 AS m4,
         (i * 3) % 500 AS p, (i * 5) % 500 AS q
  FROM ids
),
k0 AS (  -- aligned 4x4 cascades to one z=8 cell
  SELECT i AS feature_id, 8 AS z, k4 AS cx, m4 AS cy FROM base WHERE kind = 0
),
k1 AS (  -- aligned 2x2 -> one z=9 cell
  SELECT i AS feature_id, 9 AS z, p AS cx, q AS cy FROM base WHERE kind = 1
),
k2p AS (  -- 3x3 at even corner -> one z=9 cell ...
  SELECT i AS feature_id, 9 AS z, p AS cx, q AS cy FROM base WHERE kind = 2
),
k2l AS (  -- ... plus the 5 uncovered z=10 leaves
  SELECT b.i AS feature_id, 10 AS z,
         CASE WHEN l.t < 3 THEN b.p * 2 + 2 ELSE b.p * 2 + (l.t - 3) END AS cx,
         CASE WHEN l.t < 3 THEN b.q * 2 + l.t ELSE b.q * 2 + 2 END AS cy
  FROM base b, LATERAL (SELECT unnest(generate_series(0, 4)) AS t) l
  WHERE b.kind = 2
)
SELECT * FROM k0 UNION ALL SELECT * FROM k1
UNION ALL SELECT * FROM k2p UNION ALL SELECT * FROM k2l
"""


LINE_COVER_N = 300  # q_line_cover corpus size


def q_line_cover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T15 trajectory covering gate with a FULL oracle: the SAME
    covering kernel (cover_polygon_cells degenerates correctly for
    lines — vertex binning + edge crossing; the zero-area center-PIP
    stage never fires) over 45° diagonal segments, the adversarial
    case for cell walks. Each segment starts at cell fractions
    (+3/8, +5/8) with integer cell length l = 1 + i%6, so it crosses
    vertical boundaries at u = 5/8+j and horizontal ones at u = 3/8+j
    — never a corner, and the exact staircase is closed-form:
    {(k+i, cy0−i)} ∪ {(k+i, cy0−i−1)} = 2l+1 cells. The DuckDB twin
    enumerates exactly that, integers only. sf_dir unused. Ref parity:
    line features through the reference's per-tile spatial filter;
    SURVEY §2 T15."""
    import pandas as pd

    from mapnik_vector_tile_spark.functions import tilemath as tm
    from mapnik_vector_tile_spark.operators.cellcover import cover_polygon_cells

    span = tm.tile_span(COVER_Z)

    def gen(it):
        from mapnik_vector_tile_spark.functions import geomcodec as gc

        for pdf in it:
            ids = pdf["id"].to_numpy()
            if not len(ids):
                continue
            rows = {"feature_id": [], "geom_type": [], "xs": [], "ys": [],
                    "part_offsets": [], "caption": []}
            for i in ids:
                i = int(i)
                k = (i * 7) % 900
                m = (i * 11) % 900
                a = -tm.W + k * span + 0.375 * span
                c = -tm.W + m * span + 0.625 * span
                L = (1 + i % 6) * span
                rows["feature_id"].append(i)
                rows["geom_type"].append(int(gc.GEOM_LINESTRING))
                rows["xs"].append([a, a + L])
                rows["ys"].append([c, c + L])
                rows["part_offsets"].append([0, 2])
                rows["caption"].append("")
            yield pd.DataFrame(rows)

    from mapnik_vector_tile_spark.operators.tiling import FEATURES_SCHEMA

    corpus = spark.range(0, LINE_COVER_N, 1, 8).mapInPandas(
        gen, schema=FEATURES_SCHEMA
    )
    return cover_polygon_cells(corpus, COVER_Z)


def _sql_line_cover(n: int = LINE_COVER_N) -> str:
    return f"""
WITH ids AS (SELECT unnest(generate_series(0, {n - 1})) AS i),
base AS (
  SELECT i, (i * 7) % 900 AS k, (i * 11) % 900 AS m, 1 + i % 6 AS l
  FROM ids
),
diag AS (  -- the (k+t, cy0-t) cells, t = 0..l
  SELECT b.i AS feature_id, b.k + g.t AS cx, 1023 - b.m - g.t AS cy
  FROM base b, LATERAL (SELECT unnest(generate_series(0, b.l)) AS t) g
),
steps AS (  -- the (k+t, cy0-t-1) step cells, t = 0..l-1
  SELECT b.i AS feature_id, b.k + g.t AS cx, 1023 - b.m - g.t - 1 AS cy
  FROM base b, LATERAL (SELECT unnest(generate_series(0, b.l - 1)) AS t) g
)
SELECT feature_id, CAST({COVER_Z} AS INT) AS z, cx, cy FROM diag
UNION ALL
SELECT feature_id, CAST({COVER_Z} AS INT) AS z, cx, cy FROM steps
"""


BUDGET_Z = 5
BUDGET_BYTES = 200  # trims most z5 tiles (~60 features) to ~14


def q_tile_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U11 tile byte-budget enforcement (composite.trim_tile_to_budget
    — the tippecanoe tile-size contract): encode lineitem-keyed
    prop-less point layers at z5 (~60 features/tile, id-ordered), trim
    each layer to a 200-byte feature stream, and read the SURVIVOR ids
    back from the trimmed wire bytes. The twin recomputes every
    feature's exact wire footprint with closed-form varint-length
    arithmetic (8 + vs(id) + vs(2·px) + vs(2·py)) and the running-sum
    prefix rule — any drift in the codec's byte accounting, the
    zigzag, or the prefix cut breaks the hash."""
    import pandas as pd
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.functions import pbf
    from mapnik_vector_tile_spark.operators.composite import (
        trim_tile_to_budget,
    )
    from mapnik_vector_tile_spark.operators.grouped import apply_grouped

    span = S.TWO_W / (1 << BUDGET_Z)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_linenumber"
    )

    def to_points(batches):
        import numpy as np

        for pdf in batches:
            if not len(pdf):
                continue
            ids = (
                pdf["l_orderkey"].to_numpy().astype(np.int64) * 8
                + pdf["l_linenumber"].to_numpy().astype(np.int64)
            )
            mx = ((ids * 2654435761) % 2**32) / float(2**32) * S.TWO_W - W
            my = (
                ((ids * 1103515245 + 12345) % 2**32) / float(2**32)
            ) * S.TWO_W - W
            tx = np.floor((mx + W) / span).astype(np.int64)
            ty = np.floor((W - my) / span).astype(np.int64)
            yield pd.DataFrame(
                {"tx": tx, "ty": ty, "id": ids, "mx": mx, "my": my}
            )

    pts = li.mapInPandas(
        to_points, schema="tx long, ty long, id long, mx double, my double"
    )

    def encode_group(key, cols, sl):
        import numpy as np

        from mapnik_vector_tile_spark.functions import tilemath as tm

        tx, ty = int(key[0]), int(key[1])
        lb = pbf.LayerBuilder("pts", extent=4096)
        ox = -tm.W + tx * span
        oy = tm.W - ty * span
        for i in range(sl.start, sl.stop):
            px = tm.round_half_away_np(
                np.array([(cols["mx"][i] - ox) * 4096.0 / span])
            )[0]
            py = tm.round_half_away_np(
                np.array([(oy - cols["my"][i]) * 4096.0 / span])
            )[0]
            lb.add_feature(
                int(cols["id"][i]), 1,
                np.array([9, int(px) * 2, int(py) * 2]), {},
            )
        return [(tx, ty, lb.build())]

    layers = apply_grouped(
        pts,
        keys=["tx", "ty"],
        order_by=["tx", "ty", "id"],
        fn=encode_group,
        schema="tx long, ty long, blob binary",
        out_columns=["tx", "ty", "blob"],
    ).select(
        F.lit(BUDGET_Z).alias("z"),
        F.col("tx").alias("x"),
        F.col("ty").alias("y"),
        F.lit("pts").alias("layer"),
        F.col("blob"),
        F.lit(0).cast("long").alias("n_features"),
        F.lit(0).cast("long").alias("n_points"),
    )
    trimmed = trim_tile_to_budget(layers, BUDGET_BYTES)

    def readback(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            rows = []
            for x, y, blob in zip(pdf["x"], pdf["y"], pdf["blob"]):
                layer = pbf.decode_layer(bytes(blob))
                ids = [f["id"] for f in layer["features"]]
                rows.append(
                    (int(x), int(y), len(ids), int(sum(ids)), int(max(ids)))
                )
            yield pd.DataFrame(
                rows, columns=["x", "y", "n_kept", "sum_id", "max_id"]
            )

    return trimmed.mapInPandas(
        readback,
        schema="x long, y long, n_kept long, sum_id long, max_id long",
    )


def _sql_tile_budget() -> str:
    tx, ty = S.tile_xy_exprs(BUDGET_Z)
    qx, qy = S.quantize_exprs(BUDGET_Z, "tx", "ty")

    def vs(e: str) -> str:
        return (
            f"CASE WHEN {e} < 128 THEN 1 WHEN {e} < 16384 THEN 2"
            f" WHEN {e} < 2097152 THEN 3 WHEN {e} < 268435456 THEN 4"
            f" ELSE 5 END"
        )

    return f"""
WITH li AS (
  SELECT l_orderkey * 8 + l_linenumber AS id FROM lineitem
),
{S.point_cte('li', 'id')},
t AS (SELECT id, mx, my, {tx} AS tx, {ty} AS ty FROM pts),
q AS (SELECT id, tx, ty, {qx} AS px, {qy} AS py FROM t),
sz AS (
  SELECT id, tx, ty,
         8 + {vs('id')} + {vs('(px * 2)')} + {vs('(py * 2)')} AS sz
  FROM q
),
run AS (
  SELECT id, tx, ty,
         SUM(sz) OVER (PARTITION BY tx, ty ORDER BY id
                       ROWS UNBOUNDED PRECEDING) AS cum
  FROM sz
)
SELECT tx AS x, ty AS y,
       CAST(COUNT(*) AS BIGINT) AS n_kept,
       CAST(SUM(id) AS BIGINT) AS sum_id,
       CAST(MAX(id) AS BIGINT) AS max_id
FROM run WHERE cum <= {BUDGET_BYTES}
GROUP BY 1, 2
"""


REPAIR_N = 450  # q_engine_clip_repair corpus size


def _clip_repair_query(
    spark: SparkSession, sf_dir: str, fill_rule: str = "even_odd"
) -> DataFrame:
    """F12 polygon repair through the REAL encode path with a FULL
    oracle. Corpus: 450 polygons, idx%3 picks the shape — 0: valid
    rectangle (repair no-op pinned), 1: bowtie quad (edges AB×CD cross;
    repair splits it into triangles (X,B,C)+(A,X,D)), 2: figure-8
    touching at a shared vertex (splits there directly). Geometry
    params are exact integers in mercator meters and the crossing
    point X = (x0+w/2, y0+h/2) is exactly representable, so the repair
    kernel's parametric solve and the closed-form both yield identical
    doubles regardless of op order. The chain is assign(z0) →
    encode_tiles(repair=True) → decode; output is ORDER-FREE per
    feature (ring/vertex counts, coordinate sums, Σ|2A|), so winding
    normalization and lobe extraction order need no pinning. The
    DuckDB twin regenerates the lobes closed-form and replays the
    quantize (round-half-away at z0 scale) op-for-op.
    sf_dir is unused: the subject is the repair kernel, not the scan.
    Ref parity: src/vector_tile_geometry_clipper.hpp polygon overloads
    (wagyu even-odd repair), SURVEY §2.7 F12."""
    import numpy as np
    import pandas as pd

    from mapnik_vector_tile_spark.functions import geomcodec as gc
    from mapnik_vector_tile_spark.operators import tiling as T
    from mapnik_vector_tile_spark.sources.synth import splitmix64

    def gen(it):
        for pdf in it:
            ids = pdf["id"].to_numpy()
            if not len(ids):
                continue
            h = splitmix64(ids.astype(np.uint64))
            x0 = (h % np.uint64(3000001)).astype(np.float64) * 10.0 - 1.5e7
            y0 = ((h >> np.uint64(8)) % np.uint64(3000001)).astype(
                np.float64
            ) * 10.0 - 1.5e7
            w = 300000.0 + ((h >> np.uint64(16)) % np.uint64(1000001)).astype(
                np.float64
            )
            hh = 300000.0 + ((h >> np.uint64(32)) % np.uint64(1000001)).astype(
                np.float64
            )
            rows = {"feature_id": [], "geom_type": [], "xs": [], "ys": [],
                    "part_offsets": [], "caption": []}
            for i, fid in enumerate(ids):
                cs = int(fid) % 3
                a, b = float(x0[i]), float(y0[i])
                ww, hhh = float(w[i]), float(hh[i])
                if cs == 0 and int(fid) % 6 == 3:
                    # spike quad: edge B->M doubles back COLLINEARLY
                    # over A->B (the former residual narrowing);
                    # repair drops the zero-area spike, leaving the
                    # triangle (A, M, C). M = a + w/2 is exactly
                    # representable (w has 0.5 granularity, |a| ~1.5e7)
                    xs = [a, a + ww, a + 0.5 * ww, a + 0.5 * ww]
                    ys = [b, b, b, b + hhh]
                elif cs == 0:  # valid rectangle
                    xs = [a, a + ww, a + ww, a]
                    ys = [b, b, b + hhh, b + hhh]
                elif cs == 1:  # bowtie: edges AB and CD cross
                    xs = [a, a + ww, a + ww, a]
                    ys = [b, b + hhh, b, b + hhh]
                else:  # figure-8 sharing vertex P
                    xs = [a, a + ww, a + ww, a, a - ww, a - ww]
                    ys = [b, b, b + hhh, b, b, b - hhh]
                rows["feature_id"].append(int(fid))
                rows["geom_type"].append(3)
                rows["xs"].append(xs)
                rows["ys"].append(ys)
                rows["part_offsets"].append([0, len(xs)])
                rows["caption"].append("p")
            yield pd.DataFrame(rows)

    feats = spark.range(0, REPAIR_N, 1, 8).mapInPandas(
        gen, schema=T.FEATURES_SCHEMA
    )
    assigned = T.assign_tiles(feats, 0, 0)
    tiles = T.encode_tiles(assigned, repair=True, fill_rule=fill_rule)
    dec = T.decode_tiles_to_features(tiles)

    def summarize(it):
        for pdf in it:
            out = {"feature_id": [], "n_rings": [], "n_vertices": [],
                   "sum_px": [], "sum_py": [], "sum_abs_area2": []}
            for fid, pxs, pys, offs in zip(
                pdf["feature_id"], pdf["pxs"], pdf["pys"],
                pdf["part_offsets"],
            ):
                px = np.asarray(pxs, dtype=np.int64)
                py = np.asarray(pys, dtype=np.int64)
                offs = np.asarray(offs, dtype=np.int64)
                sa = 0
                for r in range(len(offs) - 1):
                    sa += abs(gc.signed_area2(px[offs[r]:offs[r + 1]],
                                              py[offs[r]:offs[r + 1]]))
                out["feature_id"].append(int(fid))
                out["n_rings"].append(len(offs) - 1)
                out["n_vertices"].append(len(px))
                out["sum_px"].append(int(px.sum()))
                out["sum_py"].append(int(py.sum()))
                out["sum_abs_area2"].append(int(sa))
            yield pd.DataFrame(out)

    return dec.mapInPandas(
        summarize,
        schema=("feature_id long, n_rings int, n_vertices int, "
                "sum_px long, sum_py long, sum_abs_area2 long"),
    )


def q_engine_clip_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wagyu even-odd repair (mapnik default) — see _clip_repair_query."""
    return _clip_repair_query(spark, sf_dir, "even_odd")


def q_engine_clip_repair_pos(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """F12 POSITIVE fill rule (the wagyu fill_rule option; OGC
    winding semantics) over the SAME invalid-polygon corpus — the
    corpus class where the two rules DISAGREE: the bowtie's lobes
    carry opposite traversal signs (+wh/2 for (A,X,D), −wh/2 for
    (X,B,C)), so positive fill keeps only the positively-wound
    triangle while even-odd fills both; rectangles, spikes and the
    double-CCW figure-8 are rule-agnostic.  Twin drops the negative
    lobe closed-form."""
    return _clip_repair_query(spark, sf_dir, "positive")


def _sql_clip_repair(
    n: int = REPAIR_N, fill_rule: str = "even_odd"
) -> str:
    """DuckDB twin of q_engine_clip_repair: regenerate the lobes the
    repair kernel produces (closed form — see the query docstring for
    why X is exactly representable), quantize each vertex with the
    engine's round-half-away at the z0 scale, and aggregate the same
    order-free per-feature stats (shoelace via lead() per ring)."""
    from mapnik_vector_tile_spark.functions import tilemath as tm

    w = repr(tm.W)
    scale = repr(4096.0 / tm.tile_span(0))
    half = "5e-1"
    pts = []

    def p(cs, ring: int, order: int, mx: str, my: str) -> None:
        cond = cs if isinstance(cs, str) else f"cs = {cs}"
        pts.append(
            f"SELECT idx, {ring} AS ring, {order} AS o, {mx} AS mx, "
            f"{my} AS my FROM par WHERE {cond}"
        )

    # case 0a: valid rectangle, 1 ring
    p("cs = 0 AND idx % 6 = 0", 1, 0, "x0", "y0")
    p("cs = 0 AND idx % 6 = 0", 1, 1, "x0 + w", "y0")
    p("cs = 0 AND idx % 6 = 0", 1, 2, "x0 + w", "y0 + hh")
    p("cs = 0 AND idx % 6 = 0", 1, 3, "x0", "y0 + hh")
    # case 0b: collinear spike quad -> spike dropped, triangle (A,M,C)
    p("cs = 0 AND idx % 6 = 3", 1, 0, "x0", "y0")
    p("cs = 0 AND idx % 6 = 3", 1, 1, f"x0 + {half} * w", "y0")
    p("cs = 0 AND idx % 6 = 3", 1, 2, f"x0 + {half} * w", "y0 + hh")
    # case 1: bowtie -> lobes (X,B,C) [CW, −wh/2] and (A,X,D)
    # [CCW, +wh/2]; positive fill drops the CW lobe
    if fill_rule == "even_odd":
        p(1, 1, 0, f"x0 + {half} * w", f"y0 + {half} * hh")
        p(1, 1, 1, "x0 + w", "y0 + hh")
        p(1, 1, 2, "x0 + w", "y0")
    p(1, 2, 0, "x0", "y0")
    p(1, 2, 1, f"x0 + {half} * w", f"y0 + {half} * hh")
    p(1, 2, 2, "x0", "y0 + hh")
    # case 2: figure-8 -> lobes (P,Q,R) and (P,S,T)
    p(2, 1, 0, "x0", "y0")
    p(2, 1, 1, "x0 + w", "y0")
    p(2, 1, 2, "x0 + w", "y0 + hh")
    p(2, 2, 0, "x0", "y0")
    p(2, 2, 1, "x0 - w", "y0")
    p(2, 2, 2, "x0 - w", "y0 - hh")
    union = "\n  UNION ALL ".join(pts)
    return f"""
WITH ids AS (SELECT unnest(generate_series(0, {n - 1})) AS idx),
hsrc AS (SELECT idx, {splitmix64_sql('idx')} AS h FROM ids),
par AS (
  SELECT idx, idx % 3 AS cs,
         CAST(h % 3000001 AS DOUBLE) * 1e1 - 1.5e7 AS x0,
         CAST((h // 256) % 3000001 AS DOUBLE) * 1e1 - 1.5e7 AS y0,
         3e5 + CAST((h // 65536) % 1000001 AS DOUBLE) AS w,
         3e5 + CAST((h // 4294967296) % 1000001 AS DOUBLE) AS hh
  FROM hsrc),
pw AS (
  {union}
),
q AS (
  SELECT idx, ring, o,
         CAST(floor((mx + {w}) * {scale} + {half}) AS BIGINT) AS px,
         CAST(floor(({w} - my) * {scale} + {half}) AS BIGINT) AS py
  FROM pw),
sh AS (
  SELECT idx, ring, px, py,
         COALESCE(lead(px) OVER wo, first_value(px) OVER wo) AS nx,
         COALESCE(lead(py) OVER wo, first_value(py) OVER wo) AS ny
  FROM q
  WINDOW wo AS (PARTITION BY idx, ring ORDER BY o)),
ra AS (
  SELECT idx, ring, ABS(SUM(px * ny - nx * py)) AS a2,
         COUNT(*) AS nv, SUM(px) AS spx, SUM(py) AS spy
  FROM sh GROUP BY 1, 2)
SELECT CAST(idx AS BIGINT) AS feature_id,
       CAST(COUNT(*) AS INT) AS n_rings,
       CAST(SUM(nv) AS INT) AS n_vertices,
       CAST(SUM(spx) AS BIGINT) AS sum_px,
       CAST(SUM(spy) AS BIGINT) AS sum_py,
       CAST(SUM(a2) AS BIGINT) AS sum_abs_area2
FROM ra GROUP BY 1
"""


MVT_EXPRS = {
    # full grammar sweep: arithmetic + % + match + and/or/not + floats
    "keep": (
        "(([p_size] + 3) * 7 % 5 < 3 or [p_name].match('small .*')) "
        "and not ([p_brand] = 'Brand#13' or [p_size] / 4 > 11.5) "
        "and [p_type].match('.*M.*')"
    ),
    # mapnik null semantics against REAL NULLs (NULLIF-derived column):
    # '= null' is value_null equality (TRUE branch), '> 46' with a null
    # operand is FALSE (never SQL NULL), and the outer 'or' sees
    # non-null booleans only
    "keep_null": "[sz] = null or [sz] > 46 or not [sz] != null",
    # signed remainder + unary minus + precedence
    "score": "([p_size] * 13 + 7) % 97 + (-[p_size]) % 5",
    # int/int true division (SQL rule, exact binary fraction)
    "ratio": "[p_size] / 4 - 0.5",
}


MVT_COLMAP = {"sz": "NULLIF(p_size, 45)"}


def _mvt_expr_selects(engine: str) -> list[str]:
    from mapnik_vector_tile_spark.functions import mvtexpr as X

    outs = []
    for name, src in MVT_EXPRS.items():
        if name.startswith("keep"):
            sql = X.predicate_sql(src, engine, MVT_COLMAP)
        else:
            sql = X.to_sql(X.parse(src), engine, MVT_COLMAP)
        outs.append(f"{sql} AS {name}")
    return outs


def q_mapnik_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7 mapnik filter-expression compiler (functions/mvtexpr.py —
    the style language that decides which features a mapnik-vector-tile
    processor encodes; reference parity: mapnik expressions_grammar)
    with a FULL oracle: every committed expression in MVT_EXPRS is
    parsed ONCE and the one AST renders to both engines, so operator
    precedence, the null-safe '=', the FALSE-not-NULL ordered
    comparisons, full-string .match, signed remainder and true
    division must all agree bit-exactly over every part row (both
    boolean branches land in the hash because keep is a column, not a
    WHERE). The compiled predicate is a single Catalyst expression —
    no UDF, pushdown/codegen-eligible (asserted in tests)."""
    load_views(spark, sf_dir)
    cols = ", ".join(_mvt_expr_selects("spark"))
    return spark.sql(f"SELECT p_partkey AS id, {cols} FROM part")


def _sql_mapnik_expr() -> str:
    cols = ", ".join(_mvt_expr_selects("duckdb"))
    return f"SELECT p_partkey AS id, {cols} FROM part"


UTF_Z = 6


def q_utfgrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9 UTFGrid encode (operators/tiling.utfgrid_rows — mapnik
    grid_renderer parity: per-tile 64×64 key raster, codepoint
    mapping idx+32 with the '\"'/'\\\\' gaps skipped, ascending-id
    painter's order, dense-rank key table) with a FULL oracle: the
    DuckDB twin replays the cell math from the shared tile formulas,
    the max-id cells, the dense_rank key indexes, the gap-skipping
    codepoint arithmetic and the positional 31-power row hash."""
    from mapnik_vector_tile_spark.operators.tiling import utfgrid_rows
    from mapnik_vector_tile_spark.plans.flagship import derive_points

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return utfgrid_rows(derive_points(orders, "o_orderkey"), z=UTF_Z)


def _sql_utfgrid(z: int = UTF_Z, cell_bits: int = 6) -> str:
    from mapnik_vector_tile_spark.operators.tiling import UTFGRID_POW31

    txe, tye = S.tile_xy_exprs(z)
    fxe, fye = S.tile_xy_exprs(z + cell_bits)
    pows = "[" + ", ".join(str(p) for p in UTFGRID_POW31) + "]"
    return f"""
WITH {S.point_cte('orders', 'o_orderkey')},
asgn AS (
  SELECT id, {txe} AS x, {tye} AS y,
         {fxe} - {txe} * {1 << cell_bits} AS cx,
         {fye} - {tye} * {1 << cell_bits} AS cy
  FROM pts),
cells AS (
  SELECT x, y, cx, cy, MAX(id) AS v
  FROM asgn GROUP BY x, y, cx, cy),
ranked AS (
  SELECT x, y, cx, cy,
         dense_rank() OVER (PARTITION BY x, y ORDER BY v) AS ki
  FROM cells),
cps AS (
  SELECT x, y, cx, cy, ki,
         cp1 + CASE WHEN cp1 >= 92 THEN 1 ELSE 0 END AS cp
  FROM (
    SELECT x, y, cx, cy, ki,
           (ki + 32) + CASE WHEN ki + 32 >= 34 THEN 1 ELSE 0 END AS cp1
    FROM ranked)),
nk AS (SELECT x, y, MAX(ki) AS n_keys FROM cps GROUP BY x, y)
SELECT CAST({z} AS BIGINT) AS z, c.x, c.y, c.cy AS row_idx,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(c.cp * {pows}[CAST(c.cx AS INT) + 1]) % 2147483648
            AS BIGINT) AS rh,
       CAST(MAX(nk.n_keys) AS BIGINT) AS n_keys
FROM cps c JOIN nk ON nk.x = c.x AND nk.y = c.y
GROUP BY c.x, c.y, c.cy
"""


LP_Z = 3


def q_label_place(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W7 greedy label placement (operators/tiling.label_place_greedy
    — the mapnik placement_finder shape: candidates in ascending-id
    priority order, placed iff the box overlaps no already-placed box,
    STRICT overlap so edge contact is legal, discards don't block)
    with a FULL oracle. Corpus: orders points at z3 (~230 candidates
    per tile, heavy collision pressure) with hash-derived box half
    sizes; centers are the exact z15-minus-z3-origin tile pixels. The
    DuckDB twin replays the exact sequential greedy through a
    recursive CTE carrying the PLACED BOX LISTS — one wrongly placed
    label cascades into different later decisions, so the per-tile
    placed-id hash is sequence-sensitive."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StructField, StructType

    from mapnik_vector_tile_spark.functions.tilemath import W
    from mapnik_vector_tile_spark.operators.tiling import label_place_greedy
    from mapnik_vector_tile_spark.plans.flagship import derive_points

    box_t = StructType(
        [StructField("hw", LongType()), StructField("hh", LongType())]
    )

    def _box_kernel(k):
        import numpy as np

        from mapnik_vector_tile_spark.sources.synth import splitmix64

        h = splitmix64(k.to_numpy(dtype=np.uint64))
        return pd.DataFrame(
            {
                "hw": (40 + h % np.uint64(120)).astype(np.int64),
                "hh": (20 + (h >> np.uint64(8)) % np.uint64(40)).astype(
                    np.int64
                ),
            }
        )

    box = F.pandas_udf(_box_kernel, box_t)
    pts = derive_points(
        spark.read.parquet(f"{sf_dir}/orders.parquet"), "o_orderkey"
    )
    span_c = 2.0 * W / (1 << LP_Z)
    span_f = 2.0 * W / (1 << (LP_Z + 12))
    mx, my = F.col("mx"), F.col("my")
    tx = F.floor((mx + F.lit(W)) / F.lit(span_c)).cast("long")
    ty = F.floor((F.lit(W) - my) / F.lit(span_c)).cast("long")
    fx = F.floor((mx + F.lit(W)) / F.lit(span_f)).cast("long")
    fy = F.floor((F.lit(W) - my) / F.lit(span_f)).cast("long")
    cands = pts.select(
        tx.alias("x"),
        ty.alias("y"),
        "id",
        (fx - tx * F.lit(1 << 12)).alias("cx"),
        (fy - ty * F.lit(1 << 12)).alias("cy"),
        box(F.col("id")).alias("b"),
    ).select("x", "y", "id", "cx", "cy", "b.hw", "b.hh")
    return label_place_greedy(cands)


def _sql_label_place(z: int = LP_Z) -> str:
    sm = splitmix64_sql("id")
    txe, tye = S.tile_xy_exprs(z)
    fxe, fye = S.tile_xy_exprs(z + 12)
    return f"""
WITH RECURSIVE {S.point_cte('orders', 'o_orderkey')},
cand AS (
  SELECT id, {txe} AS x, {tye} AS y,
         {fxe} - {txe} * 4096 AS cx,
         {fye} - {tye} * 4096 AS cy,
         CAST(40 + ({sm}) % 120 AS BIGINT) AS hw,
         CAST(20 + (({sm}) // 256) % 40 AS BIGINT) AS hh
  FROM pts),
packs AS MATERIALIZED (
  SELECT x, y, COUNT(*) AS n,
         list(cx ORDER BY id) AS acx, list(cy ORDER BY id) AS acy,
         list(hw ORDER BY id) AS ahw, list(hh ORDER BY id) AS ahh,
         list(id ORDER BY id) AS aid
  FROM cand GROUP BY x, y),
walk(x, y, i, pcx, pcy, phw, phh, ph, n_placed) AS (
  SELECT x, y, 0,
         CAST([] AS BIGINT[]), CAST([] AS BIGINT[]),
         CAST([] AS BIGINT[]), CAST([] AS BIGINT[]),
         CAST(0 AS BIGINT), CAST(0 AS BIGINT)
  FROM packs
  UNION ALL
  SELECT w.x, w.y, w.i + 1,
         CASE WHEN hit THEN pcx ELSE list_append(pcx, ccx) END,
         CASE WHEN hit THEN pcy ELSE list_append(pcy, ccy) END,
         CASE WHEN hit THEN phw ELSE list_append(phw, chw) END,
         CASE WHEN hit THEN phh ELSE list_append(phh, chh) END,
         CASE WHEN hit THEN ph
              ELSE ph + (cid * 2654435761) % 2147483648 END,
         CASE WHEN hit THEN n_placed ELSE n_placed + 1 END
  FROM (
    SELECT w.*, p.n,
           p.acx[w.i + 1] AS ccx, p.acy[w.i + 1] AS ccy,
           p.ahw[w.i + 1] AS chw, p.ahh[w.i + 1] AS chh,
           p.aid[w.i + 1] AS cid,
           len([j FOR j IN generate_series(1, len(w.pcx))
                IF abs(w.pcx[j] - p.acx[w.i + 1])
                     < w.phw[j] + p.ahw[w.i + 1]
                   AND abs(w.pcy[j] - p.acy[w.i + 1])
                     < w.phh[j] + p.ahh[w.i + 1]]) > 0 AS hit
    FROM walk w JOIN packs p ON p.x = w.x AND p.y = w.y
    WHERE w.i < p.n) w
)
SELECT w.x, w.y, CAST(p.n AS BIGINT) AS n_cands, w.n_placed, w.ph
FROM walk w JOIN packs p ON p.x = w.x AND p.y = w.y
WHERE w.i = p.n
"""


HB_Z = 10


def _hilbert_query(engine: str) -> str:
    from mapnik_vector_tile_spark.functions.hilbertcell import hilbert_sql

    txe, tye = S.tile_xy_exprs(HB_Z)
    src = (
        f"(WITH {S.point_cte('orders', 'o_orderkey')} "
        f"SELECT id, {txe} AS cx, {tye} AS cy FROM pts) cells"
    )
    return hilbert_sql(HB_Z, src, engine)


def q_hilbert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert cell index (functions/hilbertcell.py — the
    PMTiles/S2-style locality curve, fourth cell scheme beside
    Morton, S2-style, hex and geohash) with a FULL oracle: ONE
    generator renders the z-level rotate/flip recurrence to both
    engines (only integer-division syntax differs), so every id's
    curve position matches bit-exactly; numpy twin is
    pmtiles-tileid-parity- and unit-step-pinned in tests. Zero
    shuffle: one codegen projection."""
    load_views(spark, sf_dir)
    return spark.sql(_hilbert_query("spark"))


def q_tile_patch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta publish round trip with a FULL oracle: build stores
    A (key%5!=0) and B (key%7!=0) through the REAL encode pipeline,
    make the patch from their byte-level diff, apply it to A, and
    DECODE the patched store — per-tile feature counts must equal the
    closed-form counts of store B, proving patch∘diff reproduces B's
    content exactly (spurious or missed patch rows break the hash)."""
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.operators import composite as comp
    from mapnik_vector_tile_spark.operators import tiling as T

    a, b = _diff_stores(spark, sf_dir)
    patched = comp.patch_tiles(a, comp.make_patch(a, b))
    dec = T.decode_tiles_to_features(patched)
    return dec.groupBy("z", "x", "y").agg(
        F.count(F.lit(1)).cast("long").alias("n_features")
    )


def _sql_tile_patch(z: int = DIFF_Z) -> str:
    tx, ty = S.tile_xy_exprs(z)
    return f"""
WITH {S.point_cte('orders', 'o_orderkey')},
t AS (SELECT id, {tx} AS x, {ty} AS y FROM pts WHERE id % 7 <> 0)
SELECT CAST({z} AS BIGINT) AS z, x, y,
       CAST(COUNT(*) AS BIGINT) AS n_features
FROM t GROUP BY 2, 3
"""


AI_NSRC = 60
AI_NTGT = 40


def _ai_rect_feats(spark: SparkSession, n: int, base: int, style: int):
    """Axis-aligned rect features anchored at cell+span/4 (edges never
    on cell boundaries) — source (style 0) and target (style 1) use
    different anchor/extent formulas so tessellations genuinely
    differ."""
    import pandas as pd

    from mapnik_vector_tile_spark.functions import tilemath as tm

    span = tm.tile_span(COVER_Z)

    def gen(it):
        from mapnik_vector_tile_spark.functions import geomcodec as gc

        for pdf in it:
            rows = {"feature_id": [], "geom_type": [], "xs": [], "ys": [],
                    "part_offsets": [], "caption": []}
            for i in pdf["id"]:
                i = int(i)
                if style == 0:
                    k, m = (i * 7) % 40, (i * 11) % 40
                    wc, hc = 1 + i % 5, 2 + i % 4
                else:
                    k, m = (i * 13) % 40, (i * 17) % 40
                    wc, hc = 1 + i % 6, 1 + i % 3
                a = -tm.W + k * span + span / 4
                c = -tm.W + m * span + span / 4
                w = wc * span + span / 2
                h = hc * span + span / 2
                rows["feature_id"].append(base + i)
                rows["geom_type"].append(int(gc.GEOM_POLYGON))
                rows["xs"].append([a, a + w, a + w, a, a])
                rows["ys"].append([c, c, c + h, c + h, c])
                rows["part_offsets"].append([0, 5])
                rows["caption"].append(f"r{base + i}")
            yield pd.DataFrame(rows)

    return spark.range(n).mapInPandas(
        gen,
        "feature_id long, geom_type int, xs array<double>,"
        " ys array<double>, part_offsets array<int>, caption string",
    )


def q_areal_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Areal interpolation (cellcover.areal_interpolate) with a FULL
    oracle: 60 source rects with splitmix values reallocate onto 40
    target rects through the REAL covering kernel + cell equi-join;
    DuckDB never sees a cell — it intersects the closed-form
    inclusive cell RANGES (max(0, min−max+1) algebra) and replays the
    exact floor allocations."""
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.operators.cellcover import (
        areal_interpolate,
    )

    src = _ai_rect_feats(spark, AI_NSRC, 0, 0)
    tgt = _ai_rect_feats(spark, AI_NTGT, 1000, 1)

    def _val(k):
        import numpy as np
        import pandas as pd

        from mapnik_vector_tile_spark.sources.synth import splitmix64

        h = splitmix64(k.to_numpy(np.uint64))
        return pd.Series((1000 + h % np.uint64(9000)).astype(np.int64))

    from pyspark.sql.types import LongType

    vk = F.pandas_udf(_val, LongType())
    vals = spark.range(AI_NSRC).select(
        F.col("id").cast("long").alias("sid"), vk(F.col("id")).alias("value")
    )
    return areal_interpolate(src, vals, tgt, COVER_Z)


def _sql_areal_interp() -> str:
    sm = splitmix64_sql("i")
    return f"""
WITH si AS (SELECT unnest(generate_series(0, {AI_NSRC - 1})) AS i),
ti AS (SELECT unnest(generate_series(0, {AI_NTGT - 1})) AS i),
s AS (
  SELECT CAST(i AS BIGINT) AS sid,
         (i * 7) % 40 AS x1, (i * 7) % 40 + 1 + i % 5 AS x2,
         (i * 11) % 40 AS y1, (i * 11) % 40 + 2 + i % 4 AS y2,
         CAST(1000 + ({sm}) % 9000 AS BIGINT) AS value
  FROM si),
t AS (
  SELECT CAST(1000 + i AS BIGINT) AS tid,
         (i * 13) % 40 AS x1, (i * 13) % 40 + 1 + i % 6 AS x2,
         (i * 17) % 40 AS y1, (i * 17) % 40 + 1 + i % 3 AS y2
  FROM ti),
sn AS (SELECT sid, value,
              (x2 - x1 + 1) * (y2 - y1 + 1) AS n_cells_s,
              x1, x2, y1, y2
       FROM s),
ov AS (
  SELECT sn.sid, t.tid, sn.value, sn.n_cells_s,
         GREATEST(0, LEAST(sn.x2, t.x2) - GREATEST(sn.x1, t.x1) + 1)
           * GREATEST(0, LEAST(sn.y2, t.y2) - GREATEST(sn.y1, t.y1) + 1)
           AS ov
  FROM sn CROSS JOIN t),
pos AS (SELECT * FROM ov WHERE ov > 0)
SELECT tid,
       CAST(COUNT(*) AS BIGINT) AS n_src,
       CAST(SUM(ov) AS BIGINT) AS sum_overlap,
       CAST(SUM((value * ov) // n_cells_s) AS BIGINT) AS alloc
FROM pos GROUP BY tid
"""


def _style_query(engine: str) -> str:
    from mapnik_vector_tile_spark.functions.stylestops import (
        style_stops_sql,
    )

    src = (
        "(SELECT CAST(o_orderkey AS BIGINT) AS fid,"
        " CAST(o_orderkey % 16 AS BIGINT) AS z FROM orders) f"
    )
    return style_stops_sql(src, engine)


def q_style_stops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Style stops evaluation (functions/stylestops.py — mapbox-gl
    linear + step + exponential-base-7/4 property functions, exact
    integer interpolation on pre-scaled values: the exponential
    curve is the rational-base closed form, no pow() float) with a
    FULL oracle: one generated SQL text per engine over per-feature
    zooms 0..15 — clamps, bracket edges and every interpolated value
    under the hash."""
    load_views(spark, sf_dir)
    return spark.sql(_style_query("spark"))


def _make_spark_fn(template: str) -> Callable[[SparkSession, str], DataFrame]:
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        load_views(spark, sf_dir)
        return spark.sql(S.render(template, "spark"))

    return fn


def pairs() -> dict[str, tuple[Callable, str]]:
    """key -> (spark_fn, oracle SQL template)."""
    templates = {
        "q_tile_assign_z14": _sql_tile_assign(),
        "q_tile_pyramid_counts": _sql_pyramid_counts(),
        "q_quantize_z14": _sql_quantize(),
        "q_zigzag_cmd": _sql_zigzag(),
        "q_cell_morton_z10": _sql_cell_morton(),
        "q_pip_rect_join": bbox_rect_join_sql(),
        "q_tile_except": _sql_tile_setop("EXCEPT"),
        "q_tile_intersect": _sql_tile_setop("INTERSECT"),
        "q_tile_cube": _sql_tile_cube(),
        "q_tile_rollup": _sql_tile_rollup(),
        "q_hex_assign": _sql_hex_assign(),
        "q_hex_density": _sql_hex_density(),
        "q_json_props": _sql_json_props(),
    }
    out = {k: (_make_spark_fn(t), t) for k, t in templates.items()}
    out.update({
        "q_label_place": (q_label_place, _sql_label_place()),
        "q_utfgrid": (q_utfgrid, _sql_utfgrid()),
        "q_mapnik_expr": (q_mapnik_expr, _sql_mapnik_expr()),
        "q_engine_tile_counts": (
            q_engine_tile_counts,
            _sql_pyramid_counts_z(8),
        ),
        "q_vtquery": (q_vtquery, _sql_vtquery()),
        "q_engine_decode_roundtrip": (
            q_engine_decode_roundtrip,
            _sql_pyramid_counts_band(6, 8),
        ),
        "q_engine_load_compressed": (
            q_engine_load_compressed,
            _sql_load_compressed(4, 6),
        ),
        "q_engine_typed_values": (q_engine_typed_values, _sql_typed_values(8)),
        "q_engine_layer_filter": (q_engine_layer_filter, _sql_layer_filter()),
        "q_engine_attr_join": (q_engine_attr_join, _sql_attr_join()),
        "q_engine_attr_join_shuffle": (
            q_engine_attr_join_shuffle,
            _sql_attr_join(),
        ),
        "q_quadkey": (q_quadkey, _sql_quadkey()),
        "q_pyramid_audit": (q_pyramid_audit, _sql_pyramid_audit()),
        "q_tilestats": (q_tilestats, _sql_tilestats()),
        "q_engine_simplify_vw": (q_engine_simplify_vw, _sql_simplify_vw()),
        "q_engine_validity": (q_engine_validity, _sql_validity()),
        "q_engine_composite": (q_engine_composite, _sql_composite_n_layers(5)),
        "q_engine_overzoom": (q_engine_overzoom, _sql_overzoom()),
        "q_engine_overzoom_redistribute": (
            q_engine_overzoom_redistribute,
            _sql_overzoom(),
        ),
        "q_engine_rescale": (q_engine_rescale, _sql_rescale()),
        "q_engine_downzoom": (q_engine_downzoom, _sql_downzoom()),
        "q_engine_downzoom_band": (
            q_engine_downzoom_band,
            _sql_downzoom_band(),
        ),
        "q_engine_v1_decode": (q_engine_v1_decode, _sql_v1_decode()),
        "q_engine_solid": (q_engine_solid, _sql_solid()),
        "q_label_grid": (q_label_grid, _sql_label_grid()),
        "q_solid_prune": (q_solid_prune, _sql_solid_prune()),
        "q_tile_diff": (q_tile_diff, _sql_tile_diff()),
        "q_s2_cells": (q_s2_cells, _sql_s2_cells()),
        "q_geohash": (q_geohash, _sql_geohash()),
        "q_engine_simplify_exact": (
            q_engine_simplify_exact,
            _sql_simplify_exact(),
        ),
        "q_engine_simplify_radial": (
            q_engine_simplify_radial,
            _sql_simplify_radial(),
        ),
        "q_engine_clip_repair": (q_engine_clip_repair, _sql_clip_repair()),
        "q_engine_clip_repair_pos": (
            q_engine_clip_repair_pos,
            _sql_clip_repair(fill_rule="positive"),
        ),
        "q_zoom_thin": (q_zoom_thin, _sql_zoom_thin()),
        "q_cell_cover": (q_cell_cover, _sql_cell_cover()),
        "q_cell_cover_hier": (q_cell_cover_hier, _sql_cell_cover()),
        "q_tile_budget": (q_tile_budget, _sql_tile_budget()),
        "q_line_cover": (q_line_cover, _sql_line_cover()),
        "q_cell_compact": (q_cell_compact, _sql_cell_compact()),
        "q_geom_measures": (q_geom_measures, _sql_geom_measures()),
        "q_tilejson": (q_tilejson, _sql_tilejson()),
        "q_line_interpolate": (q_line_interpolate, _sql_line_interpolate()),
        "q_area_centroid": (q_area_centroid, _sql_area_centroid()),
        "q_heatmap_tiles": (q_heatmap_tiles, _sql_heatmap_tiles()),
        "q_scale_gate": (q_scale_gate, _sql_scale_gate()),
        "q_engine_wafer": (q_engine_wafer, _sql_wafer()),
        "q_hilbert": (q_hilbert, _hilbert_query("duckdb")),
        "q_tile_patch": (q_tile_patch, _sql_tile_patch()),
        "q_areal_interp": (q_areal_interp, _sql_areal_interp()),
        "q_style_stops": (q_style_stops, _style_query("duckdb")),
    })
    return out
