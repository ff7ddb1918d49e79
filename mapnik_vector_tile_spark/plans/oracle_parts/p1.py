"""Part 1 of the oracle-pair registry (mechanical order-preserving split of the former monolithic oracle_pairs.py; the facade module re-exports everything).  Cross-part names are imported explicitly below — generated, do not hand-edit the import block.

Original module docstring:
Registry of (Spark query, DuckDB oracle SQL) pairs — the driver
correctness contract (__spark_entry__.queries / oracle_sql).

Every pair shares one SQL template (plans.shared_sql) rendered per
engine, so arithmetic is bit-identical and the driver's
order-insensitive value hash matches. Engine-only operators (binary
encodes, concave PIP, raster) register a query with NO oracle entry →
driver records a rows-only check, as documented.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from mapnik_vector_tile_spark.functions.tilemath import W, cell_id_sql_expr
from mapnik_vector_tile_spark.plans import shared_sql as S


TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents"
).split()

def load_views(spark: SparkSession, sf_dir: str) -> None:
    for t in TABLES:
        spark.read.parquet(f"{sf_dir}/{t}.parquet").createOrReplaceTempView(t)

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

def _sql_bbox_rect_join() -> str:
    """Range join: order points vs broadcast-size rectangle regions —
    the SQL-expressible shape of J3 (PIP vs rects).

    Boundary semantics: this oracle is closed (<=/>=) while the engine
    refine's even-odd ray cast is half-open. They can only disagree
    for a point EXACTLY on a rect edge, which requires
    (dh/2^32)*2W == hw in exact double arithmetic — the hash-lattice
    coordinates and the integer-meter hw values share no such point
    (checked over the fixtures), so the pair is stable; revisit if
    either generator changes."""
    return f"""
WITH {S.point_cte('orders', 'o_orderkey')},
{S.rect_regions_cte('nation')}
SELECT r.region_id, COUNT(*) AS n_pts, MIN(p.id) AS min_id
FROM pts p
JOIN rects r
  ON p.mx >= r.cx - r.hw AND p.mx <= r.cx + r.hw
 AND p.my >= r.cy - r.hw AND p.my <= r.cy + r.hw
GROUP BY 1
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

_PAIRS: dict[str, str] = {
    "q_tile_assign_z14": _sql_tile_assign(),
    "q_tile_pyramid_counts": _sql_pyramid_counts(),
    "q_quantize_z14": _sql_quantize(),
    "q_zigzag_cmd": _sql_zigzag(),
    "q_cell_morton_z10": _sql_cell_morton(),
    "q_pip_rect_join": _sql_bbox_rect_join(),
    "q_tile_except": _sql_tile_setop("EXCEPT"),
    "q_tile_intersect": _sql_tile_setop("INTERSECT"),
    "q_tile_cube": _sql_tile_cube(),
    "q_tile_rollup": _sql_tile_rollup(),
    "q_hex_assign": _sql_hex_assign(),
    "q_hex_density": _sql_hex_density(),
    "q_json_props": _sql_json_props(),
}

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

def _sql_knn(k: int = 3) -> str:
    """kNN oracle as bounded streaming passes, not a materialized
    window: the naive form (row_number over the full cross join) is
    O(|pts|·|tg|) MEMORY — at sf0.1 that is 2.25e9 rows, which blew
    straight through the sweep's 40 GB DuckDB cap and then the disk
    spill. Instead: three plain min() passes compute d_i = the i-th
    smallest DISTINCT squared distance per point (each pass is a
    streaming hash aggregate — state is one double per point), then
    only pairs with dist <= d3 are window-ranked. Correctness: the
    top-k by (dist, id) all have dist <= (k-th smallest distinct
    distance), so the candidate set is a provable superset; duplicate
    distances only ENLARGE it. Verified row-identical to the window
    form at sf0.01; sf0.1 runs in ~210 s inside the 40 GB cap."""
    assert k == 3, "oracle is written for k=3 (three min passes)"
    dist = (
        "(t.mx - p.mx) * (t.mx - p.mx) + (t.my - p.my) * (t.my - p.my)"
    )
    return f"""
WITH {S.point_cte('customer', 'c_custkey')},
{S.point_cte('orders', 'o_orderkey', cte='tg')},
d1 AS (SELECT p.id AS id, min({dist}) AS d
       FROM pts p CROSS JOIN tg t GROUP BY p.id),
d2 AS (SELECT p.id AS id, min({dist}) AS d
       FROM pts p JOIN d1 ON d1.id = p.id CROSS JOIN tg t
       WHERE {dist} > d1.d GROUP BY p.id),
d3 AS (SELECT p.id AS id, min({dist}) AS d
       FROM pts p JOIN d2 ON d2.id = p.id CROSS JOIN tg t
       WHERE {dist} > d2.d GROUP BY p.id),
cand AS (
  SELECT p.id AS id, t.id AS nbr, {dist} AS dist
  FROM pts p JOIN d3 ON d3.id = p.id CROSS JOIN tg t
  WHERE {dist} <= d3.d)
SELECT id, nbr, rnk FROM (
  SELECT id, nbr,
         CAST(row_number() OVER (
           PARTITION BY id ORDER BY dist, nbr) AS BIGINT) AS rnk
  FROM cand) r
WHERE rnk <= {k}
"""

def q_engine_pip_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 through the REAL engine path (cell cover -> broadcast equi-join
    -> vectorized ray-cast refine) on the 25 mercator rects — counts
    must equal the pure range-predicate oracle."""
    from mapnik_vector_tile_spark.operators import joins as J

    return J.bench_pip_join(spark, sf_dir)

def q_engine_pip_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: same result via the range-partitioned (PBSM) plan."""
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.operators import joins as J

    pts = J._order_points(spark, sf_dir, "orders", "o_orderkey")
    regions = J.merc_rect_regions(spark, sf_dir)
    pairs = J.pip_join_partitioned(pts, regions, z=6)
    return pairs.groupBy("region_id").agg(
        F.count("*").alias("n_pts"), F.min("point_id").alias("min_id")
    )

def q_engine_pip_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 semi variant: order points inside >=1 mercator rect, once
    each — engine path is the broadcast PIP join folded to a left_semi
    on the surviving point ids."""
    from mapnik_vector_tile_spark.operators import joins as J

    pts = J._order_points(spark, sf_dir, "orders", "o_orderkey")
    regions = J.merc_rect_regions(spark, sf_dir)
    return J.pip_join_semi(pts, regions, z=6).select("id")

def q_engine_pip_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 anti variant: order points inside NO mercator rect. The cell
    prefilter proves most points outside without a geometry test; the
    left_anti subtracts only the refined hit set."""
    from mapnik_vector_tile_spark.operators import joins as J

    pts = J._order_points(spark, sf_dir, "orders", "o_orderkey")
    regions = J.merc_rect_regions(spark, sf_dir)
    return J.pip_join_anti(pts, regions, z=6).select("id")

def _sql_pip_membership(exists: bool) -> str:
    """EXISTS / NOT EXISTS twin of the semi/anti PIP joins over the 25
    rects — same closed-boundary caveat as _sql_bbox_rect_join (no
    lattice point sits exactly on a rect edge)."""
    neg = "" if exists else "NOT "
    return f"""
WITH {S.point_cte('orders', 'o_orderkey')},
{S.rect_regions_cte('nation')}
SELECT p.id AS id
FROM pts p
WHERE {neg}EXISTS (
  SELECT 1 FROM rects r
  WHERE p.mx >= r.cx - r.hw AND p.mx <= r.cx + r.hw
    AND p.my >= r.cy - r.hw AND p.my <= r.cy + r.hw
)
"""

def q_engine_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 kNN (k=3) via cell-block expansion; ranks must equal the
    brute-force cross-join oracle row-for-row.  The probe-grid level
    comes from knn_auto_z (target density), NOT a pinned constant:
    the zoom only changes the candidate-generation plan, never the
    exact output, and the sf1.0 spot-run measured pinned z=6 going
    super-linear (exponent 1.33 — 37→370 targets/cell as density
    10×ed) while the density rule keeps the block join ~O(k)/query."""
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.operators import joins as J

    q = J._order_points(spark, sf_dir, "customer", "c_custkey")
    t = J._order_points(spark, sf_dir, "orders", "o_orderkey").select(
        F.col("id").alias("tid"),
        F.col("mx").alias("tx"),
        F.col("my").alias("ty"),
    )
    n = spark.read.parquet(f"{sf_dir}/orders.parquet").count()
    out = J.knn_join(q, t, k=3, z=J.knn_auto_z(n, 3))
    return out.select(
        "id", "nbr", F.col("rank").cast("long").alias("rnk")
    )

def q_pip_polygon_regions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 against the synthetic polygon corpus (convex/concave/holed),
    pre-transformed to merc in numpy (sources.synth.regions_merc_df).
    FULL oracle: the same vertex doubles are inlined as literals into
    the DuckDB SQL (_sql_pip_polygon), which replicates the A.7
    half-open even-odd ray cast edge-by-edge — engine cell-cover
    prefilter and oracle bbox prefilter are both supersets of the
    inside set, so the exact refine makes the results identical."""
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.operators import joins as J
    from mapnik_vector_tile_spark.sources.synth import regions_merc_df

    pts = J._order_points(spark, sf_dir, "orders", "o_orderkey")
    reg_m = regions_merc_df(spark, 200).select(
        "region_id", "xs", "ys", "ring_offsets"
    )
    pairs = J.pip_join_broadcast(pts, reg_m, z=6)
    return pairs.groupBy("region_id").agg(F.count("*").alias("n_pts"))

def _sql_pip_polygon(n_regions: int = 200) -> str:
    """DuckDB twin of q_pip_polygon_regions: polygon edges inlined as
    VALUES (bit-identical doubles via shortest-roundtrip repr), then
    the A.7 crossing test with pip.points_in_ring's exact arithmetic:
    cond  = (y2 > my) != (y1 > my)            [edge prev=(x1,y1) -> cur=(x2,y2)]
    xint  = (x1 - x2) * (my - y2) / (y1 - y2) + x2
    inside = odd crossing count over ALL rings (holes subtract)."""
    from mapnik_vector_tile_spark.sources.synth import gen_regions_merc_pdf

    pdf = gen_regions_merc_pdf(n_regions)
    rows = []
    for rid, xs, ys, offs in zip(
        pdf["region_id"], pdf["xs"], pdf["ys"], pdf["ring_offsets"]
    ):
        for r in range(len(offs) - 1):
            s, e = offs[r], offs[r + 1]
            for i in range(s + 1, e):
                # S.flit forces DOUBLE literals (bare decimals parse as
                # DECIMAL in DuckDB -> wrong arithmetic type)
                rows.append(
                    f"({rid},{S.flit(xs[i - 1])},{S.flit(ys[i - 1])},"
                    f"{S.flit(xs[i])},{S.flit(ys[i])})"
                )
    values = ",\n".join(rows)
    return f"""
WITH {S.point_cte('orders', 'o_orderkey')},
edges(region_id, x1, y1, x2, y2) AS (VALUES
{values}),
bbox AS (
  SELECT region_id,
         MIN(LEAST(x1, x2)) AS xmin, MAX(GREATEST(x1, x2)) AS xmax,
         MIN(LEAST(y1, y2)) AS ymin, MAX(GREATEST(y1, y2)) AS ymax
  FROM edges GROUP BY region_id),
cand AS (
  SELECT p.id, p.mx, p.my, b.region_id
  FROM pts p JOIN bbox b
    ON p.mx >= b.xmin AND p.mx <= b.xmax
   AND p.my >= b.ymin AND p.my <= b.ymax),
cr AS (
  SELECT c.id, c.region_id, COUNT(*) AS ncross
  FROM cand c JOIN edges e
    ON e.region_id = c.region_id
   AND ((e.y2 > c.my) != (e.y1 > c.my))
   AND c.mx < (e.x1 - e.x2) * (c.my - e.y2) / (e.y1 - e.y2) + e.x2
  GROUP BY 1, 2)
SELECT region_id, COUNT(*) AS n_pts
FROM cr WHERE ncross % 2 = 1
GROUP BY region_id
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
    import pandas as pd
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.functions import pbf
    from mapnik_vector_tile_spark.operators.composite import join_attributes

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
    enriched = join_attributes(layers, attrs, on="qty", how="left")

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

def q_engine_attr_join_shuffle(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """U10b fact-scale attribute join gate
    (composite.join_attributes_relational): the SAME corpus, join
    spec, readback and SQL twin as q_engine_attr_join, but through the
    extract → shuffle equi-join → regroup → rebuild path instead of
    the broadcast kernel — the hier-cover discipline: both paths must
    land on the identical enriched wire bytes."""
    import pandas as pd
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.functions import pbf
    from mapnik_vector_tile_spark.operators.composite import (
        join_attributes_relational,
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
    enriched = join_attributes_relational(layers, attrs, on="qty",
                                          how="left")

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

def q_geojson_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 GeoJSON source parity: orders keys -> newline-delimited
    GeoJSON Feature documents (pure-arithmetic lon/lat, repr-exact
    doubles in the JSON text) -> sources.geojson parse -> lonlat->merc
    -> EP1 encode at z7 -> per-tile feature counts. Oracle replays the
    identical arithmetic + the merc trig in DuckDB; libm drift between
    numpy and DuckDB is ~1 ulp (~1e-9 m), ~14 orders of magnitude
    below the z7 tile span, so floor() parity holds."""
    import json as _json

    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.operators import tiling as T
    from mapnik_vector_tile_spark.sources.geojson import geojson_to_features

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select("o_orderkey")

    def gen(batches):
        for pdf in batches:
            k = pdf["o_orderkey"].to_numpy().astype(np.int64)
            if not len(k):
                continue
            u1 = ((k * 2654435761) % 2**32) / float(2**32)
            u2 = ((k * 1103515245 + 12345) % 2**32) / float(2**32)
            lon = u1 * 360.0 - 180.0
            lat = u2 * 170.0 - 85.0
            docs = [
                _json.dumps(
                    {
                        "type": "Feature",
                        "id": int(kk),
                        "geometry": {
                            "type": "Point",
                            "coordinates": [float(lo), float(la)],
                        },
                        "properties": {"caption": f"c{int(kk)}"},
                    },
                    separators=(",", ":"),
                )
                for kk, lo, la in zip(k, lon, lat)
            ]
            yield pd.DataFrame({"json": docs})

    docs_df = orders.mapInPandas(gen, schema="json string")
    feats = geojson_to_features(docs_df)
    assigned = T.assign_tiles(feats, 7, 7, buffer_units=0)
    tiles = T.encode_tiles(assigned)
    return tiles.select(
        "z", "x", "y", F.col("n_features").cast("bigint").alias("n_features")
    )

def _sql_geojson_tiles(z: int = 7) -> str:
    from math import pi

    from mapnik_vector_tile_spark.functions.tilemath import R

    lon = (
        "((((o_orderkey) * 2654435761) % 4294967296) / "
        f"{S.flit(2**32)}) * 360e0 - 180e0"
    )
    lat = (
        "((((o_orderkey) * 1103515245 + 12345) % 4294967296) / "
        f"{S.flit(2**32)}) * 170e0 - 85e0"
    )
    tx, ty = S.tile_xy_exprs(z)
    return f"""
WITH ll AS (
  SELECT o_orderkey AS id, {lon} AS lon, {lat} AS lat FROM orders
),
pts AS (
  SELECT id,
         {S.flit(R)} * (lon * {S.flit(pi / 180.0)}) AS mx,
         {S.flit(R)} * ln(tan({S.flit(pi / 4.0)} + (lat * {S.flit(pi / 180.0)}) / 2.0)) AS my
  FROM ll
)
SELECT {z} AS z, {tx} AS x, {ty} AS y,
       CAST(COUNT(*) AS BIGINT) AS n_features
FROM pts GROUP BY 2, 3
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

RT_N = 48  # q_raster_tiles oracle corpus size

RT_Z = 4

RT_T = 64

def q_raster_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1 raster materialization through the FULL warp path — decode →
    bilinear resample_to_tile → painter's composite (ascending idx) →
    quantize → png-zlib encode — with a FULL value-hash oracle since
    round 2 (the q_raster_overzoom technique applied to the main warp):
    the corpus is 48 ramp images whose merc bboxes are exactly
    tile-aligned (k×k whole tiles at z=4, k∈{1,2}, w=h=k·64), so the
    bilinear warp degenerates to an eps-robust exact pixel copy
    (|FX−c| ≲ 1e-12 ⇒ quantize(round-half-away) returns the source
    byte), painter's winner is uniform per tile (max idx among
    covering images), and DuckDB regenerates per-tile channel-0 pixel
    sums closed-form. The float tile fan-out (tile_x_col/tile_y_col on
    the bbox) is mirrored op-for-op in SQL so straggler tiles from
    boundary ulps agree bit-for-bit; fractional (non-aligned) warps
    stay pinned by tests/test_raster.py's PSNR + kernel oracles.
    sf_dir is unused: the subject is the warp kernel, not the scan."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.functions import tilemath as tm
    from mapnik_vector_tile_spark.operators import raster as R
    from mapnik_vector_tile_spark.sources.synth import splitmix64

    span = tm.tile_span(RT_Z)

    def gen(it):
        for pdf in it:
            rows: dict[str, list] = {
                "idx": [], "bytes": [], "w": [], "h": [], "fmt": [],
                "caption": [], "minx": [], "maxx": [], "miny": [], "maxy": [],
            }
            for i in pdf["id"]:
                i = int(i)
                h = int(splitmix64(np.array([i], dtype=np.uint64))[0])
                x0 = h % 13
                y0 = (h >> 8) % 13
                k = 1 + ((h >> 16) % 2)
                phase = h % 251
                t = np.arange(k * RT_T, dtype=np.int64)
                v = ((t[:, None] * 3 + t[None, :] * 5 + phase) % 256).astype(
                    np.uint8
                )
                rgba = np.repeat(v[..., None], 4, axis=2)
                rows["idx"].append(i)
                rows["bytes"].append(R.encode_image(rgba, "raw-rgba8"))
                rows["w"].append(k * RT_T)
                rows["h"].append(k * RT_T)
                rows["fmt"].append("raw-rgba8")
                rows["caption"].append(f"img-{i}")
                rows["minx"].append(-tm.W + np.float64(x0) * span)
                rows["maxx"].append(-tm.W + np.float64(x0 + k) * span)
                rows["miny"].append(tm.W - np.float64(y0 + k) * span)
                rows["maxy"].append(tm.W - np.float64(y0) * span)
            yield pd.DataFrame(rows)

    images = spark.range(RT_N).mapInPandas(
        gen,
        schema=(
            "idx long, bytes binary, w int, h int, fmt string, "
            "caption string, minx double, maxx double, miny double, "
            "maxy double"
        ),
    )
    tiles = R.rasterize_images(
        images, z=RT_Z, tile_size=RT_T, method="bilinear", out_fmt="png-zlib"
    )

    def summarize(it):
        for pdf in it:
            out: dict[str, list] = {
                "x": [], "y": [], "n_images": [], "px_sum": [],
            }
            for xx, yy, ni, raster in zip(
                pdf["x"], pdf["y"], pdf["n_images"], pdf["raster"]
            ):
                img = R.decode_image(bytes(raster), "png-zlib", RT_T, RT_T)
                out["x"].append(int(xx))
                out["y"].append(int(yy))
                out["n_images"].append(int(ni))
                out["px_sum"].append(int(img[:, :, 0].astype(np.int64).sum()))
            yield pd.DataFrame(out)

    return tiles.mapInPandas(
        summarize, schema="x long, y long, n_images long, px_sum long"
    ).select(F.lit(RT_Z).alias("z"), "x", "y", "n_images", "px_sum")

RASTERIZE_SIZE = 64

RASTERIZE_POLYS = 120

def q_rasterize_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R4 vector→raster materialization with a FULL oracle: the
    deterministic concave/holed polygons (integer tile coords,
    sources.synth.gen_raster_polys) are wire-encoded
    (encode_geometry → LayerBuilder), decoded back, and scanline-filled
    at tile_size=64 by raster.fill_polygon_mask; output is the
    per-scanline filled-pixel count. The DuckDB twin inlines the same
    integer vertices and replays the fill kernel's exact arithmetic —
    crossing test (y_cur>yc)!=(y_prev>yc), the xint interpolation in
    the same operation order over dyadic-exact scaled coords (ints ×
    2^-6), c0 = ceil(xint − 0.5), per-pixel parity of #(c0 ≤ c) — so
    every row count matches bit-exactly, not statistically. sf_dir is
    unused: the subject is the rasterizer kernel, not the scan."""
    import numpy as np
    import pandas as pd

    from mapnik_vector_tile_spark.functions import geomcodec as gc
    from mapnik_vector_tile_spark.functions import pbf
    from mapnik_vector_tile_spark.operators.raster import rasterize_features
    from mapnik_vector_tile_spark.sources.synth import gen_raster_polys

    size = RASTERIZE_SIZE
    rows = []
    for p in gen_raster_polys(RASTERIZE_POLYS):
        xs: list[int] = []
        ys: list[int] = []
        offs = [0]
        for ring in p["rings"]:
            xs += [v[0] for v in ring]
            ys += [v[1] for v in ring]
            offs.append(len(xs))
        rows.append((p["poly_id"], xs, ys, offs))
    src = spark.createDataFrame(
        rows,
        schema="poly_id long, xs array<int>, ys array<int>, offs array<int>",
    ).repartition(8, "poly_id")

    def enc(batches):
        for b in batches:
            out = {"z": [], "x": [], "y": [], "blob": []}
            for pid, pxs, pys, poffs in zip(
                b["poly_id"], b["xs"], b["ys"], b["offs"]
            ):
                stream = gc.encode_geometry(
                    gc.GEOM_POLYGON,
                    np.asarray(pxs, dtype=np.int64),
                    np.asarray(pys, dtype=np.int64),
                    np.asarray(poffs, dtype=np.int64),
                )
                lb = pbf.LayerBuilder("poly", extent=4096)
                lb.add_feature(int(pid), gc.GEOM_POLYGON, stream, {})
                out["z"].append(9)
                out["x"].append(int(pid))
                out["y"].append(int(pid))
                out["blob"].append(lb.build())
            yield pd.DataFrame(out)

    layers = src.mapInPandas(enc, schema="z int, x long, y long, blob binary")
    bitmaps = rasterize_features(layers, tile_size=size)

    def rowcounts(batches):
        for b in batches:
            out = {"poly_id": [], "prow": [], "n_row": []}
            for x, bm in zip(b["x"], b["bitmap"]):
                mask = np.unpackbits(
                    np.frombuffer(bytes(bm), dtype=np.uint8)
                ).reshape(size, size)
                out["poly_id"] += [int(x)] * size
                out["prow"] += list(range(size))
                out["n_row"] += [int(v) for v in mask.sum(axis=1)]
            yield pd.DataFrame(out)

    return bitmaps.mapInPandas(
        rowcounts, schema="poly_id long, prow int, n_row long"
    )

def _sql_rasterize_coverage(
    n_polys: int = RASTERIZE_POLYS, size: int = RASTERIZE_SIZE
) -> str:
    """DuckDB twin of q_rasterize_coverage — see its docstring for the
    bit-exactness argument. Edges are (prev → cur) with ring wraparound,
    exactly the fill kernel's j/i iteration."""
    from mapnik_vector_tile_spark.sources.synth import gen_raster_polys

    rows = []
    for p in gen_raster_polys(n_polys):
        pid = p["poly_id"]
        for ring in p["rings"]:
            for i in range(len(ring)):
                x1, y1 = ring[i - 1]  # prev (i=0 wraps to last)
                x2, y2 = ring[i]  # cur
                rows.append(f"({pid},{x1},{y1},{x2},{y2})")
    values = ",\n".join(rows)
    sc = S.flit(size / 4096.0)  # dyadic: int * sc is exact in f64
    half = S.flit(0.5)
    return f"""
WITH edges(poly_id, x1, y1, x2, y2) AS (VALUES
{values}),
se AS (
  SELECT poly_id, x1 * {sc} AS x1, y1 * {sc} AS y1,
         x2 * {sc} AS x2, y2 * {sc} AS y2
  FROM edges),
rg AS (SELECT unnest(generate_series(0, {size - 1})) AS r),
cg AS (SELECT unnest(generate_series(0, {size - 1})) AS c),
cr AS (
  SELECT e.poly_id, g.r,
         CAST(ceil((e.x1 - e.x2) * ((g.r + {half}) - e.y2)
              / (e.y1 - e.y2) + e.x2 - {half}) AS BIGINT) AS c0
  FROM se e JOIN rg g
    ON ((e.y2 > g.r + {half}) != (e.y1 > g.r + {half}))),
pg AS (SELECT DISTINCT poly_id FROM edges),
grid AS (SELECT p.poly_id, g.r, c.c FROM pg p CROSS JOIN rg g CROSS JOIN cg c),
cnt AS (
  SELECT gr.poly_id, gr.r, gr.c, COUNT(cr.c0) AS n
  FROM grid gr LEFT JOIN cr
    ON cr.poly_id = gr.poly_id AND cr.r = gr.r AND cr.c0 <= gr.c
  GROUP BY 1, 2, 3)
SELECT poly_id, CAST(r AS INTEGER) AS prow,
       CAST(SUM(CASE WHEN n % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_row
FROM cnt GROUP BY 1, 2
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
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.operators import composite as comp
    from mapnik_vector_tile_spark.operators import tiling as T

    feats = _engine_point_features(spark, sf_dir)

    def store(mod: int):
        sub = feats.filter(F.col("feature_id") % mod != 0)
        return T.encode_tiles(
            T.assign_tiles(sub, DIFF_Z, DIFF_Z, buffer_units=0),
            buffer_units=0,
        )

    return comp.diff_tiles(store(5), store(7))

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

def _phash_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic clustered 63-bit phashes from customer keys
    (clusters of 3 — base splitmix64, one-bit flip, two-bit flip);
    shared by q_phash_neardup and q_phash_mi."""
    import numpy as np
    import pandas as pd

    from mapnik_vector_tile_spark.sources.synth import splitmix64

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select("c_custkey")

    def gen(it):
        for pdf in it:
            k = pdf["c_custkey"].to_numpy().astype(np.int64)
            if not len(k):
                continue
            cl = k // 3
            m = k % 3
            base = (
                splitmix64((cl * 1000003).astype(np.uint64))
                >> np.uint64(1)
            ).astype(np.int64)
            one = np.int64(1)
            f1 = base ^ (one << (cl % 63))
            f2 = (
                base
                ^ (one << ((cl * 7 + 13) % 63))
                ^ (one << ((cl * 11 + 29) % 63))
            )
            h = np.where(m == 1, f1, np.where(m == 2, f2, base))
            yield pd.DataFrame({"image_id": k, "phash": h})

    return cust.mapInPandas(gen, schema="image_id long, phash long")

def q_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T21 perceptual-hash image near-dup with a FULL independent
    oracle: deterministic clustered 63-bit phashes (_phash_corpus),
    the ENGINE finds pairs via the lossless 8-band Hamming-LSH
    self-join (dedup.phash_neardup_pairs, pigeonhole guarantee for
    Hamming<=6), and DuckDB finds the same pairs by BRUTE-FORCE
    all-pairs bit_count(xor) — algorithm-independent, so a banding
    bug (lossy candidate set) or a refine bug both break the hash."""
    from mapnik_vector_tile_spark.operators import dedup as D

    imgs = _phash_corpus(spark, sf_dir)
    # exact clique path: the brute-force oracle enumerates all pairs
    # (star-guard behavior is pytest-gated, not oracle-gated)
    pairs = D.phash_neardup_pairs(imgs, max_hamming=6, hot_bucket_limit=None)
    from pyspark.sql import functions as F

    return pairs.select(
        "img_a", "img_b", F.col("hamming").cast("int").alias("hamming")
    )

def q_phash_mi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T21 multi-index Hamming join (dedup.phash_neardup_pairs_mi —
    the sub-quadratic 4×16-bit-band + 1-flip-probe form the sf1.0
    spot-run motivated) over the SAME clustered-phash corpus as
    q_phash_neardup, against the SAME brute-force all-pairs twin:
    both algorithms are exact for Hamming ≤ 6, so the value hashes
    must agree — a lost probe, a wrong flip mask, or a broken
    pigeonhole bound all break it."""
    from mapnik_vector_tile_spark.operators import dedup as D
    from pyspark.sql import functions as F

    imgs = _phash_corpus(spark, sf_dir)
    pairs = D.phash_neardup_pairs_mi(
        imgs, max_hamming=6, hot_bucket_limit=None
    )
    return pairs.select(
        "img_a", "img_b", F.col("hamming").cast("int").alias("hamming")
    )

def _sql_phash_neardup() -> str:
    base = f"CAST(({splitmix64_sql('cl * 1000003')}) // 2 AS BIGINT)"
    return f"""
WITH ks AS (SELECT c_custkey AS k, c_custkey // 3 AS cl, c_custkey % 3 AS m
            FROM customer),
hb AS (SELECT k, cl, m, {base} AS base FROM ks),
ph AS (SELECT k AS img,
              CASE WHEN m = 1
                   THEN xor(base, CAST(1 AS BIGINT) << (cl % 63))
                   WHEN m = 2
                   THEN xor(xor(base,
                                CAST(1 AS BIGINT) << ((cl * 7 + 13) % 63)),
                            CAST(1 AS BIGINT) << ((cl * 11 + 29) % 63))
                   ELSE base END AS h
       FROM hb)
SELECT a.img AS img_a, b.img AS img_b,
       CAST(bit_count(xor(a.h, b.h)) AS INT) AS hamming
FROM ph a JOIN ph b ON a.img < b.img
WHERE bit_count(xor(a.h, b.h)) <= 6
"""

RZO_N = 24  # raster-overzoom oracle corpus: parent tiles

RZO_T = 64  # and their pixel grid

def q_raster_overzoom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1 overzoom (child raster tiles served from stored parents) with
    a FULL integer-exact oracle: 24 synthetic z6 parent tiles whose
    pixels are the ramp (r*3 + c*5 + phase) % 256 with
    phase = splitmix64(idx) % 251, overzoomed dz=1 with
    method='nearest' (raw-rgba8, lossless). Nearest at dz=1 is exact
    pixel replication child[r,c] = parent[(cy*T+r)//2, (cx*T+c)//2],
    so the per-child channel-0 pixel sums are pure integer arithmetic
    DuckDB regenerates closed-form — gating the decode → A.9 resample
    → quantize → codec round trip and the fan-out addressing."""
    import numpy as np
    import pandas as pd

    from mapnik_vector_tile_spark.operators import raster as R
    from mapnik_vector_tile_spark.sources.synth import splitmix64

    ids = spark.range(RZO_N)

    def gen(it):
        for pdf in it:
            rows: dict[str, list] = {
                "z": [], "x": [], "y": [], "raster": [],
                "n_images": [], "captions": [],
            }
            for i in pdf["id"]:
                i = int(i)
                phase = int(splitmix64(np.array([i], dtype=np.uint64))[0]
                            % np.uint64(251))
                r = np.arange(RZO_T, dtype=np.int64)
                v = ((r[:, None] * 3 + r[None, :] * 5 + phase) % 256).astype(
                    np.uint8
                )
                rgba = np.repeat(v[..., None], 4, axis=2)
                rows["z"].append(6)
                rows["x"].append(i * 2)
                rows["y"].append(i)
                rows["raster"].append(R.encode_image(rgba, "raw-rgba8"))
                rows["n_images"].append(1)
                rows["captions"].append(["cap"])
            yield pd.DataFrame(rows)

    parents = ids.mapInPandas(
        gen,
        schema=(
            "z int, x long, y long, raster binary, n_images long, "
            "captions array<string>"
        ),
    )
    kids = R.overzoom_raster_tiles(
        parents, 1, tile_size=RZO_T, method="nearest", fmt="raw-rgba8"
    )

    def summarize(it):
        for pdf in it:
            out: dict[str, list] = {"x": [], "y": [], "px_sum": []}
            for xx, yy, raster in zip(pdf["x"], pdf["y"], pdf["raster"]):
                img = R.decode_image(bytes(raster), "raw-rgba8", RZO_T, RZO_T)
                out["x"].append(int(xx))
                out["y"].append(int(yy))
                out["px_sum"].append(int(img[:, :, 0].astype(np.int64).sum()))
            yield pd.DataFrame(out)

    return kids.mapInPandas(summarize, schema="x long, y long, px_sum long")

def _sql_raster_overzoom(n: int = RZO_N, t: int = RZO_T) -> str:
    return f"""
WITH ids AS (SELECT unnest(generate_series(0, {n - 1})) AS idx),
hh AS (SELECT idx, ({splitmix64_sql('idx')}) % 251 AS phase FROM ids),
cells AS (SELECT 0 AS v UNION ALL SELECT 1),
px AS (
  SELECT h.idx, h.phase, cx.v AS cx, cy.v AS cy, g1.r, g2.c,
         (((cy.v * {t} + g1.r) // 2) * 3
          + ((cx.v * {t} + g2.c) // 2) * 5 + h.phase) % 256 AS val
  FROM hh h
  CROSS JOIN cells cx CROSS JOIN cells cy
  CROSS JOIN (SELECT unnest(generate_series(0, {t - 1})) AS r) g1
  CROSS JOIN (SELECT unnest(generate_series(0, {t - 1})) AS c) g2
)
SELECT CAST(idx * 4 + cx AS BIGINT) AS x,
       CAST(idx * 2 + cy AS BIGINT) AS y,
       CAST(SUM(val) AS BIGINT) AS px_sum
FROM px GROUP BY 1, 2
"""

def q_geotiff_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1 georeferenced-ingest gate with a FULL oracle: the SAME
    tile-aligned ramp corpus as q_raster_tiles, but each image ships
    as a real GeoTIFF whose merc bbox lives in the embedded
    ModelPixelScale/ModelTiepoint tags (functions.tiff geo=...) — no
    footprint columns exist. The REAL geotiff_footprints ingest parses
    the IFD header (no pixel decode), rebuilds the footprinted frame,
    and the full warp/composite/encode path runs as in q_raster_tiles;
    because the GeoTIFF doubles round-trip bit-exactly and PackBits is
    lossless, the SAME DuckDB twin (_sql_raster_tiles) must hash-match
    — so the tag writer, the tag parser, AND the ingest drop policy
    are all under the hash. Ref parity: mapnik's gdal datasource
    (plugins/input/gdal) feeding the raster processor path; SURVEY
    §2.8 R1/S3."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.functions import tiff as tiffmod
    from mapnik_vector_tile_spark.functions import tilemath as tm
    from mapnik_vector_tile_spark.operators import raster as R
    from mapnik_vector_tile_spark.sources.synth import splitmix64

    span = tm.tile_span(RT_Z)

    def gen(it):
        for pdf in it:
            rows: dict[str, list] = {"idx": [], "bytes": [], "caption": []}
            for i in pdf["id"]:
                i = int(i)
                h = int(splitmix64(np.array([i], dtype=np.uint64))[0])
                x0 = h % 13
                y0 = (h >> 8) % 13
                k = 1 + ((h >> 16) % 2)
                phase = h % 251
                t = np.arange(k * RT_T, dtype=np.int64)
                v = ((t[:, None] * 3 + t[None, :] * 5 + phase) % 256).astype(
                    np.uint8
                )
                rgba = np.repeat(v[..., None], 4, axis=2)
                bbox = (
                    -tm.W + np.float64(x0) * span,
                    tm.W - np.float64(y0 + k) * span,
                    -tm.W + np.float64(x0 + k) * span,
                    tm.W - np.float64(y0) * span,
                )
                rows["idx"].append(i)
                rows["bytes"].append(tiffmod.encode_tiff(rgba, geo=bbox))
                rows["caption"].append(f"img-{i}")
            yield pd.DataFrame(rows)

    geotiffs = spark.range(RT_N).mapInPandas(
        gen, schema="idx long, bytes binary, caption string"
    )
    images = R.geotiff_footprints(geotiffs)
    tiles = R.rasterize_images(
        images, z=RT_Z, tile_size=RT_T, method="bilinear", out_fmt="png-zlib"
    )

    def summarize(it):
        for pdf in it:
            out: dict[str, list] = {
                "x": [], "y": [], "n_images": [], "px_sum": [],
            }
            for xx, yy, ni, raster in zip(
                pdf["x"], pdf["y"], pdf["n_images"], pdf["raster"]
            ):
                img = R.decode_image(bytes(raster), "png-zlib", RT_T, RT_T)
                out["x"].append(int(xx))
                out["y"].append(int(yy))
                out["n_images"].append(int(ni))
                out["px_sum"].append(int(img[:, :, 0].astype(np.int64).sum()))
            yield pd.DataFrame(out)

    return tiles.mapInPandas(
        summarize, schema="x long, y long, n_images long, px_sum long"
    ).select(F.lit(RT_Z).alias("z"), "x", "y", "n_images", "px_sum")

def _sql_raster_tiles(n: int = RT_N, z: int = RT_Z, t: int = RT_T) -> str:
    """DuckDB twin of q_raster_tiles. Regenerates per-image placement
    from splitmix64(idx), mirrors the engine's FLOAT tile fan-out
    op-for-op (same IEEE doubles ⇒ same straggler tiles ⇒ same
    n_images), picks the painter's winner per tile (max idx among
    integer-covering images — coverage is all-or-nothing because the
    bboxes are tile-aligned), and sums the ramp pixels closed-form.
    Tiles with fan-out rows but no covering painter are dropped, like
    the engine's not-painted guard."""
    from mapnik_vector_tile_spark.functions import tilemath as tm

    w = repr(tm.W)
    span = repr(tm.tile_span(z))
    nmax = (1 << z) - 1
    return f"""
WITH ids AS (SELECT unnest(generate_series(0, {n - 1})) AS idx),
hh AS (SELECT idx, {splitmix64_sql('idx')} AS h FROM ids),
imgs AS (
  SELECT idx,
         CAST(h % 13 AS BIGINT) AS x0,
         CAST((h // 256) % 13 AS BIGINT) AS y0,
         CAST(1 + (h // 65536) % 2 AS BIGINT) AS k,
         CAST(h % 251 AS BIGINT) AS phase
  FROM hh),
fb AS (
  SELECT idx, x0, y0, k, phase,
         (-{w}) + CAST(x0 AS DOUBLE) * {span} AS minx,
         (-{w}) + CAST(x0 + k AS DOUBLE) * {span} AS maxx,
         {w} - CAST(y0 + k AS DOUBLE) * {span} AS miny,
         {w} - CAST(y0 AS DOUBLE) * {span} AS maxy
  FROM imgs),
rng AS (
  SELECT idx, x0, y0, k, phase,
         LEAST({nmax}, GREATEST(0,
           CAST(floor((minx + {w}) / {span}) AS BIGINT))) AS lox,
         LEAST({nmax}, GREATEST(0,
           CAST(floor((maxx + {w}) / {span}) AS BIGINT))) AS hix,
         LEAST({nmax}, GREATEST(0,
           CAST(floor(({w} - maxy) / {span}) AS BIGINT))) AS loy,
         LEAST({nmax}, GREATEST(0,
           CAST(floor(({w} - miny) / {span}) AS BIGINT))) AS hiy
  FROM fb),
fx AS (
  SELECT idx, x0, y0, k, phase, loy, hiy,
         unnest(generate_series(lox, hix)) AS x
  FROM rng),
fan AS (
  SELECT idx, x0, y0, k, phase, x,
         unnest(generate_series(loy, hiy)) AS y
  FROM fx),
counts AS (SELECT x, y, COUNT(*) AS n_images FROM fan GROUP BY 1, 2),
win AS (
  SELECT x, y, idx, x0, y0, phase,
         row_number() OVER (PARTITION BY x, y ORDER BY idx DESC) AS rn
  FROM fan
  WHERE x >= x0 AND x < x0 + k AND y >= y0 AND y < y0 + k),
px AS (
  SELECT w1.x, w1.y,
         ((((w1.y - w1.y0) * {t} + g1.r) * 3
           + ((w1.x - w1.x0) * {t} + g2.c) * 5 + w1.phase) % 256) AS val
  FROM (SELECT * FROM win WHERE rn = 1) w1
  CROSS JOIN (SELECT unnest(generate_series(0, {t - 1})) AS r) g1
  CROSS JOIN (SELECT unnest(generate_series(0, {t - 1})) AS c) g2),
sums AS (SELECT x, y, SUM(val) AS px_sum FROM px GROUP BY 1, 2)
SELECT CAST({z} AS INT) AS z,
       CAST(c.x AS BIGINT) AS x,
       CAST(c.y AS BIGINT) AS y,
       CAST(c.n_images AS BIGINT) AS n_images,
       CAST(s.px_sum AS BIGINT) AS px_sum
FROM counts c JOIN sums s ON c.x = s.x AND c.y = s.y
"""

_M64 = "18446744073709551616"  # 2^64

_M32 = "4294967296"

def _xor64(a: str, b: str) -> str:
    """XOR of two HUGEINT values < 2^64 via BIGINT halves."""
    return (
        f"(CAST(xor(CAST(({a}) // {_M32} AS BIGINT),"
        f" CAST(({b}) // {_M32} AS BIGINT)) AS HUGEINT) * {_M32}"
        f" + xor(CAST(({a}) % {_M32} AS BIGINT),"
        f" CAST(({b}) % {_M32} AS BIGINT)))"
    )

def _mul64(a: str, c: int) -> str:
    """(a * c) mod 2^64 for HUGEINT a < 2^64, constant c — 32-bit limb
    split keeps every intermediate < 2^96 (inside HUGEINT)."""
    cl = c % 2**32
    ch = c >> 32
    return (
        f"((({a}) * {cl} + (((({a}) % {_M32}) * {ch}) % {_M32})"
        f" * {_M32}) % {_M64})"
    )

def splitmix64_sql(x: str) -> str:
    """The synth corpus's committed mixing function (synth.splitmix64)
    rendered as DuckDB SQL — bit-exact (tests pin [0, 200000)).

    Emitted as a chained SCALAR SUBQUERY, not one flat expression:
    textually inlining each mixing stage into the next duplicates
    subexpressions ×2-4 per stage (×~256 for the base hash — a 36 KB
    expression, ~22 µs/row), while the subquery chain computes each
    stage ONCE into a column the next stage references (~1 KB, ~10×
    faster; DuckDB decorrelates it into projections).  Same value,
    usable in any expression position."""
    z0 = f"((CAST({x} AS HUGEINT) + 11400714819323198485) % {_M64})"
    return (
        "(SELECT "
        + _xor64("z4", "z4 // 2147483648")  # >> 31
        + " FROM (SELECT "
        + _mul64("z3", 0x94D049BB133111EB)
        + " AS z4 FROM (SELECT "
        + _xor64("z2", "z2 // 134217728")  # >> 27
        + " AS z3 FROM (SELECT "
        + _mul64("z1", 0xBF58476D1CE4E5B9)
        + " AS z2 FROM (SELECT "
        + _xor64("z0", "z0 // 1073741824")  # >> 30
        + f" AS z1 FROM (SELECT {z0} AS z0))))))"
    )

def q_spatial_block_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T-class × spatial: leakage-safe geographic train/val/test split
    (operators.sampling.spatial_block_split — block cross-validation:
    whole z6 tile cells assigned to one side by the committed
    splitmix64 cell coin, so spatial autocorrelation cannot leak
    between train and test). Full oracle: the twin recomputes tile
    cells, Morton blocks, the 64-bit mix, and the 80/10/10 threshold
    walk in pure SQL; n_blocks per split certifies block-level (not
    row-level) assignment."""
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.operators import joins as J
    from mapnik_vector_tile_spark.operators import sampling as SMP

    pts = J._order_points(spark, sf_dir, "orders", "o_orderkey")
    out = SMP.spatial_block_split(pts, z=6)
    return out.groupBy("split").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.countDistinct("block").cast("bigint").alias("n_blocks"),
        F.sum("id").cast("bigint").alias("sum_id"),
        F.min("id").cast("bigint").alias("min_id"),
    )

def _sql_spatial_block_split(z: int = 6) -> str:
    from mapnik_vector_tile_spark.functions.tilemath import cell_id_sql_expr
    from mapnik_vector_tile_spark.operators.sampling import (
        BUCKETS,
        SPLIT_TRAIN,
        SPLIT_VAL,
        _HSHIFT,
    )

    tx, ty = S.tile_xy_exprs(z)
    cell = cell_id_sql_expr("tx", "ty", z)
    sm = splitmix64_sql("block")
    return f"""
WITH {S.point_cte('orders', 'o_orderkey')},
t AS (SELECT id, {tx} AS tx, {ty} AS ty FROM pts),
bl AS (SELECT id, {cell} AS block FROM t),
h AS (SELECT id, block,
             CAST((({sm}) // {1 << _HSHIFT}) % {BUCKETS} AS BIGINT) AS bkt
      FROM bl),
s AS (SELECT id, block,
             CASE WHEN bkt < {SPLIT_TRAIN} THEN 'train'
                  WHEN bkt < {SPLIT_VAL} THEN 'val'
                  ELSE 'test' END AS split
      FROM h)
SELECT split,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT block) AS BIGINT) AS n_blocks,
       CAST(SUM(id) AS BIGINT) AS sum_id,
       CAST(MIN(id) AS BIGINT) AS min_id
FROM s GROUP BY 1
"""

JPEG_N = 300  # q_raster_jpeg corpus size

def q_raster_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R2 lossy codec gate with a FULL contract oracle: every image of
    the committed synthetic corpus (gradient+noise — mod-256 sawtooth
    wraps, the hardest JPEG content) is round-tripped through the real
    pure-numpy baseline JPEG codec (functions.jpeg via the raster
    codec registry) and must satisfy the input_hint invariants:
    PSNR ≥ 40 dB on RGB, opaque alpha, non-empty stream. The DuckDB
    twin regenerates (image_id, w, h) closed-form and asserts the
    booleans TRUE — a hash mismatch means the engine failed the lossy
    contract on some image. Pixel-level JPEG behavior is additionally
    pinned by tests/test_raster.py. sf_dir is unused: the corpus is
    the committed synth recipe (no images table exists in testdata)."""
    import numpy as np
    import pandas as pd

    from mapnik_vector_tile_spark.operators import raster as R

    def gen(it):
        from mapnik_vector_tile_spark.sources.synth import gen_images_pdf

        for pdf in it:
            ids = pdf["id"].to_numpy()
            if not len(ids):
                continue
            src = gen_images_pdf(
                int(ids.max()) - int(ids.min()) + 1, start=int(ids.min())
            )
            out = {"image_id": [], "w": [], "h": [], "jpeg_ok": [],
                   "alpha_ok": [], "nonempty": []}
            for row in src.itertuples(index=False):
                rgba = R.decode_image(
                    row.bytes, row.fmt, int(row.w), int(row.h)
                )
                buf = R.encode_image(rgba, "jpeg")
                back = R.decode_image(buf, "jpeg", int(row.w), int(row.h))
                a = rgba[..., :3].astype(np.float64)
                b = back[..., :3].astype(np.float64)
                mse = float(np.mean((a - b) ** 2))
                p = 10.0 * np.log10(255.0**2 / mse) if mse else np.inf
                out["image_id"].append(row.image_id)
                out["w"].append(int(row.w))
                out["h"].append(int(row.h))
                out["jpeg_ok"].append(bool(p >= 40.0))
                out["alpha_ok"].append(bool((back[..., 3] == 255).all()))
                out["nonempty"].append(len(buf) > 0)
            yield pd.DataFrame(out)

    return spark.range(0, JPEG_N, 1, 8).mapInPandas(
        gen,
        schema=("image_id string, w int, h int, jpeg_ok boolean, "
                "alpha_ok boolean, nonempty boolean"),
    )

def _sql_raster_jpeg(n: int = JPEG_N) -> str:
    return f"""
WITH ids AS (SELECT unnest(generate_series(0, {n - 1})) AS i)
SELECT 'img_' || lpad(CAST(i AS VARCHAR), 12, '0') AS image_id,
       CAST(16 + (i * 7) % 49 AS INT) AS w,
       CAST(16 + (i * 11) % 49 AS INT) AS h,
       TRUE AS jpeg_ok, TRUE AS alpha_ok, TRUE AS nonempty
FROM ids
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
