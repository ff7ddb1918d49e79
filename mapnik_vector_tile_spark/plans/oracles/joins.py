"""Oracle pairs for the spatial joins (operators.joins,
operators.spatial_index).

`pairs()` maps each query key to (spark_fn, oracle SQL template);
`plans.oracles.sql_pairs()` merges the families."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from mapnik_vector_tile_spark.functions.tilemath import W
from mapnik_vector_tile_spark.plans import shared_sql as S
from mapnik_vector_tile_spark.plans.shared_sql import (
    bbox_rect_join_sql,
    splitmix64_sql,
)


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
    rects — same closed-boundary caveat as bbox_rect_join_sql (no
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


PRJ_N_RECTS = 64  # q_polygon_rect_join rect corpus size


def _rect_exprs() -> tuple[str, str, str, str]:
    """(x0, y0, x1, y1) SQL expressions over a rect id column ``i`` —
    the house point mix for the top-left corner plus dyadic sizes;
    rendered identically into Spark SQL and DuckDB so every rect bound
    is the same double in both engines."""
    cx = (
        "((((i) * 2654435761) % 4294967296) / "
        f"{S.flit(2**32)}) * {S.flit(S.TWO_W)} - {S.flit(W)}"
    )
    cy = (
        "((((i) * 1103515245 + 12345) % 4294967296) / "
        f"{S.flit(2**32)}) * {S.flit(S.TWO_W)} - {S.flit(W)}"
    )
    wexp = f"((i % 7) + 1) * {S.flit(2.0 * W / 256)}"
    hexp = f"((i % 5) + 1) * {S.flit(2.0 * W / 256)}"
    return (
        f"({cx})",
        f"(({cy}) - ({hexp}))",
        f"(({cx}) + ({wexp}))",
        f"({cy})",
    )


def q_polygon_rect_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8 polygon x rectangle INTERSECTS overlay join
    (joins.polygon_rect_join) with a FULL oracle: 64 deterministic
    mercator rectangles against the 200-region corpus
    (convex/concave/holed). Engine candidates come from the EXACT
    polygon cell cover ⋈ rect envelope range (closed covers both
    sides — provably no false negatives); the refine is the
    three-clause closed-set test (vertex-in-rect, corner-in-polygon
    via the house even-odd ray cast, segment-vs-AABB separating-axis).
    The DuckDB twin computes the SAME three clauses over inlined
    vertex/edge VALUES — identical double expressions, identical
    boundary semantics — with NO cell machinery, so candidates and
    refine are both gated."""
    from mapnik_vector_tile_spark.operators import joins as J
    from mapnik_vector_tile_spark.sources.synth import regions_merc_df

    x0, y0, x1, y1 = _rect_exprs()
    rects = (
        spark.range(PRJ_N_RECTS)
        .selectExpr("id AS i")
        .selectExpr(
            "i AS rect_id",
            f"{x0} AS x0",
            f"{y0} AS y0",
            f"{x1} AS x1",
            f"{y1} AS y1",
        )
    )
    regions = regions_merc_df(spark, 200).select(
        "region_id", "xs", "ys", "ring_offsets"
    )
    return J.polygon_rect_join(rects, regions, z=6)


def _sql_polygon_rect_join(n_regions: int = 200) -> str:
    from mapnik_vector_tile_spark.sources.synth import gen_regions_merc_pdf

    pdf = gen_regions_merc_pdf(n_regions)
    vrows, erows = [], []
    for rid, xs, ys, offs in zip(
        pdf["region_id"], pdf["xs"], pdf["ys"], pdf["ring_offsets"]
    ):
        for r in range(len(offs) - 1):
            s, e = offs[r], offs[r + 1]
            for i in range(s, e):
                vrows.append(f"({rid},{S.flit(xs[i])},{S.flit(ys[i])})")
            for i in range(s + 1, e):
                erows.append(
                    f"({rid},{S.flit(xs[i - 1])},{S.flit(ys[i - 1])},"
                    f"{S.flit(xs[i])},{S.flit(ys[i])})"
                )
    x0, y0, x1, y1 = _rect_exprs()
    cross = "(e.x2e - e.x1e) * ({cy} - e.y1e) - (e.y2e - e.y1e) * ({cx} - e.x1e)"
    dot = "(e.x2e - e.x1e) * ({cx} - e.x1e) + (e.y2e - e.y1e) * ({cy} - e.y1e)"
    corners = [
        ("r.x0", "r.y0"), ("r.x1", "r.y0"), ("r.x1", "r.y1"), ("r.x0", "r.y1")
    ]
    crs = [cross.format(cx=cx, cy=cy) for cx, cy in corners]
    dts = [dot.format(cx=cx, cy=cy) for cx, cy in corners]
    return f"""
WITH ids AS (SELECT unnest(generate_series(0, {PRJ_N_RECTS - 1})) AS i),
rects AS (
  SELECT i AS rect_id, {x0} AS x0, {y0} AS y0, {x1} AS x1, {y1} AS y1
  FROM ids
),
verts(region_id, vx, vy) AS (VALUES
{",".join(vrows)}),
edges(region_id, x1e, y1e, x2e, y2e) AS (VALUES
{",".join(erows)}),
a AS (
  SELECT DISTINCT r.rect_id, v.region_id
  FROM rects r JOIN verts v
    ON v.vx >= r.x0 AND v.vx <= r.x1
   AND v.vy >= r.y0 AND v.vy <= r.y1
),
corners AS (
  SELECT rect_id, x0 AS px, y0 AS py FROM rects
  UNION ALL SELECT rect_id, x1, y0 FROM rects
  UNION ALL SELECT rect_id, x1, y1 FROM rects
  UNION ALL SELECT rect_id, x0, y1 FROM rects
),
cr AS (
  SELECT c.rect_id, e.region_id, c.px, c.py, COUNT(*) AS ncross
  FROM corners c JOIN edges e
    ON ((e.y2e > c.py) != (e.y1e > c.py))
   AND c.px < (e.x1e - e.x2e) * (c.py - e.y2e) / (e.y1e - e.y2e) + e.x2e
  GROUP BY 1, 2, 3, 4
),
b AS (
  SELECT DISTINCT rect_id, region_id FROM cr WHERE ncross % 2 = 1
),
sat AS (
  SELECT DISTINCT r.rect_id, e.region_id
  FROM rects r JOIN edges e
    ON GREATEST(e.x1e, e.x2e) >= r.x0 AND LEAST(e.x1e, e.x2e) <= r.x1
   AND GREATEST(e.y1e, e.y2e) >= r.y0 AND LEAST(e.y1e, e.y2e) <= r.y1
   AND LEAST({crs[0]}, {crs[1]}, {crs[2]}, {crs[3]}) <= 0.0e0
   AND GREATEST({crs[0]}, {crs[1]}, {crs[2]}, {crs[3]}) >= 0.0e0
   AND GREATEST({dts[0]}, {dts[1]}, {dts[2]}, {dts[3]}) >= 0.0e0
   AND LEAST({dts[0]}, {dts[1]}, {dts[2]}, {dts[3]})
       <= (e.x2e - e.x1e) * (e.x2e - e.x1e)
        + (e.y2e - e.y1e) * (e.y2e - e.y1e)
)
SELECT rect_id, region_id FROM a
UNION
SELECT rect_id, region_id FROM b
UNION
SELECT rect_id, region_id FROM sat
"""


def q_polygon_polygon_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9 polygon x polygon INTERSECTS overlay join
    (joins.polygon_polygon_join — the general GIS overlay) with a FULL
    oracle: regions 0..99 of the 200-region corpus against regions
    100..199 (disjoint id ranges, distinct shapes, convex/concave/
    holed on both sides). Engine candidates come from the exact cell
    covers of BOTH sides; the refine is vertex-in-B ∪ vertex-in-A
    (house even-odd) ∪ edge-meets-edge (orientation products with the
    all-collinear 1D-bbox fallback). The twin replays all three
    clauses over inlined VALUES with no cell machinery — identical
    double expressions — gating candidates and refine."""
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.operators import joins as J
    from mapnik_vector_tile_spark.sources.synth import regions_merc_df

    regions = regions_merc_df(spark, 200).select(
        "region_id", "xs", "ys", "ring_offsets"
    )
    a = regions.filter(F.col("region_id") < 100)
    b = regions.filter(F.col("region_id") >= 100)
    return J.polygon_polygon_join(a, b, z=6)


def q_polygon_polygon_ri(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9b Raster-Intervals variant (joins.polygon_polygon_join_ri —
    SIGMOD 2023 full/partial cell classification): SAME corpus, SAME
    expected relation and SAME twin as q_polygon_polygon_join, so the
    gate proves the FULL-cell shortcut decides pairs without ever
    disagreeing with the exact kernel — the decided ∪ refined union
    must land on the identical (a_id, b_id) set."""
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.operators import joins as J
    from mapnik_vector_tile_spark.sources.synth import regions_merc_df

    regions = regions_merc_df(spark, 200).select(
        "region_id", "xs", "ys", "ring_offsets"
    )
    a = regions.filter(F.col("region_id") < 100)
    b = regions.filter(F.col("region_id") >= 100)
    return J.polygon_polygon_join_ri(a, b, z=6)


def q_dissolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U12 dissolve (joins.dissolve_polygons — transitive merge of
    touching/overlapping polygons, the grouping half of wagyu's
    multi_polygon_union) with a FULL oracle: the 200-region corpus
    self-joined through the exact J9 overlay (129 groups, clusters up
    to 7 members, 94 singletons — every code path carries rows). The
    twin replays the intersects clauses over inlined VALUES, takes the
    transitive closure by recursive CTE (a different algorithm than
    the engine's pointer-doubling min-label), and coalesces
    singletons; per-group member/vertex counts hash the grouping."""
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.operators import joins as J
    from mapnik_vector_tile_spark.sources.synth import regions_merc_df

    regions = regions_merc_df(spark, 200).select(
        "region_id", "xs", "ys", "ring_offsets"
    )
    out = J.dissolve_polygons(regions, z=6)
    nv = regions.select("region_id", F.size("xs").alias("nv"))
    return (
        out.join(nv, "region_id")
        .groupBy("group")
        .agg(
            F.count("*").cast("bigint").alias("n_members"),
            F.sum("nv").cast("bigint").alias("sum_vertices"),
            F.max("region_id").cast("bigint").alias("max_id"),
        )
    )


def _sql_dissolve(n_regions: int = 200) -> str:
    from mapnik_vector_tile_spark.sources.synth import gen_regions_merc_pdf

    pdf = gen_regions_merc_pdf(n_regions)
    vv, ee, nvs = [], [], []
    for rid, xs, ys, offs in zip(
        pdf["region_id"], pdf["xs"], pdf["ys"], pdf["ring_offsets"]
    ):
        nvs.append(f"({rid},{len(xs)})")
        for r in range(len(offs) - 1):
            s_, e_ = offs[r], offs[r + 1]
            for i in range(s_, e_):
                vv.append(f"({rid},{S.flit(xs[i])},{S.flit(ys[i])})")
            for i in range(s_ + 1, e_):
                ee.append(
                    f"({rid},{S.flit(xs[i - 1])},{S.flit(ys[i - 1])},"
                    f"{S.flit(xs[i])},{S.flit(ys[i])})"
                )
    return f"""
WITH RECURSIVE vv(region_id, vx, vy) AS (VALUES
{",".join(vv)}),
ee(region_id, px, py, qx, qy) AS (VALUES
{",".join(ee)}),
nv(region_id, n) AS (VALUES
{",".join(nvs)}),
cr AS (
  SELECT v.region_id AS a_id, e.region_id AS b_id, v.vx, v.vy,
         COUNT(*) AS ncross
  FROM vv v JOIN ee e
    ON v.region_id <> e.region_id
   AND ((e.qy > v.vy) != (e.py > v.vy))
   AND v.vx < (e.px - e.qx) * (v.vy - e.qy) / (e.py - e.qy) + e.qx
  GROUP BY 1, 2, 3, 4
),
cl AS (SELECT DISTINCT a_id, b_id FROM cr WHERE ncross % 2 = 1),
e2 AS (
  SELECT region_id, px, py, qx, qy,
         GREATEST(px, qx) AS bxmax, LEAST(px, qx) AS bxmin,
         GREATEST(py, qy) AS bymax, LEAST(py, qy) AS bymin
  FROM ee
),
segp AS (
  SELECT ea.region_id AS a_id, eb.region_id AS b_id,
         ((ea.qx - ea.px) * (eb.py - ea.py) - (ea.qy - ea.py) * (eb.px - ea.px)) AS o1,
         ((ea.qx - ea.px) * (eb.qy - ea.py) - (ea.qy - ea.py) * (eb.qx - ea.px)) AS o2,
         ((eb.qx - eb.px) * (ea.py - eb.py) - (eb.qy - eb.py) * (ea.px - eb.px)) AS o3,
         ((eb.qx - eb.px) * (ea.qy - eb.py) - (eb.qy - eb.py) * (ea.qx - eb.px)) AS o4
  FROM e2 ea JOIN e2 eb
    ON ea.region_id < eb.region_id
   AND ea.bxmax >= eb.bxmin AND ea.bxmin <= eb.bxmax
   AND ea.bymax >= eb.bymin AND ea.bymin <= eb.bymax
),
seg AS (
  SELECT DISTINCT a_id, b_id FROM segp
  WHERE (o1 * o2 <= 0.0e0 AND o3 * o4 <= 0.0e0
         AND NOT (o1 = 0.0e0 AND o2 = 0.0e0
              AND o3 = 0.0e0 AND o4 = 0.0e0))
     OR (o1 = 0.0e0 AND o2 = 0.0e0 AND o3 = 0.0e0 AND o4 = 0.0e0)
),
pr AS (
  SELECT DISTINCT LEAST(a_id, b_id) AS a_id, GREATEST(a_id, b_id) AS b_id
  FROM (SELECT a_id, b_id FROM cl
        UNION ALL SELECT a_id, b_id FROM seg)
),
edges AS (
  SELECT a_id AS s, b_id AS d FROM pr
  UNION ALL
  SELECT b_id AS s, a_id AS d FROM pr
),
reach(node, r) AS (
  SELECT DISTINCT s AS node, s AS r FROM edges
  UNION
  SELECT e.s AS node, reach.r
  FROM edges e JOIN reach ON reach.node = e.d
),
labels AS (SELECT node AS region_id, MIN(r) AS grp FROM reach GROUP BY node),
assign AS (
  SELECT nv.region_id, COALESCE(l.grp, nv.region_id) AS grp, nv.n
  FROM nv LEFT JOIN labels l USING (region_id)
)
SELECT grp AS "group",
       CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(SUM(n) AS BIGINT) AS sum_vertices,
       CAST(MAX(region_id) AS BIGINT) AS max_id
FROM assign GROUP BY 1
"""


def _sql_polygon_polygon_join(n_regions: int = 200) -> str:
    from mapnik_vector_tile_spark.sources.synth import gen_regions_merc_pdf

    pdf = gen_regions_merc_pdf(n_regions)
    va, vb, ea, eb = [], [], [], []
    for rid, xs, ys, offs in zip(
        pdf["region_id"], pdf["xs"], pdf["ys"], pdf["ring_offsets"]
    ):
        vt = va if rid < 100 else vb
        et = ea if rid < 100 else eb
        for r in range(len(offs) - 1):
            s_, e_ = offs[r], offs[r + 1]
            for i in range(s_, e_):
                vt.append(f"({rid},{S.flit(xs[i])},{S.flit(ys[i])})")
            for i in range(s_ + 1, e_):
                et.append(
                    f"({rid},{S.flit(xs[i - 1])},{S.flit(ys[i - 1])},"
                    f"{S.flit(xs[i])},{S.flit(ys[i])})"
                )
    o1 = "(ea.qx - ea.px) * (eb.py - ea.py) - (ea.qy - ea.py) * (eb.px - ea.px)"
    o2 = "(ea.qx - ea.px) * (eb.qy - ea.py) - (ea.qy - ea.py) * (eb.qx - ea.px)"
    o3 = "(eb.qx - eb.px) * (ea.py - eb.py) - (eb.qy - eb.py) * (ea.px - eb.px)"
    o4 = "(eb.qx - eb.px) * (ea.qy - eb.py) - (eb.qy - eb.py) * (ea.qx - eb.px)"
    return f"""
WITH va(region_id, vx, vy) AS (VALUES
{",".join(va)}),
vb(region_id, vx, vy) AS (VALUES
{",".join(vb)}),
ea(region_id, px, py, qx, qy) AS (VALUES
{",".join(ea)}),
eb(region_id, px, py, qx, qy) AS (VALUES
{",".join(eb)}),
cr_ab AS (
  SELECT v.region_id AS a_id, e.region_id AS b_id, v.vx, v.vy,
         COUNT(*) AS ncross
  FROM va v JOIN eb e
    ON ((e.qy > v.vy) != (e.py > v.vy))
   AND v.vx < (e.px - e.qx) * (v.vy - e.qy) / (e.py - e.qy) + e.qx
  GROUP BY 1, 2, 3, 4
),
cl_a AS (SELECT DISTINCT a_id, b_id FROM cr_ab WHERE ncross % 2 = 1),
cr_ba AS (
  SELECT e.region_id AS a_id, v.region_id AS b_id, v.vx, v.vy,
         COUNT(*) AS ncross
  FROM vb v JOIN ea e
    ON ((e.qy > v.vy) != (e.py > v.vy))
   AND v.vx < (e.px - e.qx) * (v.vy - e.qy) / (e.py - e.qy) + e.qx
  GROUP BY 1, 2, 3, 4
),
cl_b AS (SELECT DISTINCT a_id, b_id FROM cr_ba WHERE ncross % 2 = 1),
ea2 AS (
  SELECT region_id, px, py, qx, qy,
         GREATEST(px, qx) AS bxmax, LEAST(px, qx) AS bxmin,
         GREATEST(py, qy) AS bymax, LEAST(py, qy) AS bymin
  FROM ea
),
eb2 AS (
  SELECT region_id, px, py, qx, qy,
         GREATEST(px, qx) AS bxmax, LEAST(px, qx) AS bxmin,
         GREATEST(py, qy) AS bymax, LEAST(py, qy) AS bymin
  FROM eb
),
segp AS (
  SELECT ea.region_id AS a_id, eb.region_id AS b_id,
         ((ea.qx - ea.px) * (eb.py - ea.py) - (ea.qy - ea.py) * (eb.px - ea.px)) AS o1,
         ((ea.qx - ea.px) * (eb.qy - ea.py) - (ea.qy - ea.py) * (eb.qx - ea.px)) AS o2,
         ((eb.qx - eb.px) * (ea.py - eb.py) - (eb.qy - eb.py) * (ea.px - eb.px)) AS o3,
         ((eb.qx - eb.px) * (ea.qy - eb.py) - (eb.qy - eb.py) * (ea.qx - eb.px)) AS o4
  FROM ea2 ea JOIN eb2 eb
    ON ea.bxmax >= eb.bxmin AND ea.bxmin <= eb.bxmax
   AND ea.bymax >= eb.bymin AND ea.bymin <= eb.bymax
),
seg AS (
  SELECT DISTINCT a_id, b_id FROM segp
  WHERE (o1 * o2 <= 0.0e0 AND o3 * o4 <= 0.0e0
         AND NOT (o1 = 0.0e0 AND o2 = 0.0e0
              AND o3 = 0.0e0 AND o4 = 0.0e0))
     OR (o1 = 0.0e0 AND o2 = 0.0e0 AND o3 = 0.0e0 AND o4 = 0.0e0)
)
SELECT a_id, b_id FROM cl_a
UNION
SELECT a_id, b_id FROM cl_b
UNION
SELECT a_id, b_id FROM seg
"""


IDW_Z = 4  # q_idw cell grid (span 2.5e6 >= radius)
IDW_R = 2_000_000.0  # interpolation radius (merc meters)


def q_idw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5c inverse-distance-weighted interpolation (joins.
    idw_interpolate — gdal_grid invdist power=2 over the radius_join
    cell-block plan) with a FULL no-epsilon oracle: order points
    interpolate customer values (c % 1000 + 1); every 1/d² term is
    one correctly-rounded division of identically-computed doubles
    folded in ascending-target order (the bigram-LM precedent), so
    DuckDB reproduces the final double BIT-exactly. Shared integer
    keys between orders and customer produce genuine d²=0 exact hits,
    so the infinite-weight short-circuit (lowest-id zero-distance
    value) is driver-exercised, not just unit-tested."""
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.operators.joins import idw_interpolate
    from mapnik_vector_tile_spark.plans.flagship import derive_points

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    q = derive_points(orders, "o_orderkey")
    t = derive_points(customer, "c_custkey").withColumn(
        "v", (F.col("id") % 1000 + 1).cast("double")
    )
    return idw_interpolate(q, t, IDW_R, value_col="v", z=IDW_Z)


def _sql_idw(z: int = IDW_Z, r: float = IDW_R) -> str:
    tx, ty = S.tile_xy_exprs(z)
    return f"""
WITH {S.point_cte('orders', 'o_orderkey', 'id', 'qp')},
{S.point_cte('customer', 'c_custkey', 'id', 'tp')},
qc AS (SELECT id AS qid, mx AS qx, my AS qy, {tx} AS ctx, {ty} AS cty
       FROM qp),
qb AS (
  SELECT qid, qx, qy, ctx + d % 3 - 1 AS ctx, cty + d // 3 - 1 AS cty
  FROM (SELECT qc.*, unnest(generate_series(0, 8)) AS d FROM qc)
),
tc AS (SELECT id AS tid, mx AS tx2, my AS ty2, {tx} AS ctx, {ty} AS cty,
              CAST(id % 1000 + 1 AS DOUBLE) AS v
       FROM tp),
pairs AS (
  SELECT qid, tid, v,
         (qx - tx2) * (qx - tx2) + (qy - ty2) * (qy - ty2) AS d2
  FROM qb JOIN tc USING (ctx, cty)
  WHERE (qx - tx2) * (qx - tx2) + (qy - ty2) * (qy - ty2)
        <= {S.flit(r * r)}
),
zero AS (SELECT qid, MIN(tid) AS htid FROM pairs WHERE d2 = 0 GROUP BY qid),
agg AS (
  SELECT qid, CAST(COUNT(*) AS BIGINT) AS n_nbrs,
         list_reduce(
           list_prepend(CAST(0 AS DOUBLE),
                        list(v / d2 ORDER BY tid) FILTER (d2 > 0)),
           (a, b) -> a + b) AS num,
         list_reduce(
           list_prepend(CAST(0 AS DOUBLE),
                        list(CAST(1 AS DOUBLE) / d2 ORDER BY tid)
                          FILTER (d2 > 0)),
           (a, b) -> a + b) AS den
  FROM pairs GROUP BY qid
)
SELECT a.qid AS query_id, a.n_nbrs,
       CASE WHEN z.htid IS NOT NULL
            THEN CAST(z.htid % 1000 + 1 AS DOUBLE)
            ELSE num / den END AS idw
FROM agg a LEFT JOIN zero z ON a.qid = z.qid
"""


RADIUS_N = 2000  # q_radius_join per-side corpus size


def q_radius_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5-companion fixed-radius distance join with a FULL oracle
    (joins.radius_join): 2000 query × 2000 target points on a dyadic
    u-grid (u = span(z10)/8; targets offset +u/4 in both axes so every
    achievable squared distance has fractional part 1/8 or 5/8 of u² —
    an INTEGER r² = 64u² can never tie). The engine picks z=10 — the
    finest level whose span (= 8u) still covers r exactly — explodes
    the 3×3 block, equi-joins on the cell,
    and filters on exact squared distance in Column algebra; the
    DuckDB twin is a direct cross join with the identical coordinate
    expressions and the identical Python-computed r² literal — it
    never sees cells. Output (query_id, target_id, d2). sf_dir unused
    (committed synth recipe). Ref parity: fixed-distance spatial probe
    (the bounded form of the reference's kNN/cell-ring machinery);
    SURVEY §2.3 J5."""
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.functions import tilemath as tm
    from mapnik_vector_tile_spark.operators.joins import radius_join

    u = tm.tile_span(10) / 8.0
    radius = 8.0 * u  # r² = 64u², an integer in u² units: no exact-r ties
    x0 = -tm.W + 1000.0 * u
    queries = spark.range(0, RADIUS_N, 1, 8).select(
        F.col("id"),
        (F.lit(x0) + ((F.col("id") * 13) % 400) * F.lit(u)).alias("mx"),
        (F.lit(x0) + ((F.col("id") * 17) % 400) * F.lit(u)).alias("my"),
    )
    targets = spark.range(0, RADIUS_N, 1, 8).select(
        F.col("id"),
        (F.lit(x0) + ((F.col("id") * 7) % 400) * F.lit(u)
         + F.lit(u / 4.0)).alias("mx"),
        (F.lit(x0) + ((F.col("id") * 11) % 400) * F.lit(u)
         + F.lit(u / 4.0)).alias("my"),
    )
    return radius_join(queries, targets, radius)


def _sql_radius_join(n: int = RADIUS_N) -> str:
    from mapnik_vector_tile_spark.functions import tilemath as tm
    from mapnik_vector_tile_spark.plans.shared_sql import flit

    u = tm.tile_span(10) / 8.0
    radius = 8.0 * u
    r2 = float(radius) * float(radius)  # same Python product the engine uses
    x0 = -tm.W + 1000.0 * u
    # flit throughout: a bare decimal literal parses as DECIMAL in
    # DuckDB (different rounding than DOUBLE — the §gotcha the other
    # shared oracles already guard against)
    return f"""
WITH ids AS (SELECT unnest(generate_series(0, {n - 1})) AS i),
q AS (
  SELECT i, {flit(x0)} + ((i * 13) % 400) * {flit(u)} AS qx,
         {flit(x0)} + ((i * 17) % 400) * {flit(u)} AS qy
  FROM ids
),
t AS (
  SELECT i, {flit(x0)} + ((i * 7) % 400) * {flit(u)} + {flit(u / 4.0)} AS tx,
         {flit(x0)} + ((i * 11) % 400) * {flit(u)} + {flit(u / 4.0)} AS ty
  FROM ids
)
SELECT q.i AS query_id, t.i AS target_id,
       (q.qx - t.tx) * (q.qx - t.tx) + (q.qy - t.ty) * (q.qy - t.ty) AS d2
FROM q, t
WHERE (q.qx - t.tx) * (q.qx - t.tx) + (q.qy - t.ty) * (q.qy - t.ty) <= {flit(r2)}
"""


COVER_JOIN_NR = 150  # q_pip_cover_join regions
COVER_JOIN_NP = 4000  # q_pip_cover_join points
COVER_JOIN_Z = 8


def _cover_join_corpus(spark: SparkSession) -> tuple[DataFrame, DataFrame]:
    """(points, regions) of q_pip_cover_join and q_pip_join_sampled:
    COVER_JOIN_NR regions, rectangles and right triangles anchored at
    cell-fraction +1/4, and COVER_JOIN_NP points at cell-fractions
    +3/8, +5/8 of the z COVER_JOIN_Z grid."""
    import pandas as pd
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.functions import tilemath as tm

    span = tm.tile_span(COVER_JOIN_Z)

    def gen_regions(it):
        for pdf in it:
            ids = pdf["id"].to_numpy()
            if not len(ids):
                continue
            rows = {"region_id": [], "xs": [], "ys": [], "ring_offsets": []}
            for i in ids:
                i = int(i)
                a = -tm.W + ((i * 7) % 240) * span + span / 4
                c = -tm.W + ((i * 11) % 240) * span + span / 4
                if i % 2 == 0:
                    w = (1 + i % 4) * span + span / 2
                    h = (2 + i % 3) * span + span / 2
                    xs = [a, a + w, a + w, a, a]
                    ys = [c, c, c + h, c + h, c]
                else:
                    L = (2 + i % 4) * span
                    xs = [a, a + L, a, a]
                    ys = [c, c, c + L, c]
                rows["region_id"].append(i)
                rows["xs"].append(xs)
                rows["ys"].append(ys)
                rows["ring_offsets"].append([0, len(xs)])
            yield pd.DataFrame(rows)

    regions = spark.range(0, COVER_JOIN_NR, 1, 4).mapInPandas(
        gen_regions,
        schema=("region_id long, xs array<double>, ys array<double>, "
                "ring_offsets array<int>"),
    )
    points = spark.range(0, COVER_JOIN_NP, 1, 8).select(
        F.col("id"),
        (F.lit(-tm.W) + ((F.col("id") * 13) % 250) * F.lit(span)
         + F.lit(0.375 * span)).alias("mx"),
        (F.lit(-tm.W) + ((F.col("id") * 17) % 250) * F.lit(span)
         + F.lit(0.625 * span)).alias("my"),
    )
    return points, regions


def q_pip_cover_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4-upgrade gate with a FULL oracle: partitioned PIP join whose
    candidates come from the EXACT polygon covering
    (joins.pip_join_cover ∘ cellcover.cover_polygon_cells) instead of
    the envelope range. Corpus: 150 regions (rect/right-triangle mix,
    anchored at cell-fraction +1/4 so edges never lie ON cell
    boundaries) × 4000 points (at cell-fractions +3/8, +5/8 — margins
    ≥ span/8 from every region edge and from the hypotenuse, so both
    engines' float comparisons agree despite different expression
    trees). The DuckDB twin is a direct cross-join with closed-form
    containment (BETWEEN + one halfplane inequality) — it never sees
    cells, so the covering+equi-join+refine pipeline is gated end to
    end against pure geometry. Output (point_id, region_id).
    sf_dir unused (committed synth recipe). Ref parity: the spatial
    probe the reference runs per tile, re-expressed as the PBSM
    shuffle join; SURVEY §2.3 J4 + T15."""
    from mapnik_vector_tile_spark.operators.joins import pip_join_cover

    points, regions = _cover_join_corpus(spark)
    return pip_join_cover(points, regions, z=COVER_JOIN_Z)


def _sql_pip_cover_join(
    nr: int = COVER_JOIN_NR, np_: int = COVER_JOIN_NP
) -> str:
    from mapnik_vector_tile_spark.functions import tilemath as tm
    from mapnik_vector_tile_spark.plans.shared_sql import flit

    span = tm.tile_span(COVER_JOIN_Z)
    return f"""
WITH rids AS (SELECT unnest(generate_series(0, {nr - 1})) AS i),
pids AS (SELECT unnest(generate_series(0, {np_ - 1})) AS j),
regions AS (
  SELECT i,
         {flit(-tm.W)} + ((i * 7) % 240) * {flit(span)} + {flit(span / 4)} AS a,
         {flit(-tm.W)} + ((i * 11) % 240) * {flit(span)} + {flit(span / 4)} AS c,
         i % 2 AS kind,
         (1 + i % 4) * {flit(span)} + {flit(span / 2)} AS w,
         (2 + i % 3) * {flit(span)} + {flit(span / 2)} AS h,
         (2 + i % 4) * {flit(span)} AS L
  FROM rids
),
points AS (
  SELECT j,
         {flit(-tm.W)} + ((j * 13) % 250) * {flit(span)} + {flit(0.375 * span)} AS px,
         {flit(-tm.W)} + ((j * 17) % 250) * {flit(span)} + {flit(0.625 * span)} AS py
  FROM pids
)
SELECT p.j AS point_id, r.i AS region_id
FROM points p, regions r
WHERE (r.kind = 0 AND p.px BETWEEN r.a AND r.a + r.w
                  AND p.py BETWEEN r.c AND r.c + r.h)
   OR (r.kind = 1 AND p.px >= r.a AND p.py >= r.c
                  AND p.px + p.py <= r.a + r.c + r.L)
"""


HAV_R_M = 300_000.0  # q_haversine_join radius (300 km)
HAV_CELL = 4.8  # grid degrees: >= 300km in lon-degrees at |lat|<=55
HAV_NA, HAV_NB = 3000, 150


def q_haversine_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5b geodesic radius join gate (joins.haversine_radius_join):
    3000 hash-scattered points x 150 stations, |lat| <= 55°, pairs
    within 300 great-circle km. The twin is a direct cross join with
    the identical haversine-term predicate (no grid), so the
    cell-ring candidate generation is gated against pure geometry.
    Engine refine is Column-only trig (no Python); margin audited at
    corpus build (min |h-τ| across all cross pairs ~1e-6 >> the ~1ulp
    JVM/DuckDB libm drift)."""
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.operators.joins import (
        haversine_radius_join,
    )

    def pts(n, base):
        k = F.col("id") + base
        return spark.range(0, n).select(
            F.col("id"),
            ((((k * 2654435761) % 4294967296) / F.lit(float(2**32)))
             * 340.0 - 170.0).alias("lon"),
            ((((k * 1103515245 + 12345) % 4294967296)
              / F.lit(float(2**32))) * 110.0 - 55.0).alias("lat"),
        )

    a = pts(HAV_NA, 0)
    b = pts(HAV_NB, 7_000_000)
    return haversine_radius_join(a, b, HAV_R_M, HAV_CELL)


def _sql_haversine_join() -> str:
    import numpy as np

    from mapnik_vector_tile_spark.operators.joins import EARTH_R_M

    tau = float(np.sin(HAV_R_M / (2.0 * EARTH_R_M)) ** 2)
    rad = float(np.pi / 180.0)
    f32 = S.flit(2**32)

    def pts(n, base, name):
        return f"""
{name} AS (
  SELECT i AS id,
         ((((i + {base}) * 2654435761) % 4294967296) / {f32})
           * {S.flit(340.0)} - {S.flit(170.0)} AS lon,
         ((((i + {base}) * 1103515245 + 12345) % 4294967296) / {f32})
           * {S.flit(110.0)} - {S.flit(55.0)} AS lat
  FROM (SELECT unnest(generate_series(0, {n - 1})) AS i)
)"""

    return f"""
WITH {pts(HAV_NA, 0, 'pa')},
{pts(HAV_NB, 7_000_000, 'pb')}
SELECT pa.id AS a_id, pb.id AS b_id
FROM pa, pb
WHERE pow(sin((pb.lat - pa.lat) * {S.flit(rad)} / 2), 2)
      + cos(pa.lat * {S.flit(rad)}) * cos(pb.lat * {S.flit(rad)})
        * pow(sin((pb.lon - pa.lon) * {S.flit(rad)} / 2), 2)
      <= {S.flit(tau)}
"""


PIP_SAMPLE_BP = 2500  # q_pip_join_sampled keep rate (25% per 10k)


def q_pip_join_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4c sample-pushdown gate (joins.pip_join_sampled): SAME corpus
    as q_pip_cover_join; the twin is the full cross-join PIP relation
    with the identical pair coin applied AFTER the join — the engine
    applies it BEFORE the refine, and the oracle proves the two are
    the same exact row set (the coin commutes with the geometry
    predicate because it is a pure function of the pair key)."""
    from mapnik_vector_tile_spark.operators.joins import pip_join_sampled

    points, regions = _cover_join_corpus(spark)
    return pip_join_sampled(
        points, regions, rate_bp=PIP_SAMPLE_BP, z=COVER_JOIN_Z
    )


def _sql_pip_join_sampled() -> str:
    coin = splitmix64_sql("(point_id * 1000003 + region_id)")
    # MATERIALIZED fence: without it DuckDB pushes the (expensive
    # per-row HUGEINT) coin below the PIP predicate and evaluates it
    # on the full 600k-row cross join (measured 53 s vs <2 s fenced)
    return f"""
WITH j AS MATERIALIZED ({_sql_pip_cover_join()})
SELECT point_id, region_id FROM j
WHERE (({coin}) // 2048) % 10000 < {PIP_SAMPLE_BP}
"""


STR_CAP = 64  # q_str_pack leaf capacity


def q_str_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STR R-tree bulk packing (operators/spatial_index.str_pack_points
    — Leutenegger et al. 1997; reference parity: mapnik's per-layer
    R-tree datasource index, SURVEY §2.2 S1, rebuilt as the balanced
    spatial PARTITIONER a cluster needs) with a FULL oracle. Corpus:
    one point per orders row with per-axis-unique integer coordinates
    (splitmix64 high bits × 2³² + the unique orderkey low bits — the
    injection makes value-cut routing ≡ rank chunking, the operator's
    documented determinism contract). The engine computes slab/leaf
    cuts by bounded histogram rank-select (NO global sort, driver
    summaries only); the DuckDB twin replays the same cuts by FULL
    SORT row_number arithmetic — algorithm-independent: one off-by-one
    anywhere in the histogram walk breaks the per-leaf hash."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StructField, StructType

    from mapnik_vector_tile_spark.operators.spatial_index import (
        str_pack_points,
    )

    xy_t = StructType(
        [StructField("xi", LongType()), StructField("yi", LongType())]
    )

    def _xy_kernel(k):
        import numpy as np

        from mapnik_vector_tile_spark.sources.synth import splitmix64

        kk = k.to_numpy(dtype=np.uint64)
        h = splitmix64(kk)
        xi = (h % np.uint64(1 << 20)) * np.uint64(1 << 32) + kk
        yi = ((h >> np.uint64(20)) % np.uint64(1 << 20)) * np.uint64(
            1 << 32
        ) + kk
        return pd.DataFrame(
            {"xi": xi.astype(np.int64), "yi": yi.astype(np.int64)}
        )

    xy = F.pandas_udf(_xy_kernel, xy_t)
    pts = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .select(F.col("o_orderkey").alias("k"), xy(F.col("o_orderkey")).alias("p"))
        .select("k", "p.xi", "p.yi")
    )
    return str_pack_points(pts, "xi", "yi", "k", capacity=STR_CAP)


def _sql_str_pack(cap: int = STR_CAP) -> str:
    sm = splitmix64_sql("k")
    return f"""
WITH ks AS (SELECT o_orderkey AS k FROM orders),
hh AS (SELECT k, {sm} AS h FROM ks),
xy AS (SELECT k,
         CAST((h % 1048576) * 4294967296 + k AS BIGINT) AS xi,
         CAST(((h // 1048576) % 1048576) * 4294967296 + k AS BIGINT) AS yi
       FROM hh),
p1 AS (SELECT COUNT(*) AS n,
              (COUNT(*) + {cap} - 1) // {cap} AS p FROM xy),
p2 AS (SELECT n, p,
         CASE WHEN fs * fs >= p THEN fs
              WHEN (fs + 1) * (fs + 1) >= p THEN fs + 1
              ELSE fs + 2 END AS s
       FROM (SELECT n, p,
               CAST(floor(sqrt(CAST(p AS DOUBLE))) AS BIGINT) AS fs
             FROM p1)),
p3 AS (SELECT n, p, s, (n + s - 1) // s AS m FROM p2),
xr AS (SELECT k, xi, yi,
         row_number() OVER (ORDER BY xi) - 1 AS rx FROM xy),
sl AS (SELECT k, xi, yi, rx // (SELECT m FROM p3) AS slab FROM xr),
yr AS (SELECT k, xi, yi, slab,
         (row_number() OVER (PARTITION BY slab ORDER BY yi) - 1)
           // {cap} AS leaf
       FROM sl)
SELECT CAST(slab AS BIGINT) AS slab, CAST(leaf AS BIGINT) AS leaf,
  CAST(COUNT(*) AS BIGINT) AS n,
  CAST(MIN(xi) AS DOUBLE) AS minx, CAST(MAX(xi) AS DOUBLE) AS maxx,
  CAST(MIN(yi) AS DOUBLE) AS miny, CAST(MAX(yi) AS DOUBLE) AS maxy,
  CAST(SUM((k * 2654435761) % 2147483648) AS BIGINT) AS khash
FROM yr GROUP BY slab, leaf
"""


def road_segment_udf():
    """pandas UDF: segment id -> struct (ax, ay, bx, by), a road segment
    on the 512 grid from the splitmix64 row hash: endpoint A from its
    low bits, B = A + a capped ±32 direction. The SQL twins take the
    same digits of `splitmix64_sql`."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StructField, StructType

    seg_t = StructType(
        [
            StructField("ax", LongType()),
            StructField("ay", LongType()),
            StructField("bx", LongType()),
            StructField("by", LongType()),
        ]
    )

    def _seg_kernel(k):
        from mapnik_vector_tile_spark.sources.synth import splitmix64

        h = splitmix64(k.to_numpy(np.uint64))
        ax = (h % np.uint64(512)).astype(np.int64)
        ay = ((h >> np.uint64(9)) % np.uint64(512)).astype(np.int64)
        dx = ((h >> np.uint64(18)) % np.uint64(65)).astype(np.int64) - 32
        dy = ((h >> np.uint64(25)) % np.uint64(65)).astype(np.int64) - 32
        return pd.DataFrame(
            {"ax": ax, "ay": ay, "bx": ax + dx, "by": ay + dy}
        )

    return F.pandas_udf(_seg_kernel, seg_t)


SNAP_RADIUS = 32


def q_snap_road(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J10 nearest-segment-within-radius with a FULL oracle that also
    validates the candidate generation: the engine prunes via the
    radius-expanded cell grid, while the DuckDB twin brute-forces the
    COMPLETE point×segment cross product with the same exact integer
    rational distance — any segment the cell cover wrongly drops, or
    any floor-scale arg-min divergence, mismatches the hash. Corpus:
    road segments from orders (endpoint + capped ±32 direction on a
    512 grid), GPS points from customer, both splitmix64-derived."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StructField, StructType

    from mapnik_vector_tile_spark.operators.joins import snap_join

    pt_t = StructType(
        [StructField("px", LongType()), StructField("py", LongType())]
    )

    def _pt_kernel(k):
        from mapnik_vector_tile_spark.sources.synth import splitmix64

        h = splitmix64(k.to_numpy(np.uint64))
        return pd.DataFrame(
            {
                "px": (h % np.uint64(512)).astype(np.int64),
                "py": ((h >> np.uint64(9)) % np.uint64(512)).astype(
                    np.int64
                ),
            }
        )

    seg = road_segment_udf()
    pt = F.pandas_udf(_pt_kernel, pt_t)
    segments = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .select(F.col("o_orderkey").alias("sid"))
        .select("sid", seg(F.col("sid")).alias("s"))
        .select("sid", "s.ax", "s.ay", "s.bx", "s.by")
    )
    points = (
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .select(F.col("c_custkey").alias("pid"))
        .select("pid", pt(F.col("pid")).alias("p"))
        .select("pid", "p.px", "p.py")
    )
    return snap_join(points, segments, radius=SNAP_RADIUS, cell_shift=5)


def _sql_snap_road(radius: int = SNAP_RADIUS) -> str:
    hs = splitmix64_sql("o_orderkey")
    hp = splitmix64_sql("c_custkey")
    scale = 1 << 24  # SNAP_SCALE_BITS — exact for |AB|^2 < 2^12
    return f"""
WITH segs0 AS (
  SELECT o_orderkey AS sid,
         CAST(({hs}) % 512 AS BIGINT) AS ax,
         CAST((({hs}) // 512) % 512 AS BIGINT) AS ay,
         CAST((({hs}) // 262144) % 65 AS BIGINT) - 32 AS dx,
         CAST((({hs}) // 33554432) % 65 AS BIGINT) - 32 AS dy
  FROM orders),
segs AS (
  SELECT sid, ax, ay, ax + dx AS bx, ay + dy AS by FROM segs0),
pts AS (
  SELECT c_custkey AS pid,
         CAST(({hp}) % 512 AS BIGINT) AS px,
         CAST((({hp}) // 512) % 512 AS BIGINT) AS py
  FROM customer),
sc AS (
  SELECT p.pid, s.sid,
         (p.px - s.ax) * (s.bx - s.ax) + (p.py - s.ay) * (s.by - s.ay)
           AS dot,
         (s.bx - s.ax) * (s.bx - s.ax) + (s.by - s.ay) * (s.by - s.ay)
           AS ab2,
         (p.px - s.ax) * (p.px - s.ax) + (p.py - s.ay) * (p.py - s.ay)
           AS ap2,
         (p.px - s.bx) * (p.px - s.bx) + (p.py - s.by) * (p.py - s.by)
           AS bp2
  FROM pts p CROSS JOIN segs s),
fr AS (
  SELECT pid, sid,
         CASE WHEN ab2 = 0 OR dot <= 0 THEN ap2
              WHEN dot >= ab2 THEN bp2
              ELSE ap2 * ab2 - dot * dot END AS num,
         CASE WHEN ab2 = 0 OR dot <= 0 OR dot >= ab2 THEN 1
              ELSE ab2 END AS den
  FROM sc),
flt AS (
  SELECT pid, sid, (num * {scale}) // den AS d2s
  FROM fr WHERE num <= {radius * radius} * den),
rk AS (
  SELECT pid, sid, d2s,
         row_number() OVER (PARTITION BY pid ORDER BY d2s, sid) AS rn,
         COUNT(*) OVER (PARTITION BY pid) AS n_cand
  FROM flt)
SELECT pid, sid, d2s, CAST(n_cand AS BIGINT) AS n_cand
FROM rk WHERE rn = 1
"""


def q_segment_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J11 (operators/joins.segment_intersect_join) with a FULL
    brute-force oracle: the engine prunes candidates with the bbox
    cell cover; DuckDB evaluates the SAME exact integer orientation
    predicate over the COMPLETE pair cross product (quarter corpus —
    o_orderkey % 4 = 0 — keeps that at ~7M pairs), so a candidate
    dropped by the cover or any predicate divergence mismatches."""
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.operators.joins import (
        segment_intersect_join,
    )

    seg = road_segment_udf()
    segments = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .select(F.col("o_orderkey").alias("sid"))
        .filter(F.col("sid") % 4 == 0)
        .select("sid", seg(F.col("sid")).alias("s"))
        .select("sid", "s.ax", "s.ay", "s.bx", "s.by")
    )
    return segment_intersect_join(segments)


def _sql_segment_intersect() -> str:
    hs = splitmix64_sql("o_orderkey")

    def cr(ox, oy, axx, ayy, bxx, byy):
        return (
            f"(({axx}) - ({ox})) * (({byy}) - ({oy}))"
            f" - (({ayy}) - ({oy})) * (({bxx}) - ({ox}))"
        )

    d1 = cr("b.ax", "b.ay", "b.bx", "b.by", "a.ax", "a.ay")
    d2 = cr("b.ax", "b.ay", "b.bx", "b.by", "a.bx", "a.by")
    d3 = cr("a.ax", "a.ay", "a.bx", "a.by", "b.ax", "b.ay")
    d4 = cr("a.ax", "a.ay", "a.bx", "a.by", "b.bx", "b.by")

    def on_seg(axx, ayy, bxx, byy, px, py):
        return (
            f"({px}) >= least({axx}, {bxx}) AND ({px}) <= greatest({axx}, {bxx})"
            f" AND ({py}) >= least({ayy}, {byy})"
            f" AND ({py}) <= greatest({ayy}, {byy})"
        )

    return f"""
WITH segs0 AS (
  SELECT o_orderkey AS sid,
         CAST(({hs}) % 512 AS BIGINT) AS ax,
         CAST((({hs}) // 512) % 512 AS BIGINT) AS ay,
         CAST((({hs}) // 262144) % 65 AS BIGINT) - 32 AS dx,
         CAST((({hs}) // 33554432) % 65 AS BIGINT) - 32 AS dy
  FROM orders WHERE o_orderkey % 4 = 0),
segs AS MATERIALIZED (
  SELECT sid, ax, ay, ax + dx AS bx, ay + dy AS by FROM segs0),
pr AS (
  SELECT a.sid AS sid_a, b.sid AS sid_b,
         {d1} AS d1, {d2} AS d2, {d3} AS d3, {d4} AS d4,
         a.ax AS p1x, a.ay AS p1y, a.bx AS p2x, a.by AS p2y,
         b.ax AS q1x, b.ay AS q1y, b.bx AS q2x, b.by AS q2y
  FROM segs a JOIN segs b ON a.sid < b.sid)
SELECT sid_a, sid_b,
       CAST(((d1 > 0 AND d2 < 0) OR (d1 < 0 AND d2 > 0))
            AND ((d3 > 0 AND d4 < 0) OR (d3 < 0 AND d4 > 0)) AS BIGINT)
         AS proper
FROM pr
WHERE (((d1 > 0 AND d2 < 0) OR (d1 < 0 AND d2 > 0))
       AND ((d3 > 0 AND d4 < 0) OR (d3 < 0 AND d4 > 0)))
   OR (d1 = 0 AND {on_seg('q1x','q1y','q2x','q2y','p1x','p1y')})
   OR (d2 = 0 AND {on_seg('q1x','q1y','q2x','q2y','p2x','p2y')})
   OR (d3 = 0 AND {on_seg('p1x','p1y','p2x','p2y','q1x','q1y')})
   OR (d4 = 0 AND {on_seg('p1x','p1y','p2x','p2y','q2x','q2y')})
"""


def q_way_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Way assembly (joins.assemble_ways) with a FULL oracle: nodes
    are orders-derived grid points keyed by the SPARSE o_orderkey
    domain, ways are customer-derived ref lists drawn from
    [1, max(o_orderkey)] — so ~2/3 of refs genuinely miss, exercising
    the gap semantics.  DuckDB replays the explode+join+window chain
    verbatim; Manhattan lengths, order-sensitive vertex hashes and
    missing counts all land under one hash."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.types import ArrayType, LongType

    from mapnik_vector_tile_spark.operators.joins import assemble_ways

    def _node_xy(k):
        from mapnik_vector_tile_spark.sources.synth import splitmix64

        h = splitmix64(k.to_numpy(np.uint64))
        return pd.DataFrame(
            {
                "x": (h % np.uint64(4096)).astype(np.int64),
                "y": ((h >> np.uint64(12)) % np.uint64(4096)).astype(
                    np.int64
                ),
            }
        )

    from pyspark.sql.types import StructField, StructType

    xy_t = StructType(
        [StructField("x", LongType()), StructField("y", LongType())]
    )
    xyk = F.pandas_udf(_node_xy, xy_t)
    nodes = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .select(
            F.col("o_orderkey").cast("long").alias("node_id"),
            xyk(F.col("o_orderkey").cast("long")).alias("p"),
        )
        .select("node_id", "p.x", "p.y")
    )

    def _refs_kernel(wid):
        from mapnik_vector_tile_spark.sources.synth import splitmix64

        k = wid.to_numpy(np.uint64)
        kk = (splitmix64(k) >> np.uint64(11)) % np.uint64(6) + np.uint64(2)
        out = []
        for w, n in zip(k, kk):
            j = np.arange(int(n), dtype=np.uint64)
            h = splitmix64(w * np.uint64(131) + j) >> np.uint64(11)
            out.append(h.astype(np.int64).tolist())
        return pd.Series(out)

    rk = F.pandas_udf(_refs_kernel, ArrayType(LongType()))
    mx = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .agg(F.max("o_orderkey").cast("long").alias("mk"))
    )
    ways = (
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .select(
            F.col("c_custkey").cast("long").alias("way_id"),
            rk(F.col("c_custkey").cast("long")).alias("hr"),
        )
        .crossJoin(F.broadcast(mx))
        .select(
            "way_id",
            F.transform(
                F.col("hr"), lambda r: r % F.col("mk") + 1
            ).alias("refs"),
        )
    )
    return assemble_ways(ways, nodes)


def _sql_way_assembly() -> str:
    hn = splitmix64_sql("o_orderkey")
    hr = splitmix64_sql("(way_id * 131 + pos)")
    # hashes are hoisted into plain-projection CTEs: the subquery-
    # chain form of splitmix64_sql cannot sit inside a LATERAL/join
    # condition (DuckDB "expression with depth > 1" internal error)
    hw_cte = splitmix64_sql("c_custkey")
    return f"""
WITH nodes0 AS (
  SELECT CAST(o_orderkey AS BIGINT) AS node_id, ({hn}) AS hv
  FROM orders),
nodes AS (
  SELECT node_id,
         CAST(hv % 4096 AS BIGINT) AS x,
         CAST((hv // 4096) % 4096 AS BIGINT) AS y
  FROM nodes0),
mx AS (SELECT CAST(MAX(o_orderkey) AS BIGINT) AS mk FROM orders),
cust AS (
  SELECT CAST(c_custkey AS BIGINT) AS way_id, ({hw_cte}) AS hw
  FROM customer),
refs0 AS (
  SELECT way_id, j.v AS pos
  FROM cust,
       LATERAL unnest(generate_series(
         0, CAST(2 + (hw // 2048) % 6 AS BIGINT) - 1)) j(v)),
refs AS (
  SELECT way_id, pos,
         CAST((({hr}) // 2048) % (SELECT mk FROM mx) + 1 AS BIGINT)
           AS node_id
  FROM refs0),
jn AS (
  SELECT r.way_id, r.pos, n.x, n.y,
         lag(n.x) OVER (PARTITION BY r.way_id ORDER BY r.pos) AS px,
         lag(n.y) OVER (PARTITION BY r.way_id ORDER BY r.pos) AS py
  FROM refs r LEFT JOIN nodes n ON n.node_id = r.node_id)
SELECT way_id,
       CAST(COUNT(*) AS BIGINT) AS n_refs,
       CAST(SUM(CASE WHEN x IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_missing,
       CAST(COALESCE(SUM(CASE WHEN x IS NOT NULL AND px IS NOT NULL
                  THEN abs(x - px) + abs(y - py) END), 0) AS BIGINT)
         AS mlen,
       CAST(COALESCE(SUM(CASE WHEN x IS NOT NULL
                  THEN (pos + 1) * (x * 8191 + y) END), 0) AS BIGINT)
         AS vhash
FROM jn GROUP BY way_id
"""


def pairs() -> dict[str, tuple[Callable, str]]:
    """key -> (spark_fn, oracle SQL template)."""
    return {
        "q_str_pack": (q_str_pack, _sql_str_pack()),
        "q_engine_pip_broadcast": (
            q_engine_pip_broadcast,
            bbox_rect_join_sql(),
        ),
        "q_engine_pip_partitioned": (
            q_engine_pip_partitioned,
            bbox_rect_join_sql(),
        ),
        "q_engine_pip_semi": (q_engine_pip_semi, _sql_pip_membership(True)),
        "q_engine_pip_anti": (q_engine_pip_anti, _sql_pip_membership(False)),
        "q_engine_knn": (q_engine_knn, _sql_knn(3)),
        "q_pip_polygon_regions": (
            q_pip_polygon_regions,
            _sql_pip_polygon(200),
        ),
        "q_polygon_rect_join": (q_polygon_rect_join, _sql_polygon_rect_join()),
        "q_polygon_polygon_join": (
            q_polygon_polygon_join,
            _sql_polygon_polygon_join(),
        ),
        "q_dissolve": (q_dissolve, _sql_dissolve()),
        "q_polygon_polygon_ri": (
            q_polygon_polygon_ri,
            _sql_polygon_polygon_join(),
        ),
        "q_pip_cover_join": (q_pip_cover_join, _sql_pip_cover_join()),
        "q_pip_join_sampled": (q_pip_join_sampled, _sql_pip_join_sampled()),
        "q_haversine_join": (q_haversine_join, _sql_haversine_join()),
        "q_radius_join": (q_radius_join, _sql_radius_join()),
        "q_idw": (q_idw, _sql_idw()),
        "q_snap_road": (q_snap_road, _sql_snap_road()),
        "q_segment_intersect": (q_segment_intersect, _sql_segment_intersect()),
        "q_way_assembly": (q_way_assembly, _sql_way_assembly()),
    }
