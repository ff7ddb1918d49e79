"""Oracle pairs for polygon overlay, hulls, triangulation and line
geometry (operators.overlay, functions.polyline, functions.chaikin).

`pairs()` maps each query key to (spark_fn, oracle SQL template);
`plans.oracles.sql_pairs()` merges the families."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from mapnik_vector_tile_spark.plans.shared_sql import splitmix64_sql


UNION_GROUPS = 96
# The four bars of a hole-forming frame f (fx, fy, fw, fh, thickness
# t) as rect structs (x0, y0, w, ht): two horizontal, two vertical.
_FRAME_PIECES = (
    "array("
    "struct(f.fx AS x0, f.fy AS y0, f.fw AS w, f.t AS ht), "
    "struct(f.fx AS x0, f.fy + f.fh - f.t AS y0, f.fw AS w, f.t AS ht), "
    "struct(f.fx AS x0, f.fy AS y0, f.t AS w, f.fh AS ht), "
    "struct(f.fx + f.fw - f.t AS x0, f.fy AS y0, f.t AS w, f.fh AS ht))"
)


def q_polygon_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F12/U12 constructive polygon union (operators/overlay.py over
    functions/overlay.py — the merged-boundary half of wagyu's
    multi_polygon_union; reference parity:
    src/vector_tile_geometry_clipper.hpp polygon overloads) with a
    FULL oracle on a rectilinear-integer corpus where the overlay is
    bit-exact end to end: every group unions ~1/16 of the orders rows
    as splitmix64-derived random rectangles PLUS four deterministic
    frame pieces that enclose a hole (so exterior rings, hole rings,
    pinch points, duplicated rects, shared collinear edges and
    T-junctions all carry rows). The engine runs the GENERAL planar
    overlay (node insertion → side-winding classification → pinch-
    splitting face walk) and emits per-group integers (area2,
    manhattan perimeter, vertex count, n_ext − n_hole, vertex multiset
    hash); the DuckDB twin never builds rings at all — it replays the
    region on a compressed-coordinate grid (covered cells, corner
    patterns, the subdivision-invariant Euler identity
    n_ext − n_hole = V − E + F + n_pinch), so the two engines agree
    only if the constructed boundary is exactly the union region.
    Scale: one groupBy shuffle, per-group Arrow kernel, parallelism =
    group count (tile/cluster count at 10^12 rows)."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        BooleanType,
        LongType,
        StructField,
        StructType,
    )

    from mapnik_vector_tile_spark.operators.overlay import (
        rect_rings,
        union_polygon_stats,
    )

    rect_t = StructType(
        [
            StructField("keep", BooleanType()),
            StructField("x0", LongType()),
            StructField("y0", LongType()),
            StructField("w", LongType()),
            StructField("ht", LongType()),
        ]
    )

    def _rand_rect_kernel(k):
        import numpy as np

        from mapnik_vector_tile_spark.sources.synth import splitmix64

        h = splitmix64(k.to_numpy(dtype=np.uint64))
        return pd.DataFrame(
            {
                "keep": (h % np.uint64(16) == 0),
                "x0": ((h >> np.uint64(4)) % np.uint64(40)).astype(np.int64),
                "y0": ((h >> np.uint64(10)) % np.uint64(40)).astype(np.int64),
                "w": (1 + (h >> np.uint64(16)) % np.uint64(12)).astype(
                    np.int64
                ),
                "ht": (1 + (h >> np.uint64(22)) % np.uint64(12)).astype(
                    np.int64
                ),
            }
        )

    frame_t = StructType(
        [
            StructField("fx", LongType()),
            StructField("fy", LongType()),
            StructField("fw", LongType()),
            StructField("fh", LongType()),
            StructField("t", LongType()),
        ]
    )

    def _frame_kernel(g):
        import numpy as np

        from mapnik_vector_tile_spark.sources.synth import splitmix64

        h = splitmix64(
            (g.to_numpy(dtype=np.int64) * 1000003 + 7).astype(np.uint64)
        )
        return pd.DataFrame(
            {
                "fx": (2 + h % np.uint64(24)).astype(np.int64),
                "fy": (2 + (h >> np.uint64(5)) % np.uint64(24)).astype(
                    np.int64
                ),
                "fw": (8 + (h >> np.uint64(10)) % np.uint64(8)).astype(
                    np.int64
                ),
                "fh": (8 + (h >> np.uint64(13)) % np.uint64(8)).astype(
                    np.int64
                ),
                "t": (1 + (h >> np.uint64(16)) % np.uint64(3)).astype(
                    np.int64
                ),
            }
        )

    rand_rect = F.pandas_udf(_rand_rect_kernel, rect_t)
    frame_params = F.pandas_udf(_frame_kernel, frame_t)

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    rr = (
        orders.select(
            (F.col("o_orderkey") % UNION_GROUPS).alias("g"),
            rand_rect(F.col("o_orderkey")).alias("r"),
        )
        .where(F.col("r.keep"))
        .select("g", "r.x0", "r.y0", "r.w", "r.ht")
    )
    fr = (
        spark.range(UNION_GROUPS)
        .select(F.col("id").alias("g"), frame_params(F.col("id")).alias("f"))
        .selectExpr("g", f"explode({_FRAME_PIECES}) AS r")
        .select("g", "r.x0", "r.y0", "r.w", "r.ht")
    )
    return union_polygon_stats(rect_rings(rr.unionByName(fr)), "g")


def _sql_polygon_union() -> str:
    sm_k = splitmix64_sql("k")
    sm_g = splitmix64_sql("(g * 1000003 + 7)")
    return f"""
WITH ks AS (SELECT o_orderkey AS k FROM orders),
hh AS (SELECT k, {sm_k} AS h FROM ks),
rr AS (
  SELECT CAST(k % {UNION_GROUPS} AS BIGINT) AS g,
         CAST((h // 16) % 40 AS BIGINT) AS x0,
         CAST((h // 1024) % 40 AS BIGINT) AS y0,
         CAST(1 + (h // 65536) % 12 AS BIGINT) AS w,
         CAST(1 + (h // 4194304) % 12 AS BIGINT) AS ht
  FROM hh WHERE h % 16 = 0),
gs AS (SELECT CAST(unnest(generate_series(0, {UNION_GROUPS - 1})) AS BIGINT)
              AS g),
gh AS (SELECT g, {sm_g} AS h FROM gs),
fp AS (SELECT g,
         CAST(2 + h % 24 AS BIGINT) AS fx,
         CAST(2 + (h // 32) % 24 AS BIGINT) AS fy,
         CAST(8 + (h // 1024) % 8 AS BIGINT) AS fw,
         CAST(8 + (h // 8192) % 8 AS BIGINT) AS fh,
         CAST(1 + (h // 65536) % 3 AS BIGINT) AS t
       FROM gh),
fr AS (
  SELECT g, fx AS x0, fy AS y0, fw AS w, t AS ht FROM fp
  UNION ALL SELECT g, fx, fy + fh - t, fw, t FROM fp
  UNION ALL SELECT g, fx, fy, t, fh FROM fp
  UNION ALL SELECT g, fx + fw - t, fy, t, fh FROM fp),
rects AS MATERIALIZED (SELECT * FROM rr UNION ALL SELECT * FROM fr),
xs AS MATERIALIZED (
  SELECT DISTINCT g, x0 AS x FROM rects
  UNION SELECT DISTINCT g, x0 + w FROM rects),
xi AS MATERIALIZED (
  SELECT g, x, lead(x) OVER (PARTITION BY g ORDER BY x) AS x2 FROM xs),
ysrc AS MATERIALIZED (
  SELECT DISTINCT g, y0 AS y FROM rects
  UNION SELECT DISTINCT g, y0 + ht FROM rects),
yi AS MATERIALIZED (
  SELECT g, y, lead(y) OVER (PARTITION BY g ORDER BY y) AS y2
  FROM ysrc),
cells AS MATERIALIZED (
  SELECT c.g, c.x, c.x2, c.y, c.y2, COUNT(r.x0) > 0 AS cv
  FROM (SELECT xi.g, xi.x, xi.x2, yi.y, yi.y2
        FROM xi JOIN yi ON xi.g = yi.g
        WHERE xi.x2 IS NOT NULL AND yi.y2 IS NOT NULL) c
  LEFT JOIN rects r
    ON r.g = c.g AND r.x0 <= c.x AND c.x2 <= r.x0 + r.w
       AND r.y0 <= c.y AND c.y2 <= r.y0 + r.ht
  GROUP BY c.g, c.x, c.x2, c.y, c.y2),
pts AS (SELECT xs.g, xs.x AS px, ysrc.y AS py
        FROM xs JOIN ysrc ON xs.g = ysrc.g),
corn AS (
  SELECT p.g, p.px, p.py,
    COALESCE(sw.cv, FALSE) AS swc, COALESCE(se.cv, FALSE) AS sec_,
    COALESCE(nw.cv, FALSE) AS nwc, COALESCE(ne.cv, FALSE) AS nec
  FROM pts p
  LEFT JOIN cells sw ON sw.g = p.g AND sw.x2 = p.px AND sw.y2 = p.py
  LEFT JOIN cells se ON se.g = p.g AND se.x  = p.px AND se.y2 = p.py
  LEFT JOIN cells nw ON nw.g = p.g AND nw.x2 = p.px AND nw.y  = p.py
  LEFT JOIN cells ne ON ne.g = p.g AND ne.x  = p.px AND ne.y  = p.py),
vstat AS (
  SELECT g, px, py,
    CAST(swc AS INT) + CAST(sec_ AS INT)
      + CAST(nwc AS INT) + CAST(nec AS INT) AS ncov,
    CASE WHEN swc = nec AND nwc = sec_ AND swc <> nwc
         THEN 1 ELSE 0 END AS isdiag
  FROM corn),
vagg AS (
  SELECT g,
    CAST(SUM(CASE WHEN ncov IN (1, 3) THEN 1
                  WHEN ncov = 2 AND isdiag = 1 THEN 2
                  ELSE 0 END) AS BIGINT) AS n_vert,
    CAST(SUM(CAST(CASE WHEN ncov IN (1, 3) THEN 1
                  WHEN ncov = 2 AND isdiag = 1 THEN 2
                  ELSE 0 END AS BIGINT)
             * ((px * 73856093 + py * 19349663) % 2147483648))
         AS BIGINT) AS vhash,
    CAST(SUM(CASE WHEN ncov = 2 THEN isdiag ELSE 0 END) AS BIGINT)
      AS ndiag,
    CAST(SUM(CASE WHEN ncov >= 1 THEN 1 ELSE 0 END) AS BIGINT) AS nv_all
  FROM vstat GROUP BY g),
cagg AS (
  SELECT g,
    CAST(2 * SUM(CASE WHEN cv THEN (x2 - x) * (y2 - y) ELSE 0 END)
         AS BIGINT) AS area2,
    CAST(SUM(CASE WHEN cv THEN 1 ELSE 0 END) AS BIGINT) AS nf
  FROM cells GROUP BY g),
vedge AS (
  SELECT xs.g,
    COALESCE(l.cv, FALSE) AS lcv, COALESCE(r.cv, FALSE) AS rcv,
    yi.y2 - yi.y AS ln
  FROM xs JOIN yi ON xs.g = yi.g AND yi.y2 IS NOT NULL
  LEFT JOIN cells l ON l.g = xs.g AND l.x2 = xs.x AND l.y = yi.y
  LEFT JOIN cells r ON r.g = xs.g AND r.x  = xs.x AND r.y = yi.y),
hedge AS (
  SELECT ysrc.g,
    COALESCE(b.cv, FALSE) AS bcv, COALESCE(a.cv, FALSE) AS acv,
    xi.x2 - xi.x AS ln
  FROM ysrc JOIN xi ON ysrc.g = xi.g AND xi.x2 IS NOT NULL
  LEFT JOIN cells b ON b.g = ysrc.g AND b.y2 = ysrc.y AND b.x = xi.x
  LEFT JOIN cells a ON a.g = ysrc.g AND a.y  = ysrc.y AND a.x = xi.x),
vea AS (
  SELECT g,
    CAST(SUM(CASE WHEN lcv <> rcv THEN ln ELSE 0 END) AS BIGINT) AS perim,
    CAST(SUM(CASE WHEN lcv OR rcv THEN 1 ELSE 0 END) AS BIGINT) AS ne
  FROM vedge GROUP BY g),
hea AS (
  SELECT g,
    CAST(SUM(CASE WHEN bcv <> acv THEN ln ELSE 0 END) AS BIGINT) AS perim,
    CAST(SUM(CASE WHEN bcv OR acv THEN 1 ELSE 0 END) AS BIGINT) AS ne
  FROM hedge GROUP BY g)
SELECT c.g, c.area2,
       (v.perim + h.perim) AS perim,
       k.n_vert,
       (k.nv_all - (v.ne + h.ne) + c.nf + k.ndiag) AS euler,
       k.vhash
FROM cagg c
JOIN vagg k USING (g)
JOIN vea v USING (g)
JOIN hea h USING (g)
"""


def _rect_params_udf():
    """pandas UDF: order key -> struct (sel, x0, y0, w, ht), a selector
    in 0..15 and a rectangle on the 40-grid, 1..12 cells a side, from
    the splitmix64 row hash: the rects of q_polygon_boolean and
    q_morphology."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StructField, StructType

    rect_t = StructType(
        [
            StructField("sel", LongType()),
            StructField("x0", LongType()),
            StructField("y0", LongType()),
            StructField("w", LongType()),
            StructField("ht", LongType()),
        ]
    )

    def _rect_kernel(k):
        import numpy as np

        from mapnik_vector_tile_spark.sources.synth import splitmix64

        h = splitmix64(k.to_numpy(dtype=np.uint64))
        return pd.DataFrame(
            {
                "sel": (h % np.uint64(16)).astype(np.int64),
                "x0": ((h >> np.uint64(4)) % np.uint64(40)).astype(np.int64),
                "y0": ((h >> np.uint64(10)) % np.uint64(40)).astype(np.int64),
                "w": (1 + (h >> np.uint64(16)) % np.uint64(12)).astype(
                    np.int64
                ),
                "ht": (1 + (h >> np.uint64(22)) % np.uint64(12)).astype(
                    np.int64
                ),
            }
        )

    return F.pandas_udf(_rect_kernel, rect_t)


def q_polygon_boolean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F12 two-set boolean overlay (operators/overlay.py
    boolean_polygon_stats over functions/overlay.boolean_rings —
    intersection is the reference clipper's polygon∩clip op
    generalized; reference parity: mapbox::geometry::wagyu clip_types)
    with a FULL oracle: each group carries TWO splitmix64-derived
    rectangle sets (side A = coin 0 rows + a hole-forming frame, side
    B = coin 1 rows + a differently-salted frame) and the engine emits
    the integer grid stats of A∩B, A∖B and A⊕B per group. The DuckDB
    twin replays all three regions from one compressed-coordinate
    coverage grid carrying per-side flags — xor is the adversarial
    case: every proper A×B boundary crossing becomes a pinch point the
    face walk must split exactly as the Euler identity predicts.
    Scale: one groupBy shuffle, per-group Arrow kernel."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StructField, StructType

    from mapnik_vector_tile_spark.operators.overlay import (
        boolean_polygon_stats,
        rect_rings,
    )

    frame_t = StructType(
        [
            StructField("fx", LongType()),
            StructField("fy", LongType()),
            StructField("fw", LongType()),
            StructField("fh", LongType()),
            StructField("t", LongType()),
        ]
    )

    def _frame_factory(salt: int):
        def _kernel(g):
            import numpy as np

            from mapnik_vector_tile_spark.sources.synth import splitmix64

            h = splitmix64(
                (g.to_numpy(dtype=np.int64) * 1000003 + salt).astype(
                    np.uint64
                )
            )
            return pd.DataFrame(
                {
                    "fx": (2 + h % np.uint64(24)).astype(np.int64),
                    "fy": (2 + (h >> np.uint64(5)) % np.uint64(24)).astype(
                        np.int64
                    ),
                    "fw": (8 + (h >> np.uint64(10)) % np.uint64(8)).astype(
                        np.int64
                    ),
                    "fh": (8 + (h >> np.uint64(13)) % np.uint64(8)).astype(
                        np.int64
                    ),
                    "t": (1 + (h >> np.uint64(16)) % np.uint64(3)).astype(
                        np.int64
                    ),
                }
            )

        return F.pandas_udf(_kernel, frame_t)

    rect_params = _rect_params_udf()
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    rr = (
        orders.select(
            (F.col("o_orderkey") % UNION_GROUPS).alias("g"),
            rect_params(F.col("o_orderkey")).alias("r"),
        )
        .where(F.col("r.sel") < 2)
        .select(
            "g", F.col("r.sel").alias("side"), "r.x0", "r.y0", "r.w", "r.ht"
        )
    )
    frames = []
    for side, salt in ((0, 7), (1, 11)):
        frames.append(
            spark.range(UNION_GROUPS)
            .select(
                F.col("id").alias("g"),
                _frame_factory(salt)(F.col("id")).alias("f"),
            )
            .selectExpr("g", f"explode({_FRAME_PIECES}) AS r")
            .select(
                "g",
                F.lit(side).cast("long").alias("side"),
                "r.x0",
                "r.y0",
                "r.w",
                "r.ht",
            )
        )
    corpus = rr.unionByName(frames[0]).unionByName(frames[1])
    return boolean_polygon_stats(
        rect_rings(corpus, extra=("side",)), "g", "side"
    )


def _sql_polygon_boolean() -> str:
    sm_k = splitmix64_sql("k")
    ops = (
        ("(cva AND cvb)", 0),  # intersection
        ("(cva AND NOT cvb)", 1),  # difference
        ("(cva <> cvb)", 2),  # xor
    )

    def cvq(expr: str, qa: str, qb: str) -> str:
        return expr.replace("cva", qa).replace("cvb", qb)

    frame_ctes = []
    for tag, salt in (("a", 7), ("b", 11)):
        sm_g = splitmix64_sql(f"(g * 1000003 + {salt})")
        frame_ctes.append(
            f"""gh_{tag} AS (SELECT g, {sm_g} AS h FROM gs),
fp_{tag} AS (SELECT g,
         CAST(2 + h % 24 AS BIGINT) AS fx,
         CAST(2 + (h // 32) % 24 AS BIGINT) AS fy,
         CAST(8 + (h // 1024) % 8 AS BIGINT) AS fw,
         CAST(8 + (h // 8192) % 8 AS BIGINT) AS fh,
         CAST(1 + (h // 65536) % 3 AS BIGINT) AS t
       FROM gh_{tag}),
fr_{tag} AS (
  SELECT g, fx AS x0, fy AS y0, fw AS w, t AS ht FROM fp_{tag}
  UNION ALL SELECT g, fx, fy + fh - t, fw, t FROM fp_{tag}
  UNION ALL SELECT g, fx, fy, t, fh FROM fp_{tag}
  UNION ALL SELECT g, fx + fw - t, fy, t, fh FROM fp_{tag})"""
        )
    op_blocks = []
    op_selects = []
    for expr, op_id in ops:
        s = f"op{op_id}"
        corner_expr_parts = []
        for q in ("sw", "se", "nw", "ne"):
            corner_expr_parts.append(
                f"{cvq(expr, q + 'a', q + 'b')} AS {q}c_{s}"
            )
        op_blocks.append(
            f"""vstat_{s} AS (
  SELECT g, px, py,
    CAST(swc_{s} AS INT) + CAST(sec_{s} AS INT)
      + CAST(nwc_{s} AS INT) + CAST(nec_{s} AS INT) AS ncov,
    CASE WHEN swc_{s} = nec_{s} AND nwc_{s} = sec_{s}
              AND swc_{s} <> nwc_{s} THEN 1 ELSE 0 END AS isdiag
  FROM (SELECT g, px, py,
          {cvq(expr, 'swa', 'swb')} AS swc_{s},
          {cvq(expr, 'sea', 'seb')} AS sec_{s},
          {cvq(expr, 'nwa', 'nwb')} AS nwc_{s},
          {cvq(expr, 'nea', 'neb')} AS nec_{s}
        FROM corn)),
vagg_{s} AS (
  SELECT g,
    CAST(SUM(CASE WHEN ncov IN (1, 3) THEN 1
                  WHEN ncov = 2 AND isdiag = 1 THEN 2
                  ELSE 0 END) AS BIGINT) AS n_vert,
    CAST(SUM(CAST(CASE WHEN ncov IN (1, 3) THEN 1
                  WHEN ncov = 2 AND isdiag = 1 THEN 2
                  ELSE 0 END AS BIGINT)
             * ((px * 73856093 + py * 19349663) % 2147483648))
         AS BIGINT) AS vhash,
    CAST(SUM(CASE WHEN ncov = 2 THEN isdiag ELSE 0 END) AS BIGINT)
      AS ndiag,
    CAST(SUM(CASE WHEN ncov >= 1 THEN 1 ELSE 0 END) AS BIGINT) AS nv_all
  FROM vstat_{s} GROUP BY g),
cagg_{s} AS (
  SELECT g,
    CAST(2 * SUM(CASE WHEN {cvq(expr, 'cva', 'cvb')}
                 THEN (x2 - x) * (y2 - y) ELSE 0 END) AS BIGINT) AS area2,
    CAST(SUM(CASE WHEN {cvq(expr, 'cva', 'cvb')} THEN 1 ELSE 0 END)
         AS BIGINT) AS nf
  FROM cells GROUP BY g),
vea_{s} AS (
  SELECT g,
    CAST(SUM(CASE WHEN {cvq(expr, 'la', 'lb')}
                   <> {cvq(expr, 'ra', 'rb')} THEN ln ELSE 0 END)
         AS BIGINT) AS perim,
    CAST(SUM(CASE WHEN {cvq(expr, 'la', 'lb')}
                   OR {cvq(expr, 'ra', 'rb')} THEN 1 ELSE 0 END)
         AS BIGINT) AS ne
  FROM vedge GROUP BY g),
hea_{s} AS (
  SELECT g,
    CAST(SUM(CASE WHEN {cvq(expr, 'ba', 'bb')}
                   <> {cvq(expr, 'aa', 'ab_')} THEN ln ELSE 0 END)
         AS BIGINT) AS perim,
    CAST(SUM(CASE WHEN {cvq(expr, 'ba', 'bb')}
                   OR {cvq(expr, 'aa', 'ab_')} THEN 1 ELSE 0 END)
         AS BIGINT) AS ne
  FROM hedge GROUP BY g)"""
        )
        op_selects.append(
            f"""SELECT c.g, CAST({op_id} AS BIGINT) AS op, c.area2,
       (v.perim + h.perim) AS perim, k.n_vert,
       (k.nv_all - (v.ne + h.ne) + c.nf + k.ndiag) AS euler, k.vhash
FROM cagg_{s} c JOIN vagg_{s} k USING (g)
JOIN vea_{s} v USING (g) JOIN hea_{s} h USING (g)"""
        )
    nl = ",\n"
    return f"""
WITH ks AS (SELECT o_orderkey AS k FROM orders),
hh AS (SELECT k, {sm_k} AS h FROM ks),
rr AS (
  SELECT CAST(k % {UNION_GROUPS} AS BIGINT) AS g,
         CAST(h % 16 AS BIGINT) AS side,
         CAST((h // 16) % 40 AS BIGINT) AS x0,
         CAST((h // 1024) % 40 AS BIGINT) AS y0,
         CAST(1 + (h // 65536) % 12 AS BIGINT) AS w,
         CAST(1 + (h // 4194304) % 12 AS BIGINT) AS ht
  FROM hh WHERE h % 16 < 2),
gs AS (SELECT CAST(unnest(generate_series(0, {UNION_GROUPS - 1})) AS BIGINT)
              AS g),
{nl.join(frame_ctes)},
rects AS MATERIALIZED (
  SELECT * FROM rr
  UNION ALL SELECT g, 0 AS side, x0, y0, w, ht FROM fr_a
  UNION ALL SELECT g, 1 AS side, x0, y0, w, ht FROM fr_b),
xs AS MATERIALIZED (
  SELECT DISTINCT g, x0 AS x FROM rects
  UNION SELECT DISTINCT g, x0 + w FROM rects),
xi AS MATERIALIZED (
  SELECT g, x, lead(x) OVER (PARTITION BY g ORDER BY x) AS x2 FROM xs),
ysrc AS MATERIALIZED (
  SELECT DISTINCT g, y0 AS y FROM rects
  UNION SELECT DISTINCT g, y0 + ht FROM rects),
yi AS MATERIALIZED (
  SELECT g, y, lead(y) OVER (PARTITION BY g ORDER BY y) AS y2
  FROM ysrc),
cells AS MATERIALIZED (
  SELECT c.g, c.x, c.x2, c.y, c.y2,
         COUNT(CASE WHEN r.side = 0 THEN 1 END) > 0 AS cva,
         COUNT(CASE WHEN r.side = 1 THEN 1 END) > 0 AS cvb
  FROM (SELECT xi.g, xi.x, xi.x2, yi.y, yi.y2
        FROM xi JOIN yi ON xi.g = yi.g
        WHERE xi.x2 IS NOT NULL AND yi.y2 IS NOT NULL) c
  LEFT JOIN rects r
    ON r.g = c.g AND r.x0 <= c.x AND c.x2 <= r.x0 + r.w
       AND r.y0 <= c.y AND c.y2 <= r.y0 + r.ht
  GROUP BY c.g, c.x, c.x2, c.y, c.y2),
corn AS MATERIALIZED (
  SELECT p.g, p.px, p.py,
    COALESCE(sw.cva, FALSE) AS swa, COALESCE(sw.cvb, FALSE) AS swb,
    COALESCE(se.cva, FALSE) AS sea, COALESCE(se.cvb, FALSE) AS seb,
    COALESCE(nw.cva, FALSE) AS nwa, COALESCE(nw.cvb, FALSE) AS nwb,
    COALESCE(ne.cva, FALSE) AS nea, COALESCE(ne.cvb, FALSE) AS neb
  FROM (SELECT xs.g, xs.x AS px, ysrc.y AS py
        FROM xs JOIN ysrc ON xs.g = ysrc.g) p
  LEFT JOIN cells sw ON sw.g = p.g AND sw.x2 = p.px AND sw.y2 = p.py
  LEFT JOIN cells se ON se.g = p.g AND se.x  = p.px AND se.y2 = p.py
  LEFT JOIN cells nw ON nw.g = p.g AND nw.x2 = p.px AND nw.y  = p.py
  LEFT JOIN cells ne ON ne.g = p.g AND ne.x  = p.px AND ne.y  = p.py),
vedge AS MATERIALIZED (
  SELECT xs.g,
    COALESCE(l.cva, FALSE) AS la, COALESCE(l.cvb, FALSE) AS lb,
    COALESCE(r.cva, FALSE) AS ra, COALESCE(r.cvb, FALSE) AS rb,
    yi.y2 - yi.y AS ln
  FROM xs JOIN yi ON xs.g = yi.g AND yi.y2 IS NOT NULL
  LEFT JOIN cells l ON l.g = xs.g AND l.x2 = xs.x AND l.y = yi.y
  LEFT JOIN cells r ON r.g = xs.g AND r.x  = xs.x AND r.y = yi.y),
hedge AS MATERIALIZED (
  SELECT ysrc.g,
    COALESCE(b.cva, FALSE) AS ba, COALESCE(b.cvb, FALSE) AS bb,
    COALESCE(a.cva, FALSE) AS aa, COALESCE(a.cvb, FALSE) AS ab_,
    xi.x2 - xi.x AS ln
  FROM ysrc JOIN xi ON ysrc.g = xi.g AND xi.x2 IS NOT NULL
  LEFT JOIN cells b ON b.g = ysrc.g AND b.y2 = ysrc.y AND b.x = xi.x
  LEFT JOIN cells a ON a.g = ysrc.g AND a.y  = ysrc.y AND a.x = xi.x),
{nl.join(op_blocks)}
{" UNION ALL ".join(op_selects)}
"""


HULL_GROUPS = 96


def q_convex_hull(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group convex hull (operators/overlay.convex_hull_stats —
    Andrew's monotone chain, strict turns, CCW; the footprint summary
    for dissolve groups / image-position clusters) with a FULL oracle.
    Corpus: splitmix64-derived integer points grouped by orderkey; the
    DuckDB twin computes the SAME hull by a gift-wrapping RECURSIVE
    CTE pinned to the identical convention (strictly-convex vertices
    only, farthest-of-collinear, closed-ring shoelace/perimeter with
    a 2-vertex hull counting its edge twice) — two entirely different
    hull algorithms agreeing vertex-for-vertex per group."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StructField, StructType

    from mapnik_vector_tile_spark.operators.overlay import convex_hull_stats

    pt_t = StructType(
        [StructField("x", LongType()), StructField("y", LongType())]
    )

    def _pt_kernel(k):
        import numpy as np

        from mapnik_vector_tile_spark.sources.synth import splitmix64

        h = splitmix64(k.to_numpy(dtype=np.uint64))
        return pd.DataFrame(
            {
                "x": (h % np.uint64(8192)).astype(np.int64),
                "y": ((h >> np.uint64(13)) % np.uint64(8192)).astype(
                    np.int64
                ),
            }
        )

    pt = F.pandas_udf(_pt_kernel, pt_t)
    pts = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .select(
            (F.col("o_orderkey") % HULL_GROUPS).alias("g"),
            pt(F.col("o_orderkey")).alias("p"),
        )
        .select("g", "p.x", "p.y")
    )
    return convex_hull_stats(pts, "g")


def _sql_convex_hull() -> str:
    sm = splitmix64_sql("k")
    # cross(c->n, c->q) and dot(c->n, c->q) in the gift-wrap selection
    cross = (
        "(n.x - w.cx) * (q.y - w.cy) - (n.y - w.cy) * (q.x - w.cx)"
    )
    dot_f = (
        "(q.x - w.cx) * (n.x - w.cx) + (q.y - w.cy) * (n.y - w.cy)"
    )
    len2n = "(n.x - w.cx) * (n.x - w.cx) + (n.y - w.cy) * (n.y - w.cy)"
    return f"""
WITH RECURSIVE ks AS (SELECT o_orderkey AS k FROM orders),
hh AS (SELECT k, {sm} AS h FROM ks),
raw AS (SELECT CAST(k % {HULL_GROUPS} AS BIGINT) AS g,
               CAST(h % 8192 AS BIGINT) AS x,
               CAST((h // 8192) % 8192 AS BIGINT) AS y
        FROM hh),
pts AS MATERIALIZED (SELECT DISTINCT g, x, y FROM raw),
np_ AS (SELECT g, COUNT(*) AS n_pts FROM pts GROUP BY g),
p0 AS (SELECT g, x, y FROM (
         SELECT g, x, y,
                row_number() OVER (PARTITION BY g ORDER BY x, y) AS rn
         FROM pts) WHERE rn = 1),
walk(g, step, cx, cy, p0x, p0y) AS (
  SELECT g, CAST(0 AS BIGINT), x, y, x, y FROM p0
  UNION ALL
  SELECT w.g, w.step + 1, n.x, n.y, w.p0x, w.p0y
  FROM walk w
  JOIN pts n ON n.g = w.g AND NOT (n.x = w.cx AND n.y = w.cy)
  WHERE NOT EXISTS (              -- CCW walk: nothing strictly right
      SELECT 1 FROM pts q
      WHERE q.g = w.g AND NOT (q.x = w.cx AND q.y = w.cy)
        AND {cross} < 0)
    AND NOT EXISTS (              -- farthest of collinear candidates
      SELECT 1 FROM pts q
      WHERE q.g = w.g AND {cross} = 0 AND {dot_f} > {len2n})
    AND NOT (n.x = w.p0x AND n.y = w.p0y)  -- back at start: stop
),
hull AS (SELECT g, step, cx AS x, cy AS y FROM walk),
hn AS (SELECT g, COUNT(*) AS n_hull FROM hull GROUP BY g),
edges AS (
  SELECT h1.g, h1.x AS x1, h1.y AS y1, h2.x AS x2, h2.y AS y2
  FROM hull h1 JOIN hn USING (g)
  JOIN hull h2 ON h2.g = h1.g AND h2.step = (h1.step + 1) % hn.n_hull),
est AS (
  SELECT g,
    CAST(SUM(x1 * y2 - x2 * y1) AS BIGINT) AS area2,
    CAST(SUM(abs(x2 - x1) + abs(y2 - y1)) AS BIGINT) AS perim
  FROM edges GROUP BY g),
vh AS (
  SELECT g, CAST(SUM((x * 73856093 + y * 19349663) % 2147483648)
                 AS BIGINT) AS vhash
  FROM hull GROUP BY g)
SELECT n.g, CAST(n.n_pts AS BIGINT) AS n_pts,
       CAST(hn.n_hull AS BIGINT) AS n_hull,
       CASE WHEN hn.n_hull >= 2 THEN e.area2 ELSE 0 END AS area2,
       CASE WHEN hn.n_hull >= 2 THEN e.perim ELSE 0 END AS perim,
       v.vhash
FROM np_ n JOIN hn USING (g) JOIN est e USING (g) JOIN vh v USING (g)
"""


LM_GROUPS = 64


def q_line_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group line merge (operators/overlay.merge_lines_stats — JTS
    LineMerger semantics over grid-graph segments: chains break at
    degree!=2 vertices, pure cycles count as rings) with a FULL
    oracle. Corpus: splitmix64-derived unit grid edges (12x12 lattice,
    horizontal/vertical coin) — dense enough that duplicates,
    junctions, tips and closed squares all occur. The DuckDB twin
    replays degrees/lengths directly and the ring count by recursive
    reachability (min-label components over the deduped segment
    graph), checking the kernel's union-find against an
    algorithm-independent transitive closure."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StructField, StructType

    from mapnik_vector_tile_spark.operators.overlay import merge_lines_stats

    seg_t = StructType(
        [
            StructField("x1", LongType()),
            StructField("y1", LongType()),
            StructField("x2", LongType()),
            StructField("y2", LongType()),
        ]
    )

    def _seg_kernel(k):
        import numpy as np

        from mapnik_vector_tile_spark.sources.synth import splitmix64

        h = splitmix64(k.to_numpy(dtype=np.uint64))
        cx = (h % np.uint64(12)).astype(np.int64)
        cy = ((h >> np.uint64(8)) % np.uint64(12)).astype(np.int64)
        horiz = ((h >> np.uint64(16)) % np.uint64(2)).astype(np.int64)
        return pd.DataFrame(
            {
                "x1": cx,
                "y1": cy,
                "x2": cx + horiz,
                "y2": cy + (1 - horiz),
            }
        )

    seg = F.pandas_udf(_seg_kernel, seg_t)
    segs = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .select(
            (F.col("o_orderkey") % LM_GROUPS).alias("g"),
            seg(F.col("o_orderkey")).alias("s"),
        )
        .select("g", "s.x1", "s.y1", "s.x2", "s.y2")
    )
    # guaranteed pure cycle per group: a unit square in a reserved
    # coordinate region (x >= 100, disjoint from the 12x12 lattice) so
    # the ring-component path is exercised in EVERY group, not only
    # where the lattice happens to close a junction-free square
    ring_t = StructType(
        [StructField("rx", LongType()), StructField("ry", LongType())]
    )

    def _ring_kernel(g):
        import numpy as np

        from mapnik_vector_tile_spark.sources.synth import splitmix64

        h = splitmix64((g.to_numpy(dtype=np.int64) * 7919 + 3).astype(np.uint64))
        return pd.DataFrame(
            {
                "rx": (100 + h % np.uint64(20)).astype(np.int64),
                "ry": ((h >> np.uint64(5)) % np.uint64(20)).astype(np.int64),
            }
        )

    ring = F.pandas_udf(_ring_kernel, ring_t)
    sq = (
        "array(struct(rx AS x1, ry AS y1, rx + 1L AS x2, ry AS y2), "
        "struct(rx + 1L AS x1, ry AS y1, rx + 1L AS x2, ry + 1L AS y2), "
        "struct(rx AS x1, ry + 1L AS y1, rx + 1L AS x2, ry + 1L AS y2), "
        "struct(rx AS x1, ry AS y1, rx AS x2, ry + 1L AS y2))"
    )
    rings = (
        spark.range(LM_GROUPS)
        .select(F.col("id").alias("g"), ring(F.col("id")).alias("r"))
        .selectExpr("g", "r.rx AS rx", "r.ry AS ry")
        .selectExpr("g", f"explode({sq}) AS s")
        .select("g", "s.x1", "s.y1", "s.x2", "s.y2")
    )
    return merge_lines_stats(segs.unionByName(rings), "g")


def _sql_line_merge() -> str:
    sm = splitmix64_sql("k")
    return f"""
WITH RECURSIVE ks AS (SELECT o_orderkey AS k FROM orders),
hh AS (SELECT k, {sm} AS h FROM ks),
raw AS (SELECT CAST(k % {LM_GROUPS} AS BIGINT) AS g,
               CAST(h % 12 AS BIGINT) AS cx,
               CAST((h // 256) % 12 AS BIGINT) AS cy,
               CAST((h // 65536) % 2 AS BIGINT) AS horiz
        FROM hh),
gs AS (SELECT CAST(unnest(generate_series(0, {LM_GROUPS - 1})) AS BIGINT)
              AS g),
rh AS (SELECT g, {splitmix64_sql('(g * 7919 + 3)')} AS h FROM gs),
rsq AS (SELECT g, CAST(100 + h % 20 AS BIGINT) AS rx,
               CAST((h // 32) % 20 AS BIGINT) AS ry
        FROM rh),
ringsegs AS (
  SELECT g, rx AS x1, ry AS y1, rx + 1 AS x2, ry AS y2 FROM rsq
  UNION ALL SELECT g, rx + 1, ry, rx + 1, ry + 1 FROM rsq
  UNION ALL SELECT g, rx, ry + 1, rx + 1, ry + 1 FROM rsq
  UNION ALL SELECT g, rx, ry, rx, ry + 1 FROM rsq),
segs AS MATERIALIZED (
  SELECT DISTINCT * FROM (
    SELECT g, cx AS x1, cy AS y1,
           cx + horiz AS x2, cy + (1 - horiz) AS y2
    FROM raw
    UNION ALL SELECT * FROM ringsegs)),
-- vertices with degree (each deduped segment contributes one
-- incidence per end); vkey is injective for coords < 8192
ends_ AS (
  SELECT g, x1 AS vx, y1 AS vy FROM segs
  UNION ALL SELECT g, x2, y2 FROM segs),
vdeg AS MATERIALIZED (
  SELECT g, vx, vy, COUNT(*) AS deg, MIN(vx * 8192 + vy) AS vkey
  FROM ends_ GROUP BY g, vx, vy),
adj AS MATERIALIZED (
  SELECT g, x1 AS ax, y1 AS ay, x2 AS bx, y2 AS by_ FROM segs
  UNION ALL SELECT g, x2, y2, x1, y1 FROM segs),
reach(g, vx, vy, lbl) AS (
  SELECT g, vx, vy, vkey FROM vdeg
  UNION
  SELECT a.g, a.bx, a.by_, r.lbl
  FROM reach r JOIN adj a
    ON a.g = r.g AND a.ax = r.vx AND a.ay = r.vy
),
comp AS (
  SELECT g, vx, vy, MIN(lbl) AS c FROM reach GROUP BY g, vx, vy),
rings AS (
  SELECT v.g,
         CAST(COUNT(DISTINCT CASE WHEN ok THEN c END) AS BIGINT)
           AS n_rings
  FROM (
    SELECT comp.g, comp.c,
           BOOL_AND(vdeg.deg = 2) AS ok
    FROM comp JOIN vdeg
      ON vdeg.g = comp.g AND vdeg.vx = comp.vx AND vdeg.vy = comp.vy
    GROUP BY comp.g, comp.c) v
  GROUP BY v.g),
base AS (
  SELECT g, CAST(COUNT(*) AS BIGINT) AS n_segs,
         CAST(SUM(abs(x2 - x1) + abs(y2 - y1)) AS BIGINT) AS mlen
  FROM segs GROUP BY g),
chains AS (
  SELECT g,
    CAST(SUM(CASE WHEN deg <> 2 THEN deg ELSE 0 END) // 2 AS BIGINT)
      AS n_chains,
    CAST(SUM(CASE WHEN deg <> 2
             THEN deg * ((vx * 73856093 + vy * 19349663) % 2147483648)
             ELSE 0 END) AS BIGINT) AS jhash
  FROM vdeg GROUP BY g)
SELECT b.g, b.n_segs, c.n_chains, r.n_rings, b.mlen, c.jhash
FROM base b JOIN chains c USING (g) JOIN rings r USING (g)
"""


def q_morphology(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F12c morphological buffer suite (operators/overlay.
    morphology_polygon_stats — Chebyshev dilate/erode/open/close at a
    per-group integer radius; the ST_Buffer(+r)/ST_Buffer(−r) analog
    with square caps/joins, erosion via the complement identity
    F ∖ dilate(F ∖ A) through the planar overlay) with a FULL oracle.
    Corpus: the union-style random rects plus a hole-forming frame
    (thin frames vanish under erosion — a load-bearing edge case); the
    DuckDB twin replays each op as set algebra on COVERED UNIT CELLS
    (dilate = window-OR explode, erode = window-count, open/close
    composed) and derives area/perimeter/vertices/Euler from cell
    counts, shared-edge adjacency and corner patterns — it never
    builds a ring, so agreement means the constructed boundaries are
    exactly the morphological regions."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StructField, StructType

    from mapnik_vector_tile_spark.operators.overlay import (
        morphology_polygon_stats,
        rect_rings,
    )

    meta_t = StructType(
        [
            StructField("fx", LongType()),
            StructField("fy", LongType()),
            StructField("fw", LongType()),
            StructField("fh", LongType()),
            StructField("t", LongType()),
            StructField("rr", LongType()),
        ]
    )

    def _meta_kernel(g):
        import numpy as np

        from mapnik_vector_tile_spark.sources.synth import splitmix64

        h = splitmix64(
            (g.to_numpy(dtype=np.int64) * 1000003 + 17).astype(np.uint64)
        )
        return pd.DataFrame(
            {
                "fx": (2 + h % np.uint64(24)).astype(np.int64),
                "fy": (2 + (h >> np.uint64(5)) % np.uint64(24)).astype(
                    np.int64
                ),
                "fw": (8 + (h >> np.uint64(10)) % np.uint64(8)).astype(
                    np.int64
                ),
                "fh": (8 + (h >> np.uint64(13)) % np.uint64(8)).astype(
                    np.int64
                ),
                "t": (1 + (h >> np.uint64(16)) % np.uint64(3)).astype(
                    np.int64
                ),
                "rr": (1 + (h >> np.uint64(19)) % np.uint64(2)).astype(
                    np.int64
                ),
            }
        )

    rect_params = _rect_params_udf()
    meta_params = F.pandas_udf(_meta_kernel, meta_t)
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    rr_rects = (
        orders.select(
            (F.col("o_orderkey") % UNION_GROUPS).alias("g"),
            rect_params(F.col("o_orderkey")).alias("r"),
        )
        .where(F.col("r.sel") == 0)
        .select("g", "r.x0", "r.y0", "r.w", "r.ht")
    )
    meta = spark.range(UNION_GROUPS).select(
        F.col("id").alias("g"), meta_params(F.col("id")).alias("f")
    )
    frames = meta.selectExpr("g", f"explode({_FRAME_PIECES}) AS r").select(
        "g", "r.x0", "r.y0", "r.w", "r.ht"
    )
    corpus = rr_rects.unionByName(frames).join(
        F.broadcast(meta.select("g", "f.rr")), "g"
    )
    return morphology_polygon_stats(
        rect_rings(corpus, extra=("rr",)), "g", "rr"
    )


def _sql_morphology() -> str:
    sm_k = splitmix64_sql("k")
    sm_g = splitmix64_sql("(g * 1000003 + 17)")
    pmod = "(((px * 73856093 + py * 19349663) % 2147483648) + 2147483648) % 2147483648"
    return f"""
WITH ks AS (SELECT o_orderkey AS k FROM orders),
hh AS (SELECT k, {sm_k} AS h FROM ks),
rr_ AS (
  SELECT CAST(k % {UNION_GROUPS} AS BIGINT) AS g,
         CAST((h // 16) % 40 AS BIGINT) AS x0,
         CAST((h // 1024) % 40 AS BIGINT) AS y0,
         CAST(1 + (h // 65536) % 12 AS BIGINT) AS w,
         CAST(1 + (h // 4194304) % 12 AS BIGINT) AS ht
  FROM hh WHERE h % 16 = 0),
gs AS (SELECT CAST(unnest(generate_series(0, {UNION_GROUPS - 1})) AS BIGINT)
              AS g),
gm AS (SELECT g, {sm_g} AS h FROM gs),
fp AS (SELECT g,
         CAST(2 + h % 24 AS BIGINT) AS fx,
         CAST(2 + (h // 32) % 24 AS BIGINT) AS fy,
         CAST(8 + (h // 1024) % 8 AS BIGINT) AS fw,
         CAST(8 + (h // 8192) % 8 AS BIGINT) AS fh,
         CAST(1 + (h // 65536) % 3 AS BIGINT) AS t,
         CAST(1 + (h // 524288) % 2 AS BIGINT) AS rr
       FROM gm),
rects AS MATERIALIZED (
  SELECT g, x0, y0, w, ht FROM rr_
  UNION ALL SELECT g, fx, fy, fw, t FROM fp
  UNION ALL SELECT g, fx, fy + fh - t, fw, t FROM fp
  UNION ALL SELECT g, fx, fy, t, fh FROM fp
  UNION ALL SELECT g, fx + fw - t, fy, t, fh FROM fp),
rx AS (SELECT g, unnest(generate_series(x0, x0 + w - 1)) AS cx, y0, ht
       FROM rects),
cov AS MATERIALIZED (
  SELECT DISTINCT g, cx, unnest(generate_series(y0, y0 + ht - 1)) AS cy
  FROM rx),
rad AS (SELECT g, rr FROM fp),
off AS MATERIALIZED (
  SELECT r.g, dx.v AS dx, dy.v AS dy, (2 * r.rr + 1) * (2 * r.rr + 1) AS wsz
  FROM rad r
  JOIN (SELECT unnest(generate_series(-2, 2)) AS v) dx
    ON abs(dx.v) <= r.rr
  JOIN (SELECT unnest(generate_series(-2, 2)) AS v) dy
    ON abs(dy.v) <= r.rr),
dil AS MATERIALIZED (
  SELECT DISTINCT c.g, c.cx + o.dx AS cx, c.cy + o.dy AS cy
  FROM cov c JOIN off o USING (g)),
ero AS MATERIALIZED (
  SELECT e.g, e.cx, e.cy FROM (
    SELECT c.g, c.cx - o.dx AS cx, c.cy - o.dy AS cy,
           COUNT(*) AS n, MAX(o.wsz) AS wsz
    FROM cov c JOIN off o USING (g) GROUP BY 1, 2, 3) e
  WHERE e.n = e.wsz),
opn AS MATERIALIZED (
  SELECT DISTINCT e.g, e.cx + o.dx AS cx, e.cy + o.dy AS cy
  FROM ero e JOIN off o USING (g)),
clo AS MATERIALIZED (
  SELECT e.g, e.cx, e.cy FROM (
    SELECT d.g, d.cx - o.dx AS cx, d.cy - o.dy AS cy,
           COUNT(*) AS n, MAX(o.wsz) AS wsz
    FROM dil d JOIN off o USING (g) GROUP BY 1, 2, 3) e
  WHERE e.n = e.wsz),
lay AS MATERIALIZED (
  SELECT g, CAST(0 AS BIGINT) AS op, cx, cy FROM dil
  UNION ALL SELECT g, 1, cx, cy FROM ero
  UNION ALL SELECT g, 2, cx, cy FROM opn
  UNION ALL SELECT g, 3, cx, cy FROM clo),
adj AS (
  SELECT a.g, a.op, COUNT(*) AS n_adj
  FROM lay a JOIN lay b
    ON b.g = a.g AND b.op = a.op
   AND ((b.cx = a.cx + 1 AND b.cy = a.cy)
        OR (b.cx = a.cx AND b.cy = a.cy + 1))
  GROUP BY a.g, a.op),
-- vertex corner patterns: each covered cell is the NE/NW/SE/SW
-- quadrant of its four corners
vq AS (
  SELECT g, op, cx AS px, cy AS py, 3 AS q FROM lay      -- cell NE of v
  UNION ALL SELECT g, op, cx + 1, cy, 2 FROM lay         -- NW
  UNION ALL SELECT g, op, cx, cy + 1, 1 FROM lay         -- SE
  UNION ALL SELECT g, op, cx + 1, cy + 1, 0 FROM lay),   -- SW
vst AS (
  SELECT g, op, px, py, COUNT(*) AS ncov,
         BOOL_OR(q = 0) AS sw, BOOL_OR(q = 1) AS se,
         BOOL_OR(q = 2) AS nw, BOOL_OR(q = 3) AS ne
  FROM vq GROUP BY 1, 2, 3, 4),
vagg AS (
  SELECT g, op,
    CAST(SUM(CASE WHEN ncov IN (1, 3) THEN 1
                  WHEN ncov = 2 AND sw = ne AND nw = se AND sw <> nw
                  THEN 2 ELSE 0 END) AS BIGINT) AS n_vert,
    CAST(SUM(CAST(CASE WHEN ncov IN (1, 3) THEN 1
                  WHEN ncov = 2 AND sw = ne AND nw = se AND sw <> nw
                  THEN 2 ELSE 0 END AS BIGINT) * ({pmod}))
         AS BIGINT) AS vhash,
    CAST(SUM(CASE WHEN ncov = 2 AND sw = ne AND nw = se AND sw <> nw
             THEN 1 ELSE 0 END) AS BIGINT) AS ndiag,
    CAST(COUNT(*) AS BIGINT) AS nv_all
  FROM vst GROUP BY g, op),
cnt AS (SELECT g, op, CAST(COUNT(*) AS BIGINT) AS nf FROM lay GROUP BY g, op),
ops AS (SELECT g, CAST(unnest([0, 1, 2, 3]) AS BIGINT) AS op FROM gs)
SELECT o.g, o.op,
  CAST(COALESCE(2 * c.nf, 0) AS BIGINT) AS area2,
  CAST(COALESCE(4 * c.nf - 2 * COALESCE(a.n_adj, 0), 0) AS BIGINT) AS perim,
  COALESCE(v.n_vert, 0) AS n_vert,
  -- Euler identity on the unit-cell subdivision:
  -- n_ext − n_hole = V − E + F + n_pinch, E = 4F − adj
  CAST(COALESCE(v.nv_all - (4 * c.nf - COALESCE(a.n_adj, 0))
                + c.nf + v.ndiag, 0) AS BIGINT) AS euler,
  COALESCE(v.vhash, 0) AS vhash
FROM ops o
LEFT JOIN cnt c ON c.g = o.g AND c.op = o.op
LEFT JOIN adj a ON a.g = o.g AND a.op = o.op
LEFT JOIN vagg v ON v.g = o.g AND v.op = o.op
"""


PL_TRAJS = 300


def q_polyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polyline5 encode (functions/polyline.encode_trajectories) with
    a FULL oracle: both engines derive the same trajectories from
    orders (tid = key % 300, ~50 vertices each at sf0.01, ±1° at 1e-5
    precision), apply the spec delta→zigzag→5-bit-chunk encoding, and
    compare the resulting STRINGS byte-for-byte. Zigzag is shift/xor
    on the Spark side and the equivalent branch form in SQL; chunk
    emission is the same 7-level unroll in both. Losslessness is
    separately pinned by the numpy decoder round-trip test."""
    import pandas as pd
    import numpy as np
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StructField, StructType

    from mapnik_vector_tile_spark.functions.polyline import (
        encode_trajectories,
    )

    ll_t = StructType(
        [StructField("lat5", LongType()), StructField("lng5", LongType())]
    )

    def _ll_kernel(k):
        from mapnik_vector_tile_spark.sources.synth import splitmix64

        h = splitmix64(k.to_numpy(np.uint64))
        return pd.DataFrame(
            {
                "lat5": (h % np.uint64(200001)).astype(np.int64) - 100000,
                "lng5": ((h >> np.uint64(21)) % np.uint64(200001)).astype(
                    np.int64
                )
                - 100000,
            }
        )

    ll = F.pandas_udf(_ll_kernel, ll_t)
    traj = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .select(F.col("o_orderkey").alias("seq"))
        .select(
            (F.col("seq") % F.lit(PL_TRAJS)).alias("tid"),
            "seq",
            ll(F.col("seq")).alias("p"),
        )
        .select("tid", "seq", "p.lat5", "p.lng5")
    )
    return encode_trajectories(traj)


def _sql_polyline(n_trajs: int = PL_TRAJS) -> str:
    h = splitmix64_sql("o_orderkey")

    def chunks(v: str) -> str:
        parts = []
        for k in range(7):
            five = f"(({v}) // {1 << (5 * k)}) % 32"
            more = f"({v}) >= {1 << (5 * (k + 1))}"
            here = "TRUE" if k == 0 else f"({v}) >= {1 << (5 * k)}"
            parts.append(
                f"CASE WHEN {more} THEN chr(CAST(({five}) + 95 AS INT))"
                f" WHEN {here} THEN chr(CAST(({five}) + 63 AS INT))"
                f" ELSE '' END"
            )
        return " || ".join(parts)

    return f"""
WITH pts0 AS (
  SELECT o_orderkey % {n_trajs} AS tid, o_orderkey AS seq,
         CAST(({h}) % 200001 AS BIGINT) - 100000 AS lat5,
         CAST((({h}) // 2097152) % 200001 AS BIGINT) - 100000 AS lng5
  FROM orders),
d AS (
  SELECT tid, seq,
         lat5 - COALESCE(lag(lat5) OVER (PARTITION BY tid ORDER BY seq), 0)
           AS dlat,
         lng5 - COALESCE(lag(lng5) OVER (PARTITION BY tid ORDER BY seq), 0)
           AS dlng
  FROM pts0),
z AS (
  SELECT tid, seq,
         CASE WHEN dlat < 0 THEN -2 * dlat - 1 ELSE 2 * dlat END AS zlat,
         CASE WHEN dlng < 0 THEN -2 * dlng - 1 ELSE 2 * dlng END AS zlng
  FROM d),
frag AS (
  SELECT tid, seq, ({chunks('zlat')}) || ({chunks('zlng')}) AS s
  FROM z)
SELECT tid, CAST(COUNT(*) AS BIGINT) AS n_pts,
       string_agg(s, '' ORDER BY seq) AS poly
FROM frag GROUP BY tid
"""


EC_NPOLY = 96


EC_DIRS = (
    (4, 0), (4, 2), (3, 3), (2, 4), (0, 4), (-2, 4), (-3, 3), (-4, 2),
    (-4, 0), (-4, -2), (-3, -3), (-2, -4), (0, -4), (2, -4), (3, -3),
    (4, -2),
)


def q_earcut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ear-clipping tessellation (functions/earcut.py via
    overlay.triangulate_stats — the mapbox/earcut step of MVT
    rendering) with a FULL oracle: 96 star polygons with
    splitmix64-derived radii (reflex corners occur naturally) are
    triangulated by the engine kernel, and DuckDB replays the EXACT
    clip sequence with a list-carrying recursive CTE — first-ear scan
    position, degenerate-corner rule, boundary-blocking containment
    test and all — so triangle count, summed triangle area2 (== ring
    shoelace area2) and the order-sensitive triple hash match
    bit-exactly per polygon."""
    import numpy as np
    import pandas as pd

    from mapnik_vector_tile_spark.operators.overlay import (
        triangulate_stats,
    )
    from mapnik_vector_tile_spark.sources.synth import splitmix64

    ux = np.array([d[0] for d in EC_DIRS], dtype=np.int64)
    uy = np.array([d[1] for d in EC_DIRS], dtype=np.int64)

    def gen(it):
        for pdf in it:
            rows = {"pid": [], "xs": [], "ys": []}
            for pid in pdf["id"]:
                pid = int(pid)
                k = np.arange(16, dtype=np.uint64)
                h = splitmix64(np.uint64(pid * 16) + k)
                r = 1 + (h % np.uint64(64)).astype(np.int64)
                rows["pid"].append(pid)
                rows["xs"].append((r * ux).tolist())
                rows["ys"].append((r * uy).tolist())
            yield pd.DataFrame(rows)

    polys = spark.range(EC_NPOLY).mapInPandas(
        gen, "pid long, xs array<long>, ys array<long>"
    )
    return triangulate_stats(polys)


def _ear_clip_sql(rings: str, cols: str = "") -> str:
    """DuckDB twin of the ear clipper over the `rings` (pid, xs, ys)
    CTE that the CTE chain `rings` ends with: one recursive CTE clips
    an ear per step (active holds 0-based indices, a vertex that
    coincides with the ear's corner does not block it), then per pid
    the triangle count, twice the area and an index hash. `cols` lead
    the select list."""

    def X(v: str) -> str:
        return f"xs[({v}) + 1]"

    def Y(v: str) -> str:
        return f"ys[({v}) + 1]"

    def cr(i: str, j: str, k: str) -> str:
        return (
            f"(({X(j)}) - ({X(i)})) * (({Y(k)}) - ({Y(i)}))"
            f" - (({Y(j)}) - ({Y(i)})) * (({X(k)}) - ({X(i)}))"
        )

    a = "active[CASE WHEN p = 1 THEN len(active) ELSE p - 1 END]"
    b = "active[p]"
    c = "active[CASE WHEN p = len(active) THEN 1 ELSE p + 1 END]"
    s = cr(a, b, c)
    coinc = (
        f"(({X('v')}) = ({X(a)}) AND ({Y('v')}) = ({Y(a)}))"
        f" OR (({X('v')}) = ({X(b)}) AND ({Y('v')}) = ({Y(b)}))"
        f" OR (({X('v')}) = ({X(c)}) AND ({Y('v')}) = ({Y(c)}))"
    )
    blocked = (
        f"len(list_filter(active, v -> v <> ({a}) AND v <> ({b})"
        f" AND v <> ({c}) AND NOT ({coinc})"
        f" AND ({cr(a, b, 'v')}) >= 0"
        f" AND ({cr(b, c, 'v')}) >= 0"
        f" AND ({cr(c, a, 'v')}) >= 0)) > 0"
    )
    ear = f"(({s}) = 0) OR ((({s}) > 0) AND NOT ({blocked}))"
    earpos = f"list_filter(range(1, len(active) + 1), p -> {ear})[1]"
    fincr = cr("active[1]", "active[2]", "active[3]")
    tcr = cr("tri.a", "tri.b", "tri.c")
    return f"""
WITH RECURSIVE{rings},
t(pid, xs, ys, active, tris, step) AS (
  SELECT pid, xs, ys, range(0, len(xs)),
         CAST([] AS STRUCT(a BIGINT, b BIGINT, c BIGINT)[]),
         0
  FROM rings
  UNION ALL
  SELECT pid, xs, ys,
         list_filter(active, (vv, ii) -> ii <> ep) AS active,
         CASE WHEN {cr('ea', 'eb', 'ec')} > 0
              THEN list_append(tris, {{'a': ea, 'b': eb, 'c': ec}})
              ELSE tris END AS tris,
         step + 1
  FROM (
    SELECT s1.*,
           active[CASE WHEN ep = 1 THEN len(active) ELSE ep - 1 END] AS ea,
           active[ep] AS eb,
           active[CASE WHEN ep = len(active) THEN 1 ELSE ep + 1 END] AS ec
    FROM (
      SELECT pid, xs, ys, active, tris, step, {earpos} AS ep
      FROM t WHERE len(active) > 3
    ) s1
  ) s2
),
fin AS (
  SELECT pid, xs, ys,
         CASE WHEN ({fincr}) > 0
              THEN list_append(tris, {{'a': active[1], 'b': active[2],
                                       'c': active[3]}})
              ELSE tris END AS tris
  FROM t WHERE len(active) = 3),
ex AS (
  SELECT pid, xs, ys, g.kk AS kk, tris[g.kk] AS tri
  FROM fin, unnest(generate_series(1, len(tris))) AS g(kk))
SELECT f.pid, {cols}CAST(len(f.xs) AS BIGINT) AS n_pts,
       CAST(COALESCE(MAX(e.kk), 0) AS BIGINT) AS n_tris,
       CAST(COALESCE(SUM({tcr.replace('xs[', 'f.xs[').replace('ys[', 'f.ys[')}), 0) AS BIGINT) AS area2,
       CAST(COALESCE(SUM(e.kk * (tri.a * 16777216 + tri.b * 4096 + tri.c)), 0) % 2305843009213693952 AS BIGINT) AS trih
FROM fin f LEFT JOIN ex e ON e.pid = f.pid AND tri IS NOT NULL
GROUP BY f.pid, f.xs
"""


def _sql_earcut() -> str:
    sm = splitmix64_sql("(pid * 16 + k)")
    dirs = ",".join(f"({k},{dx},{dy})" for k, (dx, dy) in enumerate(EC_DIRS))
    return _ear_clip_sql(f"""
pids AS (SELECT unnest(generate_series(0, {EC_NPOLY - 1})) AS pid),
dirs(k, ux, uy) AS (VALUES {dirs}),
verts AS (
  SELECT pid, k,
         CAST(1 + ({sm}) % 64 AS BIGINT) * ux AS x,
         CAST(1 + ({sm}) % 64 AS BIGINT) * uy AS y
  FROM pids, dirs),
rings AS (
  SELECT pid, list(x ORDER BY k) AS xs, list(y ORDER BY k) AS ys
  FROM verts GROUP BY pid)""")


EC_H_NPOLY = 60


def q_earcut_holes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U13 WITH HOLES: deterministic octagons carrying two CW diamond
    holes (disjoint x-bands, splitmix-derived centers/radii) run
    through eliminate_holes + earcut, and DuckDB replays the ENTIRE
    pipeline — per-hole anchor argmax, rightmost-first order, the
    exact-rational +x ray argmin with its tie rules, the Eberly
    reflex refinement (locally-inside + triangle tests scaled by the
    ray denominator), the duplicate-sector disambiguation, the
    splice, and then the same list-carrying recursive clip CTE (with
    the corner-coincidence exemption the bridge duplicates need) —
    so n_pts, triangle count, area2 (== outer − holes shoelace by
    the tessellation invariant) and the order-sensitive triple hash
    match bit-exactly per polygon."""
    import numpy as np
    import pandas as pd

    from mapnik_vector_tile_spark.operators.overlay import (
        triangulate_holed_stats,
    )
    from mapnik_vector_tile_spark.sources.synth import splitmix64

    def gen(it):
        for pdf in it:
            rows = {"pid": [], "xs": [], "ys": [], "hxs": [], "hys": []}
            for pid in pdf["id"]:
                pid = int(pid)
                h = splitmix64(
                    np.uint64(pid * 8) + np.arange(8, dtype=np.uint64)
                )
                r = 150 + int(h[0]) % 150
                k = (r * 7) // 10
                rows["pid"].append(pid)
                rows["xs"].append([r, k, 0, -k, -r, -k, 0, k])
                rows["ys"].append([0, k, r, k, 0, -k, -r, -k])
                hxs, hys = [], []
                for j, base in ((0, -80), (1, 30)):
                    cx = base + int(h[1 + 3 * j]) % 50
                    cy = -60 + int(h[2 + 3 * j]) % 121
                    rad = 3 + int(h[3 + 3 * j]) % 13
                    hxs.append([cx + rad, cx, cx - rad, cx])
                    hys.append([cy, cy - rad, cy, cy + rad])
                rows["hxs"].append(hxs)
                rows["hys"].append(hys)
            yield pd.DataFrame(rows)

    polys = spark.range(EC_H_NPOLY).mapInPandas(
        gen,
        "pid long, xs array<long>, ys array<long>,"
        " hxs array<array<long>>, hys array<array<long>>",
    )
    return triangulate_holed_stats(polys)


def _sql_earcut_holes() -> str:
    # ---- shared expression builders (all 1-based ring indices) ----
    def qi(e: str) -> str:
        return f"(CASE WHEN ({e}) = len(xs) THEN 1 ELSE ({e}) + 1 END)"

    def pi(e: str) -> str:
        return f"(CASE WHEN ({e}) = 1 THEN len(xs) ELSE ({e}) - 1 END)"

    def lin(v: str) -> str:
        """locally-inside toward (hx, hy) at ring vertex v."""
        pv, nv = pi(v), qi(v)
        s = (
            f"((xs[({v})] - xs[{pv}]) * (ys[{nv}] - ys[{pv}])"
            f" - (ys[({v})] - ys[{pv}]) * (xs[{nv}] - xs[{pv}]))"
        )
        t1 = (
            f"((xs[{nv}] - xs[({v})]) * (hy - ys[({v})])"
            f" - (ys[{nv}] - ys[({v})]) * (hx - xs[({v})]))"
        )
        t2 = (
            f"((hx - xs[({v})]) * (ys[{pv}] - ys[({v})])"
            f" - (hy - ys[({v})]) * (xs[{pv}] - xs[({v})]))"
        )
        return (
            f"(CASE WHEN {s} > 0 THEN ({t1} >= 0 AND {t2} >= 0)"
            f" ELSE ({t1} > 0 OR {t2} > 0) END)"
        )

    def bridge(src: str, out: str, p: str, passthru: str) -> str:
        """CTEs bridging the hole in (hcx, hcy, mi) of `src` into its
        (xs, ys); `passthru` columns are carried verbatim."""
        pt = f", {passthru}" if passthru else ""
        raw = (
            f"xs[e] * (ys[{qi('e')}] - ys[e])"
            f" + (hy - ys[e]) * (xs[{qi('e')}] - xs[e])"
        )
        refl = (
            f"((xs[v] - xs[{pi('v')}]) * (ys[{qi('v')}] - ys[{pi('v')}])"
            f" - (ys[v] - ys[{pi('v')}]) * (xs[{qi('v')}] - xs[{pi('v')}]))"
            " < 0"
        )
        flp = "(CASE WHEN ys[b0] < hy THEN -1 ELSE 1 END)"
        t1c = "((nums[eb] - hx * dens[eb]) * (ys[v] - hy))"
        t2c = (
            "((xs[b0] * dens[eb] - nums[eb]) * (ys[v] - hy)"
            " - (ys[b0] - hy) * (xs[v] * dens[eb] - nums[eb]))"
        )
        t3c = (
            "((hx - xs[b0]) * (ys[v] - ys[b0])"
            " - (hy - ys[b0]) * (xs[v] - xs[b0]))"
        )
        good = (
            f"xs[v] > hx AND v <> b0 AND {refl} AND {lin('v')}"
            f" AND {flp} * {t1c} >= 0 AND {flp} * {t2c} >= 0"
            f" AND {flp} * {t3c} >= 0"
        )
        better = (
            "(abs(ys[w] - hy) * (xs[v] - hx)"
            " < abs(ys[v] - hy) * (xs[w] - hx))"
            " OR (abs(ys[w] - hy) * (xs[v] - hx)"
            "     = abs(ys[v] - hy) * (xs[w] - hx)"
            "     AND (xs[w] < xs[v] OR (xs[w] = xs[v] AND w < v)))"
        )
        ebetter = (
            "(nums[f] * dens[e] < nums[e] * dens[f])"
            " OR (nums[f] * dens[e] = nums[e] * dens[f] AND f < e)"
        )
        return f"""
{p}0 AS (
  SELECT pid, xs, ys, hcx, hcy, mi,
         hcx[mi] AS hx, hcy[mi] AS hy{pt}
  FROM {src}),
{p}1 AS (
  SELECT *,
         list_transform(range(1, len(xs) + 1),
           e -> abs(ys[{qi('e')}] - ys[e])) AS dens,
         list_transform(range(1, len(xs) + 1),
           e -> CASE WHEN ys[{qi('e')}] - ys[e] < 0
                     THEN -({raw}) ELSE ({raw}) END) AS nums
  FROM {p}0),
{p}2 AS (
  SELECT *,
         list_filter(range(1, len(xs) + 1),
           e -> dens[e] <> 0
                AND least(ys[e], ys[{qi('e')}]) <= hy
                AND hy <= greatest(ys[e], ys[{qi('e')}])
                AND nums[e] >= hx * dens[e]) AS cands
  FROM {p}1),
{p}3 AS (
  SELECT *,
         list_filter(cands, e -> len(list_filter(cands,
           f -> {ebetter})) = 0)[1] AS eb
  FROM {p}2),
{p}4 AS (
  SELECT *, {qi('eb')} AS qe FROM {p}3),
{p}5 AS (
  SELECT *,
         CASE WHEN xs[eb] >= xs[qe] THEN eb ELSE qe END AS b0
  FROM {p}4),
{p}6 AS (
  SELECT *,
         list_filter(range(1, len(xs) + 1), v -> {good}) AS goods
  FROM {p}5),
{p}7 AS (
  SELECT *,
         CASE WHEN ys[eb] = hy THEN eb
              WHEN ys[qe] = hy THEN qe
              WHEN ys[b0] = hy THEN b0
              ELSE COALESCE(list_filter(goods,
                     v -> len(list_filter(goods, w -> {better})) = 0
                   )[1], b0)
         END AS bi1
  FROM {p}6),
{p}8 AS (
  SELECT *,
         list_filter(range(1, len(xs) + 1),
           j -> xs[j] = xs[bi1] AND ys[j] = ys[bi1]) AS dups
  FROM {p}7),
{p}9 AS (
  SELECT *,
         CASE WHEN len(dups) > 1
              THEN COALESCE(
                     list_filter(dups, j -> {lin('j')})[1], bi1)
              ELSE bi1 END AS bi
  FROM {p}8),
{out} AS (
  SELECT pid,
         xs[1:bi]
           || list_transform(range(0, len(hcx)),
                t -> hcx[((mi - 1 + t) % len(hcx)) + 1])
           || [hx] || [xs[bi]] || xs[bi + 1:len(xs)] AS xs,
         ys[1:bi]
           || list_transform(range(0, len(hcy)),
                t -> hcy[((mi - 1 + t) % len(hcy)) + 1])
           || [hy] || [ys[bi]] || ys[bi + 1:len(ys)] AS ys{pt}
  FROM {p}9)"""

    def mi_of(hx_l: str, hy_l: str) -> str:
        return (
            f"list_filter(range(1, len({hx_l}) + 1),"
            f" t -> len(list_filter(range(1, len({hx_l}) + 1),"
            f" u -> {hx_l}[u] > {hx_l}[t]"
            f" OR ({hx_l}[u] = {hx_l}[t] AND ({hy_l}[u] > {hy_l}[t]"
            f" OR ({hy_l}[u] = {hy_l}[t] AND u < t))))) = 0)[1]"
        )

    # ---- corpus (replays the Spark generator bit-exactly) ----
    sms = [splitmix64_sql(f"(pid * 8 + {t})") for t in range(8)]

    return _ear_clip_sql(
        f"""
pids AS (SELECT unnest(generate_series(0, {EC_H_NPOLY - 1})) AS pid),
hs AS (
  SELECT pid,
         CAST(150 + ({sms[0]}) % 150 AS BIGINT) AS r,
         CAST(-80 + ({sms[1]}) % 50 AS BIGINT) AS cx0,
         CAST(-60 + ({sms[2]}) % 121 AS BIGINT) AS cy0,
         CAST(3 + ({sms[3]}) % 13 AS BIGINT) AS rad0,
         CAST(30 + ({sms[4]}) % 50 AS BIGINT) AS cx1,
         CAST(-60 + ({sms[5]}) % 121 AS BIGINT) AS cy1,
         CAST(3 + ({sms[6]}) % 13 AS BIGINT) AS rad1
  FROM pids),
holes AS (
  SELECT pid,
         [r, (r * 7) // 10, 0, -((r * 7) // 10), -r,
          -((r * 7) // 10), 0, (r * 7) // 10] AS xs,
         [CAST(0 AS BIGINT), (r * 7) // 10, r, (r * 7) // 10, 0,
          -((r * 7) // 10), -r, -((r * 7) // 10)] AS ys,
         [cx0 + rad0, cx0, cx0 - rad0, cx0] AS h0x,
         [cy0, cy0 - rad0, cy0, cy0 + rad0] AS h0y,
         [cx1 + rad1, cx1, cx1 - rad1, cx1] AS h1x,
         [cy1, cy1 - rad1, cy1, cy1 + rad1] AS h1y
  FROM hs),
hm AS (
  SELECT *, {mi_of('h0x', 'h0y')} AS mi0, {mi_of('h1x', 'h1y')} AS mi1
  FROM holes),
ho AS (
  SELECT pid, xs, ys,
         CASE WHEN f1 THEN h1x ELSE h0x END AS hcx,
         CASE WHEN f1 THEN h1y ELSE h0y END AS hcy,
         CASE WHEN f1 THEN mi1 ELSE mi0 END AS mi,
         CASE WHEN f1 THEN h0x ELSE h1x END AS hnx,
         CASE WHEN f1 THEN h0y ELSE h1y END AS hny,
         CASE WHEN f1 THEN mi0 ELSE mi1 END AS mn
  FROM (
    SELECT *,
           (h1x[mi1] > h0x[mi0]
            OR (h1x[mi1] = h0x[mi0] AND h1y[mi1] > h0y[mi0])) AS f1
    FROM hm)),{bridge('ho', 'ringa', 'ba', 'hnx, hny, mn')},
hb AS (
  SELECT pid, xs, ys, hnx AS hcx, hny AS hcy, mn AS mi
  FROM ringa),{bridge('hb', 'rings', 'bb', '')}""",
        "CAST(2 AS BIGINT) AS n_holes,\n       ",
    )


CK_GROUPS = 200
CK_ROUNDS = 2


def q_chaikin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chaikin smoothing (functions/chaikin.py — 2 rounds on the
    4^R-scaled integer grid, endpoints kept) with a FULL oracle: 200
    trajectories assembled order-stably, both engines run the SAME
    generated array-lambda round expressions; n_out = 4(n_in−1)−...
    is structural, while the Manhattan length and full positional
    hash pin every produced coordinate."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StructField, StructType

    from mapnik_vector_tile_spark.functions.chaikin import (
        manhattan_expr,
        round_expr,
        vhash_expr,
    )

    p_t = StructType(
        [StructField("x", LongType()), StructField("y", LongType())]
    )

    def _pt(k):
        from mapnik_vector_tile_spark.sources.synth import splitmix64

        h = splitmix64(k.to_numpy(np.uint64))
        return pd.DataFrame(
            {
                "x": (h % np.uint64(1024)).astype(np.int64),
                "y": ((h >> np.uint64(10)) % np.uint64(1024)).astype(
                    np.int64
                ),
            }
        )

    pk = F.pandas_udf(_pt, p_t)
    pts = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        (F.col("o_orderkey") % CK_GROUPS).cast("long").alias("g"),
        F.col("o_orderkey").cast("long").alias("id"),
        pk(F.col("o_orderkey").cast("long")).alias("p"),
    )
    lines = (
        pts.groupBy("g")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("id", "p.x", "p.y"))
            ).alias("pp")
        )
        .select(
            "g",
            F.size("pp").cast("long").alias("n_in"),
            F.transform("pp", lambda s: s["x"]).alias("xs"),
            F.transform("pp", lambda s: s["y"]).alias("ys"),
        )
    )
    df = lines
    for _ in range(CK_ROUNDS):
        df = df.selectExpr(
            "g",
            "n_in",
            f"{round_expr('spark', 'xs')} AS xs",
            f"{round_expr('spark', 'ys')} AS ys",
        )
    return df.selectExpr(
        "g",
        "n_in",
        "CAST(size(xs) AS BIGINT) AS n_out",
        f"CAST({manhattan_expr('spark', 'xs', 'ys')} AS BIGINT) AS mlen",
        f"CAST({vhash_expr('spark', 'xs', 'ys')} AS BIGINT) AS vhash",
    )


def _sql_chaikin() -> str:
    from mapnik_vector_tile_spark.functions.chaikin import (
        manhattan_expr,
        round_expr,
        vhash_expr,
    )

    h = splitmix64_sql("o_orderkey")
    q = f"""
WITH raw AS (
  SELECT CAST(o_orderkey % {CK_GROUPS} AS BIGINT) AS g,
         CAST(o_orderkey AS BIGINT) AS id,
         CAST(({h}) % 1024 AS BIGINT) AS x,
         CAST((({h}) // 1024) % 1024 AS BIGINT) AS y
  FROM orders),
lines AS (
  SELECT g, CAST(COUNT(*) AS BIGINT) AS n_in,
         list(x ORDER BY id) AS xs, list(y ORDER BY id) AS ys
  FROM raw GROUP BY g)"""
    src = "lines"
    for r in range(CK_ROUNDS):
        q += f""",
r{r + 1} AS (
  SELECT g, n_in,
         {round_expr('duckdb', 'xs')} AS xs,
         {round_expr('duckdb', 'ys')} AS ys
  FROM {src})"""
        src = f"r{r + 1}"
    q += f"""
SELECT g, n_in, CAST(len(xs) AS BIGINT) AS n_out,
       {manhattan_expr('duckdb', 'xs', 'ys')} AS mlen,
       {vhash_expr('duckdb', 'xs', 'ys')} AS vhash
FROM {src}
"""
    return q


def pairs() -> dict[str, tuple[Callable, str]]:
    """key -> (spark_fn, oracle SQL template)."""
    return {
        "q_convex_hull": (q_convex_hull, _sql_convex_hull()),
        "q_line_merge": (q_line_merge, _sql_line_merge()),
        "q_morphology": (q_morphology, _sql_morphology()),
        "q_polygon_union": (q_polygon_union, _sql_polygon_union()),
        "q_polygon_boolean": (q_polygon_boolean, _sql_polygon_boolean()),
        "q_polyline": (q_polyline, _sql_polyline()),
        "q_earcut": (q_earcut, _sql_earcut()),
        "q_earcut_holes": (q_earcut_holes, _sql_earcut_holes()),
        "q_chaikin": (q_chaikin, _sql_chaikin()),
    }
