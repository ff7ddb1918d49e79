"""Part 5 of the oracle-pair registry (mechanical order-preserving split of the former monolithic oracle_pairs.py; the facade module re-exports everything).  Cross-part names are imported explicitly below — generated, do not hand-edit the import block.

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

from mapnik_vector_tile_spark.plans.oracle_parts.p3 import (  # noqa: F401
    _ENGINE_PAIRS,
)

from pyspark.sql import DataFrame, SparkSession

from mapnik_vector_tile_spark.functions.tilemath import W
from mapnik_vector_tile_spark.plans import shared_sql as S

from mapnik_vector_tile_spark.plans.oracle_parts.p1 import (  # noqa: F401
    _sql_events_tile_window, load_views, splitmix64_sql,
)
from mapnik_vector_tile_spark.plans.oracle_parts.p2 import (  # noqa: F401
    _img_pixel_ctes,
)
from mapnik_vector_tile_spark.plans.oracle_parts.p4 import (  # noqa: F401
    CT_GRID, CV_T, CV_TAPS, TER_T, TER_Z, q_convolve,
)

def _sql_convolve(t: int = CV_T) -> str:
    sm = splitmix64_sql("i")
    ry0 = min(tp[0] for tp in CV_TAPS)
    ry1 = max(tp[0] for tp in CV_TAPS)
    rx0 = min(tp[1] for tp in CV_TAPS)
    rx1 = max(tp[1] for tp in CV_TAPS)
    oh = t - (ry1 - ry0)
    ow = t - (rx1 - rx0)
    taps = ",".join(f"({dy},{dx},{w})" for dy, dx, w in CV_TAPS)
    return f"""
WITH ids AS (SELECT unnest(generate_series(0, 99)) AS i),
hh AS (
  SELECT i, CAST(i % 10 AS BIGINT) AS x, CAST(i // 10 AS BIGINT) AS y,
         CAST(1 + ({sm}) % 13 AS BIGINT) AS a,
         CAST(1 + (({sm}) // 256) % 11 AS BIGINT) AS b,
         CAST((({sm}) // 65536) % 997 AS BIGINT) AS ph
  FROM ids),
px AS MATERIALIZED (
  SELECT x, y, r.v AS rv, c.v AS cv,
         (r.v * a + c.v * b + ph) % 256 AS v
  FROM hh
  CROSS JOIN (SELECT unnest(generate_series(0, {t - 1})) AS v) r
  CROSS JOIN (SELECT unnest(generate_series(0, {t - 1})) AS v) c),
og AS (
  SELECT h.x, h.y, oy.v AS oy, ox.v AS ox
  FROM (SELECT DISTINCT x, y FROM hh) h
  CROSS JOIN (SELECT unnest(generate_series(0, {oh - 1})) AS v) oy
  CROSS JOIN (SELECT unnest(generate_series(0, {ow - 1})) AS v) ox),
resp AS MATERIALIZED (
  SELECT o.x, o.y, o.oy, o.ox,
         CAST(SUM(k.w * p.v) AS BIGINT) AS r
  FROM og o
  CROSS JOIN (VALUES {taps}) k(dy, dx, w)
  JOIN px p ON p.x = o.x AND p.y = o.y
           AND p.rv = o.oy + k.dy - ({ry0})
           AND p.cv = o.ox + k.dx - ({rx0})
  GROUP BY 1, 2, 3, 4)
SELECT CAST(5 AS BIGINT) AS z, x, y,
       CAST({oh * ow} AS BIGINT) AS n_px,
       CAST(SUM(r) AS BIGINT) AS sum_r,
       CAST(SUM(ABS(r)) AS BIGINT) AS sum_abs,
       CAST(MIN(r) AS BIGINT) AS min_r,
       CAST(MAX(r) AS BIGINT) AS max_r,
       CAST(SUM((oy * {ow} + ox + 1) * r) AS BIGINT) AS wsum
FROM resp GROUP BY x, y
"""

_ENGINE_PAIRS["q_convolve"] = (q_convolve, _sql_convolve())

def q_flow_d8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D8 flow direction (raster.flow_direction_tiles) over the
    closed-form Terrain-RGB surface, FULL oracle: DuckDB rebuilds per-
    cell drops with an 8-offset join, applies the identical cross-
    multiplied steepest-descent keys and pinned tie order, and folds
    the same per-(tile, dir) census — one mis-ranked neighbor
    anywhere shifts the hash."""
    import numpy as np
    import pandas as pd

    from mapnik_vector_tile_spark.operators.raster import (
        flow_direction_tiles,
        terrain_rgb_encode,
    )
    from mapnik_vector_tile_spark.sources.synth import splitmix64

    T = TER_T

    def gen(it):
        for pdf in it:
            rows: dict[str, list] = {"z": [], "x": [], "y": [], "raster": []}
            for i in pdf["id"]:
                i = int(i)
                h = int(splitmix64(np.array([i], dtype=np.uint64))[0])
                phase = h % 100003
                r = np.arange(T, dtype=np.int64)
                rr, cc = r[:, None], r[None, :]
                e = ((rr * rr * 5 + cc * cc * 3 + rr * cc * 2 + phase) % 40001) - 10000
                rows["z"].append(TER_Z)
                rows["x"].append(i % 10)
                rows["y"].append(i // 10)
                rows["raster"].append(terrain_rgb_encode(e).tobytes())
            yield pd.DataFrame(rows)

    tiles = spark.range(100).mapInPandas(
        gen, "z long, x long, y long, raster binary"
    )
    return flow_direction_tiles(tiles, T)

def _sql_flow_d8(t: int = TER_T) -> str:
    sm = splitmix64_sql("i")
    e = ("(((r.v * r.v * 5 + c.v * c.v * 3 + r.v * c.v * 2 + phase)"
        " % 40001) - 10000)")
    dirs = ",".join(
        f"({d},{dy},{dx},{1 if diag else 2})"
        for d, (dy, dx), diag in (
            (0, (0, 1), 0), (1, (1, 1), 1), (2, (1, 0), 0),
            (3, (1, -1), 1), (4, (0, -1), 0), (5, (-1, -1), 1),
            (6, (-1, 0), 0), (7, (-1, 1), 1),
        )
    )
    return f"""
WITH ids AS (SELECT unnest(generate_series(0, 99)) AS i),
hh AS (
  SELECT i, CAST(i % 10 AS BIGINT) AS x, CAST(i // 10 AS BIGINT) AS y,
         CAST(({sm}) % 100003 AS BIGINT) AS phase
  FROM ids),
px AS MATERIALIZED (
  SELECT x, y, r.v AS rv, c.v AS cv, {e} AS e
  FROM hh
  CROSS JOIN (SELECT unnest(generate_series(0, {t - 1})) AS v) r
  CROSS JOIN (SELECT unnest(generate_series(0, {t - 1})) AS v) c),
cand AS MATERIALIZED (
  SELECT a.x, a.y, a.rv, a.cv, k.d,
         CASE WHEN a.e - b.e > 0
              THEN k.mult * (a.e - b.e) * (a.e - b.e)
              ELSE 0 END AS key
  FROM px a
  CROSS JOIN (VALUES {dirs}) k(d, dy, dx, mult)
  JOIN px b ON b.x = a.x AND b.y = a.y
           AND b.rv = a.rv + k.dy AND b.cv = a.cv + k.dx
  WHERE a.rv BETWEEN 1 AND {t - 2} AND a.cv BETWEEN 1 AND {t - 2}),
best AS (
  SELECT x, y, rv, cv, d, key,
         row_number() OVER (
           PARTITION BY x, y, rv, cv ORDER BY key DESC, d) AS rn
  FROM cand),
win AS (
  SELECT x, y,
         CASE WHEN key > 0 THEN d ELSE -1 END AS dir,
         CASE WHEN key > 0 THEN key ELSE 0 END AS key
  FROM best WHERE rn = 1)
SELECT CAST({TER_Z} AS BIGINT) AS z, x, y, CAST(dir AS BIGINT) AS dir,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(key) AS BIGINT) AS sum_key
FROM win GROUP BY x, y, dir
"""

_ENGINE_PAIRS["q_flow_d8"] = (q_flow_d8, _sql_flow_d8())

FA_ROUNDS = 8

def q_flow_accum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hop-bounded D8 flow accumulation (raster.flow_accumulation_
    tiles, 8 rounds) over the same quadratic Terrain-RGB surface as
    q_flow_d8, FULL oracle: DuckDB re-derives per-cell drainage edges
    (same window-rank steepest descent) and unrolls the identical 8
    relaxation rounds as MATERIALIZED CTEs."""
    import numpy as np
    import pandas as pd

    from mapnik_vector_tile_spark.operators.raster import (
        flow_accumulation_tiles,
        terrain_rgb_encode,
    )
    from mapnik_vector_tile_spark.sources.synth import splitmix64

    T = TER_T

    def gen(it):
        for pdf in it:
            rows: dict[str, list] = {"z": [], "x": [], "y": [], "raster": []}
            for i in pdf["id"]:
                i = int(i)
                h = int(splitmix64(np.array([i], dtype=np.uint64))[0])
                phase = h % 100003
                r = np.arange(T, dtype=np.int64)
                rr, cc = r[:, None], r[None, :]
                e = ((rr * rr * 5 + cc * cc * 3 + rr * cc * 2 + phase) % 40001) - 10000
                rows["z"].append(TER_Z)
                rows["x"].append(i % 10)
                rows["y"].append(i // 10)
                rows["raster"].append(terrain_rgb_encode(e).tobytes())
            yield pd.DataFrame(rows)

    tiles = spark.range(100).mapInPandas(
        gen, "z long, x long, y long, raster binary"
    )
    return flow_accumulation_tiles(tiles, T, rounds=FA_ROUNDS)

def _sql_flow_accum(t: int = TER_T, rounds: int = FA_ROUNDS) -> str:
    sm = splitmix64_sql("i")
    e = ("(((r.v * r.v * 5 + c.v * c.v * 3 + r.v * c.v * 2 + phase)"
         " % 40001) - 10000)")
    dirs = ",".join(
        f"({d},{dy},{dx},{1 if diag else 2})"
        for d, (dy, dx), diag in (
            (0, (0, 1), 0), (1, (1, 1), 1), (2, (1, 0), 0),
            (3, (1, -1), 1), (4, (0, -1), 0), (5, (-1, -1), 1),
            (6, (-1, 0), 0), (7, (-1, 1), 1),
        )
    )
    oh = t - 2
    relax = []
    for rd in range(1, rounds + 1):
        relax.append(
            f""",
a{rd} AS MATERIALIZED (
  SELECT n.x, n.y, n.cid,
         1 + COALESCE(m.s, 0) AS acc
  FROM cells n
  LEFT JOIN (
    SELECT e.x, e.y, e.dst AS cid, SUM(a.acc) AS s
    FROM edges e
    JOIN a{rd - 1} a ON a.x = e.x AND a.y = e.y AND a.cid = e.src
    GROUP BY e.x, e.y, e.dst) m
    ON m.x = n.x AND m.y = n.y AND m.cid = n.cid)"""
        )
    return f"""
WITH ids AS (SELECT unnest(generate_series(0, 99)) AS i),
hh AS (
  SELECT i, CAST(i % 10 AS BIGINT) AS x, CAST(i // 10 AS BIGINT) AS y,
         CAST(({sm}) % 100003 AS BIGINT) AS phase
  FROM ids),
px AS MATERIALIZED (
  SELECT x, y, r.v AS rv, c.v AS cv, {e} AS e
  FROM hh
  CROSS JOIN (SELECT unnest(generate_series(0, {t - 1})) AS v) r
  CROSS JOIN (SELECT unnest(generate_series(0, {t - 1})) AS v) c),
cand AS MATERIALIZED (
  SELECT a.x, a.y, a.rv, a.cv, k.d, k.dy, k.dx,
         CASE WHEN a.e - b.e > 0
              THEN k.mult * (a.e - b.e) * (a.e - b.e)
              ELSE 0 END AS key
  FROM px a
  CROSS JOIN (VALUES {dirs}) k(d, dy, dx, mult)
  JOIN px b ON b.x = a.x AND b.y = a.y
           AND b.rv = a.rv + k.dy AND b.cv = a.cv + k.dx
  WHERE a.rv BETWEEN 1 AND {t - 2} AND a.cv BETWEEN 1 AND {t - 2}),
best AS MATERIALIZED (
  SELECT x, y, rv, cv, d, dy, dx, key,
         row_number() OVER (
           PARTITION BY x, y, rv, cv ORDER BY key DESC, d) AS rn
  FROM cand),
cells AS MATERIALIZED (
  SELECT x, y, (rv - 1) * {oh} + (cv - 1) AS cid
  FROM best WHERE rn = 1),
edges AS MATERIALIZED (
  SELECT x, y,
         (rv - 1) * {oh} + (cv - 1) AS src,
         (rv - 1 + dy) * {oh} + (cv - 1 + dx) AS dst
  FROM best
  WHERE rn = 1 AND key > 0
    AND rv + dy BETWEEN 1 AND {t - 2}
    AND cv + dx BETWEEN 1 AND {t - 2}),
a0 AS (SELECT x, y, cid, CAST(1 AS BIGINT) AS acc FROM cells)
{''.join(relax)}
SELECT CAST({TER_Z} AS BIGINT) AS z, x, y,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(acc) AS BIGINT) AS sum_acc,
       CAST(MAX(acc) AS BIGINT) AS max_acc,
       CAST(SUM((cid + 1) * acc) AS BIGINT) AS wsum
FROM a{rounds} GROUP BY x, y
"""

_ENGINE_PAIRS["q_flow_accum"] = (q_flow_accum, _sql_flow_accum())

HF_GROUPS = 150

def q_hausdorff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric Hausdorff (temporal.hausdorff_pairs) with a FULL
    oracle: 150 order-derived trajectories paired (g, g+75); both
    engines fold the identical max-of-min squared-integer distances."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StructField, StructType

    from mapnik_vector_tile_spark.operators.temporal import hausdorff_pairs

    p_t = StructType(
        [StructField("x", LongType()), StructField("y", LongType())]
    )

    def _pt(k):
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

    pk = F.pandas_udf(_pt, p_t)
    pts = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        (F.col("o_orderkey") % HF_GROUPS).cast("long").alias("tid"),
        pk(F.col("o_orderkey").cast("long")).alias("p"),
    ).select("tid", "p.x", "p.y")
    half = HF_GROUPS // 2
    pairs = spark.range(half).select(
        F.col("id").cast("long").alias("ta"),
        (F.col("id") + half).cast("long").alias("tb"),
    )
    return hausdorff_pairs(pts, pairs)

def _sql_hausdorff() -> str:
    h = splitmix64_sql("o_orderkey")
    half = HF_GROUPS // 2
    return f"""
WITH pts AS (
  SELECT CAST(o_orderkey % {HF_GROUPS} AS BIGINT) AS tid,
         CAST(({h}) % 4096 AS BIGINT) AS x,
         CAST((({h}) // 4096) % 4096 AS BIGINT) AS y
  FROM orders),
pairs AS (
  SELECT CAST(i AS BIGINT) AS ta, CAST(i + {half} AS BIGINT) AS tb
  FROM (SELECT unnest(generate_series(0, {half - 1})) AS i)),
dab AS (
  SELECT p.ta, p.tb, a.x AS ax, a.y AS ay,
         MIN((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y))
           AS mind2
  FROM pairs p
  JOIN pts a ON a.tid = p.ta
  JOIN pts b ON b.tid = p.tb
  GROUP BY 1, 2, 3, 4),
hab AS (
  SELECT ta, tb, CAST(MAX(mind2) AS BIGINT) AS h_ab
  FROM dab GROUP BY 1, 2),
dba AS (
  SELECT p.ta, p.tb, b.x AS bx, b.y AS by,
         MIN((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y))
           AS mind2
  FROM pairs p
  JOIN pts a ON a.tid = p.ta
  JOIN pts b ON b.tid = p.tb
  GROUP BY 1, 2, 3, 4),
hba AS (
  SELECT ta, tb, CAST(MAX(mind2) AS BIGINT) AS h_ba
  FROM dba GROUP BY 1, 2)
SELECT hab.ta, hab.tb, hab.h_ab, hba.h_ba,
       GREATEST(hab.h_ab, hba.h_ba) AS h_sym
FROM hab JOIN hba ON hba.ta = hab.ta AND hba.tb = hab.tb
"""

_ENGINE_PAIRS["q_hausdorff"] = (q_hausdorff, _sql_hausdorff())

IMG_HM_N = 150

def q_hist_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram matching to the closed-form triangular reference,
    FULL oracle: DuckDB rebuilds the luma histogram and cdf with
    windows, derives the lut by the same cross-multiplied min-t rule,
    and re-walks every pixel through it — positional wsum pins the
    whole mapped plane."""
    from mapnik_vector_tile_spark.operators.raster import (
        histogram_match_stats,
    )
    from mapnik_vector_tile_spark.sources.synth import images_df

    return histogram_match_stats(images_df(spark, IMG_HM_N))

def _sql_hist_match(n: int = IMG_HM_N) -> str:
    from mapnik_vector_tile_spark.operators.raster import HM_REF_DEN

    return f"""
WITH {_img_pixel_ctes(n)},
lum AS MATERIALIZED (
  SELECT i, w, h, y, x, (r * 77 + g * 151 + b * 28) // 256 AS g8
  FROM chan
),
np_ AS (SELECT i, CAST(COUNT(*) AS BIGINT) AS n FROM lum GROUP BY i),
hist AS (
  SELECT i, g8 AS v, CAST(COUNT(*) AS BIGINT) AS c
  FROM lum GROUP BY i, g8),
cdf AS (
  SELECT i, v, CAST(SUM(c) OVER (
    PARTITION BY i ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT)
    AS cdf
  FROM hist),
reft AS (
  SELECT CAST(t AS BIGINT) AS t,
         CAST((t + 1) * (t + 2) // 2 AS BIGINT) AS num
  FROM (SELECT unnest(generate_series(0, 255)) AS t)),
lut AS MATERIALIZED (
  SELECT c.i, c.v, CAST(MIN(r.t) AS BIGINT) AS m
  FROM cdf c
  JOIN np_ ON np_.i = c.i
  JOIN reft r ON r.num * np_.n >= c.cdf * {HM_REF_DEN}
  GROUP BY c.i, c.v),
mapped AS (
  SELECT l.i, l.w, l.y, l.x, lut.m
  FROM lum l JOIN lut ON lut.i = l.i AND lut.v = l.g8)
SELECT 'img_' || lpad(CAST(d.i AS VARCHAR), 12, '0') AS image_id,
       np_.n AS n_px,
       CAST(SUM(mp.m) AS BIGINT) AS sum_m,
       CAST(MAX(mp.m) AS BIGINT) AS max_m,
       CAST(SUM((mp.y * mp.w + mp.x + 1) * mp.m) AS BIGINT) AS wsum,
       caps.caption AS caption
FROM dims d
JOIN np_ ON np_.i = d.i
JOIN mapped mp ON mp.i = d.i
JOIN caps ON caps.i = d.i
GROUP BY d.i, np_.n, caps.caption
"""

_ENGINE_PAIRS["q_hist_match"] = (q_hist_match, _sql_hist_match())

def q_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting (graph.triangle_count) on the king-move road
    lattice (dense in diagonal triangles by construction), FULL
    oracle: DuckDB replays the oriented wedge+closure joins."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StructField, StructType

    from mapnik_vector_tile_spark.operators.graph import triangle_count

    e_t = StructType(
        [
            StructField("u", LongType()),
            StructField("v", LongType()),
            StructField("keep", LongType()),
        ]
    )

    def _edge_kernel(k):
        from mapnik_vector_tile_spark.sources.synth import splitmix64

        h = splitmix64(k.to_numpy(np.uint64))
        x = (h % np.uint64(64)).astype(np.int64)
        y = ((h >> np.uint64(6)) % np.uint64(64)).astype(np.int64)
        dx = ((h >> np.uint64(12)) % np.uint64(3)).astype(np.int64) - 1
        dy = ((h >> np.uint64(14)) % np.uint64(3)).astype(np.int64) - 1
        return pd.DataFrame(
            {
                "u": x * 256 + y,
                "v": (x + dx) * 256 + (y + dy),
                "keep": ((dx != 0) | (dy != 0)).astype(np.int64),
            }
        )

    ek = F.pandas_udf(_edge_kernel, e_t)
    e1 = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .select(ek(F.col("o_orderkey")).alias("e"))
        .select("e.u", "e.v", "e.keep")
        .filter(F.col("keep") == 1)
        .drop("keep")
    )
    return triangle_count(e1)

def _sql_triangles() -> str:
    h = splitmix64_sql("o_orderkey")
    return f"""
WITH e0 AS MATERIALIZED (
  SELECT CAST(({h}) % 64 AS BIGINT) AS x,
         CAST((({h}) // 64) % 64 AS BIGINT) AS y,
         CAST((({h}) // 4096) % 3 AS BIGINT) - 1 AS dx,
         CAST((({h}) // 16384) % 3 AS BIGINT) - 1 AS dy
  FROM orders),
e1 AS MATERIALIZED (
  SELECT x * 256 + y AS u, (x + dx) * 256 + (y + dy) AS v
  FROM e0 WHERE dx <> 0 OR dy <> 0),
e AS MATERIALIZED (
  SELECT DISTINCT LEAST(u, v) AS a, GREATEST(u, v) AS b
  FROM e1 WHERE u <> v),
w AS MATERIALIZED (
  SELECT e1.a, e1.b, e2.b AS c
  FROM e e1 JOIN e e2 ON e2.a = e1.b),
tri AS (
  SELECT COUNT(*) AS n FROM w
  JOIN e e3 ON e3.a = w.a AND e3.b = w.c)
SELECT CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_edges,
       CAST((SELECT COUNT(*) FROM w) AS BIGINT) AS n_wedges,
       CAST((SELECT n FROM tri) AS BIGINT) AS n_triangles
"""

_ENGINE_PAIRS["q_triangles"] = (q_triangles, _sql_triangles())

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

_ENGINE_PAIRS["q_style_stops"] = (q_style_stops, _style_query("duckdb"))

ED_ROUNDS = 4

def q_erosion_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Erosion depth (geostats.erosion_depth, 4 rounds) over the z5
    occupancy grid of order points, FULL oracle: DuckDB unrolls the
    identical rounds (left-join neighbor min with missing→boundary)
    as MATERIALIZED CTEs and folds the same per-depth histogram +
    lexicomin pole cells."""
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.functions.tilemath import W
    from mapnik_vector_tile_spark.operators.geostats import erosion_depth
    from mapnik_vector_tile_spark.plans.flagship import derive_points

    z = 5
    span = 2.0 * W / (1 << z)
    pts = derive_points(
        spark.read.parquet(f"{sf_dir}/orders.parquet"), "o_orderkey"
    )
    cells = pts.select(
        F.floor((F.col("mx") + F.lit(W)) / F.lit(span)).cast("long").alias("cx"),
        F.floor((F.lit(W) - F.col("my")) / F.lit(span)).cast("long").alias("cy"),
    ).distinct()
    return erosion_depth(cells, rounds=ED_ROUNDS)

def _sql_erosion_depth(rounds: int = ED_ROUNDS) -> str:
    txe, tye = S.tile_xy_exprs(5)
    offs = ",".join(
        f"({dx},{dy})"
        for dx, dy in (
            (1, 0), (-1, 0), (0, 1), (0, -1),
            (1, 1), (1, -1), (-1, 1), (-1, -1),
        )
    )
    body = []
    for r in range(1, rounds + 1):
        body.append(
            f""",
d{r} AS MATERIALIZED (
  SELECT b.cx, b.cy,
         CASE WHEN m.n_found < 8 THEN 1 ELSE 1 + m.nbrmin END AS d
  FROM cells b
  JOIN (
    SELECT p.cx, p.cy, MIN(n.d) AS nbrmin,
           SUM(CASE WHEN n.d IS NULL THEN 0 ELSE 1 END) AS n_found
    FROM cells p
    CROSS JOIN (VALUES {offs}) o(dx, dy)
    LEFT JOIN d{r - 1} n
      ON n.cx = p.cx + o.dx AND n.cy = p.cy + o.dy
    GROUP BY p.cx, p.cy) m
    ON m.cx = b.cx AND m.cy = b.cy)"""
        )
    return f"""
WITH {S.point_cte('orders', 'o_orderkey')},
cells AS MATERIALIZED (
  SELECT DISTINCT {txe} AS cx, {tye} AS cy FROM pts),
d0 AS (SELECT cx, cy, CAST(1 AS BIGINT) AS d FROM cells)
{''.join(body)}
SELECT CAST(d AS BIGINT) AS d, CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(MIN(cx) AS BIGINT) AS px,
       CAST(MIN(struct_pack(cx := cx, cy := cy)).cy AS BIGINT) AS py
FROM d{rounds} GROUP BY d
"""

_ENGINE_PAIRS["q_erosion_depth"] = (q_erosion_depth, _sql_erosion_depth())

CM_PAIRS = 60

def q_cutmix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CutMix (raster.cutmix_stats) over 120 canonical images paired
    (i, i+60), FULL oracle: DuckDB regenerates both pixel planes,
    derives the same splitmix patch geometry over the shared
    dimension window, and replays the paste — mix ratios, patch
    areas, the positional wsum of every mixed plane, and the
    concatenated captions all under one hash."""
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.operators.raster import cutmix_stats
    from mapnik_vector_tile_spark.sources.synth import images_df

    imgs = images_df(spark, CM_PAIRS * 2)
    pairs = spark.range(CM_PAIRS).select(
        F.col("id").cast("long").alias("pair_id"),
        F.format_string("img_%012d", F.col("id")).alias("ida"),
        F.format_string("img_%012d", F.col("id") + CM_PAIRS).alias("idb"),
    )
    return cutmix_stats(imgs, pairs)

def _sql_cutmix(k: int = CM_PAIRS) -> str:
    sm = splitmix64_sql("pid")
    return f"""
WITH {_img_pixel_ctes(k * 2)},
lum AS MATERIALIZED (
  SELECT i, w, h, y, x, (r * 77 + g * 151 + b * 28) // 256 AS g8
  FROM chan
),
prs AS (
  SELECT CAST(p AS BIGINT) AS pid, CAST(p AS BIGINT) AS ia,
         CAST(p + {k} AS BIGINT) AS ib
  FROM (SELECT unnest(generate_series(0, {k - 1})) AS p)),
geo AS MATERIALIZED (
  SELECT prs.pid, prs.ia, prs.ib,
         da.w AS wa, da.h AS ha,
         1 + ({sm}) % GREATEST(1, LEAST(da.w, db.w) // 2) AS pw,
         1 + (({sm}) // 256) % GREATEST(1, LEAST(da.h, db.h) // 2) AS ph,
         LEAST(da.w, db.w) AS mw, LEAST(da.h, db.h) AS mh,
         ({sm}) // 65536 AS h16, ({sm}) // 16777216 AS h24
  FROM prs
  JOIN dims da ON da.i = prs.ia
  JOIN dims db ON db.i = prs.ib),
geo2 AS MATERIALIZED (
  SELECT pid, ia, ib, wa, ha, pw, ph,
         CAST(h16 % (mw - pw + 1) AS BIGINT) AS x0,
         CAST(h24 % (mh - ph + 1) AS BIGINT) AS y0
  FROM geo),
mixed AS (
  SELECT g.pid, g.wa, la.y, la.x,
         CASE WHEN la.x >= g.x0 AND la.x < g.x0 + g.pw
               AND la.y >= g.y0 AND la.y < g.y0 + g.ph
              THEN lb.g8 ELSE la.g8 END AS m
  FROM geo2 g
  JOIN lum la ON la.i = g.ia
  LEFT JOIN lum lb ON lb.i = g.ib AND lb.y = la.y AND lb.x = la.x)
SELECT g.pid AS pair_id,
       CAST(g.wa * g.ha - g.pw * g.ph AS BIGINT) AS lam_num,
       CAST(g.wa * g.ha AS BIGINT) AS lam_den,
       CAST(g.pw * g.ph AS BIGINT) AS patch_area,
       CAST(SUM((mx.y * mx.wa + mx.x + 1) * mx.m) AS BIGINT) AS wsum,
       ca.caption || ' | ' || cb.caption AS caption
FROM geo2 g
JOIN mixed mx ON mx.pid = g.pid
JOIN caps ca ON ca.i = g.ia
JOIN caps cb ON cb.i = g.ib
GROUP BY g.pid, g.wa, g.ha, g.pw, g.ph, ca.caption, cb.caption
"""

_ENGINE_PAIRS["q_cutmix"] = (q_cutmix, _sql_cutmix())

def q_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini concentration (geostats.gini_concentration) over the z6
    occupancy counts of order points, FULL oracle: rank-weighted
    integer numerator/denominator replayed exactly; the derived
    double uses one pinned expression shape."""
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.functions.tilemath import W
    from mapnik_vector_tile_spark.operators.geostats import (
        gini_concentration,
    )
    from mapnik_vector_tile_spark.plans.flagship import derive_points

    z = 6
    span = 2.0 * W / (1 << z)
    pts = derive_points(
        spark.read.parquet(f"{sf_dir}/orders.parquet"), "o_orderkey"
    )
    cells = pts.select(
        F.floor((F.col("mx") + F.lit(W)) / F.lit(span)).cast("long").alias("cx"),
        F.floor((F.lit(W) - F.col("my")) / F.lit(span)).cast("long").alias("cy"),
    ).groupBy("cx", "cy").agg(F.count(F.lit(1)).cast("long").alias("c"))
    return gini_concentration(cells)

def _sql_gini() -> str:
    txe, tye = S.tile_xy_exprs(6)
    return f"""
WITH {S.point_cte('orders', 'o_orderkey')},
cells AS (
  SELECT {txe} AS cx, {tye} AS cy, CAST(COUNT(*) AS BIGINT) AS c
  FROM pts GROUP BY 1, 2),
rk AS (
  SELECT c, CAST(row_number() OVER (ORDER BY c, cx, cy) AS BIGINT) AS i
  FROM cells),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
              CAST(SUM(c) AS BIGINT) AS total FROM rk),
num AS (
  SELECT CAST(SUM((2 * rk.i - nn.n - 1) * rk.c) AS BIGINT) AS num
  FROM rk CROSS JOIN nn)
SELECT nn.n AS n_cells, nn.total, num.num,
       CAST(nn.n * nn.total AS BIGINT) AS den,
       CAST(num.num AS DOUBLE) / CAST(nn.n * nn.total AS DOUBLE)
         AS gini_dbl
FROM nn CROSS JOIN num
"""

_ENGINE_PAIRS["q_gini"] = (q_gini, _sql_gini())

def q_quadtree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quadtree decomposition (raster.quadtree_stats, tau=24) over
    closed-form uint8 tiles mixing smooth gradients with hash noise
    patches (so splits genuinely vary by depth), FULL oracle: DuckDB
    rebuilds every depth's block max/min by integer-division grouping
    and replays the shallowest-homogeneous-ancestor leaf rule."""
    import numpy as np
    import pandas as pd

    from mapnik_vector_tile_spark.operators.raster import quadtree_stats
    from mapnik_vector_tile_spark.sources.synth import splitmix64

    T = 16

    def gen(it):
        for pdf in it:
            rows = {"z": [], "x": [], "y": [], "raster": []}
            for i in pdf["id"]:
                i = int(i)
                h = int(splitmix64(np.array([i], dtype=np.uint64))[0])
                a = h % 3
                ph = (h >> 8) % 251
                r = np.arange(T, dtype=np.int64)
                # smooth base + a noisy quadrant: (r*a + ph) plus
                # per-pixel hash noise where (r//8 + c//8) is odd
                base = (r[:, None] * a + r[None, :] * a + ph) % 256
                ns = np.arange(T * T, dtype=np.uint64) + np.uint64(
                    i * 65537
                )
                # modulo in uint64 BEFORE the signed cast — int64(h) of
                # a top-bit-set hash is negative and flips the residue
                noise = (
                    (splitmix64(ns) % np.uint64(97))
                    .astype(np.int64)
                    .reshape(T, T)
                )
                quad = ((r[:, None] // 8 + r[None, :] // 8) % 2) == 1
                v = np.where(quad, (base + noise) % 256, base)
                rows["z"].append(5)
                rows["x"].append(i % 10)
                rows["y"].append(i // 10)
                rows["raster"].append(v.astype(np.uint8).tobytes())
            yield pd.DataFrame(rows)

    tiles = spark.range(100).mapInPandas(
        gen, "z long, x long, y long, raster binary"
    )
    return quadtree_stats(tiles, T)

def _sql_quadtree(t: int = 16, tau: int = 24) -> str:
    sm = splitmix64_sql("i")
    smn = splitmix64_sql("(r.v * 16 + c.v + i * 65537)")
    # per-depth leaf CTEs: homog(d) from block grouping, anc via
    # parent-chain joins
    parts = []
    for d in range(5):
        nb = 1 << d
        bs = t // nb
        anc_pred = " OR ".join(
            f"h{dd}.homog" for dd in range(d)
        ) or "FALSE"
        joins = "\n".join(
            f"  JOIN hb{dd} h{dd} ON h{dd}.x = b.x AND h{dd}.y = b.y"
            f" AND h{dd}.br = b.br // {1 << (d - dd)}"
            f" AND h{dd}.bc = b.bc // {1 << (d - dd)}"
            for dd in range(d)
        )
        parts.append(
            f""",
hb{d} AS MATERIALIZED (
  SELECT x, y, rv // {bs} AS br, cv // {bs} AS bc,
         (MAX(v) - MIN(v)) <= {tau} AS homog
  FROM px GROUP BY 1, 2, 3, 4),
lv{d} AS (
  SELECT b.x, b.y, CAST({d} AS BIGINT) AS depth,
         CAST(COUNT(CASE WHEN b.homog AND NOT ({anc_pred})
                    THEN 1 END) AS BIGINT) AS n_leaves,
         CAST(COALESCE(SUM(CASE WHEN b.homog AND NOT ({anc_pred})
                    THEN b.br * {nb} + b.bc + 1 END), 0) AS BIGINT)
           AS wsum
  FROM hb{d} b
{joins}
  GROUP BY b.x, b.y)"""
        )
    un = "\nUNION ALL\n".join(
        f"SELECT * FROM lv{d}" for d in range(5)
    )
    return f"""
WITH ids AS (SELECT unnest(generate_series(0, 99)) AS i),
hh AS (
  SELECT i, CAST(i % 10 AS BIGINT) AS x, CAST(i // 10 AS BIGINT) AS y,
         CAST(({sm}) % 3 AS BIGINT) AS a,
         CAST((({sm}) // 256) % 251 AS BIGINT) AS ph
  FROM ids),
px AS MATERIALIZED (
  SELECT x, y, r.v AS rv, c.v AS cv,
         CASE WHEN (r.v // 8 + c.v // 8) % 2 = 1
              THEN ((r.v * a + c.v * a + ph) % 256
                    + ({smn}) % 97) % 256
              ELSE (r.v * a + c.v * a + ph) % 256 END AS v
  FROM hh
  CROSS JOIN (SELECT unnest(generate_series(0, {t - 1})) AS v) r
  CROSS JOIN (SELECT unnest(generate_series(0, {t - 1})) AS v) c){''.join(parts)}
SELECT CAST(5 AS BIGINT) AS z, x, y, depth, n_leaves, wsum
FROM ({un})
"""

_ENGINE_PAIRS["q_quadtree"] = (q_quadtree, _sql_quadtree())

WS_DOUBLING = 8  # full coverage: ceil(log2(14*14)) for the 16px corpus

def q_watershed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watershed basins (raster.watershed_tiles) over the quadratic
    Terrain-RGB surface, FULL oracle: DuckDB re-derives the D8
    pointers and unrolls the SAME 8 doubling rounds (root of root —
    2^8 hops ≥ the 196-cell interior, so every path fully resolves)
    as MATERIALIZED CTEs, then folds the identical basin census."""
    import numpy as np
    import pandas as pd

    from mapnik_vector_tile_spark.operators.raster import (
        terrain_rgb_encode,
        watershed_tiles,
    )
    from mapnik_vector_tile_spark.sources.synth import splitmix64

    T = TER_T

    def gen(it):
        for pdf in it:
            rows: dict[str, list] = {"z": [], "x": [], "y": [], "raster": []}
            for i in pdf["id"]:
                i = int(i)
                h = int(splitmix64(np.array([i], dtype=np.uint64))[0])
                phase = h % 100003
                r = np.arange(T, dtype=np.int64)
                rr, cc = r[:, None], r[None, :]
                e = ((rr * rr * 5 + cc * cc * 3 + rr * cc * 2 + phase) % 40001) - 10000
                rows["z"].append(TER_Z)
                rows["x"].append(i % 10)
                rows["y"].append(i // 10)
                rows["raster"].append(terrain_rgb_encode(e).tobytes())
            yield pd.DataFrame(rows)

    tiles = spark.range(100).mapInPandas(
        gen, "z long, x long, y long, raster binary"
    )
    return watershed_tiles(tiles, T, doubling_rounds=WS_DOUBLING)

def _sql_watershed(t: int = TER_T, rounds: int = WS_DOUBLING) -> str:
    sm = splitmix64_sql("i")
    e = ("(((r.v * r.v * 5 + c.v * c.v * 3 + r.v * c.v * 2 + phase)"
         " % 40001) - 10000)")
    dirs = ",".join(
        f"({d},{dy},{dx},{1 if diag else 2})"
        for d, (dy, dx), diag in (
            (0, (0, 1), 0), (1, (1, 1), 1), (2, (1, 0), 0),
            (3, (1, -1), 1), (4, (0, -1), 0), (5, (-1, -1), 1),
            (6, (-1, 0), 0), (7, (-1, 1), 1),
        )
    )
    oh = t - 2
    body = []
    for rd in range(1, rounds + 1):
        body.append(
            f""",
rt{rd} AS MATERIALIZED (
  SELECT a.x, a.y, a.cid, b.root
  FROM rt{rd - 1} a
  JOIN rt{rd - 1} b ON b.x = a.x AND b.y = a.y AND b.cid = a.root)"""
        )
    return f"""
WITH ids AS (SELECT unnest(generate_series(0, 99)) AS i),
hh AS (
  SELECT i, CAST(i % 10 AS BIGINT) AS x, CAST(i // 10 AS BIGINT) AS y,
         CAST(({sm}) % 100003 AS BIGINT) AS phase
  FROM ids),
px AS MATERIALIZED (
  SELECT x, y, r.v AS rv, c.v AS cv, {e} AS e
  FROM hh
  CROSS JOIN (SELECT unnest(generate_series(0, {t - 1})) AS v) r
  CROSS JOIN (SELECT unnest(generate_series(0, {t - 1})) AS v) c),
cand AS MATERIALIZED (
  SELECT a.x, a.y, a.rv, a.cv, k.d, k.dy, k.dx,
         CASE WHEN a.e - b.e > 0
              THEN k.mult * (a.e - b.e) * (a.e - b.e)
              ELSE 0 END AS key
  FROM px a
  CROSS JOIN (VALUES {dirs}) k(d, dy, dx, mult)
  JOIN px b ON b.x = a.x AND b.y = a.y
           AND b.rv = a.rv + k.dy AND b.cv = a.cv + k.dx
  WHERE a.rv BETWEEN 1 AND {t - 2} AND a.cv BETWEEN 1 AND {t - 2}),
best AS MATERIALIZED (
  SELECT x, y, rv, cv, d, dy, dx, key,
         row_number() OVER (
           PARTITION BY x, y, rv, cv ORDER BY key DESC, d) AS rn
  FROM cand),
rt0 AS MATERIALIZED (
  SELECT x, y, (rv - 1) * {oh} + (cv - 1) AS cid,
         CASE WHEN key > 0
               AND rv + dy BETWEEN 1 AND {t - 2}
               AND cv + dx BETWEEN 1 AND {t - 2}
              THEN (rv - 1 + dy) * {oh} + (cv - 1 + dx)
              ELSE (rv - 1) * {oh} + (cv - 1) END AS root
  FROM best WHERE rn = 1){''.join(body)},
basins AS (
  SELECT x, y, root, CAST(COUNT(*) AS BIGINT) AS sz
  FROM rt{rounds} GROUP BY x, y, root)
SELECT CAST({TER_Z} AS BIGINT) AS z, x, y,
       CAST(COUNT(*) AS BIGINT) AS n_basins,
       CAST(MAX(sz) AS BIGINT) AS max_size,
       CAST(SUM(root * sz) AS BIGINT) AS wsum
FROM basins GROUP BY x, y
"""

_ENGINE_PAIRS["q_watershed"] = (q_watershed, _sql_watershed())

def q_hourly_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-week profiles (geostats.hourly_profiles) over events
    located on the cotravel 4-grid, FULL oracle: identical integer
    hour-of-week fold, argmax peak with earlier-hour ties, profile
    witness."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StructField, StructType

    from mapnik_vector_tile_spark.operators.geostats import hourly_profiles

    c_t = StructType(
        [StructField("cx", LongType()), StructField("cy", LongType())]
    )

    def _cell_kernel(k):
        from mapnik_vector_tile_spark.sources.synth import splitmix64

        h = splitmix64(k.to_numpy(np.uint64))
        return pd.DataFrame(
            {
                "cx": (h % np.uint64(4)).astype(np.int64),
                "cy": ((h >> np.uint64(8)) % np.uint64(4)).astype(
                    np.int64
                ),
            }
        )

    ck = F.pandas_udf(_cell_kernel, c_t)
    loc = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.floor(F.unix_timestamp("ts")).cast("long").alias("t"),
        ck(F.col("event_id")).alias("c"),
    ).select("c.cx", "c.cy", "t")
    return hourly_profiles(loc)

def _sql_hourly_profile() -> str:
    h = splitmix64_sql("event_id")
    return f"""
WITH loc AS (
  SELECT CAST(({h}) % 4 AS BIGINT) AS cx,
         CAST((({h}) // 256) % 4 AS BIGINT) AS cy,
         (CAST(floor(epoch(ts)) AS BIGINT) // 3600) % 168 AS how
  FROM events),
cnt AS (
  SELECT cx, cy, how, CAST(COUNT(*) AS BIGINT) AS c
  FROM loc GROUP BY 1, 2, 3)
SELECT cx, cy,
       CAST(SUM(c) AS BIGINT) AS n_events,
       CAST(COUNT(*) AS BIGINT) AS n_hours,
       CAST(-MAX(struct_pack(c := c, nh := -how)).nh AS BIGINT)
         AS peak_how,
       CAST(MAX(struct_pack(c := c, nh := -how)).c AS BIGINT)
         AS peak_n,
       CAST(SUM((how + 1) * c) AS BIGINT) AS phash
FROM cnt GROUP BY cx, cy
"""

_ENGINE_PAIRS["q_hourly_profile"] = (q_hourly_profile, _sql_hourly_profile())

KX_TAU = 3600

def q_knox(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Knox ingredients (geostats.knox_ingredients, tau 1h, same-z5-
    cell spatial closeness) over located events, FULL oracle: DuckDB
    recomputes C(n,2)/per-cell C(n_c,2) closed-form and the two
    bucket-join pair counts with the identical later-time dedup."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StructField, StructType

    from mapnik_vector_tile_spark.operators.geostats import knox_ingredients

    c_t = StructType(
        [StructField("cx", LongType()), StructField("cy", LongType())]
    )

    def _cell_kernel(k):
        from mapnik_vector_tile_spark.sources.synth import splitmix64

        h = splitmix64(k.to_numpy(np.uint64))
        return pd.DataFrame(
            {
                "cx": (h % np.uint64(32)).astype(np.int64),
                "cy": ((h >> np.uint64(8)) % np.uint64(32)).astype(
                    np.int64
                ),
            }
        )

    ck = F.pandas_udf(_cell_kernel, c_t)
    loc = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.floor(F.unix_timestamp("ts")).cast("long").alias("t"),
        F.col("event_id").cast("long").alias("eid"),
        ck(F.col("event_id")).alias("c"),
    ).select("c.cx", "c.cy", "t", "eid")
    return knox_ingredients(loc, KX_TAU)

def _sql_knox(tau: int = KX_TAU) -> str:
    h = splitmix64_sql("event_id")
    return f"""
WITH ev AS MATERIALIZED (
  SELECT CAST(({h}) % 32 AS BIGINT) AS cx,
         CAST((({h}) // 256) % 32 AS BIGINT) AS cy,
         CAST(floor(epoch(ts)) AS BIGINT) AS t,
         CAST(event_id AS BIGINT) AS eid,
         CAST(floor(epoch(ts)) AS BIGINT) // {tau} AS b
  FROM events),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM ev),
ns AS (
  SELECT CAST(SUM(c * (c - 1) // 2) AS BIGINT) AS n_s
  FROM (SELECT COUNT(*) AS c FROM ev GROUP BY cx, cy)),
tp AS MATERIALIZED (
  SELECT a.cx, a.cy, a.t, a.eid, b.cx AS bcx, b.cy AS bcy
  FROM ev a
  CROSS JOIN (VALUES (0), (1)) o(db)
  JOIN ev b ON b.b = a.b + o.db
  WHERE ABS(a.t - b.t) <= {tau}
    AND (a.t < b.t OR (a.t = b.t AND a.eid < b.eid))
    AND a.b + o.db = GREATEST(a.t, b.t) // {tau}),
nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_t FROM tp),
nst AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_st
  FROM tp WHERE cx = bcx AND cy = bcy)
SELECT nn.n AS n_events,
       CAST(nn.n * (nn.n - 1) // 2 AS BIGINT) AS n_pairs,
       ns.n_s, nt.n_t, nst.n_st,
       CAST(nst.n_st AS DOUBLE) * CAST(nn.n * (nn.n - 1) // 2 AS DOUBLE)
         / (CAST(ns.n_s AS DOUBLE) * CAST(nt.n_t AS DOUBLE)) AS knox_dbl
FROM nn CROSS JOIN ns CROSS JOIN nt CROSS JOIN nst
"""

_ENGINE_PAIRS["q_knox"] = (q_knox, _sql_knox())

def q_mobility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mobility profiles (geostats.mobility_profiles) over events
    located on a 32-grid, FULL oracle: exact integer gyration
    moments, distinct-cell support, night-argmax home with lexicomin
    ties, and one pinned sqrt expression for the display radius."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StructField, StructType

    from mapnik_vector_tile_spark.operators.geostats import (
        mobility_profiles,
    )

    c_t = StructType(
        [StructField("cx", LongType()), StructField("cy", LongType())]
    )

    def _cell_kernel(k):
        from mapnik_vector_tile_spark.sources.synth import splitmix64

        h = splitmix64(k.to_numpy(np.uint64))
        return pd.DataFrame(
            {
                "cx": (h % np.uint64(32)).astype(np.int64),
                "cy": ((h >> np.uint64(8)) % np.uint64(32)).astype(
                    np.int64
                ),
            }
        )

    ck = F.pandas_udf(_cell_kernel, c_t)
    loc = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id",
        F.floor(F.unix_timestamp("ts")).cast("long").alias("t"),
        ck(F.col("event_id")).alias("c"),
    ).select("user_id", "t", "c.cx", "c.cy")
    return mobility_profiles(loc)

def _sql_mobility() -> str:
    h = splitmix64_sql("event_id")
    return f"""
WITH loc AS MATERIALIZED (
  SELECT user_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS t,
         CAST(({h}) % 32 AS BIGINT) AS cx,
         CAST((({h}) // 256) % 32 AS BIGINT) AS cy
  FROM events),
base AS (
  SELECT user_id,
         CAST(COUNT(*) AS BIGINT) AS n_pings,
         CAST(COUNT(DISTINCT (cx, cy)) AS BIGINT) AS n_cells,
         CAST(SUM(cx) AS BIGINT) AS sx,
         CAST(SUM(cy) AS BIGINT) AS sy,
         CAST(SUM(cx * cx + cy * cy) AS BIGINT) AS s2
  FROM loc GROUP BY user_id),
night AS (
  SELECT user_id, cx, cy, COUNT(*) AS c
  FROM loc WHERE (t // 3600) % 24 < 6
  GROUP BY user_id, cx, cy),
home AS (
  SELECT user_id,
         MAX(struct_pack(c := c, nx := -cx, ny := -cy)) AS h
  FROM night GROUP BY user_id)
SELECT b.user_id, b.n_pings, b.n_cells, b.sx, b.sy,
       CAST(b.n_pings * b.s2 - b.sx * b.sx - b.sy * b.sy AS BIGINT)
         AS rog_num,
       CAST(COALESCE(-home.h.nx, -1) AS BIGINT) AS hx,
       CAST(COALESCE(-home.h.ny, -1) AS BIGINT) AS hy,
       sqrt(CAST(b.n_pings * b.s2 - b.sx * b.sx - b.sy * b.sy AS DOUBLE)
            / CAST(b.n_pings * b.n_pings AS DOUBLE)) AS rog_dbl
FROM base b LEFT JOIN home ON home.user_id = b.user_id
"""

_ENGINE_PAIRS["q_mobility"] = (q_mobility, _sql_mobility())

KC_K = 4

KC_ROUNDS = 5

def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core peeling (graph.kcore_rounds, k=4, 5 rounds) on the
    road lattice, FULL oracle: DuckDB unrolls the identical peeling
    rounds as MATERIALIZED CTEs — every node's drop round is under
    the hash, so the entire peeling order must match."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StructField, StructType

    from mapnik_vector_tile_spark.operators.graph import kcore_rounds

    e_t = StructType(
        [
            StructField("u", LongType()),
            StructField("v", LongType()),
            StructField("keep", LongType()),
        ]
    )

    def _edge_kernel(kk):
        from mapnik_vector_tile_spark.sources.synth import splitmix64

        h = splitmix64(kk.to_numpy(np.uint64))
        x = (h % np.uint64(64)).astype(np.int64)
        y = ((h >> np.uint64(6)) % np.uint64(64)).astype(np.int64)
        dx = ((h >> np.uint64(12)) % np.uint64(3)).astype(np.int64) - 1
        dy = ((h >> np.uint64(14)) % np.uint64(3)).astype(np.int64) - 1
        return pd.DataFrame(
            {
                "u": x * 256 + y,
                "v": (x + dx) * 256 + (y + dy),
                "keep": ((dx != 0) | (dy != 0)).astype(np.int64),
            }
        )

    ek = F.pandas_udf(_edge_kernel, e_t)
    e1 = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .select(ek(F.col("o_orderkey")).alias("e"))
        .select("e.u", "e.v", "e.keep")
        .filter(F.col("keep") == 1)
        .drop("keep")
    )
    return kcore_rounds(e1, k=KC_K, rounds=KC_ROUNDS)

def _sql_kcore(k: int = KC_K, rounds: int = KC_ROUNDS) -> str:
    h = splitmix64_sql("o_orderkey")
    body = []
    for r in range(1, rounds + 1):
        body.append(
            f""",
deg{r} AS MATERIALIZED (
  SELECT s.a AS node, COUNT(*) AS deg
  FROM sym s
  JOIN alive{r - 1} x ON x.node = s.a
  JOIN alive{r - 1} y ON y.node = s.b
  GROUP BY s.a),
cur{r} AS MATERIALIZED (
  SELECT al.node, COALESCE(d.deg, 0) AS deg
  FROM alive{r - 1} al LEFT JOIN deg{r} d ON d.node = al.node),
drop{r} AS (
  SELECT node, CAST({r} AS BIGINT) AS dropped_round
  FROM cur{r} WHERE deg < {k}),
alive{r} AS MATERIALIZED (
  SELECT node FROM cur{r} WHERE deg >= {k})"""
        )
    un = "\nUNION ALL\n".join(
        f"SELECT * FROM drop{r}" for r in range(1, rounds + 1)
    )
    return f"""
WITH e0 AS MATERIALIZED (
  SELECT CAST(({h}) % 64 AS BIGINT) AS x,
         CAST((({h}) // 64) % 64 AS BIGINT) AS y,
         CAST((({h}) // 4096) % 3 AS BIGINT) - 1 AS dx,
         CAST((({h}) // 16384) % 3 AS BIGINT) - 1 AS dy
  FROM orders),
e1 AS MATERIALIZED (
  SELECT x * 256 + y AS u, (x + dx) * 256 + (y + dy) AS v
  FROM e0 WHERE dx <> 0 OR dy <> 0),
e AS MATERIALIZED (
  SELECT DISTINCT LEAST(u, v) AS a, GREATEST(u, v) AS b
  FROM e1 WHERE u <> v),
sym AS MATERIALIZED (
  SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e),
deg0_ AS (SELECT a AS node, CAST(COUNT(*) AS BIGINT) AS deg0
          FROM sym GROUP BY a),
alive0 AS (SELECT node FROM deg0_){''.join(body)},
alldrops AS (
  {un}
  UNION ALL
  SELECT node, CAST(-1 AS BIGINT) AS dropped_round FROM alive{rounds})
SELECT d.node, d.deg0, a.dropped_round
FROM deg0_ d JOIN alldrops a ON a.node = d.node
"""

_ENGINE_PAIRS["q_kcore"] = (q_kcore, _sql_kcore())

SN_N = 80

def q_sniff_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header sniffing (raster.sniff_image_dims) gated end-to-end
    through ALL FOUR real containers: 80 canonical images re-encoded
    as png/jpeg/tiff/webp by i%4, then sniffed by the INDEPENDENT
    header parsers; the oracle replays the closed-form dims and the
    container cycle — a wrong byte order, marker walk, or IFD read
    breaks it."""
    import pandas as pd
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.operators.raster import (
        decode_image,
        encode_image,
        sniff_image_dims,
    )
    from mapnik_vector_tile_spark.sources.synth import images_df

    fmts = ("png", "jpeg", "tiff", "webp")

    def reenc(it):
        for pdf in it:
            out = {"image_id": [], "bytes": []}
            for r in pdf.itertuples():
                i = int(r.image_id.split("_")[1])
                rgba = decode_image(r.bytes, r.fmt, int(r.w), int(r.h))
                out["image_id"].append(r.image_id)
                out["bytes"].append(encode_image(rgba, fmts[i % 4]))
            yield pd.DataFrame(out)

    imgs = images_df(spark, SN_N).mapInPandas(
        reenc, "image_id string, bytes binary"
    )
    return sniff_image_dims(imgs)

def _sql_sniff_dims(n: int = SN_N) -> str:
    return f"""
WITH ids AS (SELECT unnest(generate_series(0, {n - 1})) AS i)
SELECT 'img_' || lpad(CAST(i AS VARCHAR), 12, '0') AS image_id,
       ['png', 'jpeg', 'tiff', 'webp'][CAST(i % 4 AS INT) + 1]
         AS container,
       CAST(16 + (i * 7) % 49 AS BIGINT) AS w,
       CAST(16 + (i * 11) % 49 AS BIGINT) AS h
FROM ids
"""

_ENGINE_PAIRS["q_sniff_dims"] = (q_sniff_dims, _sql_sniff_dims())

def q_occupancy_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Occupancy runs (geostats.occupancy_runs) over the z6 grid of
    order points, FULL oracle: the identical lag-break/running-sum
    islands fold replayed in DuckDB."""
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.functions.tilemath import W
    from mapnik_vector_tile_spark.operators.geostats import occupancy_runs
    from mapnik_vector_tile_spark.plans.flagship import derive_points

    z = 6
    span = 2.0 * W / (1 << z)
    pts = derive_points(
        spark.read.parquet(f"{sf_dir}/orders.parquet"), "o_orderkey"
    )
    cells = pts.select(
        F.floor((F.col("mx") + F.lit(W)) / F.lit(span)).cast("long").alias("cx"),
        F.floor((F.lit(W) - F.col("my")) / F.lit(span)).cast("long").alias("cy"),
    )
    return occupancy_runs(cells)

def _sql_occupancy_runs() -> str:
    txe, tye = S.tile_xy_exprs(6)
    return f"""
WITH {S.point_cte('orders', 'o_orderkey')},
cells AS (SELECT DISTINCT {txe} AS cx, {tye} AS cy FROM pts),
mk AS (
  SELECT cx, cy,
         CASE WHEN cx - lag(cx) OVER (PARTITION BY cy ORDER BY cx) = 1
              THEN 0 ELSE 1 END AS brk
  FROM cells),
ri AS (
  SELECT cx, cy, SUM(brk) OVER (
    PARTITION BY cy ORDER BY cx ROWS UNBOUNDED PRECEDING) AS run_id
  FROM mk),
runs AS (
  SELECT cy, run_id, MIN(cx) AS start,
         CAST(COUNT(*) AS BIGINT) AS len
  FROM ri GROUP BY cy, run_id)
SELECT cy, CAST(SUM(len) AS BIGINT) AS n_cells,
       CAST(COUNT(*) AS BIGINT) AS n_runs,
       CAST(MAX(len) AS BIGINT) AS max_run,
       CAST(SUM((start + 1) * len) AS BIGINT) AS rhash
FROM runs GROUP BY cy
"""

_ENGINE_PAIRS["q_occupancy_runs"] = (q_occupancy_runs, _sql_occupancy_runs())

CA_OBS_WEEK = 4

def q_cell_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cell anomalies (geostats.cell_anomalies, observed week 4 vs
    weeks 0-3 baseline, ratio 2x) over events on the cotravel
    32-grid, FULL oracle: identical cross-multiplied flag rule incl.
    the no-baseline new-activity pin."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StructField, StructType

    from mapnik_vector_tile_spark.operators.geostats import cell_anomalies

    c_t = StructType(
        [StructField("cx", LongType()), StructField("cy", LongType())]
    )

    def _cell_kernel(k):
        from mapnik_vector_tile_spark.sources.synth import splitmix64

        h = splitmix64(k.to_numpy(np.uint64))
        return pd.DataFrame(
            {
                "cx": (h % np.uint64(32)).astype(np.int64),
                "cy": ((h >> np.uint64(8)) % np.uint64(32)).astype(
                    np.int64
                ),
            }
        )

    ck = F.pandas_udf(_cell_kernel, c_t)
    loc = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.floor(F.unix_timestamp("ts")).cast("long").alias("t"),
        ck(F.col("event_id")).alias("c"),
    ).select("c.cx", "c.cy", "t")
    return cell_anomalies(loc, CA_OBS_WEEK)

def _sql_cell_anomaly(obs_week: int = CA_OBS_WEEK, ratio: int = 200) -> str:
    h = splitmix64_sql("event_id")
    wk = f"(CAST(floor(epoch(ts)) AS BIGINT) // {7 * 24 * 3600})"
    return f"""
WITH loc AS (
  SELECT CAST(({h}) % 32 AS BIGINT) AS cx,
         CAST((({h}) // 256) % 32 AS BIGINT) AS cy,
         {wk} - (SELECT MIN({wk}) FROM events) AS w
  FROM events),
base AS (
  SELECT cx, cy, CAST(COUNT(*) AS BIGINT) AS sum_base,
         CAST(COUNT(DISTINCT w) AS BIGINT) AS n_base_weeks
  FROM loc WHERE w < {obs_week} GROUP BY cx, cy),
obs AS (
  SELECT cx, cy, CAST(COUNT(*) AS BIGINT) AS n_obs
  FROM loc WHERE w = {obs_week} GROUP BY cx, cy)
SELECT COALESCE(o.cx, b.cx) AS cx, COALESCE(o.cy, b.cy) AS cy,
       COALESCE(o.n_obs, 0) AS n_obs,
       COALESCE(b.sum_base, 0) AS sum_base,
       COALESCE(b.n_base_weeks, 0) AS n_base_weeks,
       CAST(CASE WHEN COALESCE(b.n_base_weeks, 0) = 0
                 THEN COALESCE(o.n_obs, 0) > 0
                 ELSE COALESCE(o.n_obs, 0) * b.n_base_weeks * 100
                      > {ratio} * b.sum_base END AS BIGINT) AS flag
FROM obs o FULL OUTER JOIN base b ON b.cx = o.cx AND b.cy = o.cy
"""

_ENGINE_PAIRS["q_cell_anomaly"] = (q_cell_anomaly, _sql_cell_anomaly())

def q_coverage_knees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coverage knees (geostats.coverage_knees) over z6 occupancy
    counts, FULL oracle: identical popularity rank, running sum, and
    cross-multiplied decile thresholds."""
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.functions.tilemath import W
    from mapnik_vector_tile_spark.operators.geostats import coverage_knees
    from mapnik_vector_tile_spark.plans.flagship import derive_points

    z = 6
    span = 2.0 * W / (1 << z)
    pts = derive_points(
        spark.read.parquet(f"{sf_dir}/orders.parquet"), "o_orderkey"
    )
    cells = pts.select(
        F.floor((F.col("mx") + F.lit(W)) / F.lit(span)).cast("long").alias("cx"),
        F.floor((F.lit(W) - F.col("my")) / F.lit(span)).cast("long").alias("cy"),
    ).groupBy("cx", "cy").agg(F.count(F.lit(1)).cast("long").alias("c"))
    return coverage_knees(cells)

def _sql_coverage_knees(deciles: int = 10) -> str:
    txe, tye = S.tile_xy_exprs(6)
    return f"""
WITH {S.point_cte('orders', 'o_orderkey')},
cells AS (
  SELECT {txe} AS cx, {tye} AS cy, CAST(COUNT(*) AS BIGINT) AS c
  FROM pts GROUP BY 1, 2),
rk AS (
  SELECT c,
         CAST(row_number() OVER (ORDER BY c DESC, cx, cy) AS BIGINT)
           AS rnk,
         CAST(SUM(c) OVER (ORDER BY c DESC, cx, cy
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
  FROM cells),
tot AS (SELECT MAX(cum) AS total FROM rk),
ks AS (
  SELECT rk.rnk, rk.cum, t.k
  FROM rk CROSS JOIN tot,
       LATERAL unnest(generate_series(1, {deciles})) t(k)
  WHERE rk.cum * {deciles} >= t.k * tot.total)
SELECT CAST(k AS BIGINT) AS k,
       CAST(MIN(rnk) AS BIGINT) AS n_tiles,
       CAST(MIN(struct_pack(rnk := rnk, cum := cum)).cum AS BIGINT)
         AS cum
FROM ks GROUP BY k
"""

_ENGINE_PAIRS["q_coverage_knees"] = (q_coverage_knees, _sql_coverage_knees())

def q_return_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Return rates (geostats.return_rates) over events on the
    cotravel 4-grid, FULL oracle: identical distinct-day user
    classification and cell rollups."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StructField, StructType

    from mapnik_vector_tile_spark.operators.geostats import return_rates

    c_t = StructType(
        [StructField("cx", LongType()), StructField("cy", LongType())]
    )

    def _cell_kernel(k):
        from mapnik_vector_tile_spark.sources.synth import splitmix64

        h = splitmix64(k.to_numpy(np.uint64))
        return pd.DataFrame(
            {
                "cx": (h % np.uint64(4)).astype(np.int64),
                "cy": ((h >> np.uint64(8)) % np.uint64(4)).astype(
                    np.int64
                ),
            }
        )

    ck = F.pandas_udf(_cell_kernel, c_t)
    loc = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id",
        F.floor(F.unix_timestamp("ts")).cast("long").alias("t"),
        ck(F.col("event_id")).alias("c"),
    ).select("user_id", "t", "c.cx", "c.cy")
    return return_rates(loc)

def _sql_return_rates() -> str:
    h = splitmix64_sql("event_id")
    return f"""
WITH loc AS MATERIALIZED (
  SELECT user_id,
         CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS d,
         CAST(({h}) % 4 AS BIGINT) AS cx,
         CAST((({h}) // 256) % 4 AS BIGINT) AS cy
  FROM events),
pu AS (
  SELECT cx, cy, user_id, CAST(COUNT(*) AS BIGINT) AS v,
         CAST(COUNT(DISTINCT d) AS BIGINT) AS nd
  FROM loc GROUP BY cx, cy, user_id),
dd AS (
  SELECT cx, cy, CAST(COUNT(DISTINCT d) AS BIGINT) AS n_days
  FROM loc GROUP BY cx, cy)
SELECT p.cx, p.cy,
       CAST(SUM(p.v) AS BIGINT) AS n_visits,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(CASE WHEN p.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_return,
       MIN(dd.n_days) AS n_days
FROM pu p JOIN dd ON dd.cx = p.cx AND dd.cy = p.cy
GROUP BY p.cx, p.cy
"""

_ENGINE_PAIRS["q_return_rates"] = (q_return_rates, _sql_return_rates())

def q_tile_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity churn (geostats.tile_churn, week 3 vs 4) over events
    on the 32-grid, FULL oracle: identical normalized-week occupancy
    set algebra."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StructField, StructType

    from mapnik_vector_tile_spark.operators.geostats import tile_churn

    c_t = StructType(
        [StructField("cx", LongType()), StructField("cy", LongType())]
    )

    def _cell_kernel(k):
        from mapnik_vector_tile_spark.sources.synth import splitmix64

        h = splitmix64(k.to_numpy(np.uint64))
        return pd.DataFrame(
            {
                "cx": (h % np.uint64(32)).astype(np.int64),
                "cy": ((h >> np.uint64(8)) % np.uint64(32)).astype(
                    np.int64
                ),
            }
        )

    ck = F.pandas_udf(_cell_kernel, c_t)
    loc = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.floor(F.unix_timestamp("ts")).cast("long").alias("t"),
        ck(F.col("event_id")).alias("c"),
    ).select("c.cx", "c.cy", "t")
    return tile_churn(loc, 3, 4)

def _sql_tile_churn(wa: int = 3, wb: int = 4) -> str:
    h = splitmix64_sql("event_id")
    wk = f"(CAST(floor(epoch(ts)) AS BIGINT) // {7 * 24 * 3600})"
    return f"""
WITH loc AS MATERIALIZED (
  SELECT CAST(({h}) % 32 AS BIGINT) AS cx,
         CAST((({h}) // 256) % 32 AS BIGINT) AS cy,
         {wk} - (SELECT MIN({wk}) FROM events) AS w
  FROM events),
a AS (SELECT DISTINCT cx, cy FROM loc WHERE w = {wa}),
b AS (SELECT DISTINCT cx, cy FROM loc WHERE w = {wb}),
j AS (
  SELECT COALESCE(a.cx, b.cx) AS cx, COALESCE(a.cy, b.cy) AS cy,
         CASE WHEN a.cx IS NULL THEN 'gained'
              WHEN b.cx IS NULL THEN 'lost'
              ELSE 'stable' END AS status
  FROM a FULL OUTER JOIN b ON b.cx = a.cx AND b.cy = a.cy)
SELECT status, CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(cx * 8191 + cy) AS BIGINT) AS whash
FROM j GROUP BY status
"""

_ENGINE_PAIRS["q_tile_churn"] = (q_tile_churn, _sql_tile_churn())

FR_MAXPTS = 12  # per-trajectory cap (keeps the twin's recursion ~144 deep)

def q_frechet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W17 discrete Fréchet distance (temporal.frechet_pairs) with a
    FULL oracle.  Corpus: each user's first FR_MAXPTS events (by
    ts, event_id) become an ordered trajectory with splitmix-derived
    integer coordinates (the staypoints corpus recipe without the
    epoch drift); pairs are (u, u+1) for even u present on both
    sides.  The DuckDB twin replays the EXACT coupled DP cell by
    cell in row-major order through a recursive CTE that carries a
    sliding window of the last m+1 DP values — c[i-1][j-1], c[i-1][j]
    and c[i][j-1] are reads at fixed window offsets, so one
    mis-propagated cell (or a wrong boundary rule at i=0 / j=0)
    breaks the value hash."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StructField, StructType

    from mapnik_vector_tile_spark.operators.temporal import frechet_pairs

    xy_t = StructType(
        [StructField("x", LongType()), StructField("y", LongType())]
    )

    def _xy(key):
        import numpy as np
        import pandas as pd

        from mapnik_vector_tile_spark.sources.synth import splitmix64

        uid = key["user_id"].to_numpy(np.int64)
        ev = key["event_id"].to_numpy(np.uint64)
        hc = splitmix64((uid * 1_000_003).astype(np.uint64))
        hp = splitmix64(ev)
        return pd.DataFrame(
            {
                "x": (hc % np.uint64(64)).astype(np.int64)
                + (hp % np.uint64(17)).astype(np.int64),
                "y": ((hc >> np.uint64(7)) % np.uint64(64)).astype(
                    np.int64
                )
                + ((hp >> np.uint64(5)) % np.uint64(17)).astype(np.int64),
            }
        )

    xy = F.pandas_udf(_xy, xy_t)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pts = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("user_id", "event_id", "ts")
        .withColumn("seq", F.row_number().over(w).cast("long"))
        .filter(F.col("seq") <= FR_MAXPTS)
        .withColumn("p", xy(F.struct("user_id", "event_id")))
        .select(
            F.col("user_id").alias("tid"), "seq",
            F.col("p.x").alias("x"), F.col("p.y").alias("y"),
        )
    )
    users = pts.select("tid").distinct()
    pairs = (
        users.filter(F.col("tid") % 2 == 0)
        .select(F.col("tid").alias("ta"), (F.col("tid") + 1).alias("tb"))
        .join(users.select(F.col("tid").alias("tb")), "tb")
    )
    return frechet_pairs(pts, pairs)

def _sql_frechet(maxpts: int = FR_MAXPTS) -> str:
    sm_c = splitmix64_sql("(u * 1000003)")
    sm_p = splitmix64_sql("event_id")
    return f"""
WITH RECURSIVE ev AS (
  SELECT user_id AS u, event_id, ts,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS seq
  FROM events),
pts AS MATERIALIZED (
  SELECT u, seq,
         CAST(({sm_c}) % 64 + ({sm_p}) % 17 AS BIGINT) AS x,
         CAST((({sm_c}) // 128) % 64 + (({sm_p}) // 32) % 17
              AS BIGINT) AS y
  FROM ev WHERE seq <= {maxpts}),
tr AS MATERIALIZED (
  SELECT u, list(x ORDER BY seq) AS xs, list(y ORDER BY seq) AS ys
  FROM pts GROUP BY u),
pr AS MATERIALIZED (
  SELECT a.u AS ta, b.u AS tb,
         a.xs AS xa, a.ys AS ya, b.xs AS xb, b.ys AS yb,
         len(a.xs) AS n, len(b.xs) AS m
  FROM tr a JOIN tr b ON b.u = a.u + 1 AND a.u % 2 = 0),
dp(ta, tb, xa, ya, xb, yb, n, m, t, win, c) AS (
  SELECT ta, tb, xa, ya, xb, yb, n, m, 0,
         list_transform(range(0, m + 1), z -> CAST(0 AS BIGINT)),
         CAST((xa[1] - xb[1]) * (xa[1] - xb[1])
              + (ya[1] - yb[1]) * (ya[1] - yb[1]) AS BIGINT)
  FROM pr
  UNION ALL
  SELECT ta, tb, xa, ya, xb, yb, n, m, t + 1,
         list_append(win[2:m + 1], c),
         CAST(greatest(
           (xa[(t + 1) // m + 1] - xb[(t + 1) % m + 1])
             * (xa[(t + 1) // m + 1] - xb[(t + 1) % m + 1])
           + (ya[(t + 1) // m + 1] - yb[(t + 1) % m + 1])
             * (ya[(t + 1) // m + 1] - yb[(t + 1) % m + 1]),
           CASE
             WHEN (t + 1) // m = 0 THEN c
             WHEN (t + 1) % m = 0 THEN list_append(win[2:m + 1], c)[2]
             ELSE least(list_append(win[2:m + 1], c)[1],
                        list_append(win[2:m + 1], c)[2],
                        c)
           END) AS BIGINT)
  FROM dp WHERE t + 1 < n * m)
SELECT ta, tb, CAST(n AS BIGINT) AS n_a, CAST(m AS BIGINT) AS n_b,
       c AS frech2
FROM dp WHERE t = n * m - 1
"""

_ENGINE_PAIRS["q_frechet"] = (q_frechet, _sql_frechet())

def q_viewshed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R18 viewshed (raster.viewshed_tiles — the R3 reference
    algorithm: half-cell corridor membership + sign-aware squared
    cross-multiplied slope compare, ties block) over the SAME
    quadratic Terrain-RGB corpus as q_watershed, FULL oracle: DuckDB
    re-derives the surface closed-form and replays the exact
    corridor and slope predicates as one pairwise join per tile —
    n_visible, the positional visibility hash and the farthest
    visible distance² all sit under the value hash."""
    import numpy as np
    import pandas as pd

    from mapnik_vector_tile_spark.operators.raster import (
        terrain_rgb_encode,
        viewshed_tiles,
    )
    from mapnik_vector_tile_spark.sources.synth import splitmix64

    T = TER_T

    def gen(it):
        for pdf in it:
            rows: dict[str, list] = {"z": [], "x": [], "y": [], "raster": []}
            for i in pdf["id"]:
                i = int(i)
                h = int(splitmix64(np.array([i], dtype=np.uint64))[0])
                phase = h % 100003
                r = np.arange(T, dtype=np.int64)
                rr, cc = r[:, None], r[None, :]
                e = ((rr * rr * 5 + cc * cc * 3 + rr * cc * 2 + phase) % 40001) - 10000
                rows["z"].append(TER_Z)
                rows["x"].append(i % 10)
                rows["y"].append(i // 10)
                rows["raster"].append(terrain_rgb_encode(e).tobytes())
            yield pd.DataFrame(rows)

    tiles = spark.range(100).mapInPandas(
        gen, "z long, x long, y long, raster binary"
    )
    return viewshed_tiles(tiles, T)

def _sql_viewshed(t: int = TER_T, obs_h: int = 500) -> str:
    sm = splitmix64_sql("i")
    e = ("(((r.v * r.v * 5 + c.v * c.v * 3 + r.v * c.v * 2 + phase)"
         " % 40001) - 10000)")
    o = t // 2
    cmp_ge = (
        "CASE WHEN k.a >= 0 AND t.a < 0 THEN TRUE "
        "WHEN k.a < 0 AND t.a >= 0 THEN FALSE "
        "WHEN t.a >= 0 THEN k.a * k.a * t.p >= t.a * t.a * k.p "
        "ELSE k.a * k.a * t.p <= t.a * t.a * k.p END"
    )
    return f"""
WITH ids AS (SELECT unnest(generate_series(0, 99)) AS i),
hh AS (
  SELECT i, CAST(i % 10 AS BIGINT) AS x, CAST(i // 10 AS BIGINT) AS y,
         CAST(({sm}) % 100003 AS BIGINT) AS phase
  FROM ids),
px AS MATERIALIZED (
  SELECT x, y, r.v AS rv, c.v AS cv, {e} AS e
  FROM hh
  CROSS JOIN (SELECT unnest(generate_series(0, {t - 1})) AS v) r
  CROSS JOIN (SELECT unnest(generate_series(0, {t - 1})) AS v) c),
obs AS (SELECT x, y, e AS eo FROM px WHERE rv = {o} AND cv = {o}),
cells AS MATERIALIZED (
  SELECT px.x, px.y, rv, cv,
         cv - {o} AS dx, rv - {o} AS dy,
         (cv - {o}) * (cv - {o}) + (rv - {o}) * (rv - {o}) AS p,
         e - (eo + {obs_h}) AS a
  FROM px JOIN obs USING (x, y)),
blocked AS (
  SELECT DISTINCT t.x, t.y, t.rv, t.cv
  FROM cells t JOIN cells k
    ON k.x = t.x AND k.y = t.y
   AND NOT (k.rv = t.rv AND k.cv = t.cv)
   AND (t.dx * k.dx + t.dy * k.dy) > 0
   AND (t.dx * k.dx + t.dy * k.dy) < t.p
   AND 4 * (t.dx * k.dy - t.dy * k.dx) * (t.dx * k.dy - t.dy * k.dx)
       < t.p
   AND ({cmp_ge})),
vis AS (
  SELECT c.x, c.y, c.rv, c.cv, c.p
  FROM cells c
  ANTI JOIN blocked b
    ON b.x = c.x AND b.y = c.y AND b.rv = c.rv AND b.cv = c.cv
  WHERE c.p > 0)
SELECT CAST({TER_Z} AS BIGINT) AS z, x, y,
       CAST(COUNT(*) AS BIGINT) AS n_visible,
       CAST(SUM(cv * 8191 + rv) AS BIGINT) AS vis_hash,
       CAST(MAX(p) AS BIGINT) AS max_vis_d2
FROM vis GROUP BY x, y
"""

_ENGINE_PAIRS["q_viewshed"] = (q_viewshed, _sql_viewshed())

def q_viewshed_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R18 viewshed SCALE path (raster.viewshed_sweep_tiles — the
    corridor line-walk, O(T³) pairs / O(T²) memory) over the SAME
    corpus as q_viewshed, against the SAME DuckDB twin — the
    delta-stepping-vs-bellman-ford pinning pattern: the refinement
    must reproduce the reference predicate's output bit-for-bit,
    independently of the Spark-side reference implementation."""
    import numpy as np
    import pandas as pd

    from mapnik_vector_tile_spark.operators.raster import (
        terrain_rgb_encode,
        viewshed_sweep_tiles,
    )
    from mapnik_vector_tile_spark.sources.synth import splitmix64

    T = TER_T

    def gen(it):
        for pdf in it:
            rows: dict[str, list] = {"z": [], "x": [], "y": [], "raster": []}
            for i in pdf["id"]:
                i = int(i)
                h = int(splitmix64(np.array([i], dtype=np.uint64))[0])
                phase = h % 100003
                r = np.arange(T, dtype=np.int64)
                rr, cc = r[:, None], r[None, :]
                e = ((rr * rr * 5 + cc * cc * 3 + rr * cc * 2 + phase) % 40001) - 10000
                rows["z"].append(TER_Z)
                rows["x"].append(i % 10)
                rows["y"].append(i // 10)
                rows["raster"].append(terrain_rgb_encode(e).tobytes())
            yield pd.DataFrame(rows)

    tiles = spark.range(100).mapInPandas(
        gen, "z long, x long, y long, raster binary"
    )
    return viewshed_sweep_tiles(tiles, T)

_ENGINE_PAIRS["q_viewshed_sweep"] = (q_viewshed_sweep, _sql_viewshed())

DS_ROUNDS = 64  # 8-grid king lattice, w in 1..9: any shortest path has

def q_delta_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-stepping SSSP (graph.delta_stepping, Δ=8) over a DENSE
    8-grid king lattice (one undirected edge per orders row, weight
    1..9; sources = the x=0 column), FULL oracle: the twin unrolls
    64 relaxation rounds — PROVABLY past convergence (any shortest
    path weighs ≤ 63 and w ≥ 1 bounds hops by 63) — so the bucketed
    engine must reproduce the exact unbounded shortest-distance
    field; a bucket opened early, a light/heavy misclassification,
    or a missed re-relaxation all shift some node's d."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StructField, StructType

    from mapnik_vector_tile_spark.operators.graph import delta_stepping

    e_t = StructType(
        [
            StructField("u", LongType()),
            StructField("v", LongType()),
            StructField("w", LongType()),
            StructField("keep", LongType()),
        ]
    )

    def _edge_kernel(k):
        from mapnik_vector_tile_spark.sources.synth import splitmix64

        h = splitmix64(k.to_numpy(np.uint64))
        x = (h % np.uint64(8)).astype(np.int64)
        y = ((h >> np.uint64(6)) % np.uint64(8)).astype(np.int64)
        dx = ((h >> np.uint64(12)) % np.uint64(3)).astype(np.int64) - 1
        dy = ((h >> np.uint64(14)) % np.uint64(3)).astype(np.int64) - 1
        w = (np.uint64(1) + (h >> np.uint64(40)) % np.uint64(9)).astype(
            np.int64
        )
        return pd.DataFrame(
            {
                "u": x * 256 + y,
                "v": (x + dx) * 256 + (y + dy),
                "w": w,
                "keep": ((dx != 0) | (dy != 0)).astype(np.int64),
            }
        )

    ek = F.pandas_udf(_edge_kernel, e_t)
    e1 = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .select(ek(F.col("o_orderkey")).alias("e"))
        .select("e.u", "e.v", "e.w", "e.keep")
        .filter(F.col("keep") == 1)
        .drop("keep")
    )
    edges = e1.unionByName(
        e1.select(F.col("v").alias("u"), F.col("u").alias("v"), "w")
    )
    sources = (
        edges.select(F.col("u").alias("node"))
        .filter(F.col("node") < 256)
        .distinct()
    )
    return delta_stepping(edges, sources, delta=8)

def _sql_delta_sssp(rounds: int = DS_ROUNDS) -> str:
    h = splitmix64_sql("o_orderkey")
    relax = []
    for r in range(1, rounds + 1):
        relax.append(
            f""",
d{r} AS MATERIALIZED (
  SELECT node, MIN(d) AS d FROM (
    SELECT node, d FROM d{r - 1}
    UNION ALL
    SELECT e.v AS node, a.d + e.w AS d
    FROM d{r - 1} a JOIN edges e ON e.u = a.node)
  GROUP BY node)"""
        )
    return f"""
WITH h0 AS MATERIALIZED (
  -- hash ONCE per row: inlining the splitmix64 HUGEINT expression
  -- into all five derived columns duplicates its (internally
  -- self-referencing) subexpressions combinatorially and costs ~15s
  -- at sf0.01 on the DuckDB side alone
  SELECT ({h}) AS hv FROM orders),
e0 AS (
  SELECT CAST(hv % 8 AS BIGINT) AS x,
         CAST((hv // 64) % 8 AS BIGINT) AS y,
         CAST((hv // 4096) % 3 AS BIGINT) - 1 AS dx,
         CAST((hv // 16384) % 3 AS BIGINT) - 1 AS dy,
         CAST(1 + (hv // 1099511627776) % 9 AS BIGINT) AS w
  FROM h0),
e1 AS (
  SELECT x * 256 + y AS u, (x + dx) * 256 + (y + dy) AS v, w
  FROM e0 WHERE dx <> 0 OR dy <> 0),
edges AS MATERIALIZED (
  SELECT u, v, MIN(w) AS w FROM (
    SELECT u, v, w FROM e1 UNION ALL SELECT v, u, w FROM e1)
  GROUP BY u, v),
d0 AS MATERIALIZED (
  SELECT DISTINCT u AS node, CAST(0 AS BIGINT) AS d
  FROM edges WHERE u < 256)
{''.join(relax)}
SELECT node, d FROM d{rounds}
"""

_ENGINE_PAIRS["q_delta_sssp"] = (q_delta_sssp, _sql_delta_sssp())

STR_T = 10  # 8x8 interior: recursion depth 64 covers any simple path

def q_strahler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strahler stream order (raster.strahler_tiles) over the
    quadratic Terrain-RGB surface at 10px tiles, FULL oracle: DuckDB
    re-derives the D8 receivers closed-form and iterates the EXACT
    junction rule (max child order, +1 on a tied max, leaves = 1) as
    a list-carrying recursive CTE over (tile_size−2)² rounds —
    provably past convergence (a drainage tree's height is bounded
    by the interior cell count) — then folds the same order census
    and positional witness."""
    import numpy as np
    import pandas as pd

    from mapnik_vector_tile_spark.operators.raster import (
        strahler_tiles,
        terrain_rgb_encode,
    )
    from mapnik_vector_tile_spark.sources.synth import splitmix64

    T = STR_T

    def gen(it):
        for pdf in it:
            rows: dict[str, list] = {"z": [], "x": [], "y": [], "raster": []}
            for i in pdf["id"]:
                i = int(i)
                h = int(splitmix64(np.array([i], dtype=np.uint64))[0])
                phase = h % 100003
                r = np.arange(T, dtype=np.int64)
                rr, cc = r[:, None], r[None, :]
                e = ((rr * rr * 5 + cc * cc * 3 + rr * cc * 2 + phase) % 40001) - 10000
                rows["z"].append(TER_Z)
                rows["x"].append(i % 10)
                rows["y"].append(i // 10)
                rows["raster"].append(terrain_rgb_encode(e).tobytes())
            yield pd.DataFrame(rows)

    tiles = spark.range(100).mapInPandas(
        gen, "z long, x long, y long, raster binary"
    )
    return strahler_tiles(tiles, T)

def _sql_strahler(t: int = STR_T) -> str:
    sm = splitmix64_sql("i")
    e = ("(((r.v * r.v * 5 + c.v * c.v * 3 + r.v * c.v * 2 + phase)"
         " % 40001) - 10000)")
    dirs = ",".join(
        f"({d},{dy},{dx},{1 if diag else 2})"
        for d, (dy, dx), diag in (
            (0, (0, 1), 0), (1, (1, 1), 1), (2, (1, 0), 0),
            (3, (1, -1), 1), (4, (0, -1), 0), (5, (-1, -1), 1),
            (6, (-1, 0), 0), (7, (-1, 1), 1),
        )
    )
    oh = t - 2
    n = oh * oh
    rounds = n
    return f"""
WITH RECURSIVE ids AS (SELECT unnest(generate_series(0, 99)) AS i),
hh AS (
  SELECT i, CAST(i % 10 AS BIGINT) AS x, CAST(i // 10 AS BIGINT) AS y,
         CAST(({sm}) % 100003 AS BIGINT) AS phase
  FROM ids),
px AS MATERIALIZED (
  SELECT x, y, r.v AS rv, c.v AS cv, {e} AS e
  FROM hh
  CROSS JOIN (SELECT unnest(generate_series(0, {t - 1})) AS v) r
  CROSS JOIN (SELECT unnest(generate_series(0, {t - 1})) AS v) c),
cand AS MATERIALIZED (
  SELECT a.x, a.y, a.rv, a.cv, k.d, k.dy, k.dx,
         CASE WHEN a.e - b.e > 0
              THEN k.mult * (a.e - b.e) * (a.e - b.e)
              ELSE 0 END AS key
  FROM px a
  CROSS JOIN (VALUES {dirs}) k(d, dy, dx, mult)
  JOIN px b ON b.x = a.x AND b.y = a.y
           AND b.rv = a.rv + k.dy AND b.cv = a.cv + k.dx
  WHERE a.rv BETWEEN 1 AND {t - 2} AND a.cv BETWEEN 1 AND {t - 2}),
best AS MATERIALIZED (
  SELECT x, y, rv, cv, d, dy, dx, key,
         row_number() OVER (
           PARTITION BY x, y, rv, cv ORDER BY key DESC, d) AS rn
  FROM cand),
rcv AS MATERIALIZED (
  SELECT x, y, (rv - 1) * {oh} + (cv - 1) AS cid,
         CASE WHEN key > 0
               AND rv + dy BETWEEN 1 AND {t - 2}
               AND cv + dx BETWEEN 1 AND {t - 2}
              THEN (rv - 1 + dy) * {oh} + (cv - 1 + dx)
              ELSE -1 END AS recv
  FROM best WHERE rn = 1),
rl AS MATERIALIZED (
  SELECT x, y, list(recv ORDER BY cid) AS recv FROM rcv GROUP BY x, y),
st(x, y, recv, ords, r) AS (
  SELECT x, y, recv,
         list_transform(range(0, {n}), z9 -> CAST(1 AS BIGINT)), 0
  FROM rl
  UNION ALL
  SELECT x, y, recv,
         list_transform(range(0, {n}), i -> CASE
           WHEN len(ko[i + 1]) = 0 THEN CAST(1 AS BIGINT)
           ELSE list_max(ko[i + 1]) + CASE
             WHEN len(list_filter(ko[i + 1],
                                  v -> v = list_max(ko[i + 1]))) >= 2
             THEN 1 ELSE 0 END
         END),
         r + 1
  FROM (
    SELECT x, y, recv, r,
           list_transform(range(0, {n}), i ->
             list_transform(
               list_filter(range(0, {n}), j -> recv[j + 1] = i),
               j -> ords[j + 1])) AS ko
    FROM st WHERE r < {rounds}
  ) s1
),
fin AS (
  SELECT x, y, ords FROM st WHERE r = {rounds}),
ex AS (
  SELECT x, y, g.i AS cid, ords[g.i + 1] AS o
  FROM fin, unnest(generate_series(0, {n - 1})) AS g(i))
SELECT CAST({TER_Z} AS BIGINT) AS z, x, y,
       CAST(MAX(o) AS BIGINT) AS max_order,
       CAST(SUM(CASE WHEN o = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_sources,
       CAST(SUM(o) AS BIGINT) AS sum_order,
       CAST(SUM(o * ((cid % {oh}) * 8191 + (cid // {oh}))) AS BIGINT)
         AS whash
FROM ex GROUP BY x, y
"""

_ENGINE_PAIRS["q_strahler"] = (q_strahler, _sql_strahler())

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

_ENGINE_PAIRS["q_stream_window"] = (
    q_stream_window, _sql_events_tile_window()
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

_ENGINE_PAIRS["q_dirty_stream"] = (q_dirty_stream, _sql_dirty_stream())

def q_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust trend stats (temporal.trend_stats) over per-cell daily
    event counts (the q_cotravel 4-grid cells, 30-day corpus — max x
    gap 29 by construction), FULL oracle: DuckDB enumerates the same
    ordered pairs, folds the Mann–Kendall sign sum, sorts slopes by
    the identical dy·(lcm/dx) integer key, picks the same lower
    median and reduces it by gcd."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StructField, StructType

    from mapnik_vector_tile_spark.operators.temporal import trend_stats

    c_t = StructType(
        [StructField("cx", LongType()), StructField("cy", LongType())]
    )

    def _cell_kernel(k):
        from mapnik_vector_tile_spark.sources.synth import splitmix64

        h = splitmix64(k.to_numpy(np.uint64))
        return pd.DataFrame(
            {
                "cx": (h % np.uint64(CT_GRID)).astype(np.int64),
                "cy": ((h >> np.uint64(8)) % np.uint64(CT_GRID)).astype(
                    np.int64
                ),
            }
        )

    ck = F.pandas_udf(_cell_kernel, c_t)
    series = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select(
            F.floor(F.unix_timestamp("ts") / F.lit(86400.0))
            .cast("long").alias("x"),
            ck(F.col("event_id")).alias("c"),
        )
        .select((F.col("c.cx") * 256 + F.col("c.cy")).alias("g"), "x")
        .groupBy("g", "x")
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
    )
    return trend_stats(series)

def _sql_trend(grid: int = CT_GRID, max_dx: int = 29) -> str:
    import math

    h = splitmix64_sql("event_id")
    lcm = math.lcm(*range(1, max_dx + 1))
    return f"""
WITH loc AS (
  SELECT CAST(({h}) % {grid} AS BIGINT) * 256
         + CAST((({h}) // 256) % {grid} AS BIGINT) AS g,
         CAST(floor(floor(epoch(ts)) / {S.flit(86400.0)}) AS BIGINT)
           AS x
  FROM events),
ser AS (
  SELECT g, x, CAST(COUNT(*) AS BIGINT) AS y FROM loc GROUP BY g, x),
prs AS (
  SELECT a.g, b.y - a.y AS dy, b.x - a.x AS dx
  FROM ser a JOIN ser b ON b.g = a.g AND b.x > a.x),
mk AS (
  SELECT g,
         CAST(SUM(CASE WHEN dy > 0 THEN 1 WHEN dy < 0 THEN -1
                       ELSE 0 END) AS BIGINT) AS mk_s,
         COUNT(*) AS m
  FROM prs GROUP BY g),
rk AS (
  SELECT g, dy, dx,
         row_number() OVER (PARTITION BY g
                            ORDER BY dy * ({lcm} // dx)) AS rn
  FROM prs),
med AS (
  SELECT r.g, r.dy, r.dx
  FROM rk r JOIN mk ON mk.g = r.g
  WHERE r.rn = (mk.m + 1) // 2),
nn AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n FROM ser GROUP BY g)
SELECT nn.g, nn.n,
       COALESCE(mk.mk_s, 0) AS mk_s,
       CAST(COALESCE(med.dy // gcd(ABS(med.dy), med.dx), 0) AS BIGINT)
         AS ts_num,
       CAST(COALESCE(med.dx // gcd(ABS(med.dy), med.dx), 1) AS BIGINT)
         AS ts_den
FROM nn
LEFT JOIN mk ON mk.g = nn.g
LEFT JOIN med ON med.g = nn.g
"""

_ENGINE_PAIRS["q_trend"] = (q_trend, _sql_trend())

def q_isotonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic calibration (temporal.isotonic_fit) with a FULL
    oracle: per 4-grid cell, fit P(purchase) monotone in the integer
    event value — the detector-calibration shape.  DuckDB replays
    PAVA as a one-action-per-step recursion (consume or merge-once)
    carrying the block stack as lists, then expands blocks to
    per-point gcd-reduced mean fractions; a single wrong merge
    shifts every later block boundary and breaks the hash."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StructField, StructType

    from mapnik_vector_tile_spark.operators.temporal import isotonic_fit

    c_t = StructType(
        [StructField("cx", LongType()), StructField("cy", LongType())]
    )

    def _cell_kernel(k):
        from mapnik_vector_tile_spark.sources.synth import splitmix64

        h = splitmix64(k.to_numpy(np.uint64))
        return pd.DataFrame(
            {
                "cx": (h % np.uint64(CT_GRID)).astype(np.int64),
                "cy": ((h >> np.uint64(8)) % np.uint64(CT_GRID)).astype(
                    np.int64
                ),
            }
        )

    ck = F.pandas_udf(_cell_kernel, c_t)
    series = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select(
            F.floor(F.col("value")).cast("long").alias("x"),
            (F.col("event_type") == "purchase").cast("long").alias("y"),
            ck(F.col("event_id")).alias("c"),
        )
        .select((F.col("c.cx") * 256 + F.col("c.cy")).alias("g"), "x", "y")
    )
    return isotonic_fit(series)

def _sql_isotonic(grid: int = CT_GRID) -> str:
    h = splitmix64_sql("event_id")
    last_s = "ss[len(ss)]"
    prev_s = "ss[len(ss) - 1]"
    last_c = "cc[len(cc)]"
    prev_c = "cc[len(cc) - 1]"
    viol = (
        f"(len(ss) >= 2 AND {prev_s} * {last_c} > {last_s} * {prev_c})"
    )
    return f"""
WITH RECURSIVE src AS (
  SELECT CAST(({h}) % {grid} AS BIGINT) * 256
         + CAST((({h}) // 256) % {grid} AS BIGINT) AS g,
         CAST(floor("value") AS BIGINT) AS x,
         CAST(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
              AS BIGINT) AS y
  FROM events),
pooled AS (
  SELECT g, x, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM src GROUP BY g, x),
lists AS MATERIALIZED (
  SELECT g, list(x ORDER BY x) AS px, list(sy ORDER BY x) AS psy,
         list(n ORDER BY x) AS pn
  FROM pooled GROUP BY g),
pava(g, px, psy, pn, idx, ss, cc, zz) AS (
  SELECT g, px, psy, pn, 1,
         [psy[1]], [pn[1]], [CAST(1 AS BIGINT)]
  FROM lists
  UNION ALL
  SELECT g, px, psy, pn,
         CASE WHEN viol THEN idx ELSE idx + 1 END,
         CASE WHEN viol
              THEN list_append(ss[1:len(ss) - 2],
                               {prev_s} + {last_s})
              ELSE list_append(ss, psy[idx + 1]) END,
         CASE WHEN viol
              THEN list_append(cc[1:len(cc) - 2],
                               {prev_c} + {last_c})
              ELSE list_append(cc, pn[idx + 1]) END,
         CASE WHEN viol
              THEN list_append(zz[1:len(zz) - 2],
                               zz[len(zz) - 1] + zz[len(zz)])
              ELSE list_append(zz, CAST(1 AS BIGINT)) END
  FROM (SELECT *, {viol} AS viol FROM pava) s
  WHERE viol OR idx < len(px)),
fin AS (
  SELECT g, px, pn, ss, cc, zz,
         list_transform(range(1, len(zz) + 1),
           b -> list_aggregate(zz[1:b], 'sum')) AS pz
  FROM pava
  WHERE idx = len(px) AND NOT {viol}),
ex AS (
  SELECT g, px, pn, ss, cc, pz, s.p AS p,
         1 + len(list_filter(pz, c9 -> c9 < s.p)) AS b
  FROM fin, unnest(generate_series(1, len(px))) AS s(p))
SELECT g, CAST(px[p] AS BIGINT) AS x, CAST(pn[p] AS BIGINT) AS n,
       CAST(ss[b] // gcd(ss[b], cc[b]) AS BIGINT) AS fit_num,
       CAST(cc[b] // gcd(ss[b], cc[b]) AS BIGINT) AS fit_den
FROM ex
"""

_ENGINE_PAIRS["q_isotonic"] = (q_isotonic, _sql_isotonic())
