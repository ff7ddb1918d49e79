"""Oracle pairs for spatial statistics and trajectories
(operators.geostats, operators.temporal).

`pairs()` maps each query key to (spark_fn, oracle SQL template);
`plans.oracles.sql_pairs()` merges the families."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from mapnik_vector_tile_spark.plans import shared_sql as S
from mapnik_vector_tile_spark.plans.shared_sql import splitmix64_sql


SP_D = 6  # Chebyshev stay radius
SP_T_US = 86_400_000_000  # 24h minimum stay duration
SP_EP_US = 259_200_000_000  # 3-day drifting-center epochs (corpus)


def q_staypoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W6 stay-point detection (operators/temporal.staypoints — the
    GeoLife greedy anchor scan with pinned order/threshold semantics)
    with a FULL oracle. Corpus: events become trajectory points whose
    coordinates cluster around a per-(user, 3-day-epoch) drifting
    center with a 5×5 jitter — within an epoch every pair is within
    the stay radius, across epochs the center jumps, so real stays,
    broken stays (epoch straddles) and too-short windows all occur.
    The DuckDB twin precomputes each index's first-exit and replays
    the exact greedy anchor CHAIN through a recursive CTE — one
    mis-advanced anchor desynchronizes every later stay for that
    user."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StructField, StructType

    from mapnik_vector_tile_spark.operators.temporal import (
        _EPOCH_US,
        staypoints,
    )

    xy_t = StructType(
        [StructField("x", LongType()), StructField("y", LongType())]
    )

    def _xy_kernel(key):
        import numpy as np

        from mapnik_vector_tile_spark.sources.synth import splitmix64

        uid = key["user_id"].to_numpy(np.int64)
        ev = key["event_id"].to_numpy(np.uint64)
        ep = key["t"].to_numpy(np.int64) // SP_EP_US
        hc = splitmix64((uid * 1_000_003 + ep).astype(np.uint64))
        hp = splitmix64(ev)
        return pd.DataFrame(
            {
                "x": (hc % np.uint64(64)).astype(np.int64)
                + (hp % np.uint64(5)).astype(np.int64),
                "y": ((hc >> np.uint64(7)) % np.uint64(64)).astype(np.int64)
                + ((hp >> np.uint64(5)) % np.uint64(5)).astype(np.int64),
            }
        )

    xy = F.pandas_udf(_xy_kernel, xy_t)
    pts = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select(
            "user_id",
            "event_id",
            F.expr(_EPOCH_US).cast("long").alias("t"),
        )
        .withColumn(
            "p",
            xy(F.struct("user_id", "event_id", "t")),
        )
        .select("user_id", "event_id", "t", "p.x", "p.y")
    )
    return staypoints(pts, SP_D, SP_T_US)


def _sql_staypoints() -> str:
    sm_c = splitmix64_sql("(user_id * 1000003 + (t // {ep}))").replace(
        "{ep}", str(SP_EP_US)
    )
    sm_p = splitmix64_sql("event_id")
    return f"""
WITH RECURSIVE ev AS (
  SELECT user_id, event_id, epoch_us(ts) AS t FROM events),
pts AS MATERIALIZED (
  SELECT user_id, event_id, t,
         CAST(({sm_c}) % 64 + ({sm_p}) % 5 AS BIGINT) AS x,
         CAST((({sm_c}) // 128) % 64 + (({sm_p}) // 32) % 5 AS BIGINT) AS y
  FROM ev),
idx AS MATERIALIZED (
  SELECT user_id AS u, t, x, y,
         row_number() OVER (PARTITION BY user_id ORDER BY t, event_id)
           - 1 AS i
  FROM pts),
nu AS (SELECT u, COUNT(*) AS n FROM idx GROUP BY u),
exit_ AS (
  SELECT a.u, a.i, MIN(b.i) AS ex
  FROM idx a JOIN idx b
    ON b.u = a.u AND b.i > a.i
   AND (abs(b.x - a.x) > {SP_D} OR abs(b.y - a.y) > {SP_D})
  GROUP BY a.u, a.i),
jt AS MATERIALIZED (
  SELECT a.u, a.i, COALESCE(e.ex - 1, nu.n - 1) AS j
  FROM idx a JOIN nu USING (u)
  LEFT JOIN exit_ e ON e.u = a.u AND e.i = a.i),
st AS MATERIALIZED (
  SELECT jt.u, jt.i, jt.j, tj.t - ti.t >= {SP_T_US} AS stay
  FROM jt
  JOIN idx ti ON ti.u = jt.u AND ti.i = jt.i
  JOIN idx tj ON tj.u = jt.u AND tj.i = jt.j),
walk(u, a) AS (
  SELECT u, CAST(0 AS BIGINT) FROM nu
  UNION
  SELECT w.u, CASE WHEN s.stay THEN s.j + 1 ELSE w.a + 1 END
  FROM walk w
  JOIN st s ON s.u = w.u AND s.i = w.a
  JOIN nu ON nu.u = w.u
  WHERE (CASE WHEN s.stay THEN s.j + 1 ELSE w.a + 1 END) < nu.n
),
stays AS (
  SELECT w.u, s.i, s.j,
         row_number() OVER (PARTITION BY w.u ORDER BY s.i) - 1 AS ord
  FROM walk w JOIN st s ON s.u = w.u AND s.i = w.a
  WHERE s.stay),
mem AS (
  SELECT s.u, s.ord, s.i, s.j,
         CAST(COUNT(*) AS BIGINT) AS n_pts,
         CAST(SUM(m.x) AS BIGINT) AS sx, CAST(SUM(m.y) AS BIGINT) AS sy
  FROM stays s JOIN idx m ON m.u = s.u AND m.i BETWEEN s.i AND s.j
  GROUP BY s.u, s.ord, s.i, s.j)
SELECT mem.u AS user_id, mem.ord AS stay_ord, mem.n_pts, mem.sx, mem.sy,
       CAST(tj.t - ti.t AS BIGINT) AS dur_us, CAST(ti.t AS BIGINT) AS t0
FROM mem
JOIN idx ti ON ti.u = mem.u AND ti.i = mem.i
JOIN idx tj ON tj.u = mem.u AND tj.i = mem.j
"""


MI_Z = 5


def q_morans_i(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moran's I over the z5 occupancy grid of the orders point cloud
    with a FULL oracle: both engines compute the exact BIGINT
    (n_cells, w_sum, num, den) — denominators cleared via
    dev_i = c_i·K − S — plus one pinned-association double ratio.
    Bounds at sf0.1 (150k points, ≤1024 cells): |dev| < S ≤ 2¹⁸·K;
    dev² < 2⁵⁶; Σ over ≤4096 ordered pairs < 2⁶⁸? No — deviations
    concentrate near 0 (counts ≈ S/K), measured |num|,den < 2⁵⁰;
    int64-safe with ≥ 8192× headroom (asserted non-degenerate in
    tests)."""
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.functions.tilemath import W
    from mapnik_vector_tile_spark.operators.geostats import morans_i
    from mapnik_vector_tile_spark.plans.flagship import derive_points

    pts = derive_points(
        spark.read.parquet(f"{sf_dir}/orders.parquet"), "o_orderkey"
    )
    span = 2.0 * W / (1 << MI_Z)
    cells = pts.select(
        F.floor((F.col("mx") + F.lit(W)) / F.lit(span))
        .cast("long")
        .alias("cx"),
        F.floor((F.lit(W) - F.col("my")) / F.lit(span))
        .cast("long")
        .alias("cy"),
    ).groupBy("cx", "cy").agg(F.count(F.lit(1)).cast("long").alias("c"))
    return morans_i(cells)


def _sql_morans_i(z: int = MI_Z) -> str:
    txe, tye = S.tile_xy_exprs(z)
    return f"""
WITH {S.point_cte('orders', 'o_orderkey')},
cells AS (
  SELECT {txe} AS cx, {tye} AS cy, CAST(COUNT(*) AS BIGINT) AS c
  FROM pts GROUP BY 1, 2),
ks AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(c) AS BIGINT) AS s
  FROM cells),
dev AS (
  SELECT cx, cy, c * k - s AS dev, k FROM cells, ks),
probes AS (
  SELECT d.k, d.dev, d.cx + o.dx AS nx, d.cy + o.dy AS ny
  FROM dev d
  CROSS JOIN (VALUES (1, 0), (-1, 0), (0, 1), (0, -1)) o(dx, dy)),
pairs AS (
  SELECT p.k, p.dev, b.dev AS ndev
  FROM probes p JOIN dev b ON b.cx = p.nx AND b.cy = p.ny),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS w_sum,
         CAST(COALESCE(SUM(dev * ndev), 0) AS BIGINT) AS num
  FROM pairs),
dn AS (SELECT CAST(SUM(dev * dev) AS BIGINT) AS den FROM dev)
SELECT CAST(ks.k AS BIGINT) AS n_cells, w_sum, num, den,
       CASE WHEN w_sum = 0 OR den = 0 THEN NULL
            ELSE (CAST(num AS DOUBLE) * CAST(ks.k AS DOUBLE))
                   / (CAST(w_sum AS DOUBLE) * CAST(den AS DOUBLE))
       END AS i_dbl
FROM agg, dn, ks
"""


def q_local_moran(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LISA local Moran + Gi* ingredients per z5 cell (geostats.
    local_spatial_stats) with a FULL oracle — per-cell BIGINT-exact
    rows (a finer-grained witness than the single global Moran row):
    one wrong neighbor membership shifts that cell's lag/gi_num."""
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.functions.tilemath import W
    from mapnik_vector_tile_spark.operators.geostats import (
        local_spatial_stats,
    )
    from mapnik_vector_tile_spark.plans.flagship import derive_points

    pts = derive_points(
        spark.read.parquet(f"{sf_dir}/orders.parquet"), "o_orderkey"
    )
    span = 2.0 * W / (1 << MI_Z)
    cells = pts.select(
        F.floor((F.col("mx") + F.lit(W)) / F.lit(span))
        .cast("long")
        .alias("cx"),
        F.floor((F.lit(W) - F.col("my")) / F.lit(span))
        .cast("long")
        .alias("cy"),
    ).groupBy("cx", "cy").agg(F.count(F.lit(1)).cast("long").alias("c"))
    return local_spatial_stats(cells)


def _sql_local_moran(z: int = MI_Z) -> str:
    txe, tye = S.tile_xy_exprs(z)
    return f"""
WITH {S.point_cte('orders', 'o_orderkey')},
cells AS (
  SELECT {txe} AS cx, {tye} AS cy, CAST(COUNT(*) AS BIGINT) AS c
  FROM pts GROUP BY 1, 2),
ks AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(c) AS BIGINT) AS s
  FROM cells),
dev AS (
  SELECT cx, cy, c, c * k - s AS dev FROM cells, ks),
probes AS (
  SELECT d.cx, d.cy, d.cx + o.dx AS nx, d.cy + o.dy AS ny
  FROM dev d
  CROSS JOIN (VALUES (1, 0), (-1, 0), (0, 1), (0, -1)) o(dx, dy)),
neigh AS (
  SELECT p.cx, p.cy, CAST(COUNT(*) AS BIGINT) AS deg,
         CAST(SUM(b.c) AS BIGINT) AS nsum,
         CAST(SUM(b.dev) AS BIGINT) AS lag
  FROM probes p JOIN dev b ON b.cx = p.nx AND b.cy = p.ny
  GROUP BY p.cx, p.cy)
SELECT d.cx, d.cy, d.c, d.dev,
       COALESCE(n.deg, 0) + 1 AS nn,
       COALESCE(n.nsum, 0) + d.c AS gi_num,
       COALESCE(n.lag, 0) AS lag,
       d.dev * COALESCE(n.lag, 0) AS li_num
FROM dev d LEFT JOIN neigh n ON n.cx = d.cx AND n.cy = d.cy
"""


GF_RECT = (4, 4, 8, 8)  # half-open cell rectangle on the 16-grid


def _event_cell_udf(grid: int):
    """pandas UDF: event_id -> struct (cx, cy), a cell of the grid x grid
    lattice from the splitmix64 row hash (cx from its low bits, cy from
    bits 8 and up); `_event_cell_sql` is its SQL twin."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StructField, StructType

    c_t = StructType(
        [StructField("cx", LongType()), StructField("cy", LongType())]
    )

    def _cell_kernel(k):
        from mapnik_vector_tile_spark.sources.synth import splitmix64

        h = splitmix64(k.to_numpy(np.uint64))
        return pd.DataFrame(
            {
                "cx": (h % np.uint64(grid)).astype(np.int64),
                "cy": ((h >> np.uint64(8)) % np.uint64(grid)).astype(
                    np.int64
                ),
            }
        )

    return F.pandas_udf(_cell_kernel, c_t)


def _event_cell_sql(h: str, grid: int) -> str:
    """Columns cx, cy: the DuckDB twin of `_event_cell_udf(grid)` over
    the row hash expression h (`splitmix64_sql("event_id")`)."""
    return (
        f"CAST(({h}) % {grid} AS BIGINT) AS cx,\n"
        f"         CAST((({h}) // 256) % {grid} AS BIGINT) AS cy"
    )


def q_geofence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geofence transitions (geostats.geofence_transitions) with a
    FULL oracle: positions are splitmix64-derived 16-grid cells per
    event, the fence is [4,8)², and both engines replay the identical
    lag-compare over (ts, event_id) per user. Sequence-sensitive: one
    wrong inside-bit flips every subsequent transition parity for
    that user."""
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.operators.geostats import (
        geofence_transitions,
    )

    ck = _event_cell_udf(16)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", "event_id", "ts", ck(F.col("event_id")).alias("c")
    ).select("user_id", "event_id", "ts", "c.cx", "c.cy")
    return geofence_transitions(ev, *GF_RECT)


def _sql_geofence(rect: tuple[int, int, int, int] = GF_RECT) -> str:
    h = splitmix64_sql("event_id")
    x0, y0, x1, y1 = rect
    return f"""
WITH loc AS (
  SELECT user_id, event_id, ts,
         {_event_cell_sql(h, 16)}
  FROM events),
mk AS (
  SELECT user_id, event_id, cx, cy,
         CASE WHEN cx >= {x0} AND cx < {x1}
                   AND cy >= {y0} AND cy < {y1}
              THEN 1 ELSE 0 END AS ins,
         COALESCE(lag(CASE WHEN cx >= {x0} AND cx < {x1}
                                AND cy >= {y0} AND cy < {y1}
                           THEN 1 ELSE 0 END)
                  OVER (PARTITION BY user_id ORDER BY ts, event_id),
                  0) AS prev
  FROM loc)
SELECT user_id, event_id,
       CASE WHEN ins = 1 THEN 'enter' ELSE 'exit' END AS kind, cx, cy
FROM mk WHERE ins <> prev
"""


DB_MINPTS = 4
_DB_M = 1 << 21


def q_grid_dbscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid DBSCAN (geostats.grid_dbscan) over the same z5 occupancy
    grid as Moran's I, min_pts=4, with a FULL per-cell oracle: the
    DuckDB twin recomputes the core-cell connected components with a
    reachability CTE (smaller-label propagation over king adjacency)
    and replays the border min-rep assignment — role and rep per
    occupied cell."""
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.functions.tilemath import W
    from mapnik_vector_tile_spark.operators.geostats import grid_dbscan
    from mapnik_vector_tile_spark.plans.flagship import derive_points

    pts = derive_points(
        spark.read.parquet(f"{sf_dir}/orders.parquet"), "o_orderkey"
    )
    span = 2.0 * W / (1 << MI_Z)
    cells = pts.select(
        F.floor((F.col("mx") + F.lit(W)) / F.lit(span))
        .cast("long")
        .alias("cx"),
        F.floor((F.lit(W) - F.col("my")) / F.lit(span))
        .cast("long")
        .alias("cy"),
    ).groupBy("cx", "cy").agg(F.count(F.lit(1)).cast("long").alias("c"))
    return grid_dbscan(cells, DB_MINPTS)


def _sql_grid_dbscan(z: int = MI_Z, min_pts: int = DB_MINPTS) -> str:
    txe, tye = S.tile_xy_exprs(z)
    return f"""
WITH RECURSIVE {S.point_cte('orders', 'o_orderkey')},
cells AS (
  SELECT {txe} AS cx, {tye} AS cy, CAST(COUNT(*) AS BIGINT) AS c
  FROM pts GROUP BY 1, 2),
core AS (
  SELECT cx, cy, c, cx * {_DB_M} + cy AS cid
  FROM cells WHERE c >= {min_pts}),
edges AS (
  SELECT a.cid AS s, b.cid AS d
  FROM core a
  CROSS JOIN (VALUES (1,0),(-1,0),(0,1),(0,-1),
                     (1,1),(1,-1),(-1,1),(-1,-1)) o(dx, dy)
  JOIN core b ON b.cx = a.cx + o.dx AND b.cy = a.cy + o.dy),
reach(node, r) AS (
  SELECT cid, cid FROM core
  UNION
  SELECT e.s, reach.r FROM edges e
  JOIN reach ON reach.node = e.d
  WHERE reach.r < e.s),
lbl AS (SELECT node AS cid, MIN(r) AS rep FROM reach GROUP BY node),
corel AS (
  SELECT c.cx, c.cy, c.c, l.rep, CAST(2 AS BIGINT) AS role
  FROM core c JOIN lbl l ON l.cid = c.cid),
noncore AS (SELECT cx, cy, c FROM cells WHERE c < {min_pts}),
border AS (
  SELECT n.cx, n.cy, n.c, MIN(k.rep) AS rep, CAST(1 AS BIGINT) AS role
  FROM noncore n
  CROSS JOIN (VALUES (1,0),(-1,0),(0,1),(0,-1),
                     (1,1),(1,-1),(-1,1),(-1,-1)) o(dx, dy)
  JOIN corel k ON k.cx = n.cx + o.dx AND k.cy = n.cy + o.dy
  GROUP BY n.cx, n.cy, n.c),
noise AS (
  SELECT n.cx, n.cy, n.c, CAST(-1 AS BIGINT) AS rep,
         CAST(0 AS BIGINT) AS role
  FROM noncore n
  WHERE NOT EXISTS (SELECT 1 FROM border b
                    WHERE b.cx = n.cx AND b.cy = n.cy))
SELECT cx, cy, c, rep, role FROM corel
UNION ALL SELECT cx, cy, c, rep, role FROM border
UNION ALL SELECT cx, cy, c, rep, role FROM noise
"""


CT_GRID = 4
CT_MIN = 3


def q_cotravel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-travel detection (geostats.cotravel_pairs) with a FULL
    oracle: visits = (user, hour bucket, splitmix 4-grid cell) from
    events; both engines distinct-ify, EXCLUDE crowded buckets
    (> hot_bucket_limit distinct occupants — the enforced skew
    guard, replayed by the twin's HAVING), self-join on the bucket
    key and keep pairs with ≥3 distinct co-visits."""
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.operators.geostats import cotravel_pairs

    ck = _event_cell_udf(CT_GRID)
    loc = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id",
        F.floor(F.unix_timestamp("ts") / F.lit(3600.0)).cast("long").alias(
            "tb"
        ),
        ck(F.col("event_id")).alias("c"),
    ).select("user_id", "tb", "c.cx", "c.cy")
    return cotravel_pairs(loc, CT_MIN)


def _sql_cotravel(
    grid: int = CT_GRID, min_co: int = CT_MIN, hot_limit: int = 4096
) -> str:
    h = splitmix64_sql("event_id")
    return f"""
WITH loc0 AS (
  SELECT DISTINCT user_id,
         CAST(floor(floor(epoch(ts)) / {S.flit(3600.0)}) AS BIGINT) AS tb,
         {_event_cell_sql(h, grid)}
  FROM events),
hot AS (
  SELECT tb, cx, cy FROM loc0
  GROUP BY tb, cx, cy HAVING COUNT(*) > {hot_limit}),
loc AS (
  SELECT l.* FROM loc0 l
  ANTI JOIN hot h ON h.tb = l.tb AND h.cx = l.cx AND h.cy = l.cy)
SELECT a.user_id AS ua, b.user_id AS ub,
       CAST(COUNT(*) AS BIGINT) AS n_co
FROM loc a JOIN loc b
  ON a.tb = b.tb AND a.cx = b.cx AND a.cy = b.cy
 AND a.user_id < b.user_id
GROUP BY 1, 2 HAVING COUNT(*) >= {min_co}
"""


def q_voronoi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete Voronoi labels + boundary over the z5 occupancy grid
    (cells from orders, 25 nation-derived seeds) with a FULL oracle:
    DuckDB replays the argmin with a (d2, sid)-ordered window and the
    rook different-label count with the same self-join — label, exact
    BIGINT d2, and n_diff per occupied cell all sit under one hash."""
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.functions.tilemath import W
    from mapnik_vector_tile_spark.operators.geostats import voronoi_assign
    from mapnik_vector_tile_spark.plans.flagship import derive_points

    span = 2.0 * W / (1 << MI_Z)

    def to_cells(df, key):
        pts = derive_points(df, key)
        return pts.select(
            F.floor((F.col("mx") + F.lit(W)) / F.lit(span))
            .cast("long")
            .alias("cx"),
            F.floor((F.lit(W) - F.col("my")) / F.lit(span))
            .cast("long")
            .alias("cy"),
        )

    cells = to_cells(
        spark.read.parquet(f"{sf_dir}/orders.parquet"), "o_orderkey"
    ).distinct()
    seeds = (
        derive_points(
            spark.read.parquet(f"{sf_dir}/nation.parquet").select(
                F.col("n_nationkey").cast("long").alias("n_nationkey")
            ),
            "n_nationkey",
        )
        .select(
            F.col("id").cast("long").alias("seed_id"),
            F.floor((F.col("mx") + F.lit(W)) / F.lit(span))
            .cast("long")
            .alias("sx"),
            F.floor((F.lit(W) - F.col("my")) / F.lit(span))
            .cast("long")
            .alias("sy"),
        )
    )
    return voronoi_assign(cells, seeds)


def _sql_voronoi(z: int = MI_Z) -> str:
    txe, tye = S.tile_xy_exprs(z)
    stxe, stye = S.tile_xy_exprs(z)
    return f"""
WITH {S.point_cte('orders', 'o_orderkey')},
{S.point_cte('nation', 'CAST(n_nationkey AS BIGINT)', 'sid', 'spts')},
cells AS (
  SELECT DISTINCT {txe} AS cx, {tye} AS cy FROM pts),
seeds AS (
  SELECT CAST(sid AS BIGINT) AS sid,
         {stxe.replace('mx', 'spts.mx')} AS sx,
         {stye.replace('my', 'spts.my')} AS sy
  FROM spts),
near AS (
  SELECT c.cx, c.cy, s.sid,
         (c.cx - s.sx) * (c.cx - s.sx)
           + (c.cy - s.sy) * (c.cy - s.sy) AS d2,
         ROW_NUMBER() OVER (
           PARTITION BY c.cx, c.cy
           ORDER BY (c.cx - s.sx) * (c.cx - s.sx)
                      + (c.cy - s.sy) * (c.cy - s.sy), s.sid) AS rn
  FROM cells c CROSS JOIN seeds s),
lab AS (
  SELECT cx, cy, sid, CAST(d2 AS BIGINT) AS d2 FROM near WHERE rn = 1),
diff AS (
  SELECT a.cx, a.cy,
         CAST(SUM(CASE WHEN b.sid <> a.sid THEN 1 ELSE 0 END) AS BIGINT)
           AS n_diff
  FROM lab a
  CROSS JOIN (VALUES (1,0),(-1,0),(0,1),(0,-1)) o(dx, dy)
  JOIN lab b ON b.cx = a.cx + o.dx AND b.cy = a.cy + o.dy
  GROUP BY a.cx, a.cy)
SELECT l.cx, l.cy, l.sid AS seed_id, l.d2,
       COALESCE(d.n_diff, CAST(0 AS BIGINT)) AS n_diff
FROM lab l LEFT JOIN diff d ON d.cx = l.cx AND d.cy = l.cy
"""


def q_od_flows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OD flow matrix (geostats.od_flows) over the events table with a
    FULL oracle: pings locate on the same splitmix 4-grid as
    q_cotravel, order per user by (epoch seconds, event_id), and both
    engines fold identical directed cell-pair flows — trip counts,
    exact integer duration sums, distinct-user counts."""
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.operators.geostats import od_flows

    ck = _event_cell_udf(4)
    loc = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id",
        F.floor(F.unix_timestamp("ts")).cast("long").alias("t"),
        F.col("event_id").cast("long").alias("eid"),
        ck(F.col("event_id")).alias("c"),
    ).select("user_id", "t", "eid", "c.cx", "c.cy")
    return od_flows(loc)


def _sql_od_flows() -> str:
    h = splitmix64_sql("event_id")
    return f"""
WITH loc AS (
  SELECT user_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS t,
         CAST(event_id AS BIGINT) AS eid,
         {_event_cell_sql(h, 4)}
  FROM events),
legs AS (
  SELECT user_id, t, cx, cy,
         lag(cx) OVER w AS ocx,
         lag(cy) OVER w AS ocy,
         lag(t) OVER w AS ot
  FROM loc
  WINDOW w AS (PARTITION BY user_id ORDER BY t, eid))
SELECT ocx, ocy, cx AS dcx, cy AS dcy,
       CAST(COUNT(*) AS BIGINT) AS n_trips,
       CAST(SUM(t - ot) AS BIGINT) AS sum_dur,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM legs
WHERE ocx IS NOT NULL AND (ocx <> cx OR ocy <> cy)
GROUP BY ocx, ocy, cx, cy
"""


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


def q_hourly_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-week profiles (geostats.hourly_profiles) over events
    located on the cotravel 4-grid, FULL oracle: identical integer
    hour-of-week fold, argmax peak with earlier-hour ties, profile
    witness."""
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.operators.geostats import hourly_profiles

    ck = _event_cell_udf(4)
    loc = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.floor(F.unix_timestamp("ts")).cast("long").alias("t"),
        ck(F.col("event_id")).alias("c"),
    ).select("c.cx", "c.cy", "t")
    return hourly_profiles(loc)


def _sql_hourly_profile() -> str:
    h = splitmix64_sql("event_id")
    return f"""
WITH loc AS (
  SELECT {_event_cell_sql(h, 4)},
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


KX_TAU = 3600


def q_knox(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Knox ingredients (geostats.knox_ingredients, tau 1h, same-z5-
    cell spatial closeness) over located events, FULL oracle: DuckDB
    recomputes C(n,2)/per-cell C(n_c,2) closed-form and the two
    bucket-join pair counts with the identical later-time dedup."""
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.operators.geostats import knox_ingredients

    ck = _event_cell_udf(32)
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
  SELECT {_event_cell_sql(h, 32)},
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


def q_mobility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mobility profiles (geostats.mobility_profiles) over events
    located on a 32-grid, FULL oracle: exact integer gyration
    moments, distinct-cell support, night-argmax home with lexicomin
    ties, and one pinned sqrt expression for the display radius."""
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.operators.geostats import (
        mobility_profiles,
    )

    ck = _event_cell_udf(32)
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
         {_event_cell_sql(h, 32)}
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


CA_OBS_WEEK = 4


def q_cell_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cell anomalies (geostats.cell_anomalies, observed week 4 vs
    weeks 0-3 baseline, ratio 2x) over events on the cotravel
    32-grid, FULL oracle: identical cross-multiplied flag rule incl.
    the no-baseline new-activity pin."""
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.operators.geostats import cell_anomalies

    ck = _event_cell_udf(32)
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
  SELECT {_event_cell_sql(h, 32)},
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


def q_return_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Return rates (geostats.return_rates) over events on the
    cotravel 4-grid, FULL oracle: identical distinct-day user
    classification and cell rollups."""
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.operators.geostats import return_rates

    ck = _event_cell_udf(4)
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
         {_event_cell_sql(h, 4)}
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


def q_tile_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity churn (geostats.tile_churn, week 3 vs 4) over events
    on the 32-grid, FULL oracle: identical normalized-week occupancy
    set algebra."""
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.operators.geostats import tile_churn

    ck = _event_cell_udf(32)
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
  SELECT {_event_cell_sql(h, 32)},
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


def q_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust trend stats (temporal.trend_stats) over per-cell daily
    event counts (the q_cotravel 4-grid cells, 30-day corpus — max x
    gap 29 by construction), FULL oracle: DuckDB enumerates the same
    ordered pairs, folds the Mann–Kendall sign sum, sorts slopes by
    the identical dy·(lcm/dx) integer key, picks the same lower
    median and reduces it by gcd."""
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.operators.temporal import trend_stats

    ck = _event_cell_udf(CT_GRID)
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


def q_isotonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic calibration (temporal.isotonic_fit) with a FULL
    oracle: per 4-grid cell, fit P(purchase) monotone in the integer
    event value — the detector-calibration shape.  DuckDB replays
    PAVA as a one-action-per-step recursion (consume or merge-once)
    carrying the block stack as lists, then expands blocks to
    per-point gcd-reduced mean fractions; a single wrong merge
    shifts every later block boundary and breaks the hash."""
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.operators.temporal import isotonic_fit

    ck = _event_cell_udf(CT_GRID)
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


def pairs() -> dict[str, tuple[Callable, str]]:
    """key -> (spark_fn, oracle SQL template)."""
    return {
        "q_staypoints": (q_staypoints, _sql_staypoints()),
        "q_morans_i": (q_morans_i, _sql_morans_i()),
        "q_local_moran": (q_local_moran, _sql_local_moran()),
        "q_geofence": (q_geofence, _sql_geofence()),
        "q_grid_dbscan": (q_grid_dbscan, _sql_grid_dbscan()),
        "q_cotravel": (q_cotravel, _sql_cotravel()),
        "q_voronoi": (q_voronoi, _sql_voronoi()),
        "q_od_flows": (q_od_flows, _sql_od_flows()),
        "q_hausdorff": (q_hausdorff, _sql_hausdorff()),
        "q_erosion_depth": (q_erosion_depth, _sql_erosion_depth()),
        "q_gini": (q_gini, _sql_gini()),
        "q_hourly_profile": (q_hourly_profile, _sql_hourly_profile()),
        "q_knox": (q_knox, _sql_knox()),
        "q_mobility": (q_mobility, _sql_mobility()),
        "q_occupancy_runs": (q_occupancy_runs, _sql_occupancy_runs()),
        "q_cell_anomaly": (q_cell_anomaly, _sql_cell_anomaly()),
        "q_coverage_knees": (q_coverage_knees, _sql_coverage_knees()),
        "q_return_rates": (q_return_rates, _sql_return_rates()),
        "q_tile_churn": (q_tile_churn, _sql_tile_churn()),
        "q_frechet": (q_frechet, _sql_frechet()),
        "q_trend": (q_trend, _sql_trend()),
        "q_isotonic": (q_isotonic, _sql_isotonic()),
    }
