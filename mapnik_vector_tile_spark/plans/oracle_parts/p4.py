"""Part 4 of the oracle-pair registry (mechanical order-preserving split of the former monolithic oracle_pairs.py; the facade module re-exports everything).  Cross-part names are imported explicitly below — generated, do not hand-edit the import block.

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

from mapnik_vector_tile_spark.functions.tilemath import W
from mapnik_vector_tile_spark.plans import shared_sql as S

from mapnik_vector_tile_spark.plans.oracle_parts.p1 import (  # noqa: F401
    DIFF_Z, _engine_point_features, load_views, splitmix64_sql,
)
from mapnik_vector_tile_spark.plans.oracle_parts.p2 import (  # noqa: F401
    COVER_Z, _img_pixel_ctes,
)
from mapnik_vector_tile_spark.plans.oracle_parts.p3 import (  # noqa: F401
    _ENGINE_PAIRS,
    MI_Z, q_morans_i,
)

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

_ENGINE_PAIRS["q_morans_i"] = (q_morans_i, _sql_morans_i())

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

_ENGINE_PAIRS["q_polyline"] = (q_polyline, _sql_polyline())

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

_ENGINE_PAIRS["q_local_moran"] = (q_local_moran, _sql_local_moran())

BF_ROUNDS = 12

def q_bellman_ford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hop-bounded Bellman-Ford (operators/graph.bellman_ford) with a
    FULL oracle. Corpus: a road lattice — one undirected edge per
    orders row between 64-grid node (x,y) = (h%64, (h>>6)%64) and a
    king-move neighbor, weight 1..9 — giving a well-connected giant
    component (~avg degree 7 at sf0.01). Sources: every west-edge
    node (x=0) present in the graph. The DuckDB twin unrolls the SAME
    12 relaxation rounds as MATERIALIZED CTEs, so both engines compute
    the identical ≤12-hop cost field; one wrong relaxation anywhere
    propagates into the value hash."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StructField, StructType

    from mapnik_vector_tile_spark.operators.graph import bellman_ford

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
        x = (h % np.uint64(64)).astype(np.int64)
        y = ((h >> np.uint64(6)) % np.uint64(64)).astype(np.int64)
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
    return bellman_ford(edges, sources, rounds=BF_ROUNDS)

def _sql_bellman_ford(rounds: int = BF_ROUNDS) -> str:
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
  -- hash ONCE per row (see _sql_delta_sssp: inlining the splitmix64
  -- HUGEINT expression five times costs ~15s by itself)
  SELECT ({h}) AS hv FROM orders),
e0 AS (
  SELECT CAST(hv % 64 AS BIGINT) AS x,
         CAST((hv // 64) % 64 AS BIGINT) AS y,
         CAST((hv // 4096) % 3 AS BIGINT) - 1 AS dx,
         CAST((hv // 16384) % 3 AS BIGINT) - 1 AS dy,
         CAST(1 + (hv // 1099511627776) % 9 AS BIGINT) AS w
  FROM h0),
e1 AS (
  SELECT x * 256 + y AS u, (x + dx) * 256 + (y + dy) AS v, w
  FROM e0 WHERE dx <> 0 OR dy <> 0),
edges AS MATERIALIZED (
  SELECT u, v, w FROM e1 UNION ALL SELECT v, u, w FROM e1),
d0 AS MATERIALIZED (
  SELECT DISTINCT u AS node, CAST(0 AS BIGINT) AS d
  FROM edges WHERE u < 256)
{''.join(relax)}
SELECT node, d FROM d{rounds}
"""

_ENGINE_PAIRS["q_bellman_ford"] = (q_bellman_ford, _sql_bellman_ford())

GF_RECT = (4, 4, 8, 8)  # half-open cell rectangle on the 16-grid

def q_geofence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geofence transitions (geostats.geofence_transitions) with a
    FULL oracle: positions are splitmix64-derived 16-grid cells per
    event, the fence is [4,8)², and both engines replay the identical
    lag-compare over (ts, event_id) per user. Sequence-sensitive: one
    wrong inside-bit flips every subsequent transition parity for
    that user."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StructField, StructType

    from mapnik_vector_tile_spark.operators.geostats import (
        geofence_transitions,
    )

    c_t = StructType(
        [StructField("cx", LongType()), StructField("cy", LongType())]
    )

    def _cell_kernel(k):
        from mapnik_vector_tile_spark.sources.synth import splitmix64

        h = splitmix64(k.to_numpy(np.uint64))
        return pd.DataFrame(
            {
                "cx": (h % np.uint64(16)).astype(np.int64),
                "cy": ((h >> np.uint64(8)) % np.uint64(16)).astype(np.int64),
            }
        )

    ck = F.pandas_udf(_cell_kernel, c_t)
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
         CAST(({h}) % 16 AS BIGINT) AS cx,
         CAST((({h}) // 256) % 16 AS BIGINT) AS cy
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

_ENGINE_PAIRS["q_geofence"] = (q_geofence, _sql_geofence())

def q_segment_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J11 (operators/joins.segment_intersect_join) with a FULL
    brute-force oracle: the engine prunes candidates with the bbox
    cell cover; DuckDB evaluates the SAME exact integer orientation
    predicate over the COMPLETE pair cross product (quarter corpus —
    o_orderkey % 4 = 0 — keeps that at ~7M pairs), so a candidate
    dropped by the cover or any predicate divergence mismatches."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StructField, StructType

    from mapnik_vector_tile_spark.operators.joins import (
        segment_intersect_join,
    )

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

    seg = F.pandas_udf(_seg_kernel, seg_t)
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

_ENGINE_PAIRS["q_segment_intersect"] = (
    q_segment_intersect,
    _sql_segment_intersect(),
)

VIT_TRAJS = 200

VIT_RADIUS = 32

VIT_SWITCH = 3 << 24

VIT_OFF_EMIS = (VIT_RADIUS * VIT_RADIUS + 1) << 24  # worse than any real cand

def q_viterbi_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HMM map matching (graph.viterbi_match over joins.snap_candidates)
    with a FULL oracle. Corpus: 200 random-walk GPS traces (customer
    rows as steps, ±16 increments from a per-trace base) over the
    orders road-segment set; emissions are the snap join's exact
    floor-scaled d²; an off-road sentinel (sid=-1, pinned worst-case
    emission) keeps every step non-empty. The DuckDB twin brute-forces
    the emission sets and replays the DP decision-for-decision in a
    recursive CTE carrying per-state (cost, path-hash, off-count)
    LISTS — the path hash is position-sensitive, so one wrong
    stay/switch decision anywhere mismatches."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StructField, StructType

    from mapnik_vector_tile_spark.operators.graph import viterbi_match
    from mapnik_vector_tile_spark.operators.joins import snap_candidates

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

    st_t = StructType(
        [
            StructField("dx", LongType()),
            StructField("dy", LongType()),
        ]
    )

    def _step_kernel(k):
        from mapnik_vector_tile_spark.sources.synth import splitmix64

        h = splitmix64(k.to_numpy(np.uint64))
        return pd.DataFrame(
            {
                "dx": ((h >> np.uint64(32)) % np.uint64(33)).astype(np.int64)
                - 16,
                "dy": ((h >> np.uint64(38)) % np.uint64(33)).astype(np.int64)
                - 16,
            }
        )

    b_t = StructType(
        [StructField("x0", LongType()), StructField("y0", LongType())]
    )

    def _base_kernel(k):
        from mapnik_vector_tile_spark.sources.synth import splitmix64

        h = splitmix64(
            (k + np.int64(1000000000)).to_numpy(np.uint64)
        )
        return pd.DataFrame(
            {
                "x0": (h % np.uint64(512)).astype(np.int64),
                "y0": ((h >> np.uint64(9)) % np.uint64(512)).astype(np.int64),
            }
        )

    seg = F.pandas_udf(_seg_kernel, seg_t)
    stp = F.pandas_udf(_step_kernel, st_t)
    bse = F.pandas_udf(_base_kernel, b_t)

    segments = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .select(F.col("o_orderkey").alias("sid"))
        .select("sid", seg(F.col("sid")).alias("s"))
        .select("sid", "s.ax", "s.ay", "s.bx", "s.by")
    )
    w = Window.partitionBy("tid").orderBy("key")
    wc = w.rowsBetween(Window.unboundedPreceding, 0)
    steps = (
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .select(F.col("c_custkey").alias("key"))
        .select(
            "key",
            (F.col("key") % F.lit(VIT_TRAJS)).alias("tid"),
            stp(F.col("key")).alias("d"),
        )
        .select("key", "tid", "d.dx", "d.dy")
        .select(
            "tid",
            (F.row_number().over(w) - 1).alias("t"),
            F.sum("dx").over(wc).alias("sx"),
            F.sum("dy").over(wc).alias("sy"),
        )
        .select("tid", "t", bse(F.col("tid")).alias("b"), "sx", "sy")
        .select(
            "tid",
            "t",
            (F.col("b.x0") + F.col("sx")).alias("px"),
            (F.col("b.y0") + F.col("sy")).alias("py"),
        )
    )
    pts = steps.select(
        (F.col("tid") * F.lit(4096) + F.col("t")).alias("pid"), "px", "py"
    )
    cands = snap_candidates(
        pts, segments, radius=VIT_RADIUS, cell_shift=5
    ).select(
        F.expr("pid div 4096").alias("tid"),
        (F.col("pid") % F.lit(4096)).alias("t"),
        F.col("sd.sid").alias("sid"),
        F.col("sd.d2s").alias("emis"),
    )
    off = steps.select(
        "tid", "t", F.lit(-1).cast("long").alias("sid"),
        F.lit(VIT_OFF_EMIS).cast("long").alias("emis"),
    )
    return viterbi_match(cands.unionByName(off), VIT_SWITCH)

def _sql_viterbi_match() -> str:
    hs = splitmix64_sql("o_orderkey")
    hp = splitmix64_sql("c_custkey")
    hb = splitmix64_sql("(tid + 1000000000)")
    INF = 1 << 62
    C = VIT_SWITCH
    scale = 1 << 24
    # per-candidate j helpers (inside the walk step)
    cs = "p.asid[j]"
    pos = "COALESCE(list_position(w.asid, p.asid[j]), 0)"
    same = f"CASE WHEN {pos} > 0 THEN w.acost[{pos}] ELSE {INF} END"
    stay = f"({same}) <= bpc + {C}"
    base = f"CASE WHEN {stay} THEN {same} ELSE bpc + {C} END"
    bkh = f"CASE WHEN {stay} THEN w.akh[{pos}] ELSE w.akh[bpi] END"
    bnf = f"CASE WHEN {stay} THEN w.anoff[{pos}] ELSE w.anoff[bpi] END"
    hstep = f"((({cs}) + 2) * (p.t + 1) * 2654435761) % 2147483648"
    return f"""
WITH RECURSIVE segs0 AS (
  SELECT o_orderkey AS sid,
         CAST(({hs}) % 512 AS BIGINT) AS ax,
         CAST((({hs}) // 512) % 512 AS BIGINT) AS ay,
         CAST((({hs}) // 262144) % 65 AS BIGINT) - 32 AS dx,
         CAST((({hs}) // 33554432) % 65 AS BIGINT) - 32 AS dy
  FROM orders),
segs AS MATERIALIZED (
  SELECT sid, ax, ay, ax + dx AS bx, ay + dy AS by FROM segs0),
st0 AS (
  SELECT c_custkey AS key, c_custkey % {VIT_TRAJS} AS tid,
         CAST((({hp}) // 4294967296) % 33 AS BIGINT) - 16 AS dx,
         CAST((({hp}) // 274877906944) % 33 AS BIGINT) - 16 AS dy
  FROM customer),
st1 AS (
  SELECT tid,
         row_number() OVER (PARTITION BY tid ORDER BY key) - 1 AS t,
         SUM(dx) OVER (PARTITION BY tid ORDER BY key
                       ROWS UNBOUNDED PRECEDING) AS sx,
         SUM(dy) OVER (PARTITION BY tid ORDER BY key
                       ROWS UNBOUNDED PRECEDING) AS sy
  FROM st0),
pos AS MATERIALIZED (
  SELECT tid, t,
         CAST(({hb}) % 512 AS BIGINT) + CAST(sx AS BIGINT) AS px,
         CAST((({hb}) // 512) % 512 AS BIGINT) + CAST(sy AS BIGINT) AS py
  FROM st1),
sc AS (
  SELECT o.tid, o.t, s.sid,
         (o.px - s.ax) * (s.bx - s.ax) + (o.py - s.ay) * (s.by - s.ay)
           AS dot,
         (s.bx - s.ax) * (s.bx - s.ax) + (s.by - s.ay) * (s.by - s.ay)
           AS ab2,
         (o.px - s.ax) * (o.px - s.ax) + (o.py - s.ay) * (o.py - s.ay)
           AS ap2,
         (o.px - s.bx) * (o.px - s.bx) + (o.py - s.by) * (o.py - s.by)
           AS bp2
  FROM pos o CROSS JOIN segs s),
fr AS (
  SELECT tid, t, sid,
         CASE WHEN ab2 = 0 OR dot <= 0 THEN ap2
              WHEN dot >= ab2 THEN bp2
              ELSE ap2 * ab2 - dot * dot END AS num,
         CASE WHEN ab2 = 0 OR dot <= 0 OR dot >= ab2 THEN 1
              ELSE ab2 END AS den
  FROM sc),
cand AS (
  SELECT tid, t, sid, (num * {scale}) // den AS emis
  FROM fr WHERE num <= {VIT_RADIUS * VIT_RADIUS} * den
  UNION ALL
  SELECT tid, t, CAST(-1 AS BIGINT), CAST({VIT_OFF_EMIS} AS BIGINT)
  FROM pos),
packs AS MATERIALIZED (
  SELECT tid, t, COUNT(*) AS k,
         list(sid ORDER BY sid) AS asid,
         list(emis ORDER BY sid) AS aemis
  FROM cand GROUP BY tid, t),
nst AS MATERIALIZED (
  SELECT tid, MAX(t) AS tmax FROM packs GROUP BY tid),
walk(tid, t, asid, acost, akh, anoff) AS (
  SELECT tid, t, asid, aemis,
         [CAST(((asid[j] + 2) * 2654435761) % 2147483648 AS BIGINT)
          FOR j IN generate_series(1, len(asid))],
         [CAST(CASE WHEN asid[j] = -1 THEN 1 ELSE 0 END AS BIGINT)
          FOR j IN generate_series(1, len(asid))]
  FROM packs WHERE t = 0
  UNION ALL
  SELECT w.tid, p.t, p.asid,
         [CAST(p.aemis[j] + ({base}) AS BIGINT)
          FOR j IN generate_series(1, len(p.asid))],
         [CAST((({bkh}) + ({hstep})) % 2147483648 AS BIGINT)
          FOR j IN generate_series(1, len(p.asid))],
         [CAST(({bnf}) + CASE WHEN p.asid[j] = -1 THEN 1 ELSE 0 END
               AS BIGINT)
          FOR j IN generate_series(1, len(p.asid))]
  FROM (
    SELECT w.*,
           list_aggregate(w.acost, 'min') AS bpc,
           COALESCE(
             list_position(w.acost, list_aggregate(w.acost, 'min')), 0)
             AS bpi
    FROM walk w) w
  JOIN packs p ON p.tid = w.tid AND p.t = w.t + 1
)
SELECT w.tid, CAST(n.tmax + 1 AS BIGINT) AS n_steps,
       w.acost[bi] AS total_cost, w.akh[bi] AS kh, w.anoff[bi] AS n_off
FROM (
  SELECT w.*,
         COALESCE(
           list_position(w.acost, list_aggregate(w.acost, 'min')), 0)
           AS bi
  FROM walk w) w
JOIN nst n ON n.tid = w.tid AND w.t = n.tmax
"""

_ENGINE_PAIRS["q_viterbi_match"] = (q_viterbi_match, _sql_viterbi_match())

RDZ_Z = 4

RDZ_T = 16

def q_raster_downzoom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster child→parent rollup (raster.raster_downzoom) with a FULL
    oracle: 256 candidate z4 luma tiles, ~25% hash-dropped so zero
    quadrants and partial occupancy masks are exercised; pixels are
    the closed-form gradient (r·3 + c·5 + phase) % 256 so DuckDB
    rebuilds every parent pixel as the floor 2×2 mean and replays
    px_sum, the POSITIONAL wsum, and the occupancy bitmask."""
    import numpy as np
    import pandas as pd

    from mapnik_vector_tile_spark.operators.raster import raster_downzoom
    from mapnik_vector_tile_spark.sources.synth import splitmix64

    T = RDZ_T

    def gen(it):
        for pdf in it:
            rows: dict[str, list] = {"z": [], "x": [], "y": [], "raster": []}
            for i in pdf["id"]:
                i = int(i)
                h = int(splitmix64(np.array([i], dtype=np.uint64))[0])
                if h % 4 == 0:
                    continue
                phase = h % 251
                r = np.arange(T, dtype=np.int64)
                val = (
                    (r[:, None] * 3 + r[None, :] * 5 + phase) % 256
                ).astype(np.uint8)
                rows["z"].append(RDZ_Z)
                rows["x"].append(i % 16)
                rows["y"].append(i // 16)
                rows["raster"].append(val.tobytes())
            yield pd.DataFrame(rows)

    tiles = spark.range(256).mapInPandas(
        gen, "z long, x long, y long, raster binary"
    )
    return raster_downzoom(tiles, T)

def _sql_raster_downzoom(t: int = RDZ_T) -> str:
    sm = splitmix64_sql("i")
    half = t // 2

    def pixv(rr, cc):
        return f"((({rr}) * 3 + ({cc}) * 5 + phase) % 256)"

    val = (
        f"({pixv('2*r2.v', '2*c2.v')} + {pixv('2*r2.v + 1', '2*c2.v')}"
        f" + {pixv('2*r2.v', '2*c2.v + 1')}"
        f" + {pixv('2*r2.v + 1', '2*c2.v + 1')}) // 4"
    )
    return f"""
WITH ids AS (SELECT unnest(generate_series(0, 255)) AS i),
hh AS (SELECT i, {sm} AS h FROM ids),
pres AS (
  SELECT CAST(i % 16 AS BIGINT) AS x, CAST(i // 16 AS BIGINT) AS y,
         CAST(h % 251 AS BIGINT) AS phase
  FROM hh WHERE h % 4 <> 0),
pq AS (
  SELECT x // 2 AS px, y // 2 AS py, x % 2 AS dx, y % 2 AS dy,
         r2.v AS r2, c2.v AS c2, {val} AS val
  FROM pres
  CROSS JOIN (SELECT unnest(generate_series(0, {half - 1})) AS v) r2
  CROSS JOIN (SELECT unnest(generate_series(0, {half - 1})) AS v) c2),
ag AS (
  SELECT px, py, CAST(SUM(val) AS BIGINT) AS px_sum,
         CAST(SUM(val * ((dy * {half} + r2) * {t}
                         + (dx * {half} + c2) + 1)) AS BIGINT) AS wsum
  FROM pq GROUP BY px, py),
oc AS (
  SELECT x // 2 AS px, y // 2 AS py,
         CAST(SUM(1 << ((y % 2) * 2 + (x % 2))) AS BIGINT) AS occ
  FROM pres GROUP BY 1, 2)
SELECT CAST({RDZ_Z - 1} AS BIGINT) AS z, CAST(o.px AS BIGINT) AS x,
       CAST(o.py AS BIGINT) AS y, o.occ, a.px_sum, a.wsum
FROM oc o JOIN ag a ON a.px = o.px AND a.py = o.py
"""

_ENGINE_PAIRS["q_raster_downzoom"] = (
    q_raster_downzoom,
    _sql_raster_downzoom(),
)

RCO_Z = 3

RCO_T = 16

def q_raster_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Porter-Duff OVER (raster.raster_composite_over) with a FULL
    oracle: 64 tiles × 1-3 stacked gradient layers (per-layer luma and
    alpha phases hash-derived); DuckDB unrolls the non-commutative
    bottom-up fold with the same pixman div255 rounding per pixel —
    the positional wsum catches any wrong layer order."""
    import numpy as np
    import pandas as pd

    from mapnik_vector_tile_spark.operators.raster import (
        raster_composite_over,
    )
    from mapnik_vector_tile_spark.sources.synth import splitmix64

    T = RCO_T

    def gen(it):
        for pdf in it:
            rows: dict[str, list] = {
                "z": [], "x": [], "y": [], "layer_order": [], "raster": [],
            }
            for i in pdf["id"]:
                i = int(i)
                h = int(splitmix64(np.array([i], dtype=np.uint64))[0])
                n = 1 + h % 3
                r = np.arange(T, dtype=np.int64)
                for l in range(n):
                    pl = (h >> (8 * l)) % 251
                    pa = (h >> (8 * l + 4)) % 251
                    lum = (
                        (r[:, None] * 3 + r[None, :] * 5 + pl) % 256
                    ).astype(np.uint8)
                    alp = (
                        (r[:, None] * 7 + r[None, :] * 11 + pa) % 256
                    ).astype(np.uint8)
                    la = np.stack([lum, alp], axis=-1)
                    rows["z"].append(RCO_Z)
                    rows["x"].append(i % 8)
                    rows["y"].append(i // 8)
                    rows["layer_order"].append(l)
                    rows["raster"].append(la.tobytes())
            yield pd.DataFrame(rows)

    tiles = spark.range(64).mapInPandas(
        gen, "z long, x long, y long, layer_order long, raster binary"
    )
    return raster_composite_over(tiles, T)

def _sql_raster_composite(t: int = RCO_T) -> str:
    sm = splitmix64_sql("i")

    def d255(e):
        return f"((({e}) + 128 + ((({e}) + 128) // 256)) // 256)"

    def lum(l):
        return f"((r.v * 3 + c.v * 5 + p{l}) % 256)"

    def alp(l):
        return f"((r.v * 7 + c.v * 11 + q{l}) % 256)"

    # unrolled bottom-up fold over up to 3 layers
    o1 = d255(f"{lum(0)} * {alp(0)}")
    a1 = alp(0)
    o2 = (
        f"CASE WHEN n > 1 THEN {d255(f'{lum(1)} * {alp(1)}')}"
        f" + {d255(f'({o1}) * (255 - {alp(1)})')} ELSE {o1} END"
    )
    a2 = (
        f"CASE WHEN n > 1 THEN {alp(1)}"
        f" + {d255(f'({a1}) * (255 - {alp(1)})')} ELSE {a1} END"
    )
    o3 = (
        f"CASE WHEN n > 2 THEN {d255(f'{lum(2)} * {alp(2)}')}"
        f" + {d255(f'({o2}) * (255 - {alp(2)})')} ELSE {o2} END"
    )
    a3 = (
        f"CASE WHEN n > 2 THEN {alp(2)}"
        f" + {d255(f'({a2}) * (255 - {alp(2)})')} ELSE {a2} END"
    )
    return f"""
WITH ids AS (SELECT unnest(generate_series(0, 63)) AS i),
hh AS (
  SELECT i, CAST(i % 8 AS BIGINT) AS x, CAST(i // 8 AS BIGINT) AS y,
         CAST(1 + ({sm}) % 3 AS BIGINT) AS n,
         CAST(({sm}) % 251 AS BIGINT) AS p0,
         CAST((({sm}) // 256) % 251 AS BIGINT) AS p1,
         CAST((({sm}) // 65536) % 251 AS BIGINT) AS p2,
         CAST((({sm}) // 16) % 251 AS BIGINT) AS q0,
         CAST((({sm}) // 4096) % 251 AS BIGINT) AS q1,
         CAST((({sm}) // 1048576) % 251 AS BIGINT) AS q2
  FROM ids),
px AS (
  SELECT x, y, n, r.v AS rv, c.v AS cv,
         CAST({o3} AS BIGINT) AS ol, CAST({a3} AS BIGINT) AS oa
  FROM hh
  CROSS JOIN (SELECT unnest(generate_series(0, {t - 1})) AS v) r
  CROSS JOIN (SELECT unnest(generate_series(0, {t - 1})) AS v) c)
SELECT CAST({RCO_Z} AS BIGINT) AS z, x, y, n AS n_layers,
       CAST(SUM(ol) AS BIGINT) AS sum_l,
       CAST(SUM(oa) AS BIGINT) AS sum_a,
       CAST(SUM(ol * (rv * {t} + cv + 1)) AS BIGINT) AS wsum
FROM px GROUP BY x, y, n
"""

_ENGINE_PAIRS["q_raster_composite"] = (
    q_raster_composite,
    _sql_raster_composite(),
)

TER_Z = 5

TER_T = 16

def q_terrain_rgb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Terrain-RGB (raster.terrain_rgb_encode/decode →
    terrain_tiles_stats) with a FULL oracle: 100 tiles of the
    closed-form surface e_dm = ((r·13 + c·7 + phase) % 40001) − 10000
    are ENCODED to spec RGB bytes, shipped as tile rasters, decoded,
    and summarized; DuckDB replays the surface directly — the
    encode∘decode identity (lossless by construction) plus min/max/
    sum/roughness all sit under one hash."""
    import numpy as np
    import pandas as pd

    from mapnik_vector_tile_spark.operators.raster import (
        terrain_rgb_encode,
        terrain_tiles_stats,
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
                e = ((r[:, None] * 13 + r[None, :] * 7 + phase) % 40001) - 10000
                rows["z"].append(TER_Z)
                rows["x"].append(i % 10)
                rows["y"].append(i // 10)
                rows["raster"].append(terrain_rgb_encode(e).tobytes())
            yield pd.DataFrame(rows)

    tiles = spark.range(100).mapInPandas(
        gen, "z long, x long, y long, raster binary"
    )
    return terrain_tiles_stats(tiles, T)

def _sql_terrain_rgb(t: int = TER_T) -> str:
    sm = splitmix64_sql("i")
    e = "(((r.v * 13 + c.v * 7 + phase) % 40001) - 10000)"
    return f"""
WITH ids AS (SELECT unnest(generate_series(0, 99)) AS i),
hh AS (
  SELECT i, CAST(i % 10 AS BIGINT) AS x, CAST(i // 10 AS BIGINT) AS y,
         CAST(({sm}) % 100003 AS BIGINT) AS phase
  FROM ids),
px AS (
  SELECT x, y, r.v AS rv, c.v AS cv, {e} AS e
  FROM hh
  CROSS JOIN (SELECT unnest(generate_series(0, {t - 1})) AS v) r
  CROSS JOIN (SELECT unnest(generate_series(0, {t - 1})) AS v) c),
dx AS (
  SELECT a.x, a.y, SUM(ABS(b.e - a.e)) AS rough_x
  FROM px a JOIN px b
    ON b.x = a.x AND b.y = a.y AND b.rv = a.rv AND b.cv = a.cv + 1
  GROUP BY a.x, a.y),
dy AS (
  SELECT a.x, a.y, SUM(ABS(b.e - a.e)) AS rough_y
  FROM px a JOIN px b
    ON b.x = a.x AND b.y = a.y AND b.cv = a.cv AND b.rv = a.rv + 1
  GROUP BY a.x, a.y)
SELECT CAST({TER_Z} AS BIGINT) AS z, p.x, p.y,
       CAST(MIN(p.e) AS BIGINT) AS min_dm,
       CAST(MAX(p.e) AS BIGINT) AS max_dm,
       CAST(SUM(p.e) AS BIGINT) AS sum_dm,
       CAST(MIN(dx.rough_x) AS BIGINT) AS rough_x,
       CAST(MIN(dy.rough_y) AS BIGINT) AS rough_y
FROM px p
JOIN dx ON dx.x = p.x AND dx.y = p.y
JOIN dy ON dy.x = p.x AND dy.y = p.y
GROUP BY p.x, p.y
"""

_ENGINE_PAIRS["q_terrain_rgb"] = (q_terrain_rgb, _sql_terrain_rgb())

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

_ENGINE_PAIRS["q_grid_dbscan"] = (q_grid_dbscan, _sql_grid_dbscan())

CT_GRID = 4

CT_MIN = 3

def q_cotravel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-travel detection (geostats.cotravel_pairs) with a FULL
    oracle: visits = (user, hour bucket, splitmix 4-grid cell) from
    events; both engines distinct-ify, EXCLUDE crowded buckets
    (> hot_bucket_limit distinct occupants — the enforced skew
    guard, replayed by the twin's HAVING), self-join on the bucket
    key and keep pairs with ≥3 distinct co-visits."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StructField, StructType

    from mapnik_vector_tile_spark.operators.geostats import cotravel_pairs

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
         CAST(({h}) % {grid} AS BIGINT) AS cx,
         CAST((({h}) // 256) % {grid} AS BIGINT) AS cy
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

_ENGINE_PAIRS["q_cotravel"] = (q_cotravel, _sql_cotravel())

EXIF_N = 200

def q_exif_orient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXIF normalization (raster.exif_normalize_stats) over the
    canonical images with orient = (idx % 8) + 1 — all 8 spec cases
    exercised 25 times each. FULL oracle: DuckDB remaps every SOURCE
    pixel to its destination index per orientation and folds the same
    transform-sensitive positional sum."""
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.operators.raster import (
        exif_normalize_stats,
    )
    from mapnik_vector_tile_spark.sources.synth import images_df

    imgs = images_df(spark, EXIF_N).withColumn(
        "orient",
        (
            F.regexp_extract("image_id", r"(\d+)$", 1).cast("long") % 8 + 1
        ),
    )
    return exif_normalize_stats(imgs)

def _sql_exif_orient(n: int = EXIF_N) -> str:
    # destination index of source pixel (y, x) per orientation o
    rd = """CASE o
      WHEN 1 THEN y WHEN 2 THEN y WHEN 3 THEN h - 1 - y
      WHEN 4 THEN h - 1 - y WHEN 5 THEN x WHEN 6 THEN x
      WHEN 7 THEN w - 1 - x WHEN 8 THEN w - 1 - x END"""
    cd = """CASE o
      WHEN 1 THEN x WHEN 2 THEN w - 1 - x WHEN 3 THEN w - 1 - x
      WHEN 4 THEN x WHEN 5 THEN y WHEN 6 THEN h - 1 - y
      WHEN 7 THEN h - 1 - y WHEN 8 THEN y END"""
    wout = "CASE WHEN o <= 4 THEN w ELSE h END"
    return f"""
WITH {_img_pixel_ctes(n)},
lum AS MATERIALIZED (
  SELECT i, w, h, y, x, i % 8 + 1 AS o,
         (r * 77 + g * 151 + b * 28) // 256 AS g8
  FROM chan)
SELECT 'img_' || lpad(CAST(i AS VARCHAR), 12, '0') AS image_id,
       CAST(MIN(o) AS BIGINT) AS orient,
       CAST(MIN({wout}) AS BIGINT) AS out_w,
       CAST(MIN(CASE WHEN o <= 4 THEN h ELSE w END) AS BIGINT) AS out_h,
       CAST(SUM(g8) AS BIGINT) AS px_sum,
       CAST(SUM(g8 * (({rd}) * ({wout}) + ({cd}) + 1)) AS BIGINT) AS wsum
FROM lum GROUP BY i
"""

_ENGINE_PAIRS["q_exif_orient"] = (q_exif_orient, _sql_exif_orient())

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

_ENGINE_PAIRS["q_voronoi"] = (q_voronoi, _sql_voronoi())

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

def _sql_earcut() -> str:
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
    sm = splitmix64_sql("(pid * 16 + k)")
    dirs = ",".join(f"({k},{dx},{dy})" for k, (dx, dy) in enumerate(EC_DIRS))
    fincr = cr("active[1]", "active[2]", "active[3]")
    tcr = cr("tri.a", "tri.b", "tri.c")
    return f"""
WITH RECURSIVE
pids AS (SELECT unnest(generate_series(0, {EC_NPOLY - 1})) AS pid),
dirs(k, ux, uy) AS (VALUES {dirs}),
verts AS (
  SELECT pid, k,
         CAST(1 + ({sm}) % 64 AS BIGINT) * ux AS x,
         CAST(1 + ({sm}) % 64 AS BIGINT) * uy AS y
  FROM pids, dirs),
rings AS (
  SELECT pid, list(x ORDER BY k) AS xs, list(y ORDER BY k) AS ys
  FROM verts GROUP BY pid),
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
SELECT f.pid, CAST(len(f.xs) AS BIGINT) AS n_pts,
       CAST(COALESCE(MAX(e.kk), 0) AS BIGINT) AS n_tris,
       CAST(COALESCE(SUM({tcr.replace('xs[', 'f.xs[').replace('ys[', 'f.ys[')}), 0) AS BIGINT) AS area2,
       CAST(COALESCE(SUM(e.kk * (tri.a * 16777216 + tri.b * 4096 + tri.c)), 0) % 2305843009213693952 AS BIGINT) AS trih
FROM fin f LEFT JOIN ex e ON e.pid = f.pid AND tri IS NOT NULL
GROUP BY f.pid, f.xs
"""

_ENGINE_PAIRS["q_earcut"] = (q_earcut, _sql_earcut())

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

    # ---- final clip CTE (q_earcut's machinery + coincidence
    #      exemption; active holds 0-based indices) ----
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
WITH RECURSIVE
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
  FROM ringa),{bridge('hb', 'rings', 'bb', '')},
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
SELECT f.pid, CAST(2 AS BIGINT) AS n_holes,
       CAST(len(f.xs) AS BIGINT) AS n_pts,
       CAST(COALESCE(MAX(e.kk), 0) AS BIGINT) AS n_tris,
       CAST(COALESCE(SUM({tcr.replace('xs[', 'f.xs[').replace('ys[', 'f.ys[')}), 0) AS BIGINT) AS area2,
       CAST(COALESCE(SUM(e.kk * (tri.a * 16777216 + tri.b * 4096 + tri.c)), 0) % 2305843009213693952 AS BIGINT) AS trih
FROM fin f LEFT JOIN ex e ON e.pid = f.pid AND tri IS NOT NULL
GROUP BY f.pid, f.xs
"""

_ENGINE_PAIRS["q_earcut_holes"] = (q_earcut_holes, _sql_earcut_holes())

def q_hillshade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hillshade classification (raster.hillshade_tiles) over the same
    closed-form Terrain-RGB corpus as q_terrain_rgb, FULL oracle: the
    engine decodes spec RGB bytes and classifies every interior pixel
    by exact cross-multiplied Lambert-cosine squares; DuckDB replays
    the surface, the Horn 3x3 numerators via an 8-offset weights join,
    and the same integer band logic — histogram, sum(n.l), sum(|n|^2)
    all under one hash."""
    import numpy as np
    import pandas as pd

    from mapnik_vector_tile_spark.operators.raster import (
        hillshade_tiles,
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
                e = ((r[:, None] * 13 + r[None, :] * 7 + phase) % 40001) - 10000
                rows["z"].append(TER_Z)
                rows["x"].append(i % 10)
                rows["y"].append(i // 10)
                rows["raster"].append(terrain_rgb_encode(e).tobytes())
            yield pd.DataFrame(rows)

    tiles = spark.range(100).mapInPandas(
        gen, "z long, x long, y long, raster binary"
    )
    return hillshade_tiles(tiles, T)

def _sql_hillshade(t: int = TER_T) -> str:
    sm = splitmix64_sql("i")
    e = "(((r.v * 13 + c.v * 7 + phase) % 40001) - 10000)"
    l2 = 6  # |l|^2 for l = (1, -1, 2)
    return f"""
WITH ids AS (SELECT unnest(generate_series(0, 99)) AS i),
hh AS (
  SELECT i, CAST(i % 10 AS BIGINT) AS x, CAST(i // 10 AS BIGINT) AS y,
         CAST(({sm}) % 100003 AS BIGINT) AS phase
  FROM ids),
px AS (
  SELECT x, y, r.v AS rv, c.v AS cv, {e} AS e
  FROM hh
  CROSS JOIN (SELECT unnest(generate_series(0, {t - 1})) AS v) r
  CROSS JOIN (SELECT unnest(generate_series(0, {t - 1})) AS v) c),
grad AS (
  SELECT a.x, a.y, a.rv, a.cv,
         CAST(SUM(w.wx * b.e) AS BIGINT) AS p,
         CAST(SUM(w.wy * b.e) AS BIGINT) AS q
  FROM px a
  CROSS JOIN (VALUES (-1,-1,-1,-1),(-1,0,0,-2),(-1,1,1,-1),
                     (0,-1,-2,0),(0,1,2,0),
                     (1,-1,-1,1),(1,0,0,2),(1,1,1,1)) w(dr, dc, wx, wy)
  JOIN px b ON b.x = a.x AND b.y = a.y
           AND b.rv = a.rv + w.dr AND b.cv = a.cv + w.dc
  WHERE a.rv BETWEEN 1 AND {t - 2} AND a.cv BETWEEN 1 AND {t - 2}
  GROUP BY 1, 2, 3, 4),
cls AS (
  SELECT x, y, (-p + q + 32) AS nl, (p * p + q * q + 256) AS n2
  FROM grad),
bands AS (
  SELECT x, y, nl, n2,
         CASE WHEN nl <= 0 THEN 0
              ELSE 1 + CASE WHEN 4 * nl * nl >= 1 * n2 * {l2} THEN 1 ELSE 0 END
                     + CASE WHEN 4 * nl * nl >= 2 * n2 * {l2} THEN 1 ELSE 0 END
                     + CASE WHEN 4 * nl * nl >= 3 * n2 * {l2} THEN 1 ELSE 0 END
         END AS band
  FROM cls)
SELECT CAST({TER_Z} AS BIGINT) AS z, x, y,
       CAST(COUNT(*) AS BIGINT) AS n_px,
       CAST(SUM(CASE WHEN band = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
       CAST(SUM(CASE WHEN band = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
       CAST(SUM(CASE WHEN band = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2,
       CAST(SUM(CASE WHEN band >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS c3,
       CAST(SUM(nl) AS BIGINT) AS sum_nl,
       CAST(SUM(n2) AS BIGINT) AS sum_n2
FROM bands GROUP BY x, y
"""

_ENGINE_PAIRS["q_hillshade"] = (q_hillshade, _sql_hillshade())

SP_ATLAS = 128

SP_GROUPS = 24

def q_sprite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sprite-atlas shelf packing (functions/shelfpack.py via
    raster.sprite_atlas) with a FULL oracle: icon dims derive from
    splitmix64(p_partkey), one atlas per partkey%24 group; DuckDB
    replays the tallest-first scan with a shelf-state-carrying
    recursive CTE — first-fit shelf choice, new-shelf rule, sheet
    rollover — so every (g, icon, sheet, px, py) placement row
    matches bit-exactly."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StructField, StructType

    from mapnik_vector_tile_spark.operators.raster import sprite_atlas

    wh_t = StructType(
        [StructField("w", LongType()), StructField("h", LongType())]
    )

    def _wh_kernel(k):
        from mapnik_vector_tile_spark.sources.synth import splitmix64

        h = splitmix64(k.to_numpy(dtype=np.uint64))
        return pd.DataFrame(
            {
                "w": (1 + (h % np.uint64(40))).astype(np.int64),
                "h": (1 + ((h >> np.uint64(6)) % np.uint64(40))).astype(
                    np.int64
                ),
            }
        )

    wh = F.pandas_udf(_wh_kernel, wh_t)
    icons = (
        spark.read.parquet(f"{sf_dir}/part.parquet")
        .select(
            F.col("p_partkey").cast("long").alias("icon_id"),
            (F.col("p_partkey") % SP_GROUPS).cast("long").alias("g"),
            wh(F.col("p_partkey").cast("long")).alias("wh"),
        )
        .select("g", "icon_id", "wh.w", "wh.h")
    )
    return sprite_atlas(icons, atlas=SP_ATLAS)

def _sql_sprite(a: int = SP_ATLAS) -> str:
    sm = splitmix64_sql("CAST(p_partkey AS BIGINT)")
    fp = (
        "list_filter(range(1, len(shelves) + 1),"
        " p -> shelves[p].sh >= h AND shelves[p].sx + w <= "
        f"{a})[1]"
    )
    return f"""
WITH RECURSIVE hh AS (
  SELECT CAST(p_partkey AS BIGINT) AS icon_id,
         CAST(p_partkey % {SP_GROUPS} AS BIGINT) AS g,
         {sm} AS h64
  FROM part),
icons AS (
  SELECT g, icon_id,
         CAST(1 + h64 % 40 AS BIGINT) AS w,
         CAST(1 + (h64 // 64) % 40 AS BIGINT) AS h,
         CAST(row_number() OVER (
           PARTITION BY g
           ORDER BY (1 + (h64 // 64) % 40) DESC,
                    (1 + h64 % 40) DESC, icon_id) AS BIGINT) AS rn
  FROM hh),
t(g, rn, sheet, ynext, shelves, picon, px, py) AS (
  SELECT g, CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
         CAST([] AS STRUCT(sy BIGINT, sh BIGINT, sx BIGINT)[]),
         CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
  FROM (SELECT DISTINCT g FROM icons)
  UNION ALL
  SELECT g, rn,
         CASE WHEN fp IS NOT NULL OR ynext + h <= {a}
              THEN sheet ELSE sheet + 1 END,
         CASE WHEN fp IS NOT NULL THEN ynext
              WHEN ynext + h <= {a} THEN ynext + h
              ELSE h END,
         CASE WHEN fp IS NOT NULL THEN
                list_transform(shelves, (s, i) -> CASE WHEN i = fp
                  THEN {{'sy': s.sy, 'sh': s.sh, 'sx': s.sx + w}}
                  ELSE s END)
              WHEN ynext + h <= {a} THEN
                list_append(shelves, {{'sy': ynext, 'sh': h, 'sx': w}})
              ELSE [{{'sy': CAST(0 AS BIGINT), 'sh': h, 'sx': w}}] END,
         icon_id,
         CASE WHEN fp IS NOT NULL THEN shelves[fp].sx ELSE 0 END,
         CASE WHEN fp IS NOT NULL THEN shelves[fp].sy
              WHEN ynext + h <= {a} THEN ynext
              ELSE 0 END
  FROM (
    SELECT t.g, i.rn, t.sheet, t.ynext, t.shelves,
           i.icon_id, i.w, i.h, {fp} AS fp
    FROM t JOIN icons i ON i.g = t.g AND i.rn = t.rn + 1
  ) s1
)
SELECT g, picon AS icon_id, sheet, px, py
FROM t WHERE rn >= 1
"""

_ENGINE_PAIRS["q_sprite"] = (q_sprite, _sql_sprite())

PR_ROUNDS = 3

def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-round exact-integer PageRank (graph.pagerank_rounds) on
    the SAME symmetrized road lattice as q_bellman_ford, FULL oracle:
    the DuckDB twin unrolls the identical 3 rounds of
    multiply-floor-divide updates as MATERIALIZED CTEs — one wrong
    div/damping anywhere shifts thousands of BIGINT ranks."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StructField, StructType

    from mapnik_vector_tile_spark.operators.graph import pagerank_rounds

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
    edges = e1.unionByName(
        e1.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    return pagerank_rounds(edges, rounds=PR_ROUNDS)

def _sql_pagerank(rounds: int = PR_ROUNDS) -> str:
    h = splitmix64_sql("o_orderkey")
    S = 10**12
    body = []
    for t in range(1, rounds + 1):
        body.append(
            f""",
r{t} AS MATERIALIZED (
  SELECT b.node, b.deg, b.b + (85 * COALESCE(m.s, 0)) // 100 AS r
  FROM base b LEFT JOIN (
    SELECT e.v AS node, SUM(a.r // a.deg) AS s
    FROM r{t - 1} a JOIN edges e ON e.u = a.node
    GROUP BY e.v) m ON m.node = b.node)"""
        )
    return f"""
WITH e0 AS (
  SELECT CAST(({h}) % 64 AS BIGINT) AS x,
         CAST((({h}) // 64) % 64 AS BIGINT) AS y,
         CAST((({h}) // 4096) % 3 AS BIGINT) - 1 AS dx,
         CAST((({h}) // 16384) % 3 AS BIGINT) - 1 AS dy
  FROM orders),
e1 AS (
  SELECT x * 256 + y AS u, (x + dx) * 256 + (y + dy) AS v
  FROM e0 WHERE dx <> 0 OR dy <> 0),
edges AS MATERIALIZED (
  SELECT u, v FROM e1 UNION ALL SELECT v AS u, u AS v FROM e1),
nodes AS MATERIALIZED (
  SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS deg
  FROM edges GROUP BY u),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
base AS MATERIALIZED (
  SELECT node, deg,
         CAST({S} // n AS BIGINT) AS r0,
         CAST((15 * ({S} // n)) // 100 AS BIGINT) AS b
  FROM nodes CROSS JOIN nn),
r0 AS (SELECT node, deg, r0 AS r FROM base){''.join(body)}
SELECT node, deg, CAST(r AS BIGINT) AS r FROM r{rounds}
"""

_ENGINE_PAIRS["q_pagerank"] = (q_pagerank, _sql_pagerank())

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

_ENGINE_PAIRS["q_way_assembly"] = (q_way_assembly, _sql_way_assembly())

def q_od_flows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OD flow matrix (geostats.od_flows) over the events table with a
    FULL oracle: pings locate on the same splitmix 4-grid as
    q_cotravel, order per user by (epoch seconds, event_id), and both
    engines fold identical directed cell-pair flows — trip counts,
    exact integer duration sums, distinct-user counts."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StructField, StructType

    from mapnik_vector_tile_spark.operators.geostats import od_flows

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
         CAST(({h}) % 4 AS BIGINT) AS cx,
         CAST((({h}) // 256) % 4 AS BIGINT) AS cy
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

_ENGINE_PAIRS["q_od_flows"] = (q_od_flows, _sql_od_flows())

IMG_HC_N = 150

def q_harris(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Harris corners (raster.harris_corner_stats) over the canonical
    images table with a FULL oracle: DuckDB regenerates the pixels,
    builds Sobel products, 3x3 structure-tensor box sums (HAVING 9
    keeps exactly the engine's response interior), the k=1/16
    fraction-cleared response, and the strict 8-neighbor NMS — corner
    counts, response sums and maxima all under one hash with captions
    riding through."""
    from mapnik_vector_tile_spark.operators.raster import (
        harris_corner_stats,
    )
    from mapnik_vector_tile_spark.sources.synth import images_df

    imgs = images_df(spark, IMG_HC_N)
    return harris_corner_stats(imgs)

def _sql_harris(n: int = IMG_HC_N) -> str:
    from mapnik_vector_tile_spark.operators.raster import HARRIS_THR

    return f"""
WITH {_img_pixel_ctes(n)},
lum AS MATERIALIZED (
  SELECT i, w, h, y, x, (r * 77 + g * 151 + b * 28) // 256 AS g8
  FROM chan
),
tri AS MATERIALIZED (
  SELECT i, w, h, y, x,
         lag(g8)  OVER (PARTITION BY i, y ORDER BY x) AS wv,
         g8 AS cv,
         lead(g8) OVER (PARTITION BY i, y ORDER BY x) AS ev
  FROM lum
),
sob AS MATERIALIZED (
  SELECT m.i, m.y, m.x,
         (u.ev + 2 * m.ev + d.ev) - (u.wv + 2 * m.wv + d.wv) AS gx,
         (d.wv + 2 * d.cv + d.ev) - (u.wv + 2 * u.cv + u.ev) AS gy
  FROM tri m
  JOIN tri u ON u.i = m.i AND u.x = m.x AND u.y = m.y - 1
  JOIN tri d ON d.i = m.i AND d.x = m.x AND d.y = m.y + 1
  WHERE m.x BETWEEN 1 AND m.w - 2 AND m.y BETWEEN 1 AND m.h - 2
),
prod AS MATERIALIZED (
  SELECT i, y, x, gx * gx AS a, gy * gy AS b, gx * gy AS c FROM sob
),
sums AS MATERIALIZED (
  SELECT p.i, p.y, p.x,
         CAST(SUM(q.a) AS BIGINT) AS sa,
         CAST(SUM(q.b) AS BIGINT) AS sb,
         CAST(SUM(q.c) AS BIGINT) AS sc
  FROM prod p
  CROSS JOIN (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),(0,1),
                     (1,-1),(1,0),(1,1)) o(dy, dx)
  JOIN prod q ON q.i = p.i AND q.y = p.y + o.dy AND q.x = p.x + o.dx
  GROUP BY 1, 2, 3
  HAVING COUNT(*) = 9
),
resp AS MATERIALIZED (
  SELECT i, y, x,
         16 * (sa * sb - sc * sc) - (sa + sb) * (sa + sb) AS r16
  FROM sums
),
nbr AS MATERIALIZED (
  SELECT p.i, p.y, p.x, p.r16,
         MAX(q.r16) AS nmax, COUNT(*) AS nn
  FROM resp p
  CROSS JOIN (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,1),
                     (1,-1),(1,0),(1,1)) o(dy, dx)
  JOIN resp q ON q.i = p.i AND q.y = p.y + o.dy AND q.x = p.x + o.dx
  GROUP BY 1, 2, 3, 4
),
corners AS (
  SELECT i, CAST(COUNT(*) AS BIGINT) AS n_corners,
         CAST(SUM(r16) AS BIGINT) AS sum_r
  FROM nbr
  WHERE nn = 8 AND r16 > {HARRIS_THR} AND r16 > nmax
  GROUP BY i
),
rstats AS (
  SELECT i,
         CAST(SUM(CASE WHEN r16 > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_pos,
         CAST(MAX(r16) AS BIGINT) AS max_r
  FROM resp GROUP BY i
)
SELECT 'img_' || lpad(CAST(d.i AS VARCHAR), 12, '0') AS image_id,
       COALESCE(r.n_pos, 0) AS n_pos,
       COALESCE(c.n_corners, 0) AS n_corners,
       COALESCE(c.sum_r, 0) AS sum_r,
       COALESCE(r.max_r, 0) AS max_r,
       caps.caption AS caption
FROM dims d
LEFT JOIN rstats r ON r.i = d.i
LEFT JOIN corners c ON c.i = d.i
JOIN caps ON caps.i = d.i
"""

_ENGINE_PAIRS["q_harris"] = (q_harris, _sql_harris())

QM_T = 16

QM_TILES = 25

def q_quality_mosaic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max-value composite (raster.quality_mosaic) with a FULL oracle:
    25 tiles carry 1-3 overlapping closed-form scenes
    v = (r·a + c·b + ph) % 251; DuckDB replays the per-pixel argmax
    with a (v DESC, scene ASC) window rank and folds the identical
    provenance + positional mosaic witness."""
    import numpy as np
    import pandas as pd

    from mapnik_vector_tile_spark.operators.raster import quality_mosaic
    from mapnik_vector_tile_spark.sources.synth import splitmix64

    T = QM_T

    def gen(it):
        for pdf in it:
            rows = {"z": [], "x": [], "y": [], "scene_id": [], "raster": []}
            for i in pdf["id"]:
                i = int(i)
                tile = i % QM_TILES
                # tile t gets scenes i where i % QM_TILES == t; the
                # range(75) driver below yields 3 scene slots per tile
                h = int(splitmix64(np.array([i], dtype=np.uint64))[0])
                if i >= QM_TILES and h % 3 == 0:
                    continue  # 1-3 scenes per tile, slot 0 always kept
                a = 1 + h % 13
                b = 1 + (h >> 8) % 11
                ph = (h >> 16) % 997
                r = np.arange(T, dtype=np.int64)
                v = (r[:, None] * a + r[None, :] * b + ph) % 251
                rows["z"].append(5)
                rows["x"].append(tile % 5)
                rows["y"].append(tile // 5)
                rows["scene_id"].append(i)
                rows["raster"].append(v.astype(np.uint8).tobytes())
            yield pd.DataFrame(rows)

    scenes = spark.range(QM_TILES * 3).mapInPandas(
        gen, "z long, x long, y long, scene_id long, raster binary"
    )
    return quality_mosaic(scenes, T)

def _sql_quality_mosaic(t: int = QM_T) -> str:
    sm = splitmix64_sql("i")
    return f"""
WITH ids AS (SELECT unnest(generate_series(0, {QM_TILES * 3 - 1})) AS i),
sc AS (
  SELECT i, i % {QM_TILES} AS tile, {sm} AS h FROM ids),
keep AS (
  SELECT i, tile,
         CAST(1 + h % 13 AS BIGINT) AS a,
         CAST(1 + (h // 256) % 11 AS BIGINT) AS b,
         CAST((h // 65536) % 997 AS BIGINT) AS ph
  FROM sc WHERE i < {QM_TILES} OR h % 3 <> 0),
px AS MATERIALIZED (
  SELECT k.i AS scene_id, k.tile, r.v AS rv, c.v AS cv,
         (r.v * k.a + c.v * k.b + k.ph) % 251 AS v
  FROM keep k
  CROSS JOIN (SELECT unnest(generate_series(0, {t - 1})) AS v) r
  CROSS JOIN (SELECT unnest(generate_series(0, {t - 1})) AS v) c),
rnk AS MATERIALIZED (
  SELECT *,
         row_number() OVER (
           PARTITION BY tile, rv, cv ORDER BY v DESC, scene_id) AS rn
  FROM px),
winners AS (SELECT * FROM rnk WHERE rn = 1),
ws AS (
  SELECT tile,
         CAST(SUM((rv * {t} + cv + 1) * v) AS BIGINT) AS mosaic_wsum
  FROM winners GROUP BY tile),
prov AS (
  SELECT k.tile, k.i AS scene_id,
         CAST(COALESCE(COUNT(w.v), 0) AS BIGINT) AS pixels_won,
         CAST(COALESCE(SUM(w.v), 0) AS BIGINT) AS sum_won
  FROM keep k
  LEFT JOIN winners w ON w.scene_id = k.i
  GROUP BY k.tile, k.i)
SELECT CAST(5 AS BIGINT) AS z,
       CAST(p.tile % 5 AS BIGINT) AS x,
       CAST(p.tile // 5 AS BIGINT) AS y,
       p.scene_id, p.pixels_won, p.sum_won, ws.mosaic_wsum
FROM prov p JOIN ws ON ws.tile = p.tile
"""

_ENGINE_PAIRS["q_quality_mosaic"] = (q_quality_mosaic, _sql_quality_mosaic())

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

_ENGINE_PAIRS["q_hilbert"] = (q_hilbert, _hilbert_query("duckdb"))

def q_trending_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the streaming trending-tiles leg
    (streaming/trending.py: shared plan, watermark only added on the
    stream side; stream-sink == this twin is pinned in
    tests/test_streaming.py). FULL oracle: hourly tumbling windows,
    per-tile counts at z6, serving-side top-3 rank with the pinned
    (n_events DESC, tx, ty) tie order."""
    from mapnik_vector_tile_spark.streaming.trending import (
        batch_trending_topk,
    )

    return batch_trending_topk(spark, sf_dir)

def _sql_trending_tiles() -> str:
    from mapnik_vector_tile_spark.plans.shared_sql import TWO_W, flit
    from mapnik_vector_tile_spark.streaming.trending import (
        TREND_K,
        TREND_Z,
    )

    utx, uty = S.tile_xy_exprs(TREND_Z)
    lim = (1 << TREND_Z) - 1
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
WITH p AS (
  SELECT event_id, ts, {mx} AS mx, {my} AS my FROM events),
cnt AS (
  SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS wstart,
         {tx} AS tx, {ty} AS ty,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(MIN(event_id) AS BIGINT) AS min_id
  FROM p GROUP BY 1, 2, 3),
rnk AS (
  SELECT *, CAST(row_number() OVER (
    PARTITION BY wstart ORDER BY n_events DESC, tx, ty) AS BIGINT)
    AS rnk
  FROM cnt)
SELECT wstart, tx, ty, n_events, min_id, rnk
FROM rnk WHERE rnk <= {TREND_K}
"""

_ENGINE_PAIRS["q_trending_tiles"] = (q_trending_tiles, _sql_trending_tiles())

ISO_BUDGET = 18

def q_isochrone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isochrone region (graph.isochrone_stats over the bellman_ford
    field, budget 18) with a FULL oracle: DuckDB unrolls the same 12
    relaxation rounds, thresholds, and re-derives perimeter and the
    component count with a recursive-reachability CC — an
    algorithm-independent check on the engine's pointer-doubling."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StructField, StructType

    from mapnik_vector_tile_spark.operators.graph import (
        bellman_ford,
        isochrone_stats,
    )

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
        x = (h % np.uint64(64)).astype(np.int64)
        y = ((h >> np.uint64(6)) % np.uint64(64)).astype(np.int64)
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
    dist = bellman_ford(edges, sources, rounds=BF_ROUNDS)
    return isochrone_stats(dist, ISO_BUDGET)

def _sql_isochrone(budget: int = ISO_BUDGET) -> str:
    base = _sql_bellman_ford()
    head, tail = base.rsplit("SELECT node, d FROM", 1)
    dfinal = f"d{BF_ROUNDS}"
    head = head.replace(
        "WITH h0 AS MATERIALIZED", "WITH RECURSIVE h0 AS MATERIALIZED", 1
    )
    assert "WITH RECURSIVE" in head  # guards against base-CTE renames
    return f"""{head},
cells AS MATERIALIZED (
  SELECT node, node // 256 AS cx, node % 256 AS cy, d
  FROM {dfinal} WHERE d <= {budget}),
adj AS MATERIALIZED (
  SELECT a.node AS s, b.node AS t
  FROM cells a
  CROSS JOIN (VALUES (1, 0), (0, 1)) o(dx, dy)
  JOIN cells b ON b.cx = a.cx + o.dx AND b.cy = a.cy + o.dy),
sym AS (SELECT s, t FROM adj UNION ALL SELECT t, s FROM adj),
reach(node, r) AS (
  SELECT node, node FROM cells
  UNION
  SELECT e.s, reach.r FROM sym e
  JOIN reach ON reach.node = e.t
  WHERE reach.r < e.s),
lbl AS (SELECT node, MIN(r) AS rep FROM reach GROUP BY node)
SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(4 * COUNT(*) - 2 * (SELECT COUNT(*) FROM adj) AS BIGINT)
         AS perim,
       CAST((SELECT COUNT(DISTINCT rep) FROM lbl) AS BIGINT)
         AS n_components,
       CAST(SUM(c.d) AS BIGINT) AS sum_d,
       CAST(MIN(c.cx) AS BIGINT) AS minx,
       CAST(MAX(c.cx) AS BIGINT) AS maxx,
       CAST(MIN(c.cy) AS BIGINT) AS miny,
       CAST(MAX(c.cy) AS BIGINT) AS maxy
FROM cells c
"""

_ENGINE_PAIRS["q_isochrone"] = (q_isochrone, _sql_isochrone())

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

    feats = _engine_point_features(spark, sf_dir)

    def store(mod: int):
        sub = feats.filter(F.col("feature_id") % mod != 0)
        return T.encode_tiles(
            T.assign_tiles(sub, DIFF_Z, DIFF_Z, buffer_units=0),
            buffer_units=0,
        )

    a, b = store(5), store(7)
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

_ENGINE_PAIRS["q_tile_patch"] = (q_tile_patch, _sql_tile_patch())

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

_ENGINE_PAIRS["q_chaikin"] = (q_chaikin, _sql_chaikin())

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

_ENGINE_PAIRS["q_areal_interp"] = (q_areal_interp, _sql_areal_interp())

CV_T = 16

CV_TAPS = ((-1, -1, 2), (0, 0, 1), (1, 1, -2), (0, -1, 3), (-1, 1, -1))

def q_convolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generic convolution (raster.convolve_tiles) with a FULL
    oracle: 100 closed-form uint8 tiles correlate with a broadcast
    asymmetric 5-tap kernel; DuckDB rebuilds the valid-region
    response with a weights join and folds the identical sum/abs/
    min/max/positional witness."""
    import numpy as np
    import pandas as pd

    from mapnik_vector_tile_spark.operators.raster import convolve_tiles
    from mapnik_vector_tile_spark.sources.synth import splitmix64

    T = CV_T

    def gen(it):
        for pdf in it:
            rows = {"z": [], "x": [], "y": [], "raster": []}
            for i in pdf["id"]:
                i = int(i)
                h = int(splitmix64(np.array([i], dtype=np.uint64))[0])
                a = 1 + h % 13
                b = 1 + (h >> 8) % 11
                ph = (h >> 16) % 997
                r = np.arange(T, dtype=np.int64)
                v = (r[:, None] * a + r[None, :] * b + ph) % 256
                rows["z"].append(5)
                rows["x"].append(i % 10)
                rows["y"].append(i // 10)
                rows["raster"].append(v.astype(np.uint8).tobytes())
            yield pd.DataFrame(rows)

    tiles = spark.range(100).mapInPandas(
        gen, "z long, x long, y long, raster binary"
    )
    kernel = spark.createDataFrame(
        list(CV_TAPS), "dy long, dx long, w long"
    )
    return convolve_tiles(tiles, kernel, T)
