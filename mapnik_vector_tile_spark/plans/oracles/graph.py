"""Oracle pairs for the graph algorithms on road lattices and flow
networks (operators.graph).

`pairs()` maps each query key to (spark_fn, oracle SQL template);
`plans.oracles.sql_pairs()` merges the families."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from mapnik_vector_tile_spark.plans.oracles.joins import road_segment_udf
from mapnik_vector_tile_spark.plans.shared_sql import splitmix64_sql


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


def _relax_ctes(rounds: int) -> str:
    """CTEs d1..d{rounds}, each led by a comma: the Bellman-Ford
    relaxation rounds of the distances d0 over `edges`."""
    return "".join(
        f""",
d{r} AS MATERIALIZED (
  SELECT node, MIN(d) AS d FROM (
    SELECT node, d FROM d{r - 1}
    UNION ALL
    SELECT e.v AS node, a.d + e.w AS d
    FROM d{r - 1} a JOIN edges e ON e.u = a.node)
  GROUP BY node)"""
        for r in range(1, rounds + 1)
    )


def _sql_bellman_ford(rounds: int = BF_ROUNDS) -> str:
    h = splitmix64_sql("o_orderkey")
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
{_relax_ctes(rounds)}
SELECT node, d FROM d{rounds}
"""


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

    seg = road_segment_udf()
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


PR_ROUNDS = 3


def _lattice_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(u, v) king-move edges of the 64x64 road lattice, one per order
    key from the splitmix64 row hash, self-loops dropped: the graph of
    q_pagerank and q_triangles, without q_bellman_ford's weights."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StructField, StructType

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
    return (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .select(ek(F.col("o_orderkey")).alias("e"))
        .select("e.u", "e.v", "e.keep")
        .filter(F.col("keep") == 1)
        .drop("keep")
    )


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-round exact-integer PageRank (graph.pagerank_rounds) on
    the SAME symmetrized road lattice as q_bellman_ford, FULL oracle:
    the DuckDB twin unrolls the identical 3 rounds of
    multiply-floor-divide updates as MATERIALIZED CTEs — one wrong
    div/damping anywhere shifts thousands of BIGINT ranks."""
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.operators.graph import pagerank_rounds

    e1 = _lattice_edges(spark, sf_dir)
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


ISO_BUDGET = 18


def q_isochrone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isochrone region (graph.isochrone_stats over the bellman_ford
    field, budget 18) with a FULL oracle: DuckDB unrolls the same 12
    relaxation rounds, thresholds, and re-derives perimeter and the
    component count with a recursive-reachability CC — an
    algorithm-independent check on the engine's pointer-doubling."""
    from mapnik_vector_tile_spark.operators.graph import isochrone_stats

    return isochrone_stats(q_bellman_ford(spark, sf_dir), ISO_BUDGET)


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


def q_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting (graph.triangle_count) on the king-move road
    lattice (dense in diagonal triangles by construction), FULL
    oracle: DuckDB replays the oriented wedge+closure joins."""
    from mapnik_vector_tile_spark.operators.graph import triangle_count

    return triangle_count(_lattice_edges(spark, sf_dir))


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
{_relax_ctes(rounds)}
SELECT node, d FROM d{rounds}
"""


def pairs() -> dict[str, tuple[Callable, str]]:
    """key -> (spark_fn, oracle SQL template)."""
    return {
        "q_bellman_ford": (q_bellman_ford, _sql_bellman_ford()),
        "q_viterbi_match": (q_viterbi_match, _sql_viterbi_match()),
        "q_pagerank": (q_pagerank, _sql_pagerank()),
        "q_isochrone": (q_isochrone, _sql_isochrone()),
        "q_triangles": (q_triangles, _sql_triangles()),
        "q_kcore": (q_kcore, _sql_kcore()),
        "q_delta_sssp": (q_delta_sssp, _sql_delta_sssp()),
    }
