"""STR (Sort-Tile-Recursive) R-tree bulk packing — balanced spatial
partitioning, the missing third leg next to the fixed grids
(functions/tilemath xyz, cellid S2, hexcell H3).

Reference parity: the reference library probes a datasource through
mapnik's per-layer R-tree index (mapnik featureset spatial filter —
SURVEY §2.2 S1); at cluster scale the equivalent structure is a
PACKED R-tree built in bulk over the whole table, and STR
(Leutenegger, Lopez & Edgington, ICDE 1997) is the standard packing:
sort by x, cut into S = ceil(sqrt(P)) vertical slabs of equal count,
sort each slab by y, cut into leaves of ``capacity`` points. Balanced
leaf occupancy is what a fixed grid cannot give on skewed data — STR
leaves ARE the skew-proof spatial shuffle partitions (this is exactly
how Sedona/GeoSpark build their spatial partitioner, except they
approximate the cuts from a driver-side SAMPLE; we compute them
EXACTLY with bounded summaries).

Scale shape — NO global sort, NO unbounded collect:

1. one count + min/max aggregate;
2. x cut values at ranks i·ceil(n/S) via histogram rank-select
   (``rank_select``: one map-side-combining histogram aggregate whose
   driver summary is ≤ n_buckets rows, then one narrow second pass
   over only the candidate buckets: the first pass finds the bucket
   that holds each wanted rank, the second selects the exact value
   inside it);
3. slab assignment is a pure Column fold over the ≤ S−1 broadcast cut
   literals (no join, no shuffle);
4. y cut values PER SLAB via one grouped histogram (driver summary
   ≤ S·n_buckets rows) + one narrow candidate-bucket pass;
5. final per-leaf MBR/count/member-hash aggregate — ONE shuffle on
   (slab, leaf) with map-side partial aggregation.

Determinism contract: coordinates must be distinct per axis within
the packed set (value-vs-rank cutting is exact only when no cut value
repeats). Real corpora guarantee this by mixing a unique row key into
the low bits (the oracle corpus does exactly that); ties would make
"equal count per slab" undefined under value routing — the classical
STR statement assumes a total order too.

DuckDB oracle: the same cuts by FULL SORT row_number arithmetic —
slab = floor(x_rank / ceil(n/S)), leaf = floor(y_rank_in_slab /
capacity) — an algorithm-independent replay: any off-by-one in the
histogram walk, cumulative offsets, or cut-literal comparison breaks
the per-leaf value hash.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def rank_select(
    df: DataFrame,
    value_col: str,
    ranks: list[int],
    n_buckets: int = 4096,
) -> list[float]:
    """EXACT values at the given 0-based global sort ranks, without a
    global sort: histogram pass (bounded driver summary) locates each
    rank's bucket + local offset; a second pass windows ONLY the
    candidate buckets. Requires numeric ``value_col``; returns values
    in rank order. See module doc for the scale argument."""
    if not ranks:
        return []
    v = F.col(value_col)
    first = df.agg(
        F.count(v).alias("n"), F.min(v).alias("lo"), F.max(v).alias("hi")
    ).collect()[0]
    n, lo, hi = int(first["n"]), first["lo"], first["hi"]
    if n == 0:
        raise ValueError("rank_select: empty input")
    if any(r < 0 or r >= n for r in ranks):
        raise ValueError(f"rank_select: rank out of range for n={n}")
    if lo == hi:
        return [float(lo)] * len(ranks)
    width = (float(hi) - float(lo)) / float(n_buckets)
    bucket = F.least(
        F.lit(n_buckets - 1),
        F.floor((v.cast("double") - F.lit(float(lo))) / F.lit(width)).cast(
            "long"
        ),
    )
    hist = {
        int(r["b"]): int(r["c"])
        for r in df.select(bucket.alias("b"))
        .groupBy("b")
        .agg(F.count("*").alias("c"))
        .collect()
    }
    targets: list[tuple[int, int, int]] = []  # (bucket, local_rank, out_pos)
    cum = 0
    ordered = sorted(hist)
    bi = 0
    for pos, rank in sorted(enumerate(ranks), key=lambda t: t[1]):
        while bi < len(ordered) and cum + hist[ordered[bi]] <= rank:
            cum += hist[ordered[bi]]
            bi += 1
        targets.append((ordered[bi], rank - cum, pos))
    cand = sorted({b for b, _, _ in targets})
    from pyspark.sql.window import Window

    ranked = (
        df.select(v.cast("double").alias("_v"), bucket.alias("_b"))
        .filter(F.col("_b").isin(cand))
        .withColumn(
            "_r",
            F.row_number().over(Window.partitionBy("_b").orderBy("_v")) - 1,
        )
    )
    spark = df.sparkSession
    want = spark.createDataFrame(
        [(b, r, p) for b, r, p in targets], "_b long, _r int, _p int"
    )
    out: list[float | None] = [None] * len(ranks)
    for row in ranked.join(F.broadcast(want), ["_b", "_r"]).collect():
        out[int(row["_p"])] = float(row["_v"])
    return out  # type: ignore[return-value]


def _ceil_sqrt(p: int) -> int:
    """Exact integer ceil(sqrt(p)) — replicated in the oracle SQL by a
    floor(sqrt())-then-adjust CASE so float sqrt slop cannot diverge."""
    return math.isqrt(p - 1) + 1 if p > 1 else 1


def _grouped_rank_select(
    df: DataFrame,
    group_col: str,
    value_col: str,
    ranks_per_group: dict[int, list[int]],
    n_buckets: int = 1024,
) -> dict[int, list[float]]:
    """rank_select per group in two passes total (not per group): one
    grouped histogram (driver summary ≤ n_groups·n_buckets rows, with
    per-group min/max piggybacked), one candidate-(group, bucket)
    windowed pass."""
    v = F.col(value_col).cast("double")
    g = F.col(group_col)
    ext = {
        int(r["g"]): (float(r["lo"]), float(r["hi"]), int(r["n"]))
        for r in df.groupBy(g.alias("g"))
        .agg(F.min(v).alias("lo"), F.max(v).alias("hi"), F.count("*").alias("n"))
        .collect()
    }
    # per-group bucket expression needs per-group lo/width: broadcast
    # them as literal CASE branches is O(groups) expression size — use
    # a broadcast join instead (bounded: one row per group).
    spark = df.sparkSession
    meta_rows = []
    for gk, (lo, hi, n) in ext.items():
        width = (hi - lo) / float(n_buckets) if hi > lo else 1.0
        meta_rows.append((gk, lo, width))
    meta = spark.createDataFrame(meta_rows, "g long, _lo double, _w double")
    with_b = (
        df.select(g.alias("g"), v.alias("_v"))
        .join(F.broadcast(meta), "g")
        .withColumn(
            "_b",
            F.least(
                F.lit(n_buckets - 1),
                F.floor((F.col("_v") - F.col("_lo")) / F.col("_w")).cast(
                    "long"
                ),
            ),
        )
    )
    hist: dict[int, dict[int, int]] = {}
    for r in (
        with_b.groupBy("g", "_b").agg(F.count("*").alias("c")).collect()
    ):
        hist.setdefault(int(r["g"]), {})[int(r["_b"])] = int(r["c"])
    targets: list[tuple[int, int, int, int]] = []  # (g, bucket, local, pos)
    for gk, ranks in ranks_per_group.items():
        lo, hi, n = ext[gk]
        if lo == hi:
            continue  # degenerate group: all values equal; cuts = lo
        gh = hist[gk]
        ordered = sorted(gh)
        cum = 0
        bi = 0
        for pos, rank in sorted(enumerate(ranks), key=lambda t: t[1]):
            while bi < len(ordered) and cum + gh[ordered[bi]] <= rank:
                cum += gh[ordered[bi]]
                bi += 1
            targets.append((gk, ordered[bi], rank - cum, pos))
    out: dict[int, list[float]] = {
        gk: (
            [float(ext[gk][0])] * len(ranks)
            if ext[gk][0] == ext[gk][1]
            else [0.0] * len(ranks)
        )
        for gk, ranks in ranks_per_group.items()
    }
    if targets:
        from pyspark.sql.window import Window

        want = spark.createDataFrame(
            targets, "g long, _b long, _r int, _p int"
        )
        cand = {(t[0], t[1]) for t in targets}
        cand_df = spark.createDataFrame(
            sorted(cand), "g long, _b long"
        )
        ranked = (
            with_b.join(F.broadcast(cand_df), ["g", "_b"])
            .withColumn(
                "_r",
                F.row_number().over(
                    Window.partitionBy("g", "_b").orderBy("_v")
                )
                - 1,
            )
        )
        for row in ranked.join(F.broadcast(want), ["g", "_b", "_r"]).collect():
            out[int(row["g"])][int(row["_p"])] = float(row["_v"])
    return out


def str_pack_points(
    df: DataFrame,
    x_col: str,
    y_col: str,
    key_col: str,
    capacity: int = 64,
    n_buckets: int = 4096,
) -> DataFrame:
    """Pack points into STR R-tree leaves; one output row per leaf:
    (slab, leaf, n, minx, maxx, miny, maxy, khash) where khash is the
    membership-sensitive sum of (key·2654435761) mod 2³¹. See module
    doc for the algorithm, scale shape and determinism contract."""
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    pts = df.select(
        x.alias("_x"), y.alias("_y"), F.col(key_col).cast("long").alias("_k")
    )
    n = pts.count()
    if n == 0:
        raise ValueError("str_pack_points: empty input")
    p_leaves = -(-n // capacity)
    s_slabs = _ceil_sqrt(p_leaves)
    m = -(-n // s_slabs)  # points per slab (last slab may be short)
    # x cut values: last member of slab i sits at global rank (i+1)m−1;
    # routing x > cut into the next slab reproduces rank chunking
    # exactly because coordinates are distinct (module contract).
    cut_ranks = [i * m - 1 for i in range(1, s_slabs) if i * m - 1 < n]
    xcuts = rank_select(pts, "_x", cut_ranks, n_buckets=n_buckets)
    if xcuts:
        slab = F.aggregate(
            F.array(*[F.lit(c) for c in xcuts]),
            F.lit(0).cast("long"),
            lambda acc, c: acc + F.when(F.col("_x") > c, 1).otherwise(0),
        )
    else:
        slab = F.lit(0).cast("long")
    slabbed = pts.withColumn("_s", slab)
    # per-slab sizes are fixed by construction: slab i has
    # min(m, n − i·m) members — no extra pass needed.
    ranks_per_slab = {
        s: [
            j * capacity - 1
            for j in range(1, -(-min(m, n - s * m) // capacity))
        ]
        for s in range(s_slabs)
        if min(m, n - s * m) > 0
    }
    ycuts = _grouped_rank_select(
        slabbed, "_s", "_y", ranks_per_slab, n_buckets=max(256, n_buckets // 4)
    )
    spark = df.sparkSession
    ycut_rows = [
        (s, cuts if cuts else [])
        for s, cuts in sorted(ycuts.items())
    ]
    ymeta = spark.createDataFrame(ycut_rows, "_s long, _yc array<double>")
    leaf = F.aggregate(
        F.col("_yc"),
        F.lit(0).cast("long"),
        lambda acc, c: acc + F.when(F.col("_y") > c, 1).otherwise(0),
    )
    assigned = (
        slabbed.join(F.broadcast(ymeta), "_s")
        .withColumn("_l", leaf)
    )
    return (
        assigned.groupBy(
            F.col("_s").alias("slab"), F.col("_l").alias("leaf")
        )
        .agg(
            F.count("*").cast("long").alias("n"),
            F.min("_x").alias("minx"),
            F.max("_x").alias("maxx"),
            F.min("_y").alias("miny"),
            F.max("_y").alias("maxy"),
            F.sum((F.col("_k") * F.lit(2654435761)) % F.lit(1 << 31))
            .cast("long")
            .alias("khash"),
        )
    )
