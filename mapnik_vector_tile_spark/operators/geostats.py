"""Spatial statistics over cell aggregates — Moran's I global spatial
autocorrelation (Moran 1950; the standard "is this map clustered or
random" diagnostic every spatial-analytics stack ships — ESDA/PySAL
`esda.Moran`, PostGIS tutorials, GeoDa).

Kept EXACT across engines by clearing denominators: with K occupied
cells, total count S, and per-cell deviation written as
(c_i·K − S)/K, the K² factors cancel in Moran's ratio

    I = (K / W) · Σ_ij w_ij dev_i dev_j / Σ_i dev_i²
      = K · NUM / (W · DEN)

where NUM = Σ over ordered rook-adjacent occupied pairs of
(c_i·K − S)(c_j·K − S), DEN = Σ (c_i·K − S)², and W = the ordered
adjacent-pair count. NUM/DEN/W/K are plain BIGINTs — the oracle
compares them exactly; the float ratio is derived with one pinned
expression shape for display.

Scale: per-cell counts are one map-side-combining aggregate over the
point table; the adjacency is a 4-way offset explode + self-equi-join
on the cell key (the sparse/occupied-cells form of the W matrix — no
dense K×K anything); the two global scalars (K, S) broadcast. At
100 TB the point scan dominates and everything downstream is
cell-table sized."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ROOK = ((1, 0), (-1, 0), (0, 1), (0, -1))


def morans_i(cells: DataFrame) -> DataFrame:
    """cells: (cx, cy, c) — occupied cells with positive integer
    counts. Output ONE row: (n_cells, w_sum, num, den, i_dbl).
    i_dbl = (num·K as double) / (w_sum·den as double), evaluated with
    exactly this association in both engines (exact-rounded IEEE once
    the integer products fit — they are < 2⁶³ by the corpus bounds
    documented in the q_morans_i pair)."""
    k_s = cells.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("c").cast("long").alias("s"),
    )
    dev = cells.crossJoin(F.broadcast(k_s)).select(
        "cx", "cy", "k", "s", (F.col("c") * F.col("k") - F.col("s")).alias("dev")
    )
    offs = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx, dy in ROOK
        ]
    )
    probes = dev.select(
        "k",
        "dev",
        F.explode(offs).alias("o"),
        (F.col("cx") + F.col("o.dx")).alias("nx"),
        (F.col("cy") + F.col("o.dy")).alias("ny"),
    ).select("k", "dev", "nx", "ny")
    nbr = dev.select(
        F.col("cx").alias("nx"),
        F.col("cy").alias("ny"),
        F.col("dev").alias("ndev"),
    )
    pairs = probes.join(nbr, ["nx", "ny"])
    # n_cells comes from the cell aggregate (k_s), NOT from the pair
    # join: with zero rook-adjacent occupied pairs the pairs relation
    # is empty and F.first over it would yield NULL.  Empty-pairs agg
    # still produces one row (count=0, sum=NULL -> coalesced 0).
    agg = pairs.agg(
        F.count(F.lit(1)).cast("long").alias("w_sum"),
        F.coalesce(F.sum(F.col("dev") * F.col("ndev")), F.lit(0))
        .cast("long").alias("num"),
    )
    den_df = dev.agg(F.sum(F.col("dev") * F.col("dev")).cast("long").alias("den"))
    out = k_s.select(F.col("k").alias("n_cells")).crossJoin(agg).crossJoin(den_df)
    return out.select(
        "n_cells",
        "w_sum",
        "num",
        "den",
        F.when(
            (F.col("w_sum") == 0) | (F.col("den") == 0),
            F.lit(None).cast("double"),
        ).otherwise(
            (F.col("num").cast("double") * F.col("n_cells").cast("double"))
            / (F.col("w_sum").cast("double") * F.col("den").cast("double"))
        ).alias("i_dbl"),
    )


def local_spatial_stats(cells: DataFrame) -> DataFrame:
    """Local indicators — per-cell LISA local Moran numerator and
    Getis-Ord Gi* ingredients (Anselin 1995; Getis & Ord 1992) — the
    hot-spot/cold-spot detection pair every spatial-analytics stack
    ships next to global Moran's I.

    Per occupied cell i (rook neighbors N(i), occupied only):
      nn      = |N(i)| + 1              (self-inclusive, Gi* form)
      gi_num  = Σ_{j∈N(i)∪{i}} c_j      (Gi* numerator, raw counts)
      lag     = Σ_{j∈N(i)} dev_j        (spatial lag of deviations)
      li_num  = dev_i · lag             (LISA numerator)
    with dev = c·K − S (K occupied cells, S total count — same
    denominator-clearing as morans_i, so everything stays BIGINT
    exact; z-scores are a client-side division away).

    Scale: identical shape to morans_i — one cell aggregate, one
    offset-explode self-equi-join, two broadcast scalars."""
    k_s = cells.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("c").cast("long").alias("s"),
    )
    dev = cells.crossJoin(F.broadcast(k_s)).select(
        "cx",
        "cy",
        "c",
        (F.col("c") * F.col("k") - F.col("s")).alias("dev"),
    )
    offs = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx, dy in ROOK
        ]
    )
    probes = dev.select(
        "cx",
        "cy",
        F.explode(offs).alias("o"),
    ).select(
        "cx",
        "cy",
        (F.col("cx") + F.col("o.dx")).alias("nx"),
        (F.col("cy") + F.col("o.dy")).alias("ny"),
    )
    nbr = dev.select(
        F.col("cx").alias("nx"),
        F.col("cy").alias("ny"),
        F.col("c").alias("nc"),
        F.col("dev").alias("ndev"),
    )
    neigh = (
        probes.join(nbr, ["nx", "ny"])
        .groupBy("cx", "cy")
        .agg(
            F.count(F.lit(1)).cast("long").alias("deg"),
            F.sum("nc").cast("long").alias("nsum"),
            F.sum("ndev").cast("long").alias("lag"),
        )
    )
    return (
        dev.join(neigh, ["cx", "cy"], "left")
        .select(
            "cx",
            "cy",
            "c",
            "dev",
            (F.coalesce(F.col("deg"), F.lit(0)) + F.lit(1)).alias("nn"),
            (F.coalesce(F.col("nsum"), F.lit(0)) + F.col("c")).alias(
                "gi_num"
            ),
            F.coalesce(F.col("lag"), F.lit(0)).alias("lag"),
            (F.col("dev") * F.coalesce(F.col("lag"), F.lit(0))).alias(
                "li_num"
            ),
        )
    )


def geofence_transitions(
    located: DataFrame, x0: int, y0: int, x1: int, y1: int
) -> DataFrame:
    """Geofence enter/exit detection — the batch twin of the classic
    streaming geofencing job (did this device cross into the zone?).

    located: (user_id, event_id, ts, cx, cy) — per-user event streams
    with integer cell positions. The fence is the half-open cell
    rectangle [x0,x1) × [y0,y1). An event is a transition iff its
    inside-bit differs from the SAME USER's previous event in
    (ts, event_id) order; the first event of a user emits 'enter' iff
    it starts inside (pinned — no phantom exit for users who begin
    outside).

    One window shuffle on user_id, then one lag-compare per row inside
    each user's sorted run; whole-stage-codegen Column logic only. Output:
    (user_id, event_id, kind, cx, cy)."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    inside = (
        (F.col("cx") >= x0)
        & (F.col("cx") < x1)
        & (F.col("cy") >= y0)
        & (F.col("cy") < y1)
    ).cast("int")
    marked = located.select(
        "user_id",
        "event_id",
        "ts",
        "cx",
        "cy",
        inside.alias("ins"),
    ).select(
        "*",
        F.lag("ins", 1, 0).over(w).alias("prev"),
    )
    return marked.filter(F.col("ins") != F.col("prev")).select(
        "user_id",
        "event_id",
        F.when(F.col("ins") == 1, F.lit("enter"))
        .otherwise(F.lit("exit"))
        .alias("kind"),
        "cx",
        "cy",
    )


KING = ((1, 0), (-1, 0), (0, 1), (0, -1), (1, 1), (1, -1), (-1, 1), (-1, -1))
_DB_M = 1 << 21  # cell-id packing stride (cx·M + cy, coords >= 0)


def grid_dbscan(cells: DataFrame, min_pts: int) -> DataFrame:
    """ST3 grid DBSCAN — the cluster-markers operator every web map
    ships (supercluster/Leaflet.markercluster shape) and the standard
    cell-based DBSCAN approximation: a cell is CORE iff its count ≥
    min_pts; clusters are connected components of king-adjacent core
    cells; an occupied non-core cell is BORDER iff it touches a core
    cell (assigned to the minimum adjacent cluster rep — pinned),
    else NOISE.

    Distribution: the core-cell CC rides the engine's
    dedup.connected_components (pointer-doubling min-label, O(log d)
    shuffle rounds); adjacency is the 4-positive-offset equi-join
    (cid strictly increases along those offsets, giving doc_a <
    doc_b for free); border assignment is one more equi-join. Cell
    coords must be ≥ 0 (tile-grid convention).

    Output per occupied cell: (cx, cy, c, role, rep) with role
    2=core / 1=border / 0=noise and rep = packed min-cell-id of the
    cluster (−1 for noise)."""
    from mapnik_vector_tile_spark.operators.dedup import (
        connected_components,
    )

    cid = (F.col("cx") * F.lit(_DB_M) + F.col("cy")).alias("cid")
    core = cells.filter(F.col("c") >= min_pts).select(
        "cx", "cy", "c", cid
    )
    pos_offs = ((1, 0), (0, 1), (1, 1), (1, -1))
    probes = core.select(
        F.col("cid").alias("doc_a"),
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                    for dx, dy in pos_offs
                ]
            )
        ).alias("o"),
        (F.col("cx") + F.col("o.dx")).alias("nx"),
        (F.col("cy") + F.col("o.dy")).alias("ny"),
    ).select("doc_a", "nx", "ny")
    nbr = core.select(
        F.col("cx").alias("nx"), F.col("cy").alias("ny"),
        F.col("cid").alias("doc_b"),
    )
    edges = probes.join(nbr, ["nx", "ny"]).select("doc_a", "doc_b")
    cc = connected_components(edges).select(
        F.col("doc_id").alias("cid"), F.col("cluster_rep").alias("rep")
    )
    core_lbl = core.join(cc, "cid", "left").select(
        "cx", "cy", "c",
        F.coalesce(F.col("rep"), F.col("cid")).alias("rep"),
        F.lit(2).cast("long").alias("role"),
    )
    # border: occupied non-core adjacent (8-neighborhood) to a core cell
    noncore = cells.filter(F.col("c") < min_pts)
    nprobe = noncore.select(
        "cx", "cy", "c",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                    for dx, dy in KING
                ]
            )
        ).alias("o"),
    ).select(
        "cx", "cy", "c",
        (F.col("cx") + F.col("o.dx")).alias("nx"),
        (F.col("cy") + F.col("o.dy")).alias("ny"),
    )
    core_pos = core_lbl.select(
        F.col("cx").alias("nx"), F.col("cy").alias("ny"),
        F.col("rep").alias("nrep"),
    )
    border = (
        nprobe.join(core_pos, ["nx", "ny"])
        .groupBy("cx", "cy", "c")
        .agg(F.min("nrep").alias("rep"))
        .select("cx", "cy", "c", "rep", F.lit(1).cast("long").alias("role"))
    )
    noise = noncore.join(
        border.select("cx", "cy"), ["cx", "cy"], "left_anti"
    ).select(
        "cx", "cy", "c", F.lit(-1).cast("long").alias("rep"),
        F.lit(0).cast("long").alias("role"),
    )
    return core_lbl.unionByName(border).unionByName(noise)


def cotravel_pairs(
    located: DataFrame,
    min_co: int = 3,
    hot_bucket_limit: int | None = 4096,
) -> DataFrame:
    """ST4 co-travel / co-location detection — find user pairs that
    were in the same spatio-temporal bucket at least `min_co`
    distinct times (the classic co-occurrence mining shape: contact
    tracing, ride-sharing detection, account-linking).

    located: (user_id, tb, cx, cy) — time-bucketed cell visits.
    Distinct-ify first (a user camping in one bucket counts ONCE),
    then one self-equi-join on the full bucket key with user_a <
    user_b and a count-filter — exactly the banded-LSH candidate
    shape.  Like the LSH joins the scale killer is a hot bucket
    (one stadium cell-hour with m users → m² pairs; AQE spreads the
    shuffle but cannot shrink the pair COUNT), so the dedup-engine
    `_hot_buckets` guard is ENFORCED here, not just documented:
    buckets with more than `hot_bucket_limit` distinct occupants are
    EXCLUDED from pair generation — the crowded-bucket exclusion
    standard in co-location mining (being one of 50k people in a
    stadium is no co-travel evidence; a pair that genuinely travels
    together still accrues n_co from its non-crowded buckets).  The
    cap is part of the operator contract and is replayed by the
    DuckDB twin; pass hot_bucket_limit=None for the uncapped join.

    Output: (ua, ub, n_co) for pairs with n_co ≥ min_co."""
    from mapnik_vector_tile_spark.operators.dedup import _hot_buckets

    v = located.select("user_id", "tb", "cx", "cy").distinct()
    keys = ["tb", "cx", "cy"]
    if hot_bucket_limit is not None:
        # v feeds three consumers (hot-stats + both self-join sides);
        # checkpoint so the distinct shuffle runs once, the same
        # pattern as dedup.phash_neardup_pairs.
        v = v.localCheckpoint(eager=True)
        hot = _hot_buckets(v, keys, [], hot_bucket_limit)
        v = v.join(F.broadcast(hot), keys, "left_anti")
    a = v.alias("a")
    b = v.alias("b")
    return (
        a.join(
            b,
            (F.col("a.tb") == F.col("b.tb"))
            & (F.col("a.cx") == F.col("b.cx"))
            & (F.col("a.cy") == F.col("b.cy"))
            & (F.col("a.user_id") < F.col("b.user_id")),
        )
        .groupBy(
            F.col("a.user_id").alias("ua"), F.col("b.user_id").alias("ub")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_co"))
        .filter(F.col("n_co") >= min_co)
    )


def voronoi_assign(cells: DataFrame, seeds: DataFrame) -> DataFrame:
    """ST5 discrete Voronoi partition + boundary extraction — label
    every occupied grid cell with its nearest seed (squared Euclidean
    on cell centers ≡ on cell indices, exact BIGINT), then mark the
    cells where the partition changes hands (a rook neighbor carries a
    different label).  The nearest-facility map every GIS stack ships
    (PostGIS ST_VoronoiPolygons / QGIS Voronoi), in the discrete-grid
    form a tiling engine actually renders (one label per cell →
    polygonize downstream with marching squares / dissolve, both
    already in this repo).

    cells: (cx, cy) distinct occupied cells.  seeds: (seed_id, sx, sy)
    — SMALL (a facility/POI dim table), broadcast.  Ties on distance
    break to the smaller seed_id via struct-min ordering, identically
    in both engines.

    Scale: the broadcast crossJoin expands |cells|×|seeds| rows INSIDE
    each map task and the min(struct) partial aggregation collapses
    them back to |cells| before the exchange — shuffle bytes are one
    row per cell regardless of seed count.  For seed tables too big to
    broadcast the cell-ring kNN join (operators/joins.knn_join) is the
    documented scale path; this operator is the k=1 broadcast fast
    path.  The border pass is one self-equi-join on the cell key —
    cell-table sized, not point-table sized.

    Output: (cx, cy, seed_id, d2, n_diff) — n_diff = how many of the
    cell's occupied rook neighbors belong to a different seed (0 for
    interior cells; >0 marks the Voronoi boundary as drawn on the
    occupied set)."""
    d2 = (F.col("cx") - F.col("sx")) * (F.col("cx") - F.col("sx")) + (
        F.col("cy") - F.col("sy")
    ) * (F.col("cy") - F.col("sy"))
    lab = (
        cells.select("cx", "cy")
        .crossJoin(F.broadcast(seeds.select("seed_id", "sx", "sy")))
        .select(
            "cx",
            "cy",
            F.struct(
                d2.cast("long").alias("d2"), F.col("seed_id").alias("sid")
            ).alias("cand"),
        )
        .groupBy("cx", "cy")
        .agg(F.min("cand").alias("best"))
        .select(
            "cx",
            "cy",
            F.col("best.sid").alias("seed_id"),
            F.col("best.d2").alias("d2"),
        )
    )
    offs = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx, dy in ROOK
        ]
    )
    probes = lab.select(
        "cx",
        "cy",
        "seed_id",
        F.explode(offs).alias("o"),
    ).select(
        "cx",
        "cy",
        "seed_id",
        (F.col("cx") + F.col("o.dx")).alias("nx"),
        (F.col("cy") + F.col("o.dy")).alias("ny"),
    )
    nbr = lab.select(
        F.col("cx").alias("nx"),
        F.col("cy").alias("ny"),
        F.col("seed_id").alias("nsid"),
    )
    diff = (
        probes.join(nbr, ["nx", "ny"])
        .groupBy("cx", "cy")
        .agg(
            F.sum(
                (F.col("nsid") != F.col("seed_id")).cast("long")
            ).alias("n_diff")
        )
    )
    return (
        lab.join(diff, ["cx", "cy"], "left")
        .select(
            "cx",
            "cy",
            "seed_id",
            "d2",
            F.coalesce(F.col("n_diff"), F.lit(0).cast("long")).alias(
                "n_diff"
            ),
        )
    )


def od_flows(located: DataFrame) -> DataFrame:
    """ST6 origin–destination flow matrix — the mobility-analytics
    aggregate every transport/urban stack computes (OD matrices in
    PostGIS/mobilitydb, Uber Movement): per user, consecutive located
    pings form a trip leg; legs that change cell aggregate into the
    directed cell-pair flow table.

    located: (user_id, t, eid, cx, cy) — integer seconds + a tiebreak
    id so the per-user ordering (t, eid) is total and deterministic.

    Pure Catalyst: ONE window shuffle (partitionBy user) for the lag,
    ONE map-side-combining aggregate on the OD key. At fleet scale
    the window partitions by user (millions of small partitions — no
    skew), and the OD table is cell²-bounded.

    Output: (ocx, ocy, dcx, dcy, n_trips, sum_dur, n_users)."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("t", "eid")
    legs = located.select(
        "user_id",
        "t",
        "cx",
        "cy",
        F.lag("cx").over(w).alias("ocx"),
        F.lag("cy").over(w).alias("ocy"),
        F.lag("t").over(w).alias("ot"),
    ).filter(
        F.col("ocx").isNotNull()
        & ((F.col("ocx") != F.col("cx")) | (F.col("ocy") != F.col("cy")))
    )
    return legs.groupBy(
        F.col("ocx"),
        F.col("ocy"),
        F.col("cx").alias("dcx"),
        F.col("cy").alias("dcy"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_trips"),
        F.sum(F.col("t") - F.col("ot")).cast("long").alias("sum_dur"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )


KING = ((1, 0), (-1, 0), (0, 1), (0, -1), (1, 1), (1, -1), (-1, 1), (-1, -1))


def erosion_depth(cells: DataFrame, rounds: int = 4) -> DataFrame:
    """ST7 hop-bounded erosion depth — the discrete Chebyshev
    distance-to-boundary transform over an occupancy grid, whose
    argmax is the grid pole of inaccessibility (mapbox/polylabel's
    job, on the raster side the erosion count of morphology):
    depth_{t+1}(c) = 1 + min(depth over the 8 neighbors, 0 for any
    missing neighbor); after R rounds the value is EXACTLY
    min(true boundary distance, R+1) — the bellman/pagerank
    fixed-round contract once more, bit-identical across engines.

    Each round is one offset-explode equi-join + a count-aware min
    aggregate at cell-table size.  Output: one row per observed depth
    — (d, n_cells, px, py) with (px, py) the lexicographically
    smallest cell at that depth (the pole row is the max-d row)."""
    depth = cells.select("cx", "cy", F.lit(1).cast("long").alias("d"))
    base = cells.select("cx", "cy")
    offs = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx, dy in KING
        ]
    )
    for _ in range(rounds):
        probes = base.select(
            "cx",
            "cy",
            F.explode(offs).alias("o"),
        ).select(
            "cx",
            "cy",
            (F.col("cx") + F.col("o.dx")).alias("nx"),
            (F.col("cy") + F.col("o.dy")).alias("ny"),
        )
        nbr = depth.select(
            F.col("cx").alias("nx"),
            F.col("cy").alias("ny"),
            F.col("d").alias("nd"),
        )
        agg = (
            probes.join(nbr, ["nx", "ny"], "left")
            .groupBy("cx", "cy")
            .agg(
                F.min("nd").alias("nbrmin"),
                F.sum(F.col("nd").isNotNull().cast("long")).alias(
                    "n_found"
                ),
            )
        )
        depth = agg.select(
            "cx",
            "cy",
            F.when(F.col("n_found") < 8, F.lit(1))
            .otherwise(F.lit(1) + F.col("nbrmin"))
            .cast("long")
            .alias("d"),
        ).localCheckpoint(eager=False)
    return depth.groupBy("d").agg(
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.min(F.struct("cx", "cy")).alias("p"),
    ).select(
        "d", "n_cells", F.col("p.cx").alias("px"), F.col("p.cy").alias("py")
    )


def gini_concentration(cells: DataFrame) -> DataFrame:
    """ST8 Gini concentration of spatial activity — "is traffic
    spread out or piled on a few hot tiles", the inequality index
    capacity planners watch.  Kept EXACT as a fraction: with counts
    x_1 ≤ … ≤ x_n (ties broken by cell order for a total rank),

        G = Σ (2i − n − 1)·x_i  /  (n · Σ x)  =  num / den

    — both BIGINT; the float is derived once with a pinned expression
    shape.  One window rank over the cell table + one aggregate; at
    fleet scale the rank is the exact-rank primitive already shipped
    for STR packing (spatial_index.rank_select) — the single-window
    form here is the oracle contract.

    cells: (cx, cy, c).  Output ONE row: (n_cells, total, num, den,
    gini_dbl)."""
    from pyspark.sql import Window

    # DOMAIN-bound invariant: this unpartitioned window ranks the
    # CELL table (≤ 4^z rows at zoom z), never raw events — do not
    # lift it onto an event-proportional relation; the exact-rank
    # primitive for that is spatial_index.rank_select.
    w = Window.orderBy("c", "cx", "cy")
    ranked = cells.select(
        "c", F.row_number().over(w).cast("long").alias("i")
    )
    nn = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("c").cast("long").alias("total"),
    )
    num = (
        ranked.crossJoin(F.broadcast(nn))
        .select(
            ((F.lit(2) * F.col("i") - F.col("n") - 1) * F.col("c")).alias(
                "t"
            )
        )
        .agg(F.sum("t").cast("long").alias("num"))
    )
    return (
        nn.crossJoin(num)
        .select(
            F.col("n").alias("n_cells"),
            "total",
            "num",
            (F.col("n") * F.col("total")).cast("long").alias("den"),
            (
                F.col("num").cast("double")
                / (F.col("n") * F.col("total")).cast("double")
            ).alias("gini_dbl"),
        )
    )


def hourly_profiles(located: DataFrame) -> DataFrame:
    """ST9 hour-of-week activity profile per cell — the temporal
    fingerprint behind POI classification (office vs bar vs park:
    WHEN a place is busy) and anomaly baselines.  located:
    (cx, cy, t) with integer epoch seconds; hour-of-week =
    (t div 3600) mod 168 — pure integer, timezone-less by contract.

    One map-side-combining aggregate to (cell, how) counts, one
    struct-max argmax fold per cell (ties to the EARLIER hour via
    negated-hour ordering).  Output per cell: n_events, n_hours
    (distinct active hours), peak_how, peak_n, and the profile
    witness Σ (how+1)·c."""
    how = (F.expr("t div 3600") % 168).cast("long")
    counts = located.select("cx", "cy", how.alias("how")).groupBy(
        "cx", "cy", "how"
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    return counts.groupBy("cx", "cy").agg(
        F.sum("c").cast("long").alias("n_events"),
        F.count(F.lit(1)).cast("long").alias("n_hours"),
        F.max(
            F.struct(
                F.col("c").alias("c"), (-F.col("how")).alias("nh")
            )
        ).alias("pk"),
        F.sum((F.col("how") + 1) * F.col("c")).cast("long").alias(
            "phash"
        ),
    ).select(
        "cx",
        "cy",
        "n_events",
        "n_hours",
        (-F.col("pk.nh")).cast("long").alias("peak_how"),
        F.col("pk.c").cast("long").alias("peak_n"),
        "phash",
    )


def knox_ingredients(
    located: DataFrame, tau_s: int = 3600
) -> DataFrame:
    """ST10 Knox space-time interaction ingredients — the classic
    epidemiology/crime-analysis test for clustering in space AND time
    (Knox 1964; disease outbreak and repeat-victimization detection):
    over all event pairs, count those close in space (same cell — the
    pinned spatial definition), close in time (|Δt| ≤ tau_s), and
    close in both; the test statistic compares n_st against
    n_s·n_t/n_pairs, and this operator emits the four EXACT BIGINTs
    (the morans_i convention: integers under the hash, the float
    ratio derived once with a pinned shape).

    Counting never brute-forces the corpus: n_pairs = C(n,2) closed
    form; n_s = Σ_cells C(n_c,2) from per-cell counts (no join);
    n_t and n_st via the interval-join bucket trick — equi-join on
    floor(t/tau) with the +1 bucket, exact |Δt| filter, (t, id)
    ordering dedup.  Output ONE row: (n_events, n_pairs, n_s, n_t,
    n_st, knox_dbl).

    Scaling note (sf0.1→sf1.0 spot-run, exponent ≈1.4): the
    TIME-CLOSE pair relation itself grows with event density squared
    — n_t ≈ n²·tau/T_span — so the bucket join's work tracks the
    statistic's own definition, not a plan flaw; no candidate is
    enumerated that isn't a true time-close pair (plus the ±1
    adjacent-bucket misses).  At fleet density shrink tau, partition
    the test per region, or sample pairs — knobs on the STATISTIC,
    not on this plan."""
    ev = located.select(
        "cx", "cy", F.col("t").cast("long").alias("t"),
        F.col("eid").cast("long").alias("eid"),
        F.expr(f"t div {tau_s}").alias("b"),
    )
    n = ev.agg(F.count(F.lit(1)).cast("long").alias("n"))
    n_s = (
        ev.groupBy("cx", "cy")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(
            F.sum(F.expr("c * (c - 1) div 2")).cast("long").alias("n_s")
        )
    )
    a = ev.alias("a")

    def close_pairs(join_cell: bool):
        b = ev.select(
            F.col("cx").alias("bcx"), F.col("cy").alias("bcy"),
            F.col("t").alias("bt"), F.col("eid").alias("beid"),
            F.col("b").alias("bb"),
        ).alias("b")
        probe = a.select(
            "a.cx", "a.cy", "a.t", "a.eid",
            F.explode(
                F.array(F.col("a.b"), F.col("a.b") + 1)
            ).alias("pb"),
        )
        cond = (F.col("pb") == F.col("bb")) & (
            F.abs(F.col("t") - F.col("bt")) <= tau_s
        ) & (
            (F.col("t") < F.col("bt"))
            | ((F.col("t") == F.col("bt")) & (F.col("eid") < F.col("beid")))
        ) & (
            # count each pair once: in the bucket of the LATER time
            F.col("pb") == F.expr(f"greatest(t, bt) div {tau_s}")
        )
        if join_cell:
            cond = cond & (F.col("cx") == F.col("bcx")) & (
                F.col("cy") == F.col("bcy")
            )
        name = "n_st" if join_cell else "n_t"
        return probe.join(b, cond).agg(
            F.count(F.lit(1)).cast("long").alias(name)
        )

    n_t = close_pairs(False)
    n_st = close_pairs(True)
    return (
        n.crossJoin(n_s).crossJoin(n_t).crossJoin(n_st)
        .select(
            F.col("n").alias("n_events"),
            F.expr("n * (n - 1) div 2").cast("long").alias("n_pairs"),
            "n_s",
            "n_t",
            "n_st",
            (
                F.col("n_st").cast("double")
                * F.expr("n * (n - 1) div 2").cast("double")
                / (F.col("n_s").cast("double") * F.col("n_t").cast("double"))
            ).alias("knox_dbl"),
        )
    )


def mobility_profiles(located: DataFrame) -> DataFrame:
    """ST11 user mobility profiles — the per-user summary mobility
    science runs at population scale (González et al. 2008): radius
    of gyration kept EXACT as integer moments (rog² = rog_num/n² with
    rog_num = n·Σ(x²+y²) − (Σx)² − (Σy)², all BIGINT), distinct-cell
    support, and HOME inference = the argmax night-time cell
    (hour-of-day in [0, 6), ties to the lexicographically smaller
    cell; users with no night pings emit home (-1, -1)).

    located: (user_id, t, cx, cy).  Two map-side-combining aggregates
    (moments per user; night cell counts → struct-max) + one user
    join — user-table sized throughout.

    Output: (user_id, n_pings, n_cells, sx, sy, rog_num, hx, hy,
    rog_dbl)."""
    base = located.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_pings"),
        F.countDistinct("cx", "cy").cast("long").alias("n_cells"),
        F.sum("cx").cast("long").alias("sx"),
        F.sum("cy").cast("long").alias("sy"),
        F.sum(
            F.col("cx") * F.col("cx") + F.col("cy") * F.col("cy")
        ).cast("long").alias("s2"),
    ).select(
        "user_id",
        "n_pings",
        "n_cells",
        "sx",
        "sy",
        (
            F.col("n_pings") * F.col("s2")
            - F.col("sx") * F.col("sx")
            - F.col("sy") * F.col("sy")
        ).cast("long").alias("rog_num"),
    )
    night = located.filter(
        (F.expr("t div 3600") % 24) < 6
    ).groupBy("user_id", "cx", "cy").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    home = night.groupBy("user_id").agg(
        F.max(
            F.struct(
                F.col("c").alias("c"),
                (-F.col("cx")).alias("nx"),
                (-F.col("cy")).alias("ny"),
            )
        ).alias("h")
    ).select(
        "user_id",
        (-F.col("h.nx")).cast("long").alias("hx"),
        (-F.col("h.ny")).cast("long").alias("hy"),
    )
    return base.join(home, "user_id", "left").select(
        "user_id",
        "n_pings",
        "n_cells",
        "sx",
        "sy",
        "rog_num",
        F.coalesce("hx", F.lit(-1)).cast("long").alias("hx"),
        F.coalesce("hy", F.lit(-1)).cast("long").alias("hy"),
        F.sqrt(
            F.col("rog_num").cast("double")
            / (F.col("n_pings") * F.col("n_pings")).cast("double")
        ).alias("rog_dbl"),
    )


def occupancy_runs(cells: DataFrame) -> DataFrame:
    """ST12 occupancy run-length analysis — the gaps-and-islands fold
    over each grid row (the RLE view a coverage-bitmap/roaring index
    builds, and the classic SQL islands pattern): consecutive
    occupied cx cells of one cy row form a run; runs summarize to
    per-row counts, the longest run, and an order-sensitive
    Σ (start+1)·len witness.

    One window lag per row (partitionBy cy — row-sized partitions,
    no skew) + two aggregates.  Output per cy: (cy, n_cells, n_runs,
    max_run, rhash)."""
    from pyspark.sql import Window

    w = Window.partitionBy("cy").orderBy("cx")
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    marked = cells.select("cx", "cy").distinct().select(
        "cx",
        "cy",
        F.when(
            F.col("cx") - F.lag("cx").over(w) == 1, 0
        ).otherwise(1).alias("brk"),
    ).withColumn("run_id", F.sum("brk").over(run))
    runs = marked.groupBy("cy", "run_id").agg(
        F.min("cx").alias("start"),
        F.count(F.lit(1)).cast("long").alias("len"),
    )
    return runs.groupBy("cy").agg(
        F.sum("len").cast("long").alias("n_cells"),
        F.count(F.lit(1)).cast("long").alias("n_runs"),
        F.max("len").cast("long").alias("max_run"),
        F.sum((F.col("start") + 1) * F.col("len")).cast("long").alias(
            "rhash"
        ),
    )


def cell_anomalies(
    located: DataFrame, obs_week: int, ratio_pct: int = 200
) -> DataFrame:
    """ST13 spatial anomaly flags — "which places are unusually busy
    THIS week vs their own history", the baseline-vs-observed scan
    behind event detection and incident triage.  located:
    (cx, cy, t) integer seconds; week = t div (7·24·3600).  Baseline =
    weeks strictly before `obs_week` (a cell's own history only);
    observed = counts in `obs_week`.

    The anomaly test stays EXACT by cross-multiplication:
      flag ⟺ n_obs·n_base_weeks·100 > ratio_pct·sum_base
    (observed > ratio × the cell's mean weekly baseline; cells with
    NO baseline flag iff n_obs > 0 — new-activity cells are always
    notable, pinned).  Two partial aggregates + one full-outer cell
    join.  Output per cell: (cx, cy, n_obs, sum_base, n_base_weeks,
    flag)."""
    wk_abs = F.expr(f"t div {7 * 24 * 3600}")
    w0 = located.agg(F.min(wk_abs).cast("long").alias("w0"))
    rel = located.crossJoin(F.broadcast(w0)).select(
        "cx", "cy", (wk_abs - F.col("w0")).alias("w")
    )
    wk = F.col("w")
    located = rel
    base = located.filter(wk < obs_week).groupBy("cx", "cy").agg(
        F.count(F.lit(1)).cast("long").alias("sum_base"),
        F.countDistinct("w").cast("long").alias("n_base_weeks"),
    )
    obs = located.filter(wk == obs_week).groupBy("cx", "cy").agg(
        F.count(F.lit(1)).cast("long").alias("n_obs")
    )
    j = obs.join(base, ["cx", "cy"], "full_outer").select(
        "cx",
        "cy",
        F.coalesce("n_obs", F.lit(0)).cast("long").alias("n_obs"),
        F.coalesce("sum_base", F.lit(0)).cast("long").alias("sum_base"),
        F.coalesce("n_base_weeks", F.lit(0)).cast("long").alias(
            "n_base_weeks"
        ),
    )
    return j.select(
        "*",
        F.when(
            F.col("n_base_weeks") == 0, F.col("n_obs") > 0
        )
        .otherwise(
            F.col("n_obs") * F.col("n_base_weeks") * 100
            > ratio_pct * F.col("sum_base")
        )
        .cast("long")
        .alias("flag"),
    )


def coverage_knees(cells: DataFrame, deciles: int = 10) -> DataFrame:
    """ST14 traffic coverage curve — the cache-sizing question every
    tile CDN answers ("how many hot tiles serve 90% of requests?"):
    rank cells by (count DESC, cx, cy), take the running coverage
    sum, and report each decile knee = the MINIMUM number of tiles
    whose cumulative count first reaches k/deciles of total traffic
    (exact cross-multiplied compare, no percent floats).

    One window rank + one aggregate per knee via a conditional min —
    all knees in a single pass (group by the knee index after an
    explode of thresholds).  Output: (k, n_tiles, cum) for
    k = 1..deciles."""
    from pyspark.sql import Window

    # DOMAIN-bound invariant: this unpartitioned window ranks the
    # CELL table (≤ 4^z rows at zoom z), never raw events — do not
    # lift it onto an event-proportional relation (see
    # gini_concentration / spatial_index.rank_select).
    w = Window.orderBy(F.col("c").desc(), "cx", "cy")
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    ranked = cells.select(
        "c",
        F.row_number().over(w).cast("long").alias("rnk"),
        F.sum("c").over(run).cast("long").alias("cum"),
    )
    tot = ranked.agg(F.max("cum").cast("long").alias("total"))
    ks = ranked.crossJoin(F.broadcast(tot)).select(
        "rnk",
        "cum",
        F.explode(
            F.sequence(F.lit(1), F.lit(deciles))
        ).alias("k"),
        "total",
    ).filter(
        F.col("cum") * deciles >= F.col("k") * F.col("total")
    )
    return ks.groupBy("k").agg(
        F.min("rnk").cast("long").alias("n_tiles"),
        F.min(F.struct("rnk", "cum")).alias("s"),
    ).select(
        F.col("k").cast("long").alias("k"),
        "n_tiles",
        F.col("s.cum").cast("long").alias("cum"),
    )


def return_rates(located: DataFrame) -> DataFrame:
    """ST15 return-visitor rates per cell — the loyalty split POI
    analytics reports (footfall vendors' "repeat visitor share"):
    a user is a RETURN visitor of a cell iff they visited on ≥2
    distinct days (t div 86400).  Exact integer everywhere.

    Two nested map-side-combining aggregates ((cell, user) day
    counts → cell rollup).  Output per cell: (cx, cy, n_visits,
    n_users, n_return, n_days)."""
    day = F.expr("t div 86400")
    per_user = located.groupBy("cx", "cy", "user_id").agg(
        F.count(F.lit(1)).cast("long").alias("v"),
        F.countDistinct(day.alias("d")).cast("long").alias("nd"),
    )
    days = located.groupBy("cx", "cy").agg(
        F.countDistinct(day.alias("d")).cast("long").alias("n_days")
    )
    agg = per_user.groupBy("cx", "cy").agg(
        F.sum("v").cast("long").alias("n_visits"),
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum((F.col("nd") >= 2).cast("long")).cast("long").alias(
            "n_return"
        ),
    )
    return agg.join(days, ["cx", "cy"])


def tile_churn(located: DataFrame, week_a: int, week_b: int) -> DataFrame:
    """ST16 activity churn between two weeks — the content-diff idea
    (composite.diff_tiles) applied to ACTIVITY: which cells gained,
    lost, or kept traffic between week_a and week_b (corpus-min-
    normalized weeks, like cell_anomalies).  The dashboards' "new hot
    areas vs gone-quiet areas" panel.

    One occupancy aggregate per week + a full-outer cell join →
    per-status census with a positional witness.  Output: one row per
    status ('gained'/'lost'/'stable') with n_cells and
    Σ (cx·8191 + cy) whash."""
    wk_abs = F.expr(f"t div {7 * 24 * 3600}")
    w0 = located.agg(F.min(wk_abs).cast("long").alias("w0"))
    rel = located.crossJoin(F.broadcast(w0)).select(
        "cx", "cy", (wk_abs - F.col("w0")).alias("w")
    )

    def occ(w):
        return rel.filter(F.col("w") == w).select("cx", "cy").distinct()

    a = occ(week_a).withColumn("ina", F.lit(1))
    b = occ(week_b).withColumn("inb", F.lit(1))
    j = a.join(b, ["cx", "cy"], "full_outer").select(
        "cx",
        "cy",
        F.when(F.col("ina").isNull(), F.lit("gained"))
        .when(F.col("inb").isNull(), F.lit("lost"))
        .otherwise(F.lit("stable"))
        .alias("status"),
    )
    return j.groupBy("status").agg(
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.sum(F.col("cx") * 8191 + F.col("cy")).cast("long").alias(
            "whash"
        ),
    )
