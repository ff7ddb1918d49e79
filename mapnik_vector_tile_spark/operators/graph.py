"""Iterative graph operators over edge tables — the routing-side
companion to dedup's connected-components (pointer-doubling min-label)
and the snap join's map matching: once traces are matched to a road
network, travel-cost fields are Bellman-Ford relaxations over the
segment graph.

`bellman_ford` implements the HOP-BOUNDED form: after R rounds the
result is EXACTLY "minimum path cost using at most R edges" — a
well-defined operator for any R (no convergence precondition), which
equals true shortest path wherever the optimal path has ≤ R hops.
This is the same fixed-round contract the DuckDB twin unrolls, so the
oracle is bit-exact by construction rather than by a convergence
argument.

Scale shape (Pregel/GraphFrames AggregateMessages): the distance
table and edge table partition on node id; each round is ONE
equi-join + ONE map-side-combining min aggregate. localCheckpoint
every 4 rounds truncates the lineage chain (the dedup-CC pattern) so
round r doesn't re-execute rounds 0..r-1. At 100 TB the edge table
partitions once and is reused every round."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def bellman_ford(
    edges: DataFrame, sources: DataFrame, rounds: int = 12
) -> DataFrame:
    """edges: (u, v, w) directed integer-weight edges (symmetrize
    upstream for undirected graphs); sources: (node). Output
    (node, d): min cost over paths from any source using ≤ `rounds`
    edges; nodes unreachable within the hop bound emit no row."""
    dist = sources.select("node", F.lit(0).cast("long").alias("d"))
    e = edges.alias("e")
    for r in range(rounds):
        relaxed = dist.alias("t").join(
            e, F.col("t.node") == F.col("e.u")
        ).select(
            F.col("e.v").alias("node"),
            (F.col("t.d") + F.col("e.w")).alias("d"),
        )
        dist = (
            dist.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("d").alias("d"))
        )
        if (r + 1) % 4 == 0:
            dist = dist.localCheckpoint(eager=False)
    return dist


def delta_stepping(
    edges: DataFrame,
    sources: DataFrame,
    delta: int,
    max_buckets: int = 1 << 20,
) -> DataFrame:
    """G1b delta-stepping SSSP (Meyer & Sanders '98) — the WORK-
    EFFICIENT parallel shortest-path bellman_ford is the hop-bounded
    oracle for: distances are settled bucket by bucket ([kΔ,(k+1)Δ)),
    each bucket relaxing only its LIGHT edges (w ≤ Δ) to a fixpoint
    before one HEAVY pass — every edge is relaxed O(1) times per
    bucket instead of once per global round, and the buckets expose
    exactly the parallelism the Δ knob buys.  Requires strictly
    positive integer weights (validated: a bucket-k improvement via a
    light edge then lands in [kΔ+1, …), so nothing re-opens a settled
    bucket).  Output (node, d): EXACT shortest distances from any
    source — unbounded hops, unlike bellman_ford's ≤rounds contract;
    q_delta_sssp pins equality against a fully-converged relaxation
    twin.

    Scale shape (r4 rewrite — driver-loop depth is the cost, at any
    corpus size):

    - PARALLEL EDGES ARE PRE-AGGREGATED to their min weight
      (groupBy(u,v).min(w)) before any iteration — SSSP only ever
      uses the lightest parallel edge, and a corpus-scale multigraph
      (one edge per fact row) collapses to the distinct-adjacency
      graph ONCE instead of re-scanning every duplicate edge in
      every relaxation round.
    - The within-bucket light fixpoint relaxes ``chain`` hops per
      MATERIALIZED round (relax∘relax∘… composed lazily, one
      min-merge per round): candidate distances are genuine path
      lengths, min-merge keeps them sound, and the driver round
      count drops by ~chain× (Meyer-Sanders semantics reach the
      same closure, just fewer synchronization barriers).
    - Buckets JUMP: after settling bucket k the next k is derived
      from min(d ≥ hi) in one agg — empty buckets (sparse distance
      bands) cost zero rounds instead of one isEmpty probe each.

    Each step is equi-joins + one min-merge, localCheckpointed so
    lineage stays flat."""
    emin = (
        edges.groupBy("u", "v")
        .agg(F.min("w").alias("w"))
        .localCheckpoint(eager=True)
    )
    if not emin.filter(F.col("w") <= 0).isEmpty():
        raise ValueError("delta_stepping: weights must be >= 1")
    chain = 4
    light = emin.filter(F.col("w") <= delta).localCheckpoint(eager=True)
    heavy = emin.filter(F.col("w") > delta).localCheckpoint(eager=True)
    # one probe up front: when Δ ≥ max weight the heavy pass is
    # structurally empty — skip its per-bucket relax+merge round
    has_heavy = not heavy.isEmpty()

    def relax(frontier: DataFrame, e: DataFrame) -> DataFrame:
        return frontier.alias("t").join(
            e.alias("e"), F.col("t.node") == F.col("e.u")
        ).select(
            F.col("e.v").alias("node"),
            (F.col("t.d") + F.col("e.w")).alias("d"),
        )

    def relax_chain(frontier: DataFrame, e: DataFrame) -> DataFrame:
        """Candidates via 1..chain light hops from the frontier, all
        in ONE lazy plan (per-hop groupBy-min keeps the fan-out
        linear in nodes, not exponential in hops)."""
        hop = relax(frontier, e)
        cands = hop
        for _ in range(chain - 1):
            hop = relax(
                hop.groupBy("node").agg(F.min("d").alias("d")), e
            )
            cands = cands.unionByName(hop)
        return cands

    def merge(dist: DataFrame, cand: DataFrame):
        """(new dist, improved rows)."""
        nd = (
            dist.unionByName(cand)
            .groupBy("node")
            .agg(F.min("d").alias("d"))
            .localCheckpoint(eager=True)
        )
        imp = nd.alias("n").join(
            dist.select(
                "node", F.col("d").alias("d0")
            ).alias("o"),
            "node",
            "left",
        ).filter(
            F.col("o.d0").isNull() | (F.col("n.d") < F.col("o.d0"))
        ).select("node", F.col("n.d").alias("d"))
        return nd, imp

    dist = sources.select(
        "node", F.lit(0).cast("long").alias("d")
    ).distinct().localCheckpoint(eager=True)
    k = 0
    n_buckets = 0
    while True:
        n_buckets += 1
        if n_buckets > max_buckets:
            raise ValueError("delta_stepping: max_buckets exceeded")
        lo, hi = k * delta, (k + 1) * delta
        # frontier/imp are cheap narrow derivations of the CHECKPOINTED
        # dist/nd — recomputing them inside the next job is cheaper
        # than one localCheckpoint job each per round
        frontier = dist.filter((F.col("d") >= lo) & (F.col("d") < hi))
        while not frontier.isEmpty():
            dist, imp = merge(dist, relax_chain(frontier, light))
            frontier = imp.filter(F.col("d") < hi)
        if has_heavy:
            hsrc = dist.filter((F.col("d") >= lo) & (F.col("d") < hi))
            dist, _ = merge(dist, relax(hsrc, heavy))
        nxt = dist.filter(F.col("d") >= hi).agg(
            F.min("d").alias("m")
        ).first()[0]
        if nxt is None:
            return dist
        k = int(nxt) // delta


# --- sticky-HMM Viterbi map matching ---------------------------------------

VIT_PH = 2654435761
VIT_PH_MOD = 1 << 31


def _vit_h(sid: int, t: int) -> int:
    return ((sid + 2) * (t + 1) * VIT_PH) % VIT_PH_MOD


def viterbi_match(cands: DataFrame, switch_cost: int) -> DataFrame:
    """Sticky-HMM Viterbi map matching (Newson & Krumm 2009 shape) —
    the step after `snap_candidates`: given per-step candidate road
    segments with exact integer emission costs, pick the single most
    plausible segment SEQUENCE per trace, preferring to stay on the
    same segment (transition cost 0) over switching (cost
    `switch_cost`).

    Input: (tid, t, sid, emis) — every (tid, t) step MUST have ≥1
    candidate (callers add an off-road sentinel state, sid = -1, with
    a pinned worst-case emission). All integers.

    DP with pinned determinism (the oracle replays it decision-for-
    decision): best-prev is arg-min over (cost, sid); at equal cost
    STAY beats switch; final state is arg-min (cost, sid). Path hash
    kh = Σ_t ((sid_t+2)·(t+1)·2654435761 mod 2³¹) is position-
    sensitive — one wrong transition anywhere changes it.

    Scale: candidate generation upstream is the distributed part
    (cell joins over the full trace corpus); this kernel is one
    groupBy(tid) shuffle + an O(T·k²)-bounded per-trace DP (T = trace
    length, k = candidates/step — both bounded by sampling rate and
    radius, NOT by corpus size).

    Output: (tid, n_steps, total_cost, kh, n_off)."""
    import pandas as pd

    INF = 1 << 62
    C = int(switch_cost)

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["t", "sid"], kind="mergesort")
        tid = int(pdf["tid"].iloc[0])
        prev: dict[int, tuple[int, int, int]] = {}  # sid -> (cost, kh, noff)
        steps = 0
        for t, grp in pdf.groupby("t", sort=True):
            steps += 1
            if prev:
                bp_cost, bp_sid = INF, None
                for s, (c, _, _) in prev.items():
                    if c < bp_cost or (c == bp_cost and s < bp_sid):
                        bp_cost, bp_sid = c, s
                bp_kh, bp_noff = prev[bp_sid][1], prev[bp_sid][2]
            cur: dict[int, tuple[int, int, int]] = {}
            for sid, emis in zip(
                grp["sid"].astype(int), grp["emis"].astype(int)
            ):
                if not prev:
                    base, kh, noff = 0, 0, 0
                else:
                    same = prev.get(sid, (INF, 0, 0))
                    if same[0] <= bp_cost + C:  # stay wins ties
                        base, kh, noff = same
                    else:
                        base, kh, noff = bp_cost + C, bp_kh, bp_noff
                cur[sid] = (
                    base + emis,
                    (kh + _vit_h(sid, int(t))) % VIT_PH_MOD,
                    noff + (1 if sid == -1 else 0),
                )
            prev = cur
        best_sid = min(prev, key=lambda s: (prev[s][0], s))
        c, kh, noff = prev[best_sid]
        return pd.DataFrame(
            [(tid, steps, c, kh, noff)],
            columns=["tid", "n_steps", "total_cost", "kh", "n_off"],
        )

    return (
        cands.select("tid", "t", "sid", "emis")
        .groupBy("tid")
        .applyInPandas(
            kernel,
            "tid long, n_steps long, total_cost long, kh long, n_off long",
        )
    )


PR_SCALE = 10**12
PR_D_NUM, PR_D_DEN = 85, 100


def pagerank_rounds(
    edges: DataFrame, rounds: int = 3, scale: int = PR_SCALE
) -> DataFrame:
    """Fixed-round PageRank kept EXACT in scaled integers — the
    centrality field road/POI ranking pipelines run over the
    symmetrized segment graph (and the canonical iterative-algorithm
    shape on Spark).  Floats never enter: ranks live at `scale`
    (default 10^12), the damping split is d = 85/100 applied as
    integer multiply-then-floor-divide, and per-neighbor contribution
    is r div deg — so after R rounds both engines hold the IDENTICAL
    integer field, no convergence-tolerance argument needed (the same
    fixed-round contract as bellman_ford).

      r_0(v)     = scale div N
      r_{t+1}(v) = (15·(scale div N)) div 100
                 + (85·Σ_{u→v} (r_t(u) div deg(u))) div 100

    Overflow headroom: Σ contribs ≤ N·scale; 85·N·scale must stay
    under 2^63 → N ≤ ~10^5 at the default scale; drop `scale` to 10^9
    for 10^8-node graphs (documented trade: 9 digits of rank).

    Scale shape: degrees fold once; each round is ONE equi-join on the
    partitioned edge table + ONE map-side-combining sum + a node-table
    left join; localCheckpoint every 4 rounds truncates lineage
    (bellman_ford pattern).  Output: (node, deg, r)."""
    deg = edges.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    nodes = deg.select(F.col("u").alias("node"), "deg")
    nn = nodes.agg(F.count(F.lit(1)).cast("long").alias("n"))
    base = nodes.crossJoin(F.broadcast(nn)).select(
        "node",
        "deg",
        F.expr(f"{scale} div n").alias("r0"),
        F.expr(f"({PR_D_DEN - PR_D_NUM} * ({scale} div n)) div {PR_D_DEN}")
        .alias("b"),
    )
    rank = base.select("node", "deg", F.col("r0").alias("r"))
    e = edges.alias("e")
    for t in range(rounds):
        msgs = rank.alias("a").join(
            e, F.col("a.node") == F.col("e.u")
        ).select(
            F.col("e.v").alias("node"),
            F.expr("a.r div a.deg").alias("c"),
        )
        summed = msgs.groupBy("node").agg(
            F.sum("c").cast("long").alias("s")
        )
        rank = (
            base.join(summed, "node", "left")
            .select(
                "node",
                "deg",
                (
                    F.col("b")
                    + F.expr(
                        f"({PR_D_NUM} * coalesce(s, 0L)) div {PR_D_DEN}"
                    )
                ).cast("long").alias("r"),
            )
        )
        if (t + 1) % 4 == 0:
            rank = rank.localCheckpoint(eager=False)
    return rank


def isochrone_stats(
    dist: DataFrame, budget: int, m: int = 256
) -> DataFrame:
    """G4 isochrone region analysis — COMPOSED: threshold the
    bellman_ford cost field at `budget`, unpack node ids to grid
    cells (node = x·m + y), and fold the reachable region's shape:
    cell count, exact rook perimeter (4n − 2·adjacent pairs),
    connected-component count (dedup.connected_components — the same
    pointer-doubling engine the near-dup clustering uses), cost sum
    and bbox.  The "cells within N minutes" product every routing
    stack ships, expressed as three of this repo's primitives chained.

    Scale: threshold+unpack is a narrow projection over the cost
    field; adjacency is one positive-offset self-equi-join at
    cell-table size; CC is O(log diameter) shuffle rounds.  Output is
    ONE row: (n_cells, perim, n_components, sum_d, minx, maxx, miny,
    maxy)."""
    from mapnik_vector_tile_spark.operators.dedup import (
        connected_components,
    )

    cells = dist.filter(F.col("d") <= budget).select(
        F.col("node"),
        F.expr(f"node div {m}").alias("cx"),
        (F.col("node") % m).alias("cy"),
        "d",
    )
    base = cells.agg(
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.sum("d").cast("long").alias("sum_d"),
        F.min("cx").cast("long").alias("minx"),
        F.max("cx").cast("long").alias("maxx"),
        F.min("cy").cast("long").alias("miny"),
        F.max("cy").cast("long").alias("maxy"),
    )
    pos_offs = ((1, 0), (0, 1))
    probes = cells.select(
        F.col("node").alias("doc_a"),
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
    nbr = cells.select(
        F.col("cx").alias("nx"), F.col("cy").alias("ny"),
        F.col("node").alias("doc_b"),
    )
    pairs = probes.join(nbr, ["nx", "ny"]).select("doc_a", "doc_b")
    adj = pairs.agg(F.count(F.lit(1)).cast("long").alias("n_adj"))
    cc = connected_components(pairs)
    reps = cc.agg(
        F.countDistinct("cluster_rep").cast("long").alias("n_reps"),
        F.countDistinct("doc_id").cast("long").alias("n_in_pairs"),
    )
    return (
        base.crossJoin(F.broadcast(adj))
        .crossJoin(F.broadcast(reps))
        .select(
            "n_cells",
            (F.lit(4) * F.col("n_cells") - F.lit(2) * F.col("n_adj"))
            .cast("long").alias("perim"),
            (
                F.col("n_reps")
                + (F.col("n_cells") - F.col("n_in_pairs"))
            ).cast("long").alias("n_components"),
            "sum_d",
            "minx", "maxx", "miny", "maxy",
        )
    )


def triangle_count(edges: DataFrame) -> DataFrame:
    """G5 triangle counting — the clustering-coefficient ingredient
    (Cohen's MapReduce triangle enumeration; GraphX triangleCount):
    orient every undirected edge low→high, join ordered wedges
    (a<b<c via a→b, b→c) against the closing edge a→c.  Ordering
    makes each triangle count EXACTLY once and bounds the wedge join
    by the degree of the MIDDLE (low-degree-first orientation is the
    classic skew bound).

    Input: undirected edge list (u, v) in any orientation, duplicates
    tolerated (distinct-ified).  Output: one row
    (n_edges, n_wedges, n_triangles) — the global census; per-node
    counts are the same join with one more groupBy."""
    e = (
        edges.select(
            F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    w = e.alias("e1").join(
        e.alias("e2"), F.col("e1.b") == F.col("e2.a")
    ).select(
        F.col("e1.a").alias("a"),
        F.col("e1.b").alias("b"),
        F.col("e2.b").alias("c"),
    )
    tri = w.alias("w").join(
        e.alias("e3"),
        (F.col("w.a") == F.col("e3.a")) & (F.col("w.c") == F.col("e3.b")),
        "left_semi",
    )
    n_e = e.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    n_w = w.agg(F.count(F.lit(1)).cast("long").alias("n_wedges"))
    n_t = tri.agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    return n_e.crossJoin(n_w).crossJoin(n_t)


def kcore_rounds(
    edges: DataFrame, k: int = 4, rounds: int = 5
) -> DataFrame:
    """G6 hop-bounded k-core peeling — the degeneracy decomposition
    community/fraud mining runs (GraphX/NetworkX k_core): each round
    removes every node whose degree among SURVIVORS is < k; after R
    rounds the survivor set equals the true k-core whenever peeling
    stabilizes within R (the fixed-round contract yet again — and the
    per-node drop ROUND is itself the output, so the entire peeling
    order is under the hash).

    edges: undirected (u, v) any orientation.  One symmetric edge
    table reused every round; each round = one semi-join degree count
    + one filter (map-side combining).  Output: (node, deg0,
    dropped_round) — dropped_round = 1-based round of removal, -1
    for survivors."""
    e = (
        edges.select(
            F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    sym = e.unionByName(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    deg0 = sym.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("deg0")
    )
    alive = deg0.select("node")
    dropped = None
    for r in range(1, rounds + 1):
        deg = (
            sym.join(alive.select(F.col("node").alias("a")), "a")
            .join(alive.select(F.col("node").alias("b")), "b")
            .groupBy(F.col("a").alias("node"))
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        cur = alive.join(deg, "node", "left").select(
            "node", F.coalesce("deg", F.lit(0)).alias("deg")
        )
        out_now = cur.filter(F.col("deg") < k).select(
            "node", F.lit(r).cast("long").alias("dropped_round")
        )
        dropped = (
            out_now if dropped is None
            else dropped.unionByName(out_now)
        )
        alive = cur.filter(F.col("deg") >= k).select("node")
        alive = alive.localCheckpoint(eager=False)
    survivors = alive.select(
        "node", F.lit(-1).cast("long").alias("dropped_round")
    )
    return deg0.join(
        dropped.unionByName(survivors), "node"
    ).select("node", "deg0", "dropped_round")
