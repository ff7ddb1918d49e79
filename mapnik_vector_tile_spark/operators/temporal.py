"""Trajectories and per-cell series — SURVEY.md §2.3 W-rows (no
reference counterpart: mapnik-vector-tile has no trajectory or series
analytics). Two groups:

* Trajectory mining over time-ordered points: stay points (one
  groupBy shuffle on the user key, a bounded per-user scan), and the
  symmetric Hausdorff and discrete Fréchet distances between candidate
  trajectory pairs, kept exact in squared integer units.
* Per-cell / per-group series: the exact Theil–Sen and Mann–Kendall
  trend statistics and isotonic (PAVA) calibration, integer-exact so
  their DuckDB twins replay them bit for bit.

All time arithmetic is int64 epoch-microseconds — the oracles compare
bit-exactly, no float time. The events parquet stores TIMESTAMP_NTZ,
so the Spark side uses `timestampdiff(MICROSECOND, epoch_ntz, ts)`
(timezone-independent, unlike unix_micros which rejects NTZ) and the
DuckDB side `epoch_us(ts)` — verified equal to the microsecond.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# the ONE NTZ -> epoch-µs conversion (matches DuckDB epoch_us exactly;
# see module docstring) — every events derivation must go through it
_EPOCH_US = (
    "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
)


def staypoints(
    df: DataFrame,
    d_cheb: int,
    t_min_us: int,
    user_col: str = "user_id",
) -> DataFrame:
    """W6 stay-point detection — the GeoLife/Zheng trajectory-mining
    primitive (Li et al. 2008, "Mining user similarity based on
    location history"): scan each user's time-ordered points with a
    greedy anchor; the stay window of anchor i is the maximal prefix
    i..j with EVERY point within Chebyshev distance ``d_cheb`` of
    p_i (first exit breaks it); if its duration t_j − t_i ≥
    ``t_min_us`` the window is a stay and the anchor jumps to j+1,
    else the anchor advances to i+1. Pinned deterministic semantics:
    order by (t, event_id), integer Chebyshev distance, closed
    thresholds as written — the DuckDB twin replays the exact anchor
    chain through a recursive CTE over precomputed first-exit indexes.

    Input: (user_col, event_id, t, x, y) with t int64 epoch-µs and
    integer coords. Output one row per stay:
    (user_id, stay_ord, n_pts, sx, sy, dur_us, t0).
    Scale: one groupBy shuffle on the user key; the per-user kernel is
    a bounded sequential scan (trajectories are bounded per user-day;
    the 100 TB axis is user count, which is the parallel axis)."""
    import pandas as pd

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["t", "event_id"], kind="mergesort")
        u = pdf[user_col].iloc[0]
        t = pdf["t"].to_numpy(np.int64)
        x = pdf["x"].to_numpy(np.int64)
        y = pdf["y"].to_numpy(np.int64)
        n = len(t)
        rows = []
        i = 0
        while i < n:
            inside = (
                np.maximum(np.abs(x[i:] - x[i]), np.abs(y[i:] - y[i]))
                <= d_cheb
            )
            exits = np.flatnonzero(~inside)
            j = i + (int(exits[0]) - 1 if len(exits) else n - 1 - i)
            if t[j] - t[i] >= t_min_us:
                rows.append(
                    (
                        u,
                        len(rows),
                        j - i + 1,
                        int(x[i : j + 1].sum()),
                        int(y[i : j + 1].sum()),
                        int(t[j] - t[i]),
                        int(t[i]),
                    )
                )
                i = j + 1
            else:
                i += 1
        return pd.DataFrame(
            rows,
            columns=[
                "user_id", "stay_ord", "n_pts", "sx", "sy", "dur_us", "t0",
            ],
        )

    schema = (
        "user_id long, stay_ord long, n_pts long, sx long, sy long, "
        "dur_us long, t0 long"
    )
    return (
        df.select(user_col, "event_id", "t", "x", "y")
        .groupBy(user_col)
        .applyInPandas(kernel, schema)
    )


def hausdorff_pairs(pts: DataFrame, pairs: DataFrame) -> DataFrame:
    """W10 symmetric Hausdorff distance between trajectory pairs —
    the shape-similarity measure trajectory clustering and map-change
    detection use (PostGIS ST_HausdorffDistance), kept EXACT in
    squared integer units:  h(A→B) = max_i min_j d²(a_i, b_j),
    h_sym = max(h(A→B), h(B→A)) — max/min of BIGINTs, no floats.

    pts: (tid, x, y); pairs: (ta, tb) — candidates from an upstream
    bucket join (same-cell prefilter), never all-pairs.  The plan is
    pure Catalyst: pair×point equi-joins, one partial-agg min per
    (pair, anchor point), one max per pair — the exact min/max
    two-level fold Spark pushes map-side.  Work is Σ|A|·|B| over
    CANDIDATE pairs only, the same bounded shape as the banded dedup
    joins."""
    a = pts.select(F.col("tid").alias("ta"), F.col("x").alias("ax"),
                   F.col("y").alias("ay"))
    b = pts.select(F.col("tid").alias("tb"), F.col("x").alias("bx"),
                   F.col("y").alias("by"))

    def directed(src, dst, sid, did, sx, sy, dx, dy):
        d2 = (F.col(sx) - F.col(dx)) * (F.col(sx) - F.col(dx)) + (
            F.col(sy) - F.col(dy)
        ) * (F.col(sy) - F.col(dy))
        per_pt = (
            pairs.join(src, sid)
            .join(dst, did)
            .groupBy("ta", "tb", sx, sy)
            .agg(F.min(d2).cast("long").alias("mind2"))
        )
        return per_pt.groupBy("ta", "tb").agg(
            F.max("mind2").cast("long").alias("h")
        )

    hab = directed(a, b, "ta", "tb", "ax", "ay", "bx", "by").withColumnRenamed(
        "h", "h_ab"
    )
    hba = directed(b, a, "tb", "ta", "bx", "by", "ax", "ay").withColumnRenamed(
        "h", "h_ba"
    )
    return hab.join(hba, ["ta", "tb"]).select(
        "ta",
        "tb",
        "h_ab",
        "h_ba",
        F.greatest("h_ab", "h_ba").alias("h_sym"),
    )


def frechet_pairs(
    pts: DataFrame, pairs: DataFrame, max_len: int = 4096
) -> DataFrame:
    """W17 discrete Fréchet distance between ORDERED trajectory pairs
    — the order-aware sibling of hausdorff_pairs (the dog-leash
    similarity trajectory clustering and map-matching evaluation
    use; Eiter & Mannila '94), kept EXACT in squared integer units:
    the classic coupled DP
        c[i][j] = max(d²(aᵢ, bⱼ), min(c[i-1][j], c[i][j-1],
                                      c[i-1][j-1]))
    over int64 coordinates — max/min of BIGINTs, no floats; the
    DuckDB twin replays the SAME recurrence cell by cell through a
    list-carrying recursive CTE (a sliding window of the last m+1 DP
    values), so a single mis-propagated cell breaks the hash.

    pts: (tid, seq, x, y) — seq orders the trajectory; pairs:
    (ta, tb) — candidates from an upstream bucket join (co-travel /
    same-cell prefilter), never all-pairs.  Per pair the DP is an
    O(|A|·|B|) numpy kernel inside ONE mapInPandas over the
    pair-with-both-arrays rows (trajectories ship as packed arrays,
    one row per pair — no shuffle beyond the two array joins);
    trajectories longer than ``max_len`` raise rather than silently
    absorb quadratic work — simplify upstream first
    (functions/simplify.py).

    Output: (ta, tb, n_a, n_b, frech2)."""
    import numpy as np
    import pandas as pd

    traj = pts.groupBy("tid").agg(
        F.array_sort(
            F.collect_list(F.struct("seq", "x", "y"))
        ).alias("tpts")
    )
    j = (
        pairs.join(
            traj.select(
                F.col("tid").alias("ta"), F.col("tpts").alias("pa")
            ),
            "ta",
        )
        .join(
            traj.select(
                F.col("tid").alias("tb"), F.col("tpts").alias("pb")
            ),
            "tb",
        )
    )

    def kernel(it):
        for pdf in it:
            if not len(pdf):
                continue
            out = {"ta": [], "tb": [], "n_a": [], "n_b": [],
                   "frech2": []}
            for ta, tb, pa, pb in zip(
                pdf["ta"], pdf["tb"], pdf["pa"], pdf["pb"]
            ):
                ax = np.array([p["x"] for p in pa], dtype=np.int64)
                ay = np.array([p["y"] for p in pa], dtype=np.int64)
                bx = np.array([p["x"] for p in pb], dtype=np.int64)
                by = np.array([p["y"] for p in pb], dtype=np.int64)
                n, m = len(ax), len(bx)
                if n == 0 or m == 0:
                    continue
                if n > max_len or m > max_len:
                    raise ValueError(
                        f"frechet_pairs: trajectory longer than "
                        f"max_len={max_len} — simplify upstream"
                    )
                d2 = (ax[:, None] - bx[None, :]) ** 2 + (
                    ay[:, None] - by[None, :]
                ) ** 2
                prev = np.maximum.accumulate(d2[0]).astype(np.int64)
                for i in range(1, n):
                    cur = np.empty(m, dtype=np.int64)
                    cur[0] = max(prev[0], d2[i, 0])
                    row = d2[i]
                    t = np.minimum(prev[1:], prev[:-1])
                    for jj in range(1, m):
                        v = t[jj - 1]
                        if cur[jj - 1] < v:
                            v = cur[jj - 1]
                        cur[jj] = row[jj] if row[jj] > v else v
                    prev = cur
                out["ta"].append(ta)
                out["tb"].append(tb)
                out["n_a"].append(n)
                out["n_b"].append(m)
                out["frech2"].append(int(prev[-1]))
            yield pd.DataFrame(out).astype(np.int64)

    return j.mapInPandas(
        kernel,
        "ta long, tb long, n_a long, n_b long, frech2 long",
    )


def isotonic_fit(series: DataFrame) -> DataFrame:
    """W20 isotonic regression by PAVA (pool-adjacent-violators) —
    the monotone calibration fit every detector/confidence pipeline
    runs (sklearn IsotonicRegression / Platt's rival), kept EXACT:
    points pre-pool per x (Σy, n — so equal scores share one fitted
    value by construction), then adjacent blocks merge while the
    earlier block's mean exceeds the later's — compared by integer
    cross-multiplication, no division until the end, when each
    point's fitted value emits as the gcd-reduced block-mean
    fraction.  Ties in mean need no rule: merged or not, the
    per-point output is identical.

    series: (g, x, y) integer observations (y typically 0/1 hit
    flags).  Per-group kernel is the classic O(n) stack; groups
    parallelize freely and the in-group size is bounded by the
    domain (e.g. the quantized score range), not the corpus.  The
    DuckDB twin replays PAVA as a ONE-ACTION-PER-STEP recursion
    (consume a point or merge once — ≤ 2n steps), so a single wrong
    merge desynchronizes every later block boundary.

    Output per (g, x): (g, x, n, fit_num, fit_den) — n the pooled
    count at x."""
    import math

    import pandas as pd

    pooled = series.groupBy("g", "x").agg(
        F.sum("y").cast("long").alias("sy"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )

    def kernel(key, pdf):
        pdf = pdf.sort_values("x")
        xs = pdf["x"].to_numpy()
        sy = pdf["sy"].to_numpy()
        cn = pdf["n"].to_numpy()
        sums: list[int] = []
        cnts: list[int] = []
        sizes: list[int] = []  # pooled points per block
        for i in range(len(xs)):
            sums.append(int(sy[i]))
            cnts.append(int(cn[i]))
            sizes.append(1)
            while (
                len(sums) >= 2
                and sums[-2] * cnts[-1] > sums[-1] * cnts[-2]
            ):
                sums[-2] += sums[-1]
                cnts[-2] += cnts[-1]
                sizes[-2] += sizes[-1]
                sums.pop()
                cnts.pop()
                sizes.pop()
        out = {"g": [], "x": [], "n": [], "fit_num": [], "fit_den": []}
        pos = 0
        for b in range(len(sums)):
            gd = math.gcd(sums[b], cnts[b]) or 1
            for _ in range(sizes[b]):
                out["g"].append(int(key[0]))
                out["x"].append(int(xs[pos]))
                out["n"].append(int(cn[pos]))
                out["fit_num"].append(sums[b] // gd)
                out["fit_den"].append(cnts[b] // gd)
                pos += 1
        return pd.DataFrame(out)

    return pooled.groupBy("g").applyInPandas(
        kernel, "g long, x long, n long, fit_num long, fit_den long"
    )


TREND_MAX_DX = 29  # Theil-Sen slope keys use lcm(1..TREND_MAX_DX)


def trend_stats(series: DataFrame, max_dx: int = TREND_MAX_DX) -> DataFrame:
    """W19 robust trend statistics per series — the Mann–Kendall S
    statistic (Σ_{i<j} sign(y_j − y_i), the nonparametric trend test
    sensor-drift monitoring runs) and the EXACT Theil–Sen slope (the
    lower median of all pairwise slopes (y_j−y_i)/(x_j−x_i)), both
    kept integer-exact so the DuckDB twin replays them bit-for-bit:
    with the per-group x SPAN (max(x) − min(x), NOT just adjacent
    gaps — Theil–Sen enumerates ALL pairs, so the largest pairwise dx
    is the span) bounded by ``max_dx``, every slope maps to the
    STRICTLY MONOTONE integer key  dy · (lcm(1..max_dx) / dx)  — so
    sorting rationals needs no floats and no cross-multiplied
    comparator, and the selected median pair reduces by gcd to a
    canonical (num, den).  |dy| is gated against the key overflowing
    int64.  A longer series (e.g. 31 daily
    points) must rescale/re-index x into the span bound first; the
    bound cannot simply be raised, because lcm(1..43) already
    overflows int64 — the lcm-key trick is inherently a
    bounded-span design.

    series: (g, x, y) integer series, x distinct per g.  Pairwise
    work is |series|² per GROUP — bounded by the series length (a
    time window), not the corpus; groups parallelize freely.

    Output per g: (g, n, mk_s, ts_num, ts_den) — ts_num/ts_den the
    reduced lower-median slope (0/1 for single-point series)."""
    import math

    import pandas as pd

    lcm = math.lcm(*range(1, max_dx + 1))
    lim = ((1 << 63) - 1) // lcm

    def kernel(key, pdf):
        xs = pdf["x"].to_numpy()
        ys = pdf["y"].to_numpy()
        order = np.argsort(xs)
        xs, ys = xs[order], ys[order]
        n = len(xs)
        s = 0
        keys = []
        pairs = []
        for i in range(n):
            for j in range(i + 1, n):
                dy = int(ys[j]) - int(ys[i])
                dx = int(xs[j]) - int(xs[i])
                if dx > max_dx:
                    raise ValueError(
                        f"trend_stats: pairwise dx {dx} exceeds "
                        f"max_dx={max_dx} — max_dx bounds the "
                        "per-group x SPAN (all pairs are "
                        "enumerated); re-index or rescale x"
                    )
                if abs(dy) > lim:
                    raise ValueError(
                        "trend_stats: |dy| overflows the exact "
                        "slope key — rescale y"
                    )
                s += (dy > 0) - (dy < 0)
                keys.append(dy * (lcm // dx))
                pairs.append((dy, dx))
        if pairs:
            mid = sorted(range(len(keys)), key=lambda t: keys[t])[
                (len(keys) - 1) // 2
            ]
            dy, dx = pairs[mid]
            g2 = math.gcd(abs(dy), dx) or 1
            num, den = dy // g2, dx // g2
        else:
            num, den = 0, 1
        return pd.DataFrame(
            {
                "g": [int(key[0])],
                "n": [n],
                "mk_s": [s],
                "ts_num": [num],
                "ts_den": [den],
            }
        )

    return series.groupBy("g").applyInPandas(
        kernel, "g long, n long, mk_s long, ts_num long, ts_den long"
    )
