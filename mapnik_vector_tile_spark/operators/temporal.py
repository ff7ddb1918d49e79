"""Temporal joins — SURVEY.md §2.3 J6/J7 (no reference counterpart:
mapnik-vector-tile has no relational joins at all; these are the
interval/as-of shapes a training-data pipeline needs over event logs,
built on the same grid-bucket algebra as the spatial joins).

Scale design:

* As-of join: the classic union+merge plan — tag both sides, ONE
  shuffle on the equi key, then a running `last(..., ignorenulls)`
  over the per-key time order. No range predicate ever reaches a join
  operator, so there is no candidate blow-up to prune; cost is one
  sort per key group. Skew is bounded by the per-key event count (a
  hot user with 10^7 events is one sorted run, not a cross product).
* Interval overlap join: explode each interval to the 1-D grid
  buckets it touches (bucket width >= max duration => <= 2 rows per
  interval), equi-join on bucket — broadcastable / AQE-skew-splittable
  like any relational join — then the exact overlap filter. A pair
  overlapping k shared buckets is emitted ONCE by keeping it only in
  the bucket of max(start_a, start_b) (the later start lies inside
  both intervals, so that bucket is always shared): dedup costs a
  comparison, not a distinct shuffle.

All arithmetic is int64 epoch-microseconds — the oracles compare
bit-exactly, no float time. The events parquet stores TIMESTAMP_NTZ,
so the Spark side uses `timestampdiff(MICROSECOND, epoch_ntz, ts)`
(timezone-independent, unlike unix_micros which rejects NTZ) and the
DuckDB side `epoch_us(ts)` — verified equal to the microsecond.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

US_PER_HOUR = 3_600_000_000
US_PER_DAY = 24 * US_PER_HOUR


def asof_join(
    left: DataFrame, right: DataFrame, key: str = "key"
) -> DataFrame:
    """For each left row, the right row of the same ``key`` with the
    greatest ``(t, id)`` such that ``right.t <= left.t`` (ties at equal
    t: the right row counts, and the max ``id`` among them wins —
    deterministic). Inputs: (id long, key, t long). Output:
    (left_id, right_id, gap_us) with -1/-1 for unmatched left rows.

    Plan: union the tagged sides, shuffle once on ``key``, and carry
    the latest right id/t through a running window — right rows sort
    before left rows at equal t so `<=` semantics fall out of the
    order, not a predicate.
    """
    r = right.select(
        F.col(key).alias("k"),
        F.col("t"),
        F.lit(0).alias("side"),
        F.col("id"),
    )
    l = left.select(
        F.col(key).alias("k"),
        F.col("t"),
        F.lit(1).alias("side"),
        F.col("id"),
    )
    w = (
        Window.partitionBy("k")
        .orderBy("t", "side", "id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    is_r = F.col("side") == 0
    # one struct-valued last() => a single Window pass over the merged
    # run (two scalar last() calls cost two Window operators)
    merged = r.unionByName(l).withColumn(
        "rr",
        F.last(
            F.when(is_r, F.struct("id", "t")), ignorenulls=True
        ).over(w),
    )
    return merged.filter(F.col("side") == 1).select(
        F.col("id").alias("left_id"),
        F.coalesce("rr.id", F.lit(-1)).alias("right_id"),
        F.coalesce(F.col("t") - F.col("rr.t"), F.lit(-1)).alias("gap_us"),
    )


def interval_overlap_join(
    a: DataFrame, b: DataFrame, bucket_us: int = US_PER_DAY
) -> DataFrame:
    """All (a, b) pairs of closed intervals with ``a.s <= b.e AND
    b.s <= a.e``. Inputs: (id long, s long, e long) in epoch-µs.
    Output: (a_id, b_id, overlap_us). ``bucket_us`` should be >= the
    typical interval length so bucket explosion stays ~2 rows per
    interval; correctness never depends on it."""

    def bucketed(df: DataFrame, p: str) -> DataFrame:
        lo = F.expr(f"s DIV {bucket_us}")
        hi = F.expr(f"e DIV {bucket_us}")
        return df.select(
            F.col("id").alias(f"{p}_id"),
            F.col("s").alias(f"{p}_s"),
            F.col("e").alias(f"{p}_e"),
            F.explode(F.sequence(lo, hi)).alias("bucket"),
        )

    pairs = bucketed(a, "a").join(bucketed(b, "b"), "bucket")
    later_start = F.greatest("a_s", "b_s")
    return pairs.filter(
        (F.col("a_s") <= F.col("b_e"))
        & (F.col("b_s") <= F.col("a_e"))
        # first-common-bucket dedup: emit only where the later start
        # lands — that bucket is shared by construction of overlap
        & (F.col("bucket") == F.expr(f"greatest(a_s, b_s) DIV {bucket_us}"))
    ).select(
        "a_id",
        "b_id",
        (F.least("a_e", "b_e") - later_start).alias("overlap_us"),
    )


def sessionize(
    events: DataFrame, gap_us: int, key: str = "key"
) -> DataFrame:
    """Gap-based sessionization: rows of the same ``key`` belong to one
    session while consecutive gaps are <= ``gap_us``. Inputs:
    (id long, key, t long). Output one row per session:
    (key, session_idx, n_events, dur_us, min_id).

    Plan: one shuffle on ``key``; session boundaries are a lag-compare
    + running sum inside that sort, so the expensive part is a single
    per-key ordered pass. The per-session fold then groups on
    (key, session_idx) — a second, much smaller exchange (session
    count << event count). Skew = per-key event count, same bound as
    the as-of join.
    """
    w = Window.partitionBy(key).orderBy("t", "id")
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    # first row per key has a NULL lag => comparison false => 0, so
    # session indices start at 0 without a special case
    is_new = F.when(F.col("t") - F.lag("t").over(w) > gap_us, 1).otherwise(0)
    marked = events.withColumn("session_idx", F.sum(is_new).over(run))
    return marked.groupBy(key, "session_idx").agg(
        F.count("*").alias("n_events"),
        (F.max("t") - F.min("t")).alias("dur_us"),
        F.min("id").alias("min_id"),
    )


# --- events-table derivations (query/bench entry points) --------------------


# the ONE NTZ -> epoch-µs conversion (matches DuckDB epoch_us exactly;
# see module docstring) — every events derivation must go through it
_EPOCH_US = (
    "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
)


def _typed_events(
    spark: SparkSession, sf_dir: str, etype: str | None = None
) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    if etype is not None:
        ev = ev.filter(F.col("event_type") == etype)
    return ev.select(
        F.col("event_id").alias("id"),
        F.col("user_id"),
        F.expr(_EPOCH_US).alias("t"),
    )


def clicks_asof_views(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per click, the same user's latest prior-or-equal view."""
    return asof_join(
        _typed_events(spark, sf_dir, "click"),
        _typed_events(spark, sf_dir, "view"),
        key="user_id",
    ).select(
        F.col("left_id").alias("click_id"),
        F.col("right_id").alias("view_id"),
        "gap_us",
    )


def _event_intervals(
    spark: SparkSession, sf_dir: str, etype: str, mod_hours: int
) -> DataFrame:
    """Deterministic interval per event: [t, t + (1 + id % m) hours]
    — pure integer µs arithmetic, regenerable verbatim in SQL."""
    ev = _typed_events(spark, sf_dir, etype)
    dur = (F.lit(1) + F.col("id") % mod_hours) * F.lit(US_PER_HOUR)
    return ev.select("id", F.col("t").alias("s"), (F.col("t") + dur).alias("e"))


def user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user 4-hour-gap sessions over ALL event types (the events
    table has ~6.5 h mean per-user gap, so a 4 h rule yields a healthy
    mix of singleton and multi-event sessions)."""
    ev = _typed_events(spark, sf_dir).withColumnRenamed("user_id", "key")
    out = sessionize(ev, gap_us=4 * US_PER_HOUR, key="key")
    return out.select(
        F.col("key").alias("user_id"),
        F.col("session_idx").cast("long").alias("session_idx"),
        "n_events",
        "dur_us",
        "min_id",
    )


def incidents_overlap_promos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """error-event windows (<=23 h) x purchase-event windows (<=17 h)
    that overlap in time, with the shared duration."""
    return interval_overlap_join(
        _event_intervals(spark, sf_dir, "error", 23),
        _event_intervals(spark, sf_dir, "purchase", 17),
        bucket_us=US_PER_DAY,
    )


def ewma(
    events: DataFrame,
    alpha: float = 0.5,
    key: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """W5 exponentially-weighted moving average per key — the classic
    sequential smoother (pandas ``ewm(alpha).mean()`` recursion with
    s0 = v0): s = alpha*v + (1-alpha)*s over events in (ts, event_id)
    order. EWMA is inherently order-sequential, so it pins the
    engine's ordered-fold discipline end-to-end: the per-key stream
    collects ONCE (sort_array over (ts, event_id, value) structs —
    per-key volume bounded like sessionize's sorted runs), the fold is
    a single Column aggregate (init = first value, then
    s*(1-a) + v*a), and because both engines execute the identical
    IEEE operation sequence the final double is BIT-identical in the
    DuckDB twin — no epsilon, dyadic or not. Output:
    (key, n_events, ewma)."""
    a = float(alpha)
    if not 0.0 < a <= 1.0:
        raise ValueError(f"ewma: alpha must be in (0, 1], got {alpha}")
    arr = F.sort_array(
        F.collect_list(
            F.struct(F.col("ts"), F.col("event_id"), F.col(value_col))
        )
    )
    g = events.groupBy(key).agg(
        arr.alias("_a"), F.count(F.lit(1)).cast("long").alias("n_events")
    )
    vals = F.transform(F.col("_a"), lambda s: s[value_col].cast("double"))
    folded = F.aggregate(
        F.slice(vals, 2, F.greatest(F.size(vals) - 1, F.lit(0))),
        F.element_at(vals, 1),
        lambda s, v: s * F.lit(1.0 - a) + v * F.lit(a),
    )
    return g.select(key, "n_events", folded.alias("ewma"))


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


def gap_fill(events: DataFrame, interval_s: int = 600) -> DataFrame:
    """W9 regular-grid gap fill (telemetry resampling): emit one row
    per `interval_s`-aligned tick inside each user's [min ts, max ts]
    span, carrying the latest event value at or before the tick
    (forward fill) — the downsample-to-regular-grid every metrics
    store performs (`date_bin` + `locf`).

    Exactness pins: timestamps truncate to whole epoch seconds in
    BOTH engines before anything else; the merged (events ∪ ticks)
    stream orders by (t, is_tick, event_id) so an event landing
    exactly ON a tick is included in that tick's fill and same-second
    events resolve by event id; the fill itself is ONE window pass
    (struct-last over the merged run — the asof_join pattern), and
    values pass through untouched (no float arithmetic → doubles
    hash bit-exactly).

    Scale: the merged stream shuffles once on user_id; ticks are
    generated by a bounded sequence explode (span/interval rows per
    user), never driver-side. Output (user_id, tick, value)."""
    ev = events.select(
        "user_id",
        F.unix_timestamp("ts").alias("t"),
        F.col("event_id").alias("eid"),
        F.col("value").alias("v"),
        F.lit(0).alias("is_tick"),
    )
    bounds = events.groupBy("user_id").agg(
        F.unix_timestamp(F.min("ts")).alias("t0"),
        F.unix_timestamp(F.max("ts")).alias("t1"),
    )
    ticks = bounds.select(
        "user_id",
        F.explode(
            F.sequence(
                -F.floor(-F.col("t0") / F.lit(interval_s)).cast("long"),
                F.floor(F.col("t1") / F.lit(interval_s)).cast("long"),
            )
        ).alias("k"),
    ).select(
        "user_id",
        (F.col("k") * F.lit(interval_s)).alias("t"),
        F.lit(None).cast("long").alias("eid"),
        F.lit(None).cast("double").alias("v"),
        F.lit(1).alias("is_tick"),
    )
    merged = ev.unionByName(ticks)
    w = (
        Window.partitionBy("user_id")
        .orderBy("t", "is_tick", "eid")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = merged.select(
        "user_id", "t", "is_tick",
        F.last("v", ignorenulls=True).over(w).alias("value"),
    )
    return filled.filter(F.col("is_tick") == 1).select(
        "user_id", F.col("t").alias("tick"), "value"
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


SCD2_OPEN = 1 << 62  # valid_to sentinel for the open version


def scd2_apply(current: DataFrame, changes: DataFrame) -> DataFrame:
    """W18 SCD2 dimension maintenance (the Kimball type-2 MERGE every
    warehouse and every training-data snapshot store runs): apply a
    CDC batch to an effective-dated dimension — each change CLOSES
    the key's open version at its timestamp and, for an upsert,
    OPENS a new one valid until the key's next change (or the
    SCD2_OPEN sentinel).  Deletes close without opening.  An upsert
    with an unchanged attribute still opens a new version (no value
    dedup — the lineage IS the product).  Changes to unknown keys
    start that key's history; a delete with nothing open is a no-op
    row-wise (it still bounds a preceding upsert in the same batch).

    current: (key, attr, valid_from, valid_to) with valid_to =
    SCD2_OPEN marking the open version; changes: (key, change_id,
    ts, op ∈ {'upsert','delete'}, attr).  Deterministic order:
    (ts, change_id) per key.

    Plan: ONE window over the change batch per key (lead() gives
    each upsert its closing bound), one aggregate for the first
    change per key, one broadcast-or-shuffle join to close the open
    versions — all Catalyst, shuffle keyed on the dimension key; the
    historical (closed) rows stream through untouched, which is what
    makes this linear in |changes| + |open|, not |history|, at fleet
    scale.

    Output: (key, attr, valid_from, valid_to) — historic rows,
    closed-or-still-open prior versions, and the new versions."""
    from pyspark.sql import Window

    w = Window.partitionBy("key").orderBy("ts", "change_id")
    ch = changes.select(
        "key", "change_id", F.col("ts").cast("long").alias("ts"),
        "op", "attr",
    ).withColumn(
        "next_ts",
        F.coalesce(
            F.lead("ts").over(w), F.lit(SCD2_OPEN).cast("long")
        ),
    )
    bad = ch.filter(~F.col("op").isin("upsert", "delete"))
    if not bad.isEmpty():
        raise ValueError("scd2_apply: op must be 'upsert' or 'delete'")
    first = ch.groupBy("key").agg(F.min(
        F.struct("ts", "change_id")
    ).alias("f")).select("key", F.col("f.ts").alias("first_ts"))
    hist = current.filter(F.col("valid_to") != SCD2_OPEN)
    open_cur = current.filter(F.col("valid_to") == SCD2_OPEN)
    closed_open = open_cur.join(first, "key", "left").select(
        "key", "attr", "valid_from",
        F.coalesce("first_ts", F.lit(SCD2_OPEN)).cast("long")
        .alias("valid_to"),
    )
    new_rows = ch.filter(F.col("op") == "upsert").select(
        "key", "attr",
        F.col("ts").alias("valid_from"),
        F.col("next_ts").alias("valid_to"),
    )
    return (
        hist.select("key", "attr", "valid_from", "valid_to")
        .unionByName(closed_open)
        .unionByName(new_rows)
    )


def scd2_lookup(facts: DataFrame, dim: DataFrame) -> DataFrame:
    """W18b point-in-time (PIT) lookup — join each fact to the
    dimension version VALID AT its timestamp (valid_from ≤ ts <
    valid_to), the query every SCD2 table exists to answer and the
    reproducibility primitive of training-data snapshots ("which
    label did this example carry when the run started?").

    facts: (fact_id, key, ts); dim: (key, attr, valid_from,
    valid_to) with non-overlapping version ranges per key (the
    scd2_apply invariant).  Facts with no valid version (before the
    first version, or inside a delete gap) carry attr = −1 — a
    pinned sentinel, not a dropped row, so fact counts are
    preserved.

    Plan: ONE equi-join on the dimension key with the range
    predicate as the join residual — Catalyst keeps the hash join
    keyed on `key` and evaluates the band inline; at fleet scale
    this shuffles facts once by key, the same shape as any
    fact-to-dimension join."""
    j = facts.join(
        dim,
        (facts["key"] == dim["key"])
        & (facts["ts"] >= dim["valid_from"])
        & (facts["ts"] < dim["valid_to"]),
        "left",
    )
    return j.select(
        facts["fact_id"],
        facts["key"],
        facts["ts"],
        F.coalesce(dim["attr"], F.lit(-1)).cast("long").alias("attr"),
    )


FUNNEL_STAGES = ("view", "click", "purchase")


def funnel_stages(
    events: DataFrame, stages: tuple[str, ...] = FUNNEL_STAGES
) -> DataFrame:
    """W11 ordered funnel analysis — the product-analytics staple
    (Amplitude/Mixpanel funnels, window-function funnel queries):
    per user, the earliest stage-1 event, then the earliest stage-2
    event strictly after it, and so on — each step an exact
    struct-min (epoch seconds, event_id) so timestamp ties are
    deterministic.

    Pure Catalyst: one filtered struct-min aggregate per stage plus a
    user-key join per step (S-1 joins for S stages) — each is a
    partial-agg + co-partitioned equi-join on user_id, the classic
    funnel shape that never materializes per-user event arrays.

    Output per user seen in stage 1: (user_id, stage — how deep the
    user got, 1..S, and dt_k = seconds from step k to k+1 or -1)."""
    t = F.floor(F.unix_timestamp("ts")).cast("long")
    base = events.select(
        "user_id",
        F.col("event_type").alias("et"),
        F.struct(t.alias("t"), F.col("event_id").alias("eid")).alias("k"),
    )
    cur = (
        base.filter(F.col("et") == stages[0])
        .groupBy("user_id")
        .agg(F.min("k").alias("k1"))
    )
    out = cur
    for i, st in enumerate(stages[1:], start=2):
        nxt = (
            base.filter(F.col("et") == st)
            .join(out.select("user_id", F.col(f"k{i - 1}")), "user_id")
            .filter(F.col("k") > F.col(f"k{i - 1}"))
            .groupBy("user_id")
            .agg(F.min("k").alias(f"k{i}"))
        )
        out = out.join(nxt, "user_id", "left")
    sel = [F.col("user_id")]
    # stage = deepest non-null step: build ascending so the deepest
    # step's WHEN ends up outermost
    stage_col = F.lit(1)
    for i in range(2, len(stages) + 1):
        stage_col = F.when(
            F.col(f"k{i}").isNotNull(), F.lit(i)
        ).otherwise(stage_col)
    sel.append(stage_col.cast("long").alias("stage"))
    for i in range(2, len(stages) + 1):
        sel.append(
            F.coalesce(
                F.col(f"k{i}.t") - F.col(f"k{i - 1}.t"), F.lit(-1)
            ).cast("long").alias(f"dt{i - 1}")
        )
    return out.select(*sel)


WEEK_S = 7 * 24 * 3600


def retention_cohorts(events: DataFrame) -> DataFrame:
    """W12 cohort retention — the second product-analytics staple
    beside funnels: users cohorted by first-activity week, then the
    (cohort week, offset k) matrix counts cohort members active k
    weeks later.  All integer epoch-week arithmetic, no calendars.

    Two map-side-combining aggregates (user×week distinct activity,
    then per-user min week) + one broadcast-friendly join back — the
    cohort table is user-sized, the matrix is weeks²-bounded.

    Output: (cohort_w, k, n_active, n_cohort) for every observed
    (cohort, offset) pair including k=0 (n_active = cohort size
    there by construction)."""
    w = F.floor(F.floor(F.unix_timestamp("ts")) / F.lit(WEEK_S)).cast(
        "long"
    )
    uw = events.select("user_id", w.alias("w")).distinct()
    first = uw.groupBy("user_id").agg(F.min("w").alias("cw"))
    joined = uw.join(first, "user_id").select(
        "user_id", F.col("cw").alias("cohort_w"),
        (F.col("w") - F.col("cw")).alias("k"),
    )
    size = first.groupBy(F.col("cw").alias("cohort_w")).agg(
        F.count(F.lit(1)).cast("long").alias("n_cohort")
    )
    act = joined.groupBy("cohort_w", "k").agg(
        F.countDistinct("user_id").cast("long").alias("n_active")
    )
    return act.join(size, "cohort_w").select(
        "cohort_w", F.col("k").cast("long").alias("k"), "n_active",
        "n_cohort",
    )


def interval_concurrency(intervals: DataFrame) -> DataFrame:
    """W13 interval concurrency — the sweep-line occupancy maximum
    (rooms/sessions/connections "how many are open at once"): +1 at
    each start, −1 just after each end (closed intervals), running
    sum in (t, delta ASC, id) order.  s==e overlap of two closed
    intervals is already captured by the e+1 shift of the end event;
    the ASC tie order makes an end at e+1 process BEFORE a start at
    the same instant, so disjoint closed intervals [0,4],[5,9] count
    max 1, not 2.  The answer is the max prefix sum and the EARLIEST
    instant it is reached (pinned by the same order).

    intervals: (id, s, e) closed, integer time.  One global sort —
    expressed as a single window running-sum; this form is the exact
    oracle contract.  For fleet scale use
    interval_concurrency_segmented (same output, partitioned sweep).

    Output ONE row: (max_cc, t_at, n_intervals)."""
    from pyspark.sql import Window

    ev = intervals.select(
        F.col("s").alias("t"), F.lit(1).alias("delta"), "id"
    ).unionByName(
        intervals.select(
            (F.col("e") + 1).alias("t"), F.lit(-1).alias("delta"), "id"
        )
    )
    w = Window.orderBy(
        "t", F.col("delta").asc(), "id"
    ).rowsBetween(Window.unboundedPreceding, 0)
    run = ev.withColumn("cc", F.sum("delta").over(w))
    best = run.agg(
        F.max(
            F.struct(
                F.col("cc").alias("cc"),
                (-F.col("t")).alias("negt"),
            )
        ).alias("b"),
        F.count(F.lit(1)).alias("n2"),
    )
    return best.select(
        F.col("b.cc").cast("long").alias("max_cc"),
        (-F.col("b.negt")).cast("long").alias("t_at"),
        (F.col("n2") / 2).cast("long").alias("n_intervals"),
    )


def interval_concurrency_segmented(
    intervals: DataFrame, bucket_width: int = 3_600_000_000
) -> DataFrame:
    """W13 at fleet scale — the SEGMENTED sweep.  Same output row as
    interval_concurrency (its exact oracle), but no global window
    over the event stream: events are bucketed by coarse time
    (b = t div bucket_width, trunc division — monotone in t, so the
    bucket order agrees with the sweep order), the running sum runs
    PER BUCKET (partitioned window, parallel), and per-bucket delta
    totals fold into prefix offsets that are broadcast back.

    The only unpartitioned window is over the #buckets relation,
    whose size is bounded by timespan/bucket_width — a DOMAIN bound
    (clock time), not a data-volume bound; it does not grow with
    corpus size.  Do not lift that window onto raw events.

    intervals: (id, s, e) closed, integer time.
    Output ONE row: (max_cc, t_at, n_intervals)."""
    from pyspark.sql import Window

    ev = intervals.select(
        F.col("s").alias("t"), F.lit(1).alias("delta"), "id"
    ).unionByName(
        intervals.select(
            (F.col("e") + 1).alias("t"), F.lit(-1).alias("delta"), "id"
        )
    ).withColumn("b", F.expr(f"t div {int(bucket_width)}"))
    wloc = Window.partitionBy("b").orderBy(
        "t", F.col("delta").asc(), "id"
    ).rowsBetween(Window.unboundedPreceding, 0)
    run = ev.withColumn("cc_loc", F.sum("delta").over(wloc))
    # per-bucket totals -> exclusive prefix offsets (tiny relation)
    woff = Window.orderBy("b").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offs = (
        ev.groupBy("b").agg(F.sum("delta").alias("s_b"))
        .withColumn("off", F.coalesce(F.sum("s_b").over(woff), F.lit(0)))
        .select("b", "off")
    )
    glob = run.join(F.broadcast(offs), "b").withColumn(
        "cc", F.col("cc_loc") + F.col("off")
    )
    best = glob.agg(
        F.max(
            F.struct(
                F.col("cc").alias("cc"),
                (-F.col("t")).alias("negt"),
            )
        ).alias("b"),
        F.count(F.lit(1)).alias("n2"),
    )
    return best.select(
        F.col("b.cc").cast("long").alias("max_cc"),
        (-F.col("b.negt")).cast("long").alias("t_at"),
        (F.col("n2") / 2).cast("long").alias("n_intervals"),
    )


def trimmed_sums(
    grouped: DataFrame, trim_pct: int = 10
) -> DataFrame:
    """W14 trimmed (robust) aggregation — the outlier-resistant
    summary ops dashboards use when sensor glitches poison plain
    means: per group, drop the lowest and highest `trim_pct` percent
    of rows by (v, id) rank (count = n·pct div 100 per side, exact
    floor) and fold the rest.  Values are pre-scaled integers
    (micro-units), so every sum is order-free BIGINT-exact.

    grouped: (g, id, v).  One window rank per group + one filtered
    partial-agg — the sessionize shuffle shape.  Output per group:
    (g, n, n_trim, sum_all, sum_trim, min_kept, max_kept)."""
    from pyspark.sql import Window

    w = Window.partitionBy("g").orderBy("v", "id")
    nn = Window.partitionBy("g")
    ranked = grouped.select(
        "g",
        "v",
        F.row_number().over(w).cast("long").alias("i"),
        F.count(F.lit(1)).over(nn).cast("long").alias("n"),
    ).withColumn("k", F.expr(f"(n * {trim_pct}) div 100"))
    kept = ranked.filter(
        (F.col("i") > F.col("k")) & (F.col("i") <= F.col("n") - F.col("k"))
    )
    allsum = grouped.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v").cast("long").alias("sum_all"),
    )
    trimmed = kept.groupBy("g").agg(
        F.max("k").cast("long").alias("n_trim"),
        F.sum("v").cast("long").alias("sum_trim"),
        F.min("v").cast("long").alias("min_kept"),
        F.max("v").cast("long").alias("max_kept"),
    )
    return allsum.join(trimmed, "g").select(
        "g", "n", "n_trim", "sum_all", "sum_trim", "min_kept",
        "max_kept",
    )
