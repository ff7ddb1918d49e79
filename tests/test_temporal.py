"""Trajectory and per-cell series operators (operators.temporal) —
hand-built or brute-force oracles on small inputs; the sf0.01
value-hash gate lives in plans/oracles/geostats.py."""

from __future__ import annotations


def test_staypoints_greedy_semantics(spark):
    """Hand-crafted trajectory pins the greedy anchor rules: a
    long-enough cluster emits one stay and jumps past it; a
    too-short cluster advances point-by-point without emitting; the
    first exit point breaks the window even if later points return."""
    from mapnik_vector_tile_spark.operators.temporal import staypoints

    T = 100
    rows = [
        # user 1: 4 points at origin spanning 300 ticks (stay),
        # then a jump far away, two quick points (too short), done
        (1, 10, 0, 0, 0),
        (1, 11, 100, 1, 1),
        (1, 12, 200, 0, 1),
        (1, 13, 300, 1, 0),
        (1, 14, 310, 50, 50),
        (1, 15, 320, 51, 51),
        # user 2: point leaves radius at t=50 then returns — the exit
        # breaks the window, so no stay despite total span 400
        (2, 20, 0, 0, 0),
        (2, 21, 50, 30, 0),
        (2, 22, 400, 0, 0),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, t long, x long, y long"
    )
    out = {
        (r["user_id"], r["stay_ord"]): r
        for r in staypoints(df, d_cheb=2, t_min_us=T).collect()
    }
    assert set(out) == {(1, 0)}
    s = out[(1, 0)]
    assert s["n_pts"] == 4 and s["dur_us"] == 300 and s["t0"] == 0
    assert (s["sx"], s["sy"]) == (2, 2)


def test_hausdorff_pairs_exact(spark):
    from mapnik_vector_tile_spark.operators.temporal import hausdorff_pairs

    # A: points along y=0; B: same but one far outlier
    pts = (
        [(1, x, 0) for x in (0, 10, 20)]
        + [(2, 0, 0), (2, 10, 0), (2, 20, 7)]
    )
    df = spark.createDataFrame(pts, "tid long, x long, y long")
    pairs = spark.createDataFrame([(1, 2)], "ta long, tb long")
    out = hausdorff_pairs(df, pairs).collect()[0]
    # A->B: every A point has a B twin except (20,0) whose nearest is
    # (20,7) -> 49; B->A: (20,7) nearest (20,0) -> 49
    assert out["h_ab"] == 49 and out["h_ba"] == 49
    assert out["h_sym"] == 49


def test_frechet_pairs_exact_dp(spark):
    """W17 discrete Fréchet: identical trajectories are 0, the
    classic order-sensitivity case beats Hausdorff, and the DP equals
    a brute-force recursive reference on a mixed corpus."""
    from functools import lru_cache

    from mapnik_vector_tile_spark.operators.temporal import frechet_pairs

    # trajectories: 0 = straight; 1 = same points reversed; 2 = copy of 0
    t0 = [(0, i, i, 0) for i in range(6)]
    t1 = [(1, i, 5 - i, 0) for i in range(6)]
    t2 = [(2, i, i, 0) for i in range(6)]
    t3 = [(3, i, [0, 3, 1, 4, 2][i], [2, 0, 5, 1, 3][i]) for i in range(5)]
    pts = spark.createDataFrame(
        t0 + t1 + t2 + t3, "tid long, seq long, x long, y long"
    )
    pairs = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (1, 3)], "ta long, tb long"
    )
    got = {
        (r.ta, r.tb): (r.n_a, r.n_b, r.frech2)
        for r in frechet_pairs(pts, pairs).collect()
    }
    assert got[(0, 2)] == (6, 6, 0)  # identical -> 0
    # reversed line: same point SET (Hausdorff 0) but Fréchet must
    # walk end-to-end against the reversal: leash reaches >= 25
    assert got[(0, 1)][2] >= 25

    def brute(a, b):
        @lru_cache(maxsize=None)
        def c(i, j):
            d = (a[i][0] - b[j][0]) ** 2 + (a[i][1] - b[j][1]) ** 2
            if i == 0 and j == 0:
                return d
            if i == 0:
                return max(d, c(0, j - 1))
            if j == 0:
                return max(d, c(i - 1, 0))
            return max(d, min(c(i - 1, j), c(i, j - 1), c(i - 1, j - 1)))
        return c(len(a) - 1, len(b) - 1)

    trajs = {
        0: [(p[2], p[3]) for p in t0],
        1: [(p[2], p[3]) for p in t1],
        2: [(p[2], p[3]) for p in t2],
        3: [(p[2], p[3]) for p in t3],
    }
    for (ta, tb), (_, _, f2) in got.items():
        assert f2 == brute(tuple(trajs[ta]), tuple(trajs[tb]))
    # bounded-kernel contract
    import pytest as _pytest

    long_t = [(9, i, i, 0) for i in range(10)]
    pts2 = spark.createDataFrame(
        long_t + t0, "tid long, seq long, x long, y long"
    )
    with _pytest.raises(Exception):  # Py4J-wrapped ValueError
        frechet_pairs(
            pts2,
            spark.createDataFrame([(0, 9)], "ta long, tb long"),
            max_len=4,
        ).collect()


def test_trend_stats_exact_median_slope(spark):
    """W19: Mann–Kendall S and the lower-median Theil–Sen slope match
    a brute Fraction reference, including ties, negative trends,
    gaps, and the single-point degenerate."""
    from fractions import Fraction

    from mapnik_vector_tile_spark.operators.temporal import trend_stats

    series = {
        0: [(0, 10), (1, 12), (2, 11), (4, 18), (5, 17)],   # up
        1: [(0, 50), (3, 40), (6, 42), (7, 30)],            # down
        2: [(0, 5), (1, 5), (2, 5)],                         # flat ties
        3: [(10, 7)],                                        # single
    }
    rows = [(g, x, y) for g, pts in series.items() for x, y in pts]
    df = spark.createDataFrame(rows, "g long, x long, y long")
    got = {
        r.g: (r.n, r.mk_s, r.ts_num, r.ts_den)
        for r in trend_stats(df).collect()
    }
    for g, pts in series.items():
        n = len(pts)
        s = sum(
            (pts[j][1] > pts[i][1]) - (pts[j][1] < pts[i][1])
            for i in range(n) for j in range(i + 1, n)
        )
        slopes = sorted(
            Fraction(pts[j][1] - pts[i][1], pts[j][0] - pts[i][0])
            for i in range(n) for j in range(i + 1, n)
        )
        if slopes:
            med = slopes[(len(slopes) - 1) // 2]
            want = (n, s, med.numerator, med.denominator)
        else:
            want = (n, 0, 0, 1)
        assert got[g] == want, (g, got[g], want)
    import pytest as _pytest

    wide = spark.createDataFrame(
        [(0, 0, 1), (0, 100, 2)], "g long, x long, y long"
    )
    with _pytest.raises(Exception):  # x gap beyond max_dx
        trend_stats(wide).collect()


def test_isotonic_fit_pava(spark):
    """W20: hand-checkable PAVA case + the invariants (fits monotone
    nondecreasing in x; block means preserve totals; equal x pool)."""
    from fractions import Fraction

    from mapnik_vector_tile_spark.operators.temporal import isotonic_fit

    rows = [
        # g=0: y = [1, 0, 0, 1] on x=1..4 -> PAVA pools [1,0,0] -> 1/3
        (0, 1, 1), (0, 2, 0), (0, 3, 0), (0, 4, 1),
        # g=1: equal x values pool first: x=5 has y {0,1} -> 1/2
        (1, 5, 0), (1, 5, 1), (1, 6, 1),
        # g=2: already monotone stays untouched
        (2, 1, 0), (2, 2, 1),
    ]
    df = spark.createDataFrame(rows, "g long, x long, y long")
    got = {
        (r.g, r.x): (r.n, Fraction(r.fit_num, r.fit_den))
        for r in isotonic_fit(df).collect()
    }
    third = Fraction(1, 3)
    assert got[(0, 1)] == (1, third)
    assert got[(0, 2)] == (1, third)
    assert got[(0, 3)] == (1, third)
    assert got[(0, 4)] == (1, Fraction(1, 1))
    assert got[(1, 5)] == (2, Fraction(1, 2))
    assert got[(1, 6)] == (1, Fraction(1, 1))
    assert got[(2, 1)] == (1, Fraction(0, 1))
    assert got[(2, 2)] == (1, Fraction(1, 1))
    # invariants on a pseudo-random series
    import numpy as np

    rng = np.random.default_rng(2)
    rnd = [(9, int(x), int(rng.integers(0, 2)))
           for x in rng.integers(0, 40, 200)]
    df2 = spark.createDataFrame(rnd, "g long, x long, y long")
    out = sorted(
        (r.x, Fraction(r.fit_num, r.fit_den), r.n)
        for r in isotonic_fit(df2).collect()
    )
    fits = [f for _, f, _ in out]
    assert all(a <= b for a, b in zip(fits, fits[1:]))  # monotone
    total_fit = sum(f * n for _, f, n in out)
    total_y = sum(y for _, _, y in rnd)
    assert total_fit == total_y  # block means preserve mass
