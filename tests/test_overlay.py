"""F12/U12 constructive polygon union (functions/overlay.py).

Reference parity: wagyu multi_polygon_union semantics
(src/vector_tile_geometry_clipper.hpp polygon overloads) — nonzero
fill, merged simple boundary, pinch points split on the filled side.

Two independent validators:
* a unit-grid coverage replay (the numpy prototype of the DuckDB
  oracle twin) that must match every integer stat bit-for-bit on
  rectilinear corpora, and
* winding-number sampling: (input winding > 0) must equal even-odd /
  nonzero membership of the OUTPUT rings at thousands of off-edge
  sample points, for general (non-rectilinear, float) polygons.
"""

from __future__ import annotations

import numpy as np
import pytest

from mapnik_vector_tile_spark.functions.overlay import (
    ring_area2,
    union_rings,
    union_stats,
    winding_numbers,
)
from mapnik_vector_tile_spark.functions.repair import ring_is_simple


def rect(x0, y0, w, h):
    return (
        np.array([x0, x0 + w, x0 + w, x0], float),
        np.array([y0, y0, y0 + h, y0 + h], float),
    )


def cov_stats(cov):
    """(area2, perim, n_vert, euler, vhash) from a unit-grid coverage
    mask — the corner-pattern / Euler-identity computation the DuckDB
    oracle twin performs on the compressed grid."""
    X, Y = cov.shape
    area2 = 2 * int(cov.sum())
    sw = np.zeros((X + 1, Y + 1), bool)
    sw[1:, 1:] = cov
    se = np.zeros((X + 1, Y + 1), bool)
    se[:-1, 1:] = cov
    nw = np.zeros((X + 1, Y + 1), bool)
    nw[1:, :-1] = cov
    ne = np.zeros((X + 1, Y + 1), bool)
    ne[:-1, :-1] = cov
    ncov = sw.astype(int) + se + nw + ne
    diag = (ncov == 2) & (sw == ne) & (nw == se) & (sw != nw)
    verts = np.where((ncov == 1) | (ncov == 3), 1, np.where(diag, 2, 0))
    n_vert = int(verts.sum())
    ii, jj = np.meshgrid(np.arange(X + 1), np.arange(Y + 1), indexing="ij")
    vhash = int((verts * ((ii * 73856093 + jj * 19349663) % (1 << 31))).sum())
    covp = np.zeros((X + 2, Y + 2), bool)
    covp[1:-1, 1:-1] = cov
    perim = int(
        (covp[1:, :] != covp[:-1, :]).sum()
        + (covp[:, 1:] != covp[:, :-1]).sum()
    )
    F = int(cov.sum())
    V = int((ncov >= 1).sum())
    E = int(
        (covp[1:, 1:-1] | covp[:-1, 1:-1]).sum()
        + (covp[1:-1, 1:] | covp[1:-1, :-1]).sum()
    )
    euler = V - E + F + int(diag.sum())
    return area2, perim, n_vert, euler, vhash


def grid_twin(rects):
    """Rect-list form of cov_stats (the q_polygon_union twin shape)."""
    X = max(x0 + w for x0, y0, w, h in rects) + 2
    Y = max(y0 + h for x0, y0, w, h in rects) + 2
    cov = np.zeros((X, Y), bool)
    for x0, y0, w, h in rects:
        cov[x0 : x0 + w, y0 : y0 + h] = True
    return cov_stats(cov)


def rasterize_rectilinear(polys, X, Y):
    """Even-odd fill of rectilinear integer polygons (each a list of
    rings) onto a unit grid, OR-ed across polygons — an independent
    scanline-parity replay for concave/holed inputs."""
    cov = np.zeros((X, Y), bool)
    for rings in polys:
        b = np.zeros((X + 1, Y), np.int64)
        for ring in rings:
            n = len(ring)
            for k in range(n):
                x1, y1 = ring[k]
                x2, y2 = ring[(k + 1) % n]
                if x1 == x2 and y1 != y2:  # vertical edge
                    ylo, yhi = min(y1, y2), max(y1, y2)
                    b[x1, ylo:yhi] += 1
        # parity of vertical edges strictly right of each cell center
        par = (np.cumsum(b[::-1, :], axis=0)[::-1, :][1:, :]) % 2
        cov |= par.astype(bool)
    return cov


def region_equiv(inp, out, n=3000, seed=0):
    """(input winding > 0) == (output winding > 0) at off-edge samples."""
    rng = np.random.RandomState(seed)
    allx = np.concatenate([r[0] for r in inp])
    ally = np.concatenate([r[1] for r in inp])
    px = rng.uniform(allx.min() - 1, allx.max() + 1, n)
    py = rng.uniform(ally.min() - 1, ally.max() + 1, n)
    win = winding_numbers(px, py, inp) > 0
    wout = (
        winding_numbers(px, py, out) > 0
        if out
        else np.zeros(n, bool)
    )
    mask = np.ones(n, bool)
    for xs, ys in list(inp) + list(out):
        ax, ay = xs, ys
        bx, by = np.roll(xs, -1), np.roll(ys, -1)
        dx, dy = bx - ax, by - ay
        L2 = np.where(dx * dx + dy * dy == 0, 1.0, dx * dx + dy * dy)
        t = np.clip(
            ((px[:, None] - ax) * dx + (py[:, None] - ay) * dy) / L2, 0, 1
        )
        d2 = (px[:, None] - (ax + t * dx)) ** 2 + (
            py[:, None] - (ay + t * dy)
        ) ** 2
        mask &= ~(d2 < 1e-6).any(axis=1)
    assert mask.sum() > n // 2
    return bool((win[mask] == wout[mask]).all())


class TestRectilinearFixtures:
    def test_disjoint(self):
        out = union_rings([rect(0, 0, 1, 1), rect(3, 3, 1, 1)])
        assert len(out) == 2
        assert sorted(ring_area2(*r) for r in out) == [2.0, 2.0]

    def test_diagonal_pinch_splits(self):
        # wagyu resolution: two simple squares, never a figure-8
        out = union_rings([rect(0, 0, 1, 1), rect(1, 1, 1, 1)])
        assert len(out) == 2
        assert all(len(r[0]) == 4 for r in out)
        assert all(ring_is_simple(*r) for r in out)

    def test_overlap_merges(self):
        st = union_stats([rect(0, 0, 2, 2), rect(1, 1, 2, 2)])
        assert st[:4] == (14, 12, 8, 1)  # area 7, L-shaped octagon

    def test_duplicate_rects_collapse(self):
        out = union_rings([rect(0, 0, 2, 2)] * 3)
        assert len(out) == 1
        assert ring_area2(*out[0]) == 8.0

    def test_shared_edges_collinear_merge(self):
        out = union_rings([rect(i, 0, 1, 1) for i in range(3)])
        assert len(out) == 1
        assert len(out[0][0]) == 4  # one 3x1 rectangle, 4 vertices

    def test_frame_makes_hole(self):
        fr = [
            rect(0, 0, 10, 2),
            rect(0, 8, 10, 2),
            rect(0, 0, 2, 10),
            rect(8, 0, 2, 10),
        ]
        out = union_rings(fr)
        areas = sorted(ring_area2(*r) for r in out)
        assert areas == [-72.0, 200.0]  # 6x6 hole, 10x10 exterior
        assert union_stats(fr) == (128, 64, 8, 0, grid_twin(
            [(0, 0, 10, 2), (0, 8, 10, 2), (0, 0, 2, 10), (8, 0, 2, 10)]
        )[4])

    def test_nested_absorbed(self):
        out = union_rings([rect(0, 0, 10, 10), rect(2, 2, 3, 3)])
        assert len(out) == 1
        assert ring_area2(*out[0]) == 200.0

    def test_t_junction(self):
        st = union_stats([rect(0, 0, 4, 2), rect(1, 2, 2, 2)])
        assert st[:4] == (24, 16, 8, 1)

    def test_canonical_determinism(self):
        rs = [rect(0, 0, 3, 3), rect(2, 1, 4, 4), rect(5, 0, 2, 6)]
        a = union_rings(rs)
        b = union_rings(list(reversed(rs)))
        assert len(a) == len(b)
        for (ax_, ay_), (bx_, by_) in zip(a, b):
            assert np.array_equal(ax_, bx_) and np.array_equal(ay_, by_)


class TestGridTwinProperty:
    @pytest.mark.parametrize("seed", [7, 21, 99])
    def test_random_corpora_match_grid_replay(self, seed):
        rng = np.random.RandomState(seed)
        for trial in range(60):
            k = rng.randint(1, 14)
            rects = [
                (
                    int(rng.randint(0, 40)),
                    int(rng.randint(0, 40)),
                    int(rng.randint(1, 13)),
                    int(rng.randint(1, 13)),
                )
                for _ in range(k)
            ]
            if trial % 3 == 0:
                fx, fy = rng.randint(0, 24, 2)
                fw, fh = rng.randint(8, 16, 2)
                t = rng.randint(1, 4)
                rects += [
                    (fx, fy, fw, t),
                    (fx, fy + fh - t, fw, t),
                    (fx, fy, t, fh),
                    (fx + fw - t, fy, t, fh),
                ]
            rings = [rect(*r) for r in rects]
            assert union_stats(rings) == grid_twin(rects), rects


class TestStaircaseCorpus:
    def test_concave_holed_union_matches_scanline_replay(self):
        """Non-convex multi-ring integer input: union the R4 staircase
        corpus (concave outers, CW hole rings) in overlapping groups
        and match every stat against an independent even-odd scanline
        rasterization."""
        from mapnik_vector_tile_spark.sources.synth import gen_raster_polys

        polys = gen_raster_polys(18)
        for g in range(3):
            members = [p for p in polys if p["poly_id"] % 3 == g]
            rings = []
            plist = []
            for m in members:
                plist.append(m["rings"])
                for ring in m["rings"]:
                    xs = np.array([v[0] for v in ring], float)
                    ys = np.array([v[1] for v in ring], float)
                    rings.append((xs, ys))
            X = max(x for rs in plist for r in rs for x, _ in r) + 2
            Y = max(y for rs in plist for r in rs for _, y in r) + 2
            cov = rasterize_rectilinear(plist, X, Y)
            assert union_stats(rings) == cov_stats(cov), g


class TestGeneralPolygons:
    def test_triangle_overlap(self):
        tri1 = (np.array([0.0, 8.0, 4.0]), np.array([0.0, 0.0, 7.0]))
        tri2 = (np.array([2.0, 10.0, 6.0]), np.array([3.0, 3.0, -4.0]))
        out = union_rings([tri1, tri2])
        assert all(ring_is_simple(*r) for r in out)
        assert region_equiv([tri1, tri2], out)

    def test_bowtie_input_resolved(self):
        bow = (np.array([0.0, 4.0, 0.0, 4.0]), np.array([0.0, 4.0, 4.0, 0.0]))
        sq = (np.array([1.0, 6.0, 6.0, 1.0]), np.array([1.0, 1.0, 2.0, 2.0]))
        out = union_rings([bow, sq])
        assert all(ring_is_simple(*r) for r in out)
        assert region_equiv([bow, sq], out)

    def test_rotated_squares_float(self):
        def rot_sq(cx, cy, r, th):
            a = th + np.arange(4) * np.pi / 2
            return (cx + r * np.cos(a), cy + r * np.sin(a))

        inp = [rot_sq(5, 5, 4, 0.2), rot_sq(6, 5, 4, 0.9), rot_sq(5, 6, 4, 1.5)]
        out = union_rings(inp)
        assert len(out) == 1 and ring_is_simple(*out[0])
        assert region_equiv(inp, out)

    def test_hole_ring_with_plug(self):
        # exterior + CW hole + a square bridging through the hole
        ext = (np.array([0.0, 12.0, 12.0, 0.0]), np.array([0.0, 0.0, 12.0, 12.0]))
        hole = (np.array([3.0, 3.0, 9.0, 9.0]), np.array([3.0, 9.0, 9.0, 3.0]))
        plug = (np.array([5.0, 7.0, 7.0, 5.0]), np.array([2.0, 2.0, 10.0, 10.0]))
        out = union_rings([ext, hole, plug])
        assert all(ring_is_simple(*r) for r in out)
        assert region_equiv([ext, hole, plug], out)
        roles = sorted(1 if ring_area2(*r) > 0 else -1 for r in out)
        assert roles == [-1, -1, 1]  # plug splits the hole in two


class TestDissolveBoundaries:
    def test_merged_boundaries_cover_group_region(self, spark):
        """U12 end-to-end: dissolve groups + constructive union. Every
        group's output rings must describe exactly the region covered
        by its member polygons (winding-sample equivalence, float
        mercator corpus with convex/concave/holed members)."""
        from mapnik_vector_tile_spark.operators.overlay import (
            dissolve_boundaries,
        )
        from mapnik_vector_tile_spark.sources.synth import regions_merc_df

        regions = regions_merc_df(spark, 80).select(
            "region_id", "xs", "ys", "ring_offsets"
        )
        out = dissolve_boundaries(regions, z=6).toPandas()
        src = regions.toPandas().set_index("region_id")
        from mapnik_vector_tile_spark.operators.joins import (
            dissolve_polygons,
        )

        grp = dissolve_polygons(regions, z=6).toPandas()
        assert set(out["g"]) == set(grp["group"])
        # validate the 5 largest multi-member groups
        sizes = grp.groupby("group").size().sort_values(ascending=False)
        for g in sizes.index[:5]:
            inp = []
            for rid in grp[grp["group"] == g]["region_id"]:
                row = src.loc[rid]
                offs = list(row["ring_offsets"])
                for a, b in zip(offs, offs[1:]):
                    inp.append(
                        (
                            np.asarray(row["xs"][a:b], float),
                            np.asarray(row["ys"][a:b], float),
                        )
                    )
            got = [
                (np.asarray(r["xs"], float), np.asarray(r["ys"], float))
                for _, r in out[out["g"] == g].iterrows()
            ]
            assert all(ring_is_simple(*r) for r in got)
            assert region_equiv(inp, got, seed=int(g))


class TestSparkOperator:
    def test_union_polygons_df(self, spark):
        from mapnik_vector_tile_spark.operators.overlay import (
            union_polygons,
        )

        rows = []
        for g, rs in enumerate(
            [
                [rect(0, 0, 2, 2), rect(1, 1, 2, 2)],
                [rect(0, 0, 1, 1), rect(1, 1, 1, 1)],
            ]
        ):
            for xs, ys in rs:
                rows.append((g, [float(v) for v in xs], [float(v) for v in ys]))
        df = spark.createDataFrame(rows, "g long, xs array<double>, ys array<double>")
        got = (
            union_polygons(df, "g")
            .toPandas()
            .sort_values(["g", "ring_idx"])
            .reset_index(drop=True)
        )
        assert list(got.groupby("g").size()) == [1, 2]
        assert got.loc[0, "area2"] == 14.0
        assert (got["role"] == 1).all()


# --- convex hull ----------------------------------------------------------


def test_convex_hull_properties():
    import numpy as np

    from mapnik_vector_tile_spark.functions.overlay import (
        convex_hull,
        ring_area2,
    )

    rng = np.random.default_rng(11)
    for trial in range(200):
        n = int(rng.integers(1, 40))
        xs = rng.integers(0, 30, n).astype(np.int64)
        ys = rng.integers(0, 30, n).astype(np.int64)
        hx, hy = convex_hull(xs, ys)
        m = len(hx)
        assert 1 <= m <= len(set(zip(xs.tolist(), ys.tolist())))
        if m >= 3:
            # CCW and strictly convex at every vertex
            px, py = np.roll(hx, 1), np.roll(hy, 1)
            nx, ny = np.roll(hx, -1), np.roll(hy, -1)
            cr = (hx - px) * (ny - hy) - (hy - py) * (nx - hx)
            assert (cr > 0).all()
            assert ring_area2(hx.astype(float), hy.astype(float)) > 0
        # every input point inside or on the hull: winding/halfplane
        if m >= 3:
            for qx, qy in zip(xs.tolist(), ys.tolist()):
                side = (np.roll(hx, -1) - hx) * (qy - hy) - (
                    np.roll(hy, -1) - hy
                ) * (qx - hx)
                assert (side >= 0).all()
        elif m == 2:
            # all points collinear between the two extremes
            dx, dy = int(hx[1] - hx[0]), int(hy[1] - hy[0])
            for qx, qy in zip(xs.tolist(), ys.tolist()):
                assert dx * (qy - int(hy[0])) - dy * (qx - int(hx[0])) == 0


def test_convex_hull_starts_lexicographic_min():
    import numpy as np

    from mapnik_vector_tile_spark.functions.overlay import convex_hull

    xs = np.array([3, 1, 2, 1], dtype=np.int64)
    ys = np.array([0, 5, 2, 1], dtype=np.int64)
    hx, hy = convex_hull(xs, ys)
    assert (int(hx[0]), int(hy[0])) == (1, 1)


def test_line_graph_stats_shapes():
    import numpy as np

    from mapnik_vector_tile_spark.functions.overlay import line_graph_stats

    # square ring + diagonal tail off one corner + isolated segment:
    # junction (1,1) deg3 kills the ring; tips at (2,2),(5,5),(6,5)
    x1 = np.array([0, 1, 1, 0, 1, 5])
    y1 = np.array([0, 0, 1, 1, 1, 5])
    x2 = np.array([1, 1, 0, 0, 2, 6])
    y2 = np.array([0, 1, 1, 0, 2, 5])
    n_segs, n_chains, n_rings, mlen, jhash = line_graph_stats(x1, y1, x2, y2)
    assert (n_segs, n_chains, n_rings, mlen) == (6, 3, 0, 7)
    # pure square cycle -> one ring, no open chains
    assert line_graph_stats(
        np.array([0, 1, 1, 0]), np.array([0, 0, 1, 1]),
        np.array([1, 1, 0, 0]), np.array([0, 1, 1, 0]),
    )[:4] == (4, 0, 1, 4)
    # duplicates and zero-length segments drop
    assert line_graph_stats(
        np.array([0, 1, 3]), np.array([0, 0, 3]),
        np.array([1, 0, 3]), np.array([0, 0, 3]),
    )[:4] == (1, 1, 0, 1)
    # two disjoint cycles sharing nothing
    sq = ([0, 1, 1, 0], [0, 0, 1, 1], [1, 1, 0, 0], [0, 1, 1, 0])
    x1 = np.array(sq[0] + [v + 10 for v in sq[0]])
    y1 = np.array(sq[1] + sq[1])
    x2 = np.array(sq[2] + [v + 10 for v in sq[2]])
    y2 = np.array(sq[3] + sq[3])
    assert line_graph_stats(x1, y1, x2, y2)[:4] == (8, 0, 2, 8)


# --- morphology (Chebyshev buffer suite) -----------------------------------


def _brute_morph(rects, r, op):
    import numpy as np

    cov = np.zeros((64, 64), bool)
    for x0, y0, w, h in rects:
        cov[x0 + 4 : x0 + w + 4, y0 + 4 : y0 + h + 4] = True

    def ero(c):
        o = np.zeros_like(c)
        for cx in range(r, 64 - r):
            for cy in range(r, 64 - r):
                o[cx, cy] = c[cx - r : cx + r + 1, cy - r : cy + r + 1].all()
        return o

    def dil(c):
        o = np.zeros_like(c)
        for cx in range(r, 64 - r):
            for cy in range(r, 64 - r):
                o[cx, cy] = c[cx - r : cx + r + 1, cy - r : cy + r + 1].any()
        return o

    f = {
        "dilate": dil,
        "erode": ero,
        "open": lambda c: dil(ero(c)),
        "close": lambda c: ero(dil(c)),
    }[op]
    return 2 * int(f(cov).sum())


def test_morphology_fixtures():
    import numpy as np

    from mapnik_vector_tile_spark.functions.overlay import (
        dilate_rings,
        erode_rings,
        morphology_stats,
        ring_area2,
    )

    sq = rect(0, 0, 4, 4)
    d = dilate_rings([sq], 1)
    assert len(d) == 1 and ring_area2(*d[0]) == 72.0  # 6x6
    e = erode_rings(d, 1)
    assert len(e) == 1 and np.array_equal(e[0][0], sq[0])
    assert erode_rings([rect(0, 0, 10, 1)], 1) == []  # sliver dies
    # close bridges a 2-wide gap at r=1; open keeps 2-wide arms dead
    two = [rect(0, 0, 2, 4), rect(4, 0, 2, 4)]
    assert morphology_stats(two, 1, "close")[0] == 48
    assert morphology_stats(two, 1, "open")[0] == 0
    # open removes a 1-wide tab from a solid block
    tab = [rect(0, 0, 6, 4), rect(2, 4, 1, 3)]
    assert morphology_stats(tab, 1, "open")[0] == 48
    # erosion canonicalizes overlapping inputs first (buried edges
    # must not eat the region from the inside) — the regression that
    # motivated union-before-complement
    ov = [rect(11, 11, 2, 3), rect(8, 11, 4, 4)]
    assert morphology_stats(ov, 1, "erode")[0] == 10


def test_morphology_random_vs_brute():
    import numpy as np

    from mapnik_vector_tile_spark.functions.overlay import morphology_stats

    rng = np.random.RandomState(17)
    for trial in range(40):
        k = rng.randint(1, 8)
        rects = [
            (
                int(rng.randint(2, 30)),
                int(rng.randint(2, 30)),
                int(rng.randint(1, 12)),
                int(rng.randint(1, 12)),
            )
            for _ in range(k)
        ]
        r = int(rng.randint(1, 3))
        rings = [rect(*rc) for rc in rects]
        for op in ("dilate", "erode", "open", "close"):
            assert (
                morphology_stats(rings, r, op)[0]
                == _brute_morph(rects, r, op)
            ), (trial, op, r, rects)


def test_earcut_square_and_collinear():
    from mapnik_vector_tile_spark.functions.earcut import earcut_indices

    # unit square: two triangles, first-ear scan clips at position 0
    assert earcut_indices([0, 4, 4, 0], [0, 0, 4, 4]) == [
        (3, 0, 1),
        (1, 2, 3),
    ]
    # ring with collinear edge midpoints still tessellates to full area
    xs = [0, 2, 4, 4, 4, 2, 0, 0]
    ys = [0, 0, 0, 2, 4, 4, 4, 2]
    tris = earcut_indices(xs, ys)
    area2 = sum(
        (xs[b] - xs[a]) * (ys[c] - ys[a]) - (ys[b] - ys[a]) * (xs[c] - xs[a])
        for a, b, c in tris
    )
    assert area2 == 32


def test_earcut_reflex_star_area_invariant():
    from mapnik_vector_tile_spark.functions.earcut import (
        earcut_indices,
        triangulation_stats,
    )

    # 8-point star: alternating radius 10/3 -> 4 reflex corners
    import math

    xs, ys = [], []
    for k in range(8):
        r = 10 if k % 2 == 0 else 3
        ang = math.pi * k / 4
        xs.append(round(r * math.cos(ang) * 8))
        ys.append(round(r * math.sin(ang) * 8))
    tris = earcut_indices(xs, ys)
    shoelace2 = sum(
        xs[i] * ys[(i + 1) % 8] - xs[(i + 1) % 8] * ys[i] for i in range(8)
    )
    n_tris, area2, trih = triangulation_stats(xs, ys)
    assert n_tris == len(tris) == 6  # n-2, no degenerate corners
    assert area2 == shoelace2
    # every emitted triangle is CCW (positive cross)
    for a, b, c in tris:
        cr = (xs[b] - xs[a]) * (ys[c] - ys[a]) - (ys[b] - ys[a]) * (
            xs[c] - xs[a]
        )
        assert cr > 0


def test_earcut_nonsimple_raises():
    import pytest as _pytest

    from mapnik_vector_tile_spark.functions.earcut import earcut_indices

    # CW ring: every corner reflex under the CCW convention, the scan
    # starves -> ValueError (callers must orient/repair first)
    with _pytest.raises(ValueError):
        earcut_indices([0, 0, 4, 4], [0, 4, 4, 0])
    # bowtie: doesn't starve, but the area invariant flags it — the
    # tessellated area disagrees with the (zero) shoelace sum
    from mapnik_vector_tile_spark.functions.earcut import (
        triangulation_stats,
    )

    xs, ys = [0, 4, 0, 4], [0, 4, 4, 0]
    _, area2, _ = triangulation_stats(xs, ys)
    shoelace2 = sum(
        xs[i] * ys[(i + 1) % 4] - xs[(i + 1) % 4] * ys[i] for i in range(4)
    )
    assert area2 != shoelace2


def test_triangulate_stats_matches_kernel(spark):
    from mapnik_vector_tile_spark.functions.earcut import (
        triangulation_stats,
    )
    from mapnik_vector_tile_spark.operators.overlay import (
        triangulate_stats,
    )

    rows = [
        (1, [0, 4, 4, 0], [0, 0, 4, 4]),
        (2, [0, 8, 8, 4, 0], [0, 0, 8, 3, 8]),
    ]
    df = spark.createDataFrame(rows, "pid long, xs array<long>, ys array<long>")
    out = {r["pid"]: r for r in triangulate_stats(df).collect()}
    for pid, xs, ys in rows:
        n_tris, area2, trih = triangulation_stats(xs, ys)
        r = out[pid]
        assert (r["n_tris"], r["area2"], r["trih"]) == (n_tris, area2, trih)
        assert r["n_pts"] == len(xs)


def test_eliminate_holes_area_invariant():
    """Σ triangle area2 == shoelace(outer) − Σ|shoelace(hole)| over a
    pseudo-random sweep of octagons with 1-3 diamond holes, including
    the pinch-regression class (two holes bridging to duplicated
    vertices) and same-y anchor chains."""
    import random

    from mapnik_vector_tile_spark.functions.earcut import (
        _cross,
        earcut_indices,
        eliminate_holes,
        shoelace2,
    )

    def check(ox, oy, holes):
        rx, ry = eliminate_holes(ox, oy, holes)
        tris = earcut_indices(rx, ry)
        a2 = sum(_cross(rx, ry, a, b, c) for a, b, c in tris)
        want = shoelace2(ox, oy) + sum(
            shoelace2(hx, hy) for hx, hy in holes
        )
        assert a2 == want, (a2, want)
        assert len(rx) == len(ox) + sum(len(h[0]) + 2 for h in holes)

    rnd = random.Random(7)
    for _ in range(400):
        r = rnd.randint(150, 300)
        k = (r * 7) // 10
        ox = [r, k, 0, -k, -r, -k, 0, k]
        oy = [0, k, r, k, 0, -k, -r, -k]
        nh = rnd.choice([1, 2, 3])
        holes = []
        for lo, hi in [(-95, -45), (-20, 20), (45, 95)][:nh]:
            cx = rnd.randint(lo + 16, hi - 16)
            cy = rnd.randint(-60, 60)
            rad = rnd.randint(3, 15)
            holes.append(
                ([cx + rad, cx, cx - rad, cx],
                 [cy, cy - rad, cy, cy + rad])
            )
        check(ox, oy, holes)
    # regression: both holes bridge to the same outer vertex; the
    # duplicate-sector rule must attach the second bridge to the
    # sector-facing copy or the scan starves on a pinched CW loop
    ox = [232, 162, 0, -162, -232, -162, 0, 162]
    oy = [0, 162, 232, 162, 0, -162, -232, -162]
    holes = [
        ([-19, -30, -41, -30], [-41, -52, -41, -30]),
        ([77, 71, 65, 71], [-54, -60, -54, -48]),
    ]
    check(ox, oy, holes)


def test_eliminate_holes_validates_orientation():
    import pytest as _pytest

    from mapnik_vector_tile_spark.functions.earcut import (
        eliminate_holes,
    )

    sq = ([0, 10, 10, 0], [0, 0, 10, 10])
    ccw_hole = ([4, 6, 5], [4, 4, 6])
    with _pytest.raises(ValueError, match="CW"):
        eliminate_holes(sq[0], sq[1], [ccw_hole])
    with _pytest.raises(ValueError, match="CCW"):
        eliminate_holes(
            list(reversed(sq[0])), list(reversed(sq[1])),
            [([6, 4, 5], [4, 4, 6])],
        )


def test_triangulate_holed_stats_matches_kernel(spark):
    from mapnik_vector_tile_spark.functions.earcut import (
        triangulation_stats_holed,
    )
    from mapnik_vector_tile_spark.operators.overlay import (
        triangulate_holed_stats,
    )

    rows = [
        (0, [0, 100, 100, 0], [0, 0, 100, 100],
         [[60, 50, 40, 50]], [[50, 40, 50, 60]]),
        (1, [0, 100, 100, 0], [0, 0, 100, 100],
         [[60, 50, 40, 50], [80, 75, 70, 75]],
         [[50, 40, 50, 60], [20, 15, 20, 25]]),
    ]
    df = spark.createDataFrame(
        rows,
        "pid long, xs array<long>, ys array<long>,"
        " hxs array<array<long>>, hys array<array<long>>",
    )
    out = {r["pid"]: r for r in triangulate_holed_stats(df).collect()}
    for pid, xs, ys, hxs, hys in rows:
        holes = list(zip(hxs, hys))
        n_pts, n_tris, area2, trih = triangulation_stats_holed(
            xs, ys, holes
        )
        r = out[pid]
        assert (
            r["n_holes"], r["n_pts"], r["n_tris"], r["area2"], r["trih"]
        ) == (len(holes), n_pts, n_tris, area2, trih)
