"""Polygon→cell covering (operators/cellcover.py): randomized
brute-force parity, hole subtraction, closed-boundary semantics,
guard-rail, DataFrame stage."""

import numpy as np
import pytest

from mapnik_vector_tile_spark.functions import pip as pipmod
from mapnik_vector_tile_spark.functions import tilemath as tm
from mapnik_vector_tile_spark.operators.cellcover import (
    _cover_one,
    _edge_box_cross,
    cover_polygon_cells,
)


def brute_cover(xs, ys, offs, z):
    """Scalar-loop reference: same decomposition (vertex-in-box /
    edge-cross / center-PIP) but cell-at-a-time — an independent code
    path from the vectorized kernel."""
    span = tm.tile_span(z)
    lox = int(np.floor((xs.min() + tm.W) / span))
    hix = int(np.floor((xs.max() + tm.W) / span))
    loy = int(np.floor((tm.W - ys.max()) / span))
    hiy = int(np.floor((tm.W - ys.min()) / span))
    out = set()
    for cx in range(lox - 1, hix + 2):
        for cy in range(loy - 1, hiy + 2):
            bx0 = -tm.W + cx * span
            bx1 = bx0 + span
            by1 = tm.W - cy * span
            by0 = by1 - span
            found = any(
                bx0 <= xs[k] <= bx1 and by0 <= ys[k] <= by1
                for k in range(len(xs))
            )
            if not found:
                for r in range(len(offs) - 1):
                    a, b = offs[r], offs[r + 1]
                    rx, ry = list(xs[a:b]), list(ys[a:b])
                    if rx[0] != rx[-1] or ry[0] != ry[-1]:
                        rx.append(rx[0])
                        ry.append(ry[0])
                    for k in range(len(rx) - 1):
                        if _edge_box_cross(
                            np.array([rx[k]]), np.array([ry[k]]),
                            np.array([rx[k + 1]]), np.array([ry[k + 1]]),
                            np.array([bx0]), np.array([by0]),
                            np.array([bx1]), np.array([by1]),
                        )[0]:
                            found = True
                            break
                    if found:
                        break
            if not found:
                c = np.zeros(1, bool)
                for r in range(len(offs) - 1):
                    a, b = offs[r], offs[r + 1]
                    if b - a < 3:
                        continue
                    c ^= pipmod.points_in_ring(
                        np.array([(bx0 + bx1) / 2]),
                        np.array([(by0 + by1) / 2]),
                        xs[a:b], ys[a:b],
                    )
                found = bool(c[0])
            if found:
                out.add((cx, cy))
    return out


def _kernel_cover(xs, ys, offs, z):
    cx, cy = _cover_one(
        np.asarray(xs, np.float64), np.asarray(ys, np.float64),
        np.asarray(offs, np.int64), z, 100_000,
    )
    return set(zip(cx.tolist(), cy.tolist()))


def test_randomized_brute_force_parity():
    rng = np.random.default_rng(11)
    z = 8
    span = tm.tile_span(z)
    for trial in range(40):
        kind = trial % 4
        a = -tm.W + int(rng.integers(10, 200)) * span + span / 4
        c = -tm.W + int(rng.integers(10, 200)) * span + span / 4
        if kind == 0:  # triangle
            L = int(rng.integers(1, 6)) * span
            xs = np.array([a, a + L, a, a])
            ys = np.array([c, c, c + L, c])
            offs = np.array([0, 4])
        elif kind == 1:  # rect
            w = int(rng.integers(1, 5)) * span + span / 2
            h = int(rng.integers(1, 4)) * span + span / 2
            xs = np.array([a, a + w, a + w, a, a])
            ys = np.array([c, c, c + h, c + h, c])
            offs = np.array([0, 5])
        elif kind == 2:  # square with a hole
            w = 6 * span
            xs = np.array([a, a + w, a + w, a, a,
                           a + 2 * span, a + 4 * span, a + 4 * span,
                           a + 2 * span, a + 2 * span])
            ys = np.array([c, c, c + w, c + w, c,
                           c + 2 * span, c + 2 * span, c + 4 * span,
                           c + 4 * span, c + 2 * span])
            offs = np.array([0, 5, 10])
        else:  # irregular (often self-intersecting) pentagon — random
            # dyadic vertices offset by span/8 so none lands exactly ON
            # a cell boundary (exact-boundary vertices are covered by
            # test_boundary_touch_counts_closed; here an on-boundary
            # vertex would make the two codepaths' different float
            # expression trees disagree by 1 ulp, a non-signal)
            px = a + rng.integers(0, 16, 5) * (span / 4) + span / 8
            py = c + rng.integers(0, 16, 5) * (span / 4) + span / 8
            xs = np.append(px, px[0])
            ys = np.append(py, py[0])
            offs = np.array([0, 6])
        assert _kernel_cover(xs, ys, offs, z) == brute_cover(xs, ys, offs, z), (
            trial, kind,
        )


def test_hole_cells_excluded():
    z = 6
    span = tm.tile_span(z)
    a = -tm.W + 10 * span + span / 4
    # 8x8-cell square with a 4x4-cell hole centered inside
    xs = np.array([a, a + 8 * span, a + 8 * span, a, a,
                   a + 2 * span, a + 6 * span, a + 6 * span,
                   a + 2 * span, a + 2 * span])
    ys = np.array([a, a, a + 8 * span, a + 8 * span, a,
                   a + 2 * span, a + 2 * span, a + 6 * span,
                   a + 6 * span, a + 2 * span])
    # reuse a as merc-y anchor too (valid: |a| < W)
    offs = np.array([0, 5, 10])
    got = _kernel_cover(xs, ys, offs, z)
    # a cell strictly inside the hole, not touching its ring
    hole_cx = int(np.floor((a + 4 * span + tm.W) / span))
    hole_cy = int(np.floor((tm.W - (a + 4 * span)) / span)) - 1
    inside_hole = (hole_cx, hole_cy)
    assert inside_hole not in got
    # the outer shell cells are present
    assert len(got) > 0
    assert got == brute_cover(xs, ys, offs, z)


def test_boundary_touch_counts_closed():
    # polygon edge exactly ON a cell boundary: both adjacent cells
    # intersect under closed semantics
    z = 4
    span = tm.tile_span(z)
    x_edge = -tm.W + 5 * span  # exactly a cell boundary
    y0 = -tm.W + 3 * span + span / 4
    xs = np.array([x_edge, x_edge + span / 2, x_edge + span / 2, x_edge, x_edge])
    ys = np.array([y0, y0, y0 + span / 2, y0 + span / 2, y0])
    got = _kernel_cover(xs, ys, np.array([0, 5]), z)
    cy = int(np.floor((tm.W - y0) / span))
    assert (5, cy) in got  # right of the boundary
    assert (4, cy) in got  # touching cell left of the boundary


def test_max_cells_guard():
    z = 14
    xs = np.array([-tm.W / 2, tm.W / 2, tm.W / 2, -tm.W / 2, -tm.W / 2])
    ys = np.array([-tm.W / 2, -tm.W / 2, tm.W / 2, tm.W / 2, -tm.W / 2])
    with pytest.raises(ValueError, match="candidate"):
        _cover_one(xs, ys, np.array([0, 5]), z, max_cells=1000)


def test_dataframe_stage(spark):
    z = 7
    span = tm.tile_span(z)
    a = -tm.W + 40 * span + span / 4
    df = spark.createDataFrame(
        [(1, 3, [a, a + 2 * span, a + 2 * span, a, a],
          [a, a, a + 2 * span, a + 2 * span, a], [0, 5], "r")],
        "feature_id long, geom_type int, xs array<double>, "
        "ys array<double>, part_offsets array<int>, caption string",
    )
    rows = cover_polygon_cells(df, z).collect()
    got = {(r.cx, r.cy) for r in rows}
    want = brute_cover(
        np.array([a, a + 2 * span, a + 2 * span, a, a]),
        np.array([a, a, a + 2 * span, a + 2 * span, a]),
        np.array([0, 5]), z,
    )
    assert got == want
    assert all(r.z == z and r.feature_id == 1 for r in rows)


def test_zonal_stats_with_hole(spark):
    """zonal_stats over a 2x2 tile grid: a square zone with a hole —
    pixel count/sum must match a dense numpy reference computed
    without any tiling (global raster + global mask)."""
    from mapnik_vector_tile_spark.operators.raster import zonal_stats

    z, T = 2, 16
    span = tm.tile_span(z)
    pspan = span / T
    # tiles (0..1, 0..1): v = (3r + 5c + 7*(tx + 2*ty)) % 256
    rows = []
    for ty in range(2):
        for tx in range(2):
            rr, cc = np.mgrid[0:T, 0:T]
            v = ((3 * rr + 5 * cc + 7 * (tx + 2 * ty)) % 256).astype(np.uint8)
            rgba = np.repeat(v[..., None], 4, axis=2)
            rows.append((z, tx, ty, bytearray(rgba.tobytes()), "raw-rgba8"))
    tiles = spark.createDataFrame(
        rows, "z int, x long, y long, raster binary, fmt string"
    )
    # zone: outer square spanning the tile seam, hole inside
    gx0, gy0 = 10, 6      # global pixel coords (0..31)
    w = 15                # crosses into tile x=1 / y=0..1
    zx0 = -tm.W + (gx0 + 0.25) * pspan
    zx1 = -tm.W + (gx0 + w + 0.75) * pspan
    zt = tm.W - (gy0 + 0.25) * pspan
    zb = tm.W - (gy0 + w + 0.75) * pspan
    hx0 = -tm.W + (gx0 + 4 + 0.25) * pspan
    hx1 = -tm.W + (gx0 + 8 + 0.75) * pspan
    ht = tm.W - (gy0 + 4 + 0.25) * pspan
    hb = tm.W - (gy0 + 8 + 0.75) * pspan
    zones = spark.createDataFrame(
        [(7,
          [zx0, zx1, zx1, zx0, zx0, hx0, hx1, hx1, hx0, hx0],
          [zb, zb, zt, zt, zb, hb, hb, ht, ht, hb],
          [0, 5, 10])],
        "region_id long, xs array<double>, ys array<double>, "
        "ring_offsets array<int>",
    )
    got = zonal_stats(tiles, zones, z=z, tile_size=T).collect()
    assert len(got) == 1
    # dense reference: global 32x32 raster, global boolean mask
    G = 2 * T
    rr, cc = np.mgrid[0:G, 0:G]
    v = ((3 * (rr % T) + 5 * (cc % T)
          + 7 * ((cc // T) + 2 * (rr // T))) % 256)
    outer = (cc >= gx0) & (cc <= gx0 + w) & (rr >= gy0) & (rr <= gy0 + w)
    hole = (cc >= gx0 + 4) & (cc <= gx0 + 8) & (rr >= gy0 + 4) & (rr <= gy0 + 8)
    mask = outer & ~hole
    assert got[0].n_px == int(mask.sum())
    assert got[0].sum_px == int(v[mask].sum())


def test_compact_uncompact_random_roundtrip(spark):
    """Invariants on a random cell set: (1) uncompact(compact(S)) == S,
    (2) the compacted cover is MINIMAL — no parent has all 4 children
    present at any level."""
    rng = np.random.RandomState(9)
    from mapnik_vector_tile_spark.operators.cellcover import (
        compact_cells,
        uncompact_cells,
    )

    cells = set()
    # seed random blobs: a few solid blocks + scattered singles
    for _ in range(6):
        x0, y0 = rng.randint(0, 200, 2) * 4
        w, h = rng.randint(1, 9, 2)
        for i in range(int(w)):
            for j in range(int(h)):
                cells.add((int(x0) + i, int(y0) + j))
    for _ in range(40):
        cells.add((int(rng.randint(0, 1000)), int(rng.randint(0, 1000))))
    df = spark.createDataFrame(
        [(1, 12, x, y) for x, y in cells],
        "feature_id long, z int, cx long, cy long",
    )
    comp = compact_cells(df, levels=4).collect()
    back = {
        (r.cx, r.cy)
        for r in uncompact_cells(
            spark.createDataFrame(comp), 12
        ).collect()
    }
    assert back == cells
    # minimality: group by (z, parent) — never 4 siblings
    from collections import Counter

    for lvl in range(4):
        cnt = Counter(
            (r.z, r.cx >> 1, r.cy >> 1) for r in comp
        )
        assert all(v < 4 for v in cnt.values())
        break  # sibling check at native z suffices with mixed-z keys


def test_open_polyline_interior_not_filled():
    """An open L-shaped polyline covers exactly the cells its segments
    touch — the interior-fill stage must NOT implicitly close it into
    a ring (regression: review finding)."""
    z = 10
    span = tm.tile_span(z)
    a = -tm.W + 100 * span + span / 2
    # L shape: right 4 cells, then up 4 cells (3 vertices, open)
    xs = np.array([a, a + 4 * span, a + 4 * span])
    ys = np.array([a, a, a + 4 * span])
    offs = np.array([0, 3])
    no_fill = _cover_one(xs, ys, offs, z, 100_000, fill=False)
    cells = set(zip(no_fill[0].tolist(), no_fill[1].tolist()))
    # 5 cells along the horizontal leg + 4 more up the vertical leg
    assert len(cells) == 9, sorted(cells)
    # the implied-triangle interior cell must be absent
    interior = (
        int(np.floor((a + 2.5 * span + tm.W) / span)),
        int(np.floor((tm.W - (a + 1.5 * span)) / span)),
    )
    assert interior not in cells


def test_cover_dataframe_line_vs_polygon_fill(spark):
    """The DataFrame stage dispatches fill by geom_type: the same
    square ring as polygon covers its interior, as a linestring only
    its boundary cells."""
    z = 8
    span = tm.tile_span(z)
    a = -tm.W + 50 * span + span / 2
    ring_x = [a, a + 5 * span, a + 5 * span, a, a]
    ring_y = [a, a, a + 5 * span, a + 5 * span, a]
    df = spark.createDataFrame(
        [(1, 3, ring_x, ring_y, [0, 5], ""),
         (2, 2, ring_x, ring_y, [0, 5], "")],
        "feature_id long, geom_type int, xs array<double>, "
        "ys array<double>, part_offsets array<int>, caption string",
    )
    rows = cover_polygon_cells(df, z).collect()
    poly = {(r.cx, r.cy) for r in rows if r.feature_id == 1}
    line = {(r.cx, r.cy) for r in rows if r.feature_id == 2}
    assert line < poly  # strict subset: interior cells only in poly
    assert len(poly) - len(line) == 16  # 4x4 interior block


def test_uncompact_rejects_finer_input(spark):
    from mapnik_vector_tile_spark.operators.cellcover import uncompact_cells

    df = spark.createDataFrame(
        [(1, 11, 5, 5)], "feature_id long, z int, cx long, cy long"
    )
    with pytest.raises(Exception, match="uncompact_cells"):
        uncompact_cells(df, 10).collect()


def test_hier_cover_equals_flat():
    """Hierarchical covering (coarse + interior-expand + boundary
    refine) emits the identical cell set to the flat kernel, for
    polygons with holes and for open polylines, across coarse_dz
    choices."""
    from mapnik_vector_tile_spark.operators.cellcover import _cover_one_hier

    rng = np.random.default_rng(17)
    z = 10
    span = tm.tile_span(z)
    for trial in range(12):
        kind = trial % 3
        a = -tm.W + int(rng.integers(10, 800)) * span + span / 4
        c = -tm.W + int(rng.integers(10, 800)) * span + span / 4
        if kind == 0:  # big rect
            w = int(rng.integers(8, 30)) * span + span / 2
            h = int(rng.integers(8, 25)) * span + span / 2
            xs = np.array([a, a + w, a + w, a, a])
            ys = np.array([c, c, c + h, c + h, c])
            offs, fill = np.array([0, 5]), True
        elif kind == 1:  # holed square
            w = 20 * span
            xs = np.array([a, a + w, a + w, a, a,
                           a + 5 * span, a + 15 * span, a + 15 * span,
                           a + 5 * span, a + 5 * span])
            ys = np.array([c, c, c + w, c + w, c,
                           c + 5 * span, c + 5 * span, c + 15 * span,
                           c + 15 * span, c + 5 * span])
            offs, fill = np.array([0, 5, 10]), True
        else:  # open L polyline
            xs = np.array([a, a + 12 * span, a + 12 * span])
            ys = np.array([c, c, c + 12 * span])
            offs, fill = np.array([0, 3]), False
        flat = set(zip(*[
            arr.tolist()
            for arr in _cover_one(xs, ys, offs, z, 10**7, fill)
        ]))
        for dz in (2, 4):
            hx, hy = _cover_one_hier(xs, ys, offs, z, dz, 10**7, fill)
            assert set(zip(hx.tolist(), hy.tolist())) == flat, (trial, dz)


def test_hier_cover_boundary_graze_regression():
    """Regression (review finding): boundary detection at the coarse
    and fine zooms are DIFFERENT float expressions, so a grid-snapped
    geometry (vertices exactly ON cell corners) could be binned one
    ulp into a neighbor at the coarse level, dropping a flat-covered
    child's parent from refinement. The 8-neighbor halo recovers it —
    hier must equal flat on fully grid-snapped shapes."""
    from mapnik_vector_tile_spark.operators.cellcover import _cover_one_hier

    z = 8
    span = tm.tile_span(z)
    # the reviewer's confirmed repro: corner-anchored big triangle
    a = -tm.W + 16 * span
    c = -tm.W + 24 * span
    xs = np.array([a, a + 32 * span, a, a])
    ys = np.array([c, c, c + 32 * span, c])
    offs = np.array([0, 4])
    flat = set(zip(*[
        v.tolist() for v in _cover_one(xs, ys, offs, z, 10**7, True)
    ]))
    for dz in (1, 2, 3):
        hx, hy = _cover_one_hier(xs, ys, offs, z, dz, 10**7, True)
        assert set(zip(hx.tolist(), hy.tolist())) == flat, dz
    # randomized grid-snapped rectangles
    rng = np.random.default_rng(5)
    for t in range(10):
        a = -tm.W + int(rng.integers(8, 200)) * span
        c = -tm.W + int(rng.integers(8, 200)) * span
        w = int(rng.integers(2, 40)) * span
        h = int(rng.integers(2, 30)) * span
        xs = np.array([a, a + w, a + w, a, a])
        ys = np.array([c, c, c + h, c + h, c])
        offs = np.array([0, 5])
        flat = set(zip(*[
            v.tolist() for v in _cover_one(xs, ys, offs, z, 10**7, True)
        ]))
        for dz in (2, 4):
            hx, hy = _cover_one_hier(xs, ys, offs, z, dz, 10**7, True)
            assert set(zip(hx.tolist(), hy.tolist())) == flat, (t, dz)


def test_areal_interpolate_exact_split(spark):
    """One source square split across two targets: allocations are
    the exact floor shares and conserve value up to floor loss."""
    from mapnik_vector_tile_spark.functions import geomcodec as gc
    from mapnik_vector_tile_spark.functions import tilemath as tm
    from mapnik_vector_tile_spark.operators.cellcover import (
        areal_interpolate,
    )

    z = 10
    span = tm.tile_span(z)

    def rect(fid, k, m, wc, hc):
        a = -tm.W + k * span + span / 4
        c = -tm.W + m * span + span / 4
        w = wc * span + span / 2
        h = hc * span + span / 2
        return (
            fid, int(gc.GEOM_POLYGON),
            [a, a + w, a + w, a, a], [c, c, c + h, c + h, c],
            [0, 5], f"r{fid}",
        )

    schema = (
        "feature_id long, geom_type int, xs array<double>,"
        " ys array<double>, part_offsets array<int>, caption string"
    )
    # source: cells x in [10,13], y in [10,12] -> 12 cells
    src = spark.createDataFrame([rect(1, 10, 10, 3, 2)], schema)
    # target A covers x [10,11] (8 cells of src), B covers x [12,13]
    tgt = spark.createDataFrame(
        [rect(100, 10, 10, 1, 2), rect(101, 12, 10, 1, 2)], schema
    )
    vals = spark.createDataFrame([(1, 1000)], "sid long, value long")
    out = {r["tid"]: r for r in areal_interpolate(src, vals, tgt, z).collect()}
    assert out[100]["sum_overlap"] == 6 and out[101]["sum_overlap"] == 6
    assert out[100]["alloc"] == (1000 * 6) // 12 == 500
    assert out[101]["alloc"] == 500
    assert out[100]["n_src"] == 1
