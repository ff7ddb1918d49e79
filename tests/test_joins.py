"""J3/J4/J5 spatial joins — unit + small-integration tests.

Brute-force numpy oracles on tiny inputs; the sf0.01 value-hash gate
lives in the oracle pairs of plans/oracles/joins.py."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from mapnik_vector_tile_spark.functions import pip as pipmod
from mapnik_vector_tile_spark.functions import tilemath as tm
from mapnik_vector_tile_spark.operators import joins as J

W = tm.W


@pytest.fixture(scope="module")
def points(spark):
    rng = np.random.default_rng(7)
    n = 2000
    pdf = pd.DataFrame(
        {
            "id": np.arange(n),
            "mx": rng.uniform(-W * 0.9, W * 0.9, n),
            "my": rng.uniform(-W * 0.9, W * 0.9, n),
        }
    )
    return spark.createDataFrame(pdf), pdf


@pytest.fixture(scope="module")
def tri_regions(spark):
    """3 regions: a big square, a triangle (concave-capable path), and
    a square with a hole."""
    s = W / 4
    rows = [
        # square centered at origin
        (0, [-s, s, s, -s, -s], [-s, -s, s, s, -s], [0, 5]),
        # triangle in the NE
        (1, [s, 3 * s, s, s], [s, s, 3 * s, s], [0, 4]),
        # square with hole in the SW
        (
            2,
            [-3.5 * s, -1.5 * s, -1.5 * s, -3.5 * s, -3.5 * s,
             -3.0 * s, -3.0 * s, -2.0 * s, -2.0 * s, -3.0 * s],
            [-3.5 * s, -3.5 * s, -1.5 * s, -1.5 * s, -3.5 * s,
             -3.0 * s, -2.0 * s, -2.0 * s, -3.0 * s, -3.0 * s],
            [0, 5, 10],
        ),
    ]
    pdf = pd.DataFrame(rows, columns=["region_id", "xs", "ys", "ring_offsets"])
    schema = (
        "region_id long, xs array<double>, ys array<double>, "
        "ring_offsets array<int>"
    )
    return spark.createDataFrame(pdf, schema=schema), pdf


def _brute_force_pairs(pts_pdf, reg_pdf):
    out = set()
    for _, r in reg_pdf.iterrows():
        inside = pipmod.points_in_polygon(
            pts_pdf["mx"].to_numpy(),
            pts_pdf["my"].to_numpy(),
            np.array(r["xs"]),
            np.array(r["ys"]),
            np.array(r["ring_offsets"]),
        )
        for pid in pts_pdf["id"].to_numpy()[inside]:
            out.add((int(pid), int(r["region_id"])))
    return out


def test_pip_broadcast_matches_bruteforce(spark, points, tri_regions):
    pts_df, pts_pdf = points
    reg_df, reg_pdf = tri_regions
    got = {
        (r.point_id, r.region_id)
        for r in J.pip_join_broadcast(pts_df, reg_df, z=5).collect()
    }
    assert got == _brute_force_pairs(pts_pdf, reg_pdf)
    assert len(got) > 100  # sanity: the fixture actually covers points


def test_pip_semi_anti_partition_points(spark, points, tri_regions):
    """semi ∪ anti = all points, disjoint; semi = ids with >=1 oracle
    pair (once each, even for points inside several regions)."""
    pts_df, pts_pdf = points
    reg_df, reg_pdf = tri_regions
    inside_ids = {p for p, _ in _brute_force_pairs(pts_pdf, reg_pdf)}
    semi = {r.id for r in J.pip_join_semi(pts_df, reg_df, z=5).collect()}
    anti = {r.id for r in J.pip_join_anti(pts_df, reg_df, z=5).collect()}
    assert semi == inside_ids
    assert anti == set(pts_pdf["id"].tolist()) - inside_ids
    # row-level: semi emits each id exactly once
    assert J.pip_join_semi(pts_df, reg_df, z=5).count() == len(semi)


def test_pip_partitioned_equals_broadcast(spark, points, tri_regions):
    pts_df, pts_pdf = points
    reg_df, _ = tri_regions
    a = {
        (r.point_id, r.region_id)
        for r in J.pip_join_broadcast(pts_df, reg_df, z=4).collect()
    }
    b = {
        (r.point_id, r.region_id)
        for r in J.pip_join_partitioned(pts_df, reg_df, z=4).collect()
    }
    assert a == b


def test_pip_cover_equals_broadcast(spark, points, tri_regions):
    """Exact-cover candidates (pip_join_cover) produce the same pairs
    as the envelope-cover broadcast join — the fixture's triangles and
    holed square exercise cells the envelope includes but the exact
    cover prunes."""
    pts_df, pts_pdf = points
    reg_df, reg_pdf = tri_regions
    a = _brute_force_pairs(pts_pdf, reg_pdf)
    b = {
        (r.point_id, r.region_id)
        for r in J.pip_join_cover(pts_df, reg_df, z=5).collect()
    }
    assert a == b


def test_pip_hole_excluded(spark, tri_regions):
    reg_df, _ = tri_regions
    s = W / 4
    pdf = pd.DataFrame(
        {
            "id": [0, 1],
            # inside the hole of region 2 / inside its solid part
            "mx": [-2.5 * s, -3.25 * s],
            "my": [-2.5 * s, -3.25 * s],
        }
    )
    pts = reg_df.sparkSession.createDataFrame(pdf)
    got = {
        (r.point_id, r.region_id)
        for r in J.pip_join_broadcast(pts, reg_df, z=5).collect()
    }
    assert (1, 2) in got and (0, 2) not in got


def _knn_oracle(q_pdf, t_pdf, k):
    out = set()
    tx = t_pdf["tx"].to_numpy()
    ty = t_pdf["ty"].to_numpy()
    tid = t_pdf["tid"].to_numpy()
    for _, r in q_pdf.iterrows():
        d2 = (tx - r["mx"]) ** 2 + (ty - r["my"]) ** 2
        order = np.lexsort((tid, d2))[:k]
        for rank, j in enumerate(order, start=1):
            out.add((int(r["id"]), int(tid[j]), rank))
    return out


def test_knn_matches_bruteforce(spark, points):
    _, pts_pdf = points
    q_pdf = pts_pdf.iloc[:120].copy()
    t_pdf = pts_pdf.iloc[120:].rename(
        columns={"id": "tid", "mx": "tx", "my": "ty"}
    )
    q = spark.createDataFrame(q_pdf)
    t = spark.createDataFrame(t_pdf)
    got = {
        (r.id, r.nbr, r.rank)
        for r in J.knn_join(q, t, k=4, z=5).collect()
    }
    assert got == _knn_oracle(q_pdf, t_pdf, 4)


def test_knn_fewer_targets_than_k(spark):
    q = spark.createDataFrame(
        pd.DataFrame({"id": [0], "mx": [0.0], "my": [0.0]})
    )
    t = spark.createDataFrame(
        pd.DataFrame(
            {"tid": [10, 11], "tx": [1.0, 2.0], "ty": [0.0, 0.0]}
        )
    )
    rows = J.knn_join(q, t, k=5, z=5).collect()
    assert {(r.nbr, r.rank) for r in rows} == {(10, 1), (11, 2)}


def test_cover_region_cells_exact(spark, tri_regions):
    reg_df, reg_pdf = tri_regions
    z = 4
    cells = J.cover_region_cells(reg_df, z).collect()
    span = 2 * W / (1 << z)
    for _, r in reg_pdf.iterrows():
        want_x = set()
        want_y = set()
        lox = int(np.floor((min(r["xs"]) + W) / span))
        hix = int(np.floor((max(r["xs"]) + W) / span))
        loy = int(np.floor((W - max(r["ys"])) / span))
        hiy = int(np.floor((W - min(r["ys"])) / span))
        got = {
            (c.ctx, c.cty) for c in cells if c.region_id == r["region_id"]
        }
        want = {
            (x, y)
            for x in range(max(0, lox), min((1 << z) - 1, hix) + 1)
            for y in range(max(0, loy), min((1 << z) - 1, hiy) + 1)
        }
        assert got == want


def test_radius_join_matches_bruteforce(spark):
    """radius_join on random dyadic points == the O(n²) numpy answer,
    including targets that straddle cell boundaries of the auto-picked
    z (the 3×3 block must provably cover the radius)."""
    rng = np.random.RandomState(21)
    from mapnik_vector_tile_spark.functions import tilemath as tm

    u = tm.tile_span(9) / 4.0
    qx = -tm.W / 3 + rng.randint(0, 300, 120) * u
    qy = -tm.W / 3 + rng.randint(0, 300, 120) * u
    tx = -tm.W / 3 + rng.randint(0, 300, 150) * u + u / 4
    ty = -tm.W / 3 + rng.randint(0, 300, 150) * u + u / 4
    qdf = spark.createDataFrame(
        [(int(i), float(qx[i]), float(qy[i])) for i in range(120)],
        "id long, mx double, my double",
    )
    tdf = spark.createDataFrame(
        [(int(i), float(tx[i]), float(ty[i])) for i in range(150)],
        "id long, mx double, my double",
    )
    r = 20.0 * u
    got = {
        (row.query_id, row.target_id)
        for row in J.radius_join(qdf, tdf, r).collect()
    }
    d2 = (qx[:, None] - tx[None, :]) ** 2 + (qy[:, None] - ty[None, :]) ** 2
    want = {
        (int(i), int(j))
        for i, j in zip(*np.nonzero(d2 <= float(r) * float(r)))
    }
    assert got == want and len(want) > 50


def test_radius_join_rejects_too_fine_z(spark):
    from mapnik_vector_tile_spark.functions import tilemath as tm

    qdf = spark.createDataFrame([(1, 0.0, 0.0)], "id long, mx double, my double")
    with pytest.raises(ValueError, match="coarser"):
        J.radius_join(qdf, qdf, radius=tm.tile_span(5), z=8)


def test_polygon_rect_join_matches_bruteforce(spark):
    """J8 candidate completeness: the cover-cell candidate join +
    refine must equal applying the exact test to EVERY pair."""
    import numpy as np
    import pandas as pd

    from mapnik_vector_tile_spark.operators import joins as J
    from mapnik_vector_tile_spark.sources.synth import gen_regions_merc_pdf

    reg_pdf = gen_regions_merc_pdf(40)
    rng = np.random.RandomState(3)
    W = 20037508.342789244
    rows = []
    for i in range(30):
        cx = float(rng.uniform(-W, W * 0.9))
        cy = float(rng.uniform(-W * 0.9, W))
        w = float(rng.uniform(W / 400, W / 20))
        h = float(rng.uniform(W / 400, W / 20))
        rows.append((i, cx, cy - h, cx + w, cy))
    rects_pdf = pd.DataFrame(
        rows, columns=["rect_id", "x0", "y0", "x1", "y1"]
    )
    got = sorted(
        (r["rect_id"], r["region_id"])
        for r in J.polygon_rect_join(
            spark.createDataFrame(rects_pdf),
            spark.createDataFrame(reg_pdf),
            z=5,
        ).collect()
    )
    want = []
    for rr in rects_pdf.itertuples():
        for gg in reg_pdf.itertuples():
            if J._rect_poly_intersects(
                rr.x0, rr.y0, rr.x1, rr.y1,
                np.asarray(gg.xs), np.asarray(gg.ys),
                np.asarray(gg.ring_offsets),
            ):
                want.append((rr.rect_id, gg.region_id))
    assert got == sorted(want)
    assert len(want) > 0  # corpus actually produces intersections


def test_rect_poly_intersects_cases():
    import numpy as np

    from mapnik_vector_tile_spark.operators.joins import (
        _rect_poly_intersects,
    )

    tri_x = np.array([0.0, 10.0, 0.0, 0.0])
    tri_y = np.array([0.0, 0.0, 10.0, 0.0])
    offs = np.array([0, 4])
    f = lambda x0, y0, x1, y1: _rect_poly_intersects(
        x0, y0, x1, y1, tri_x, tri_y, offs
    )
    assert f(-1, -1, 11, 11)          # polygon inside rect
    assert f(2, 2, 3, 3)              # rect inside polygon
    assert f(4, 4, 12, 12)            # hypotenuse slices through
    assert not f(8, 8, 12, 12)        # beyond the hypotenuse
    assert f(10.0, 0.0, 12.0, 2.0)    # touching at one vertex (closed)
    assert not f(10.1, 0.1, 12.0, 2.0)
    # rect strictly inside a hole -> outside
    sq_x = np.array([0.0, 10, 10, 0, 0, 2, 2, 8, 8, 2])
    sq_y = np.array([0.0, 0, 10, 10, 0, 2, 8, 8, 2, 2])
    offs2 = np.array([0, 5, 10])
    assert not _rect_poly_intersects(4, 4, 6, 6, sq_x, sq_y, offs2)
    assert _rect_poly_intersects(1, 1, 3, 3, sq_x, sq_y, offs2)


def test_polygon_polygon_join_matches_bruteforce(spark):
    """J9 candidate completeness: cover-cell candidates + refine must
    equal the exact test over EVERY cross pair."""
    import numpy as np

    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.operators import joins as J
    from mapnik_vector_tile_spark.sources.synth import (
        gen_regions_merc_pdf,
        regions_merc_df,
    )

    regions = regions_merc_df(spark, 60).select(
        "region_id", "xs", "ys", "ring_offsets"
    )
    a = regions.filter(F.col("region_id") < 30)
    b = regions.filter(F.col("region_id") >= 30)
    got = sorted(
        (r["a_id"], r["b_id"])
        for r in J.polygon_polygon_join(a, b, z=5).collect()
    )
    pdf = gen_regions_merc_pdf(60)
    want = []
    for ra in pdf.itertuples():
        if ra.region_id >= 30:
            continue
        for rb in pdf.itertuples():
            if rb.region_id < 30:
                continue
            if J._poly_poly_intersects(
                np.asarray(ra.xs), np.asarray(ra.ys),
                np.asarray(ra.ring_offsets),
                np.asarray(rb.xs), np.asarray(rb.ys),
                np.asarray(rb.ring_offsets),
            ):
                want.append((ra.region_id, rb.region_id))
    assert got == sorted(want) and len(want) > 0


def test_poly_poly_intersects_cases():
    import numpy as np

    from mapnik_vector_tile_spark.operators.joins import (
        _poly_poly_intersects,
    )

    sq = lambda x0, y0, s_: (
        np.array([x0, x0 + s_, x0 + s_, x0, x0]),
        np.array([y0, y0, y0 + s_, y0 + s_, y0]),
        np.array([0, 5]),
    )
    a = sq(0, 0, 10)
    assert _poly_poly_intersects(*a, *sq(5, 5, 10))      # overlap
    assert _poly_poly_intersects(*a, *sq(2, 2, 2))       # containment
    assert _poly_poly_intersects(*a, *sq(10, 10, 3))     # corner touch
    assert _poly_poly_intersects(*a, *sq(10, 2, 3))      # edge touch
    assert not _poly_poly_intersects(*a, *sq(11, 0, 3))  # disjoint
    # crossing without any vertex inside the other (plus shape)
    wide = (
        np.array([-1.0, 11, 11, -1, -1]),
        np.array([4.0, 4, 6, 6, 4]),
        np.array([0, 5]),
    )
    tall = (
        np.array([4.0, 6, 6, 4, 4]),
        np.array([-1.0, -1, 11, 11, -1]),
        np.array([0, 5]),
    )
    assert _poly_poly_intersects(*wide, *tall)
    # square inside the other's hole -> no intersection
    holed_x = np.array([0.0, 20, 20, 0, 0, 4, 4, 16, 16, 4])
    holed_y = np.array([0.0, 0, 20, 20, 0, 4, 16, 16, 4, 4])
    hoffs = np.array([0, 5, 10])
    assert not _poly_poly_intersects(
        holed_x, holed_y, hoffs, *sq(8, 8, 4)
    )
    assert _poly_poly_intersects(
        holed_x, holed_y, hoffs, *sq(1, 1, 2)
    )


def test_polygon_polygon_ri_matches_exact(spark):
    """J9b: the Raster-Intervals decided∪refined union equals the
    exact join on the full corpus, and the FULL-cell shortcut actually
    decides a meaningful fraction (the classification is not vacuous:
    some pairs must bypass the refine kernel entirely)."""
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.operators import joins as J
    from mapnik_vector_tile_spark.operators.cellcover import (
        cover_polygon_cells_classified,
    )
    from mapnik_vector_tile_spark.sources.synth import regions_merc_df

    regions = regions_merc_df(spark, 120).select(
        "region_id", "xs", "ys", "ring_offsets"
    )
    a = regions.filter(F.col("region_id") < 60)
    b = regions.filter(F.col("region_id") >= 60)
    exact = {
        (r.a_id, r.b_id)
        for r in J.polygon_polygon_join(a, b, z=6).collect()
    }
    ri = {
        (r.a_id, r.b_id)
        for r in J.polygon_polygon_join_ri(a, b, z=6).collect()
    }
    assert ri == exact and len(exact) > 0

    # classification sanity: polygons produce BOTH full and partial
    # cells at z6 (interior exists), and full cells are never on the
    # feature's own cover hull boundary rows alone
    feats = a.select(
        F.col("region_id").alias("feature_id"),
        F.lit(3).alias("geom_type"),
        "xs", "ys",
        F.col("ring_offsets").alias("part_offsets"),
        F.lit("").alias("caption"),
    )
    cls = cover_polygon_cells_classified(feats, 6)
    agg = cls.agg(
        F.sum(F.col("boundary").cast("long")).alias("nb"),
        F.sum((~F.col("boundary")).cast("long")).alias("nf"),
    ).collect()[0]
    assert agg.nb > 0 and agg.nf > 0


def test_haversine_join_known_distances(spark):
    """J5b hand-checked geodesics: equator degree ≈ 111.19 km, a
    meridian pair at 60° behaves identically, but a LONGITUDE pair at
    60° is foreshortened by cos(60) = 0.5 — the planar-mercator error
    the geodesic join exists to avoid."""
    from mapnik_vector_tile_spark.operators.joins import (
        haversine_radius_join,
    )

    a = spark.createDataFrame(
        [(1, 0.0, 0.0), (2, 0.0, 60.0)], ["id", "lon", "lat"]
    )
    b = spark.createDataFrame(
        [
            (10, 2.5, 0.0),    # 278 km along the equator: in at 300km
            (11, 3.0, 0.0),    # 333.6 km: out
            (12, 0.0, 62.5),   # 278 km along a meridian: in
            (13, 5.0, 60.0),   # 5° lon at 60° lat ≈ 278 km: in
            (14, 5.0, 0.0),    # 556 km: out
        ],
        ["id", "lon", "lat"],
    )
    got = {
        (r.a_id, r.b_id)
        for r in haversine_radius_join(a, b, 300_000.0, 4.8).collect()
    }
    assert got == {(1, 10), (2, 12), (2, 13)}


def test_haversine_join_antimeridian(spark):
    """J5b seam regression: a pair straddling lon=±180 (Fiji region,
    ~22 km apart) must be found — the lon cell grid wraps mod 360°,
    so floor(179.9/c) and floor(-179.9/c) become adjacent cells. Also
    pins the no-duplicate contract when the wrap makes ring cells
    coincide (huge cell_deg => n_lon small)."""
    from mapnik_vector_tile_spark.operators.joins import (
        haversine_radius_join,
    )

    a = spark.createDataFrame([(1, 179.9, -17.0)], ["id", "lon", "lat"])
    b = spark.createDataFrame(
        [(10, -179.9, -17.0), (11, -170.0, -17.0)], ["id", "lon", "lat"]
    )
    rows = haversine_radius_join(a, b, 300_000.0, 4.8).collect()
    assert {(r.a_id, r.b_id) for r in rows} == {(1, 10)}
    assert len(rows) == 1  # no duplicate candidates from the wrap

    # TWO-index-step seam case: 360 is not a multiple of 4.8, so a
    # wrapped (pmod) grid would put 177.5 and -179.9 two columns apart
    # and silently drop this ~276 km pair; the coordinate-duplication
    # fix must find it. The reverse direction (a west, b east) too.
    a2 = spark.createDataFrame(
        [(2, 177.5, -17.0), (3, -177.5, -17.0)], ["id", "lon", "lat"]
    )
    b2 = spark.createDataFrame(
        [(20, -179.9, -17.0), (21, 179.9, -17.0)], ["id", "lon", "lat"]
    )
    got = {
        (r.a_id, r.b_id)
        for r in haversine_radius_join(a2, b2, 300_000.0, 4.8).collect()
    }
    # all four cross/near-seam combinations are within 300 km
    assert got == {(2, 20), (2, 21), (3, 20), (3, 21)}

    # Degenerate wrap: cell_deg=120 => 3 lon cells, ring covers the
    # whole globe in lon; the pair is found exactly once.
    rows = haversine_radius_join(a, b, 300_000.0, 120.0).collect()
    assert [(r.a_id, r.b_id) for r in rows] == [(1, 10)]


def test_dissolve_polygons_groups_and_singletons(spark):
    """U12: chained overlaps merge transitively (A∩B, B∩C, A∌C → one
    group), corner-TOUCHING squares merge (intersects includes touch),
    disjoint squares stay singletons under their own id."""
    from mapnik_vector_tile_spark.operators.joins import dissolve_polygons

    def sq(rid, x0, y0, s=10.0):
        xs = [x0, x0 + s, x0 + s, x0, x0]
        ys = [y0, y0, y0 + s, y0 + s, y0]
        return (rid, xs, ys, [0, 5])

    rows = [
        sq(1, 0.0, 0.0),        # chain: 1-2 overlap, 2-3 overlap
        sq(2, 5.0, 0.0),
        sq(3, 12.0, 0.0),       # overlaps 2 only (12 < 15)
        sq(4, 100.0, 100.0),    # corner-touches 5 at (110, 110)
        sq(5, 110.0, 110.0),
        sq(6, -500.0, -500.0),  # disjoint singleton
    ]
    polys = spark.createDataFrame(
        rows,
        "region_id long, xs array<double>, ys array<double>, "
        "ring_offsets array<int>",
    )
    got = {
        r.region_id: r.group
        for r in dissolve_polygons(polys, z=10).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 6}


def test_idw_exact_hit_and_hand_computed(spark):
    """J5c: a zero-distance target short-circuits to its value (lowest
    id wins among exact hits); otherwise the estimate matches the
    hand-computed weighted mean."""
    from mapnik_vector_tile_spark.operators.joins import idw_interpolate

    q = spark.createDataFrame(
        [(1, 0.0, 0.0), (2, 1000.0, 0.0)], "id long, mx double, my double"
    )
    t = spark.createDataFrame(
        [
            (10, 0.0, 0.0, 50.0),     # exact hit for query 1
            (11, 0.0, 0.0, 70.0),     # second exact hit: id 10 wins
            (12, 1000.0, 100.0, 20.0),  # d2 = 1e4 from query 2
            (13, 1000.0, 200.0, 80.0),  # d2 = 4e4 from query 2
        ],
        "id long, mx double, my double, v double",
    )
    out = {
        r.query_id: r
        for r in idw_interpolate(q, t, radius=300.0, z=4).collect()
    }
    assert out[1].idw == 50.0  # lowest-id exact hit
    # query 2 sees ONLY targets 12/13 within r=300:
    # (20/1e4 + 80/4e4) / (1/1e4 + 1/4e4) = 32.0
    assert abs(out[2].idw - 32.0) < 1e-12
    assert out[2].n_nbrs == 2


# --- J10 snap join (map matching) ------------------------------------------


def _snap(spark, pts, segs, **kw):
    from mapnik_vector_tile_spark.operators.joins import snap_join

    p = spark.createDataFrame(pts, "pid long, px long, py long")
    s = spark.createDataFrame(segs, "sid long, ax long, ay long, bx long, by long")
    return {r["pid"]: r for r in snap_join(p, s, **kw).collect()}


def test_snap_interior_projection(spark):
    # P=(5,3) onto horizontal segment y=0, x in 0..10 → d²=9 exactly:
    # num=9·100... interior: num = ap2*ab2 - dot² = (25+9)*100 - 50² = 900
    # den=100 → frac 9, d2s = 9<<24
    d = _snap(spark, [(1, 5, 3)], [(7, 0, 0, 10, 0)])
    assert d[1]["sid"] == 7 and d[1]["d2s"] == 9 << 24


def test_snap_endpoint_clamp(spark):
    # P=(-4,3) is before A=(0,0): clamped → d² = 16+9 = 25
    d = _snap(spark, [(1, -4, 3)], [(7, 0, 0, 10, 0)])
    assert d[1]["d2s"] == 25 << 24


def test_snap_degenerate_segment(spark):
    # zero-length segment = point distance
    d = _snap(spark, [(1, 3, 4)], [(9, 0, 0, 0, 0)])
    assert d[1]["d2s"] == 25 << 24


def test_snap_radius_excludes(spark):
    # nearest segment beyond radius → no row for that point
    d = _snap(spark, [(1, 0, 0), (2, 500, 500)], [(7, 0, 40, 10, 40)])
    assert 1 not in d  # d²=1600 > 32²=1024
    assert 2 not in d


def test_snap_picks_nearer_and_tiebreak(spark):
    segs = [
        (5, 0, 2, 10, 2),   # d²=4 from P=(5,0)
        (3, 0, -2, 10, -2), # d²=4 too → tie → smaller sid wins
        (9, 0, 1, 10, 1),   # d²=1 → actual winner
    ]
    d = _snap(spark, [(1, 5, 0)], segs)
    assert d[1]["sid"] == 9 and d[1]["d2s"] == 1 << 24 and d[1]["n_cand"] == 3
    # remove sid 9: tie between 3 and 5 at d²=4 → sid 3
    d = _snap(spark, [(1, 5, 0)], segs[:2])
    assert d[1]["sid"] == 3 and d[1]["d2s"] == 4 << 24


def test_snap_cross_cell_candidates(spark):
    # point near a cell boundary must still see a segment in the next
    # cell (radius-expanded bbox guarantees it): P=(63,0) cell (1,0);
    # segment at x=70..80 lives in cell (2,0) but within radius 32
    d = _snap(spark, [(1, 63, 0)], [(4, 70, 0, 80, 0)])
    assert d[1]["sid"] == 4 and d[1]["d2s"] == 49 << 24


# --- Moran's I (operators/geostats.morans_i) --------------------------------


def test_morans_i_checkerboard_negative(spark):
    # perfect checkerboard on a 4x4 grid: counts alternate 1/3 → every
    # adjacent pair has opposite-sign deviations → I < 0
    from mapnik_vector_tile_spark.operators.geostats import morans_i

    rows = [
        (x, y, 1 if (x + y) % 2 == 0 else 3)
        for x in range(4)
        for y in range(4)
    ]
    df = spark.createDataFrame(rows, "cx long, cy long, c long")
    r = morans_i(df).collect()[0]
    assert r["n_cells"] == 16
    assert r["w_sum"] == 2 * 24  # 24 undirected rook edges, ordered both ways
    assert r["num"] < 0 and r["den"] > 0
    assert r["i_dbl"] == -1.0  # perfect anti-correlation on this lattice


def test_morans_i_blocks_positive(spark):
    # two homogeneous halves → strong positive autocorrelation
    from mapnik_vector_tile_spark.operators.geostats import morans_i

    rows = [
        (x, y, 10 if x < 2 else 1) for x in range(4) for y in range(4)
    ]
    df = spark.createDataFrame(rows, "cx long, cy long, c long")
    r = morans_i(df).collect()[0]
    assert r["num"] > 0 and r["i_dbl"] > 0.5


def test_morans_i_corpus_bounds(spark):
    # int64 headroom claim: |num|, den far below 2^62 on the real corpus
    from mapnik_vector_tile_spark.plans.oracles.geostats import q_morans_i

    r = q_morans_i(spark, "/root/testdata/sf0.001").collect()[0]
    assert 0 < r["den"] < 1 << 50 and abs(r["num"]) < 1 << 50
    assert r["w_sum"] > 0


def test_local_stats_hand_grid(spark):
    # 2x1 grid: cells (0,0,c=1) and (1,0,c=3): K=2, S=4 → dev=-2,+2
    from mapnik_vector_tile_spark.operators.geostats import (
        local_spatial_stats,
    )

    df = spark.createDataFrame(
        [(0, 0, 1), (1, 0, 3)], "cx long, cy long, c long"
    )
    d = {(r["cx"], r["cy"]): r for r in local_spatial_stats(df).collect()}
    a, b = d[(0, 0)], d[(1, 0)]
    assert (a["dev"], b["dev"]) == (-2, 2)
    assert a["nn"] == 2 and b["nn"] == 2
    assert a["gi_num"] == 4 and b["gi_num"] == 4
    assert a["lag"] == 2 and b["lag"] == -2
    assert a["li_num"] == -4 and b["li_num"] == -4


def test_local_stats_isolated_cell(spark):
    from mapnik_vector_tile_spark.operators.geostats import (
        local_spatial_stats,
    )

    df = spark.createDataFrame(
        [(0, 0, 5), (10, 10, 7)], "cx long, cy long, c long"
    )
    d = {(r["cx"], r["cy"]): r for r in local_spatial_stats(df).collect()}
    r = d[(0, 0)]
    assert (r["nn"], r["gi_num"], r["lag"], r["li_num"]) == (1, 5, 0, 0)


def test_geofence_transitions(spark):
    from datetime import datetime

    from mapnik_vector_tile_spark.operators.geostats import (
        geofence_transitions,
    )

    t = datetime(2024, 1, 1)
    rows = [
        # user 1: out -> in -> in -> out  => enter@2, exit@4
        (1, 1, t, 0, 0), (1, 2, t, 5, 5), (1, 3, t, 6, 6), (1, 4, t, 9, 9),
        # user 2: starts inside => enter@1 only
        (2, 1, t, 4, 4),
        # user 3: never inside => nothing
        (3, 1, t, 8, 4),  # cx=8 is OUTSIDE the half-open [4,8)
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, cx long, cy long"
    )
    out = geofence_transitions(df, 4, 4, 8, 8).collect()
    got = {(r["user_id"], r["event_id"]): r["kind"] for r in out}
    assert got == {(1, 2): "enter", (1, 4): "exit", (2, 1): "enter"}


def test_segment_intersect_cases(spark):
    from mapnik_vector_tile_spark.operators.joins import (
        segment_intersect_join,
    )

    segs = [
        (1, 0, 0, 10, 10),   # diagonal
        (2, 0, 10, 10, 0),   # crosses 1 properly at (5,5)
        (3, 10, 10, 20, 10), # touches 1 at endpoint (10,10)
        (4, 0, 20, 10, 20),  # disjoint from all
        (5, 2, 2, 6, 6),     # collinear overlap with 1
        (6, 40, 0, 50, 0),
        (7, 45, 0, 55, 0),   # collinear overlap with 6 on x-axis
        (8, 56, 0, 60, 0),   # collinear with 6/7, DISJOINT ranges
    ]
    df = spark.createDataFrame(
        segs, "sid long, ax long, ay long, bx long, by long"
    )
    out = {
        (r["sid_a"], r["sid_b"]): r["proper"]
        for r in segment_intersect_join(df).collect()
    }
    assert out[(1, 2)] == 1          # proper crossing
    assert out[(1, 3)] == 0          # endpoint touch
    assert out[(1, 5)] == 0          # collinear overlap
    assert out[(6, 7)] == 0          # collinear overlap
    assert (1, 4) not in out and (7, 8) not in out and (6, 8) not in out
    assert (2, 3) not in out


def test_grid_dbscan_roles(spark):
    from mapnik_vector_tile_spark.operators.geostats import grid_dbscan

    M = 1 << 21
    cells = [
        # core blob: two adjacent dense cells
        (10, 10, 9), (11, 10, 9),
        # border: occupied, sparse, touches core diagonally
        (9, 9, 1),
        # noise: occupied, sparse, isolated
        (50, 50, 2),
        # second isolated core cell -> its own cluster
        (30, 30, 7),
    ]
    df = spark.createDataFrame(cells, "cx long, cy long, c long")
    out = {(r["cx"], r["cy"]): r for r in grid_dbscan(df, 4).collect()}
    rep_main = 10 * M + 10
    assert out[(10, 10)]["role"] == 2 and out[(10, 10)]["rep"] == rep_main
    assert out[(11, 10)]["role"] == 2 and out[(11, 10)]["rep"] == rep_main
    assert out[(9, 9)]["role"] == 1 and out[(9, 9)]["rep"] == rep_main
    assert out[(50, 50)]["role"] == 0 and out[(50, 50)]["rep"] == -1
    assert out[(30, 30)]["role"] == 2 and out[(30, 30)]["rep"] == 30 * M + 30
    assert len(out) == 5


def test_cotravel_distinct_and_threshold(spark):
    from mapnik_vector_tile_spark.operators.geostats import cotravel_pairs

    rows = [
        # users 1,2 co-occur in 3 distinct buckets -> pair (1,2,3)
        (1, 100, 0, 0), (2, 100, 0, 0),
        (1, 101, 1, 1), (2, 101, 1, 1),
        (1, 102, 2, 2), (2, 102, 2, 2),
        # duplicate visit rows must NOT inflate the count
        (1, 100, 0, 0), (2, 100, 0, 0),
        # users 1,3 co-occur only twice -> below threshold
        (3, 100, 0, 0), (3, 101, 1, 1),
    ]
    df = spark.createDataFrame(rows, "user_id long, tb long, cx long, cy long")
    out = {(r["ua"], r["ub"]): r["n_co"] for r in cotravel_pairs(df, 3).collect()}
    assert out == {(1, 2): 3}


def test_cotravel_hot_bucket_exclusion(spark):
    """Crowded buckets (> hot_bucket_limit occupants) are excluded
    from pair generation; genuine co-travel in small buckets still
    accrues, and limit=None restores the uncapped join."""
    from mapnik_vector_tile_spark.operators.geostats import cotravel_pairs

    rows = []
    # stadium bucket: 5 users in (tb=0, cell 0,0)
    for u in range(1, 6):
        rows.append((u, 0, 0, 0))
    # users 1,2 also co-occur in 2 small buckets
    rows += [(1, 1, 1, 1), (2, 1, 1, 1), (1, 2, 2, 2), (2, 2, 2, 2)]
    df = spark.createDataFrame(rows, "user_id long, tb long, cx long, cy long")
    capped = {
        (r["ua"], r["ub"]): r["n_co"]
        for r in cotravel_pairs(df, 2, hot_bucket_limit=4).collect()
    }
    # the stadium visit does not count -> (1,2) has only 2 co-visits
    assert capped == {(1, 2): 2}
    uncapped = {
        (r["ua"], r["ub"]): r["n_co"]
        for r in cotravel_pairs(df, 1, hot_bucket_limit=None).collect()
    }
    assert uncapped[(1, 2)] == 3  # stadium counts again
    assert uncapped[(3, 4)] == 1  # stadium-only pairs reappear
    assert len(uncapped) == 10  # C(5,2) stadium clique


def test_voronoi_assign_labels_and_border(spark):
    from mapnik_vector_tile_spark.operators.geostats import voronoi_assign

    # seeds at x=0 and x=10 on y=0; cells along the segment between
    # them plus one isolated cell equidistant from both (tie -> min id)
    cells = [(x, 0) for x in range(11)] + [(5, 7)]
    seeds = [(1, 0, 0), (2, 10, 0)]
    cdf = spark.createDataFrame(cells, "cx long, cy long")
    sdf = spark.createDataFrame(seeds, "seed_id long, sx long, sy long")
    out = {(r["cx"], r["cy"]): r for r in voronoi_assign(cdf, sdf).collect()}
    assert len(out) == 12
    # x<=5 -> seed 1 (x=5 is the tie, breaks to smaller id), x>=6 -> 2
    for x in range(11):
        want = 1 if x <= 5 else 2
        assert out[(x, 0)]["seed_id"] == want, (x, out[(x, 0)])
    assert out[(5, 0)]["d2"] == 25
    # boundary: exactly the handover cells x=5 (right nbr differs) and
    # x=6 (left nbr differs); everything else interior
    assert out[(5, 0)]["n_diff"] == 1
    assert out[(6, 0)]["n_diff"] == 1
    assert all(
        r["n_diff"] == 0
        for (x, y), r in out.items()
        if (x, y) not in ((5, 0), (6, 0))
    )
    # isolated tie cell: d2 = 5^2+7^2 = 74 from both, label 1, no nbrs
    assert out[(5, 7)]["seed_id"] == 1 and out[(5, 7)]["d2"] == 74
    assert out[(5, 7)]["n_diff"] == 0


def test_assemble_ways_gaps_and_order(spark):
    from mapnik_vector_tile_spark.operators.joins import assemble_ways

    nodes = spark.createDataFrame(
        [(1, 0, 0), (2, 3, 4), (3, 3, 10)], "node_id long, x long, y long"
    )
    ways = spark.createDataFrame(
        [
            (10, [1, 2, 3]),       # fully resolved chain
            (11, [1, 99, 3]),      # middle ref missing -> no segments
            (12, [2]),             # single ref
        ],
        "way_id long, refs array<long>",
    )
    out = {r["way_id"]: r for r in assemble_ways(ways, nodes).collect()}
    w = out[10]
    assert (w["n_refs"], w["n_missing"]) == (3, 0)
    assert w["mlen"] == (3 + 4) + (0 + 6)
    assert w["vhash"] == 1 * (0) + 2 * (3 * 8191 + 4) + 3 * (3 * 8191 + 10)
    g = out[11]
    assert (g["n_refs"], g["n_missing"], g["mlen"]) == (3, 1, 0)
    assert g["vhash"] == 1 * 0 + 3 * (3 * 8191 + 10)
    s = out[12]
    assert (s["n_refs"], s["n_missing"], s["mlen"]) == (1, 0, 0)


def test_od_flows_legs_and_dedup(spark):
    from mapnik_vector_tile_spark.operators.geostats import od_flows

    rows = [
        # user 1: A(0,0)@0 -> B(1,0)@100 -> B(1,0)@150 -> A(0,0)@200
        (1, 0, 1, 0, 0),
        (1, 100, 2, 1, 0),
        (1, 150, 3, 1, 0),   # same cell: not a trip
        (1, 200, 4, 0, 0),
        # user 2: A -> B once
        (2, 10, 5, 0, 0),
        (2, 40, 6, 1, 0),
        # tie on t broken by eid: 7 then 8
        (3, 5, 7, 0, 0),
        (3, 5, 8, 1, 0),
    ]
    df = spark.createDataFrame(rows, "user_id long, t long, eid long, cx long, cy long")
    out = {
        (r["ocx"], r["ocy"], r["dcx"], r["dcy"]): r
        for r in od_flows(df).collect()
    }
    ab = out[(0, 0, 1, 0)]
    assert ab["n_trips"] == 3 and ab["n_users"] == 3
    assert ab["sum_dur"] == 100 + 30 + 0
    ba = out[(1, 0, 0, 0)]
    assert ba["n_trips"] == 1 and ba["sum_dur"] == 50 and ba["n_users"] == 1
    assert len(out) == 2


def test_erosion_depth_square_island(spark):
    from mapnik_vector_tile_spark.operators.geostats import erosion_depth

    # 5x5 solid square: depths are Chebyshev distance to outside:
    # ring 1 (16 cells), ring 2 (8 cells), center 3 (1 cell)
    cells = [(x, y) for x in range(5) for y in range(5)]
    df = spark.createDataFrame(cells, "cx long, cy long")
    out = {r["d"]: r for r in erosion_depth(df, rounds=4).collect()}
    assert out[1]["n_cells"] == 16
    assert out[2]["n_cells"] == 8
    assert out[3]["n_cells"] == 1
    # the pole is the center, lexicomin at its depth
    assert (out[3]["px"], out[3]["py"]) == (2, 2)
    # hop-bounding: rounds=1 caps depth at 2
    capped = {r["d"]: r["n_cells"] for r in erosion_depth(df, rounds=1).collect()}
    assert capped == {1: 16, 2: 9}


def test_gini_concentration_extremes(spark):
    from mapnik_vector_tile_spark.operators.geostats import (
        gini_concentration,
    )

    # perfectly equal counts -> G = 0
    eq = spark.createDataFrame(
        [(i, 0, 10) for i in range(4)], "cx long, cy long, c long"
    )
    out = gini_concentration(eq).collect()[0]
    assert out["num"] == 0 and out["gini_dbl"] == 0.0
    # all mass on one cell of n=4: G = (n-1)/n = 3/4
    conc = spark.createDataFrame(
        [(0, 0, 100), (1, 0, 0), (2, 0, 0), (3, 0, 0)],
        "cx long, cy long, c long",
    )
    o2 = gini_concentration(conc).collect()[0]
    assert o2["num"] * 4 == 3 * o2["den"] // 1 * 1  # num/den == 3/4
    assert o2["num"] == 300 and o2["den"] == 400


def test_hourly_profiles_peak_and_ties(spark):
    from mapnik_vector_tile_spark.operators.geostats import hourly_profiles

    H = 3600
    rows = [
        # cell (0,0): hour 5 twice, hour 9 twice -> tie, earlier wins
        (0, 0, 5 * H), (0, 0, 5 * H + 10), (0, 0, 9 * H), (0, 0, 9 * H + 1),
        # cell (1,1): hour-of-week wraps (t = 168h + 3h -> how 3)
        (1, 1, (168 + 3) * H), (1, 1, 3 * H),
    ]
    df = spark.createDataFrame(rows, "cx long, cy long, t long")
    out = {(r["cx"], r["cy"]): r for r in hourly_profiles(df).collect()}
    a = out[(0, 0)]
    assert (a["n_events"], a["n_hours"]) == (4, 2)
    assert (a["peak_how"], a["peak_n"]) == (5, 2)
    assert a["phash"] == 6 * 2 + 10 * 2
    b = out[(1, 1)]
    assert (b["n_hours"], b["peak_how"], b["peak_n"]) == (1, 3, 2)


def test_knox_ingredients_counts(spark):
    from mapnik_vector_tile_spark.operators.geostats import knox_ingredients

    # 4 events: two in the same cell 10s apart (space+time close),
    # one same-cell but 2h later (space only), one far cell 5s from
    # the first (time only)
    rows = [
        (0, 0, 1000, 1),
        (0, 0, 1010, 2),
        (0, 0, 9000, 3),
        (9, 9, 1005, 4),
    ]
    df = spark.createDataFrame(rows, "cx long, cy long, t long, eid long")
    out = knox_ingredients(df, tau_s=3600).collect()[0]
    assert out["n_events"] == 4 and out["n_pairs"] == 6
    assert out["n_s"] == 3          # C(3,2) same-cell pairs
    # time-close pairs: (1,2), (1,4), (2,4) within 1h; 9000 is within
    # 3600 of nothing... 9000-1010=7990 > 3600 -> 3 pairs
    assert out["n_t"] == 3
    assert out["n_st"] == 1         # only (1,2)


def test_mobility_profiles_gyration_and_home(spark):
    from mapnik_vector_tile_spark.operators.geostats import mobility_profiles

    H = 3600
    rows = [
        # user 1: day pings at (0,0) and (4,0); night pings at (2,2)
        (1, 12 * H, 0, 0),
        (1, 13 * H, 4, 0),
        (1, 2 * H, 2, 2),
        (1, 3 * H, 2, 2),
        # user 2: one day ping only -> home (-1,-1), rog 0
        (2, 12 * H, 7, 7),
    ]
    df = spark.createDataFrame(rows, "user_id long, t long, cx long, cy long")
    out = {r["user_id"]: r for r in mobility_profiles(df).collect()}
    u1 = out[1]
    assert (u1["n_pings"], u1["n_cells"]) == (4, 3)
    assert (u1["hx"], u1["hy"]) == (2, 2)
    # rog_num = n*S2 - sx^2 - sy^2 with sx=8, sy=4, S2 = 0+16+8+8
    assert u1["rog_num"] == 4 * 32 - 64 - 16
    u2 = out[2]
    assert (u2["hx"], u2["hy"]) == (-1, -1)
    assert u2["rog_num"] == 0 and u2["rog_dbl"] == 0.0


def test_occupancy_runs_islands(spark):
    from mapnik_vector_tile_spark.operators.geostats import occupancy_runs

    # row 0: cells 1,2,3, 7, 9,10 -> runs (1,3), (7,1), (9,2)
    cells = [(1, 0), (2, 0), (3, 0), (7, 0), (9, 0), (10, 0), (5, 1)]
    df = spark.createDataFrame(cells, "cx long, cy long")
    out = {r["cy"]: r for r in occupancy_runs(df).collect()}
    a = out[0]
    assert (a["n_cells"], a["n_runs"], a["max_run"]) == (6, 3, 3)
    assert a["rhash"] == 2 * 3 + 8 * 1 + 10 * 2
    assert (out[1]["n_runs"], out[1]["max_run"]) == (1, 1)


def test_cell_anomalies_flag_rules(spark):
    from mapnik_vector_tile_spark.operators.geostats import cell_anomalies

    W = 7 * 24 * 3600
    rows = (
        # cell (0,0): baseline weeks 0-3 one event each; week 4: 3
        # events -> 3*4*100 > 200*4 -> flagged
        [(0, 0, w * W + 100) for w in range(4)]
        + [(0, 0, 4 * W + i) for i in range(3)]
        # cell (1,1): steady 1/week incl. week 4 -> not flagged
        + [(1, 1, w * W + 50) for w in range(5)]
        # cell (2,2): NO baseline, appears week 4 -> flagged (new)
        + [(2, 2, 4 * W + 9)]
    )
    df = spark.createDataFrame(rows, "cx long, cy long, t long")
    out = {(r["cx"], r["cy"]): r for r in cell_anomalies(df, 4).collect()}
    a = out[(0, 0)]
    assert (a["n_obs"], a["sum_base"], a["n_base_weeks"], a["flag"]) == (
        3, 4, 4, 1
    )
    assert out[(1, 1)]["flag"] == 0
    n = out[(2, 2)]
    assert (n["n_base_weeks"], n["flag"]) == (0, 1)


def test_coverage_knees_exact(spark):
    from mapnik_vector_tile_spark.operators.geostats import coverage_knees

    # counts 50, 30, 20 (total 100): 10%..50% at 1 tile, 60-80% at 2,
    # 90-100% at 3
    cells = [(0, 0, 50), (1, 0, 30), (2, 0, 20)]
    df = spark.createDataFrame(cells, "cx long, cy long, c long")
    out = {r["k"]: r for r in coverage_knees(df).collect()}
    for k in range(1, 6):
        assert out[k]["n_tiles"] == 1 and out[k]["cum"] == 50
    for k in (6, 7, 8):
        assert out[k]["n_tiles"] == 2 and out[k]["cum"] == 80
    for k in (9, 10):
        assert out[k]["n_tiles"] == 3 and out[k]["cum"] == 100


def test_return_rates_classification(spark):
    from mapnik_vector_tile_spark.operators.geostats import return_rates

    D = 86400
    rows = [
        # user 1 visits cell (0,0) on two days -> return
        (1, 0, 0, 0), (1, D + 5, 0, 0),
        # user 2 visits twice the SAME day -> not a return visitor
        (2, 10, 0, 0), (2, 20, 0, 0),
        # user 3 once
        (3, 2 * D, 0, 0),
    ]
    df = spark.createDataFrame(rows, "user_id long, t long, cx long, cy long")
    out = return_rates(df).collect()[0]
    assert (out["n_visits"], out["n_users"]) == (5, 3)
    assert out["n_return"] == 1
    assert out["n_days"] == 3


def test_tile_churn_statuses(spark):
    from mapnik_vector_tile_spark.operators.geostats import tile_churn

    W = 7 * 24 * 3600
    rows = [
        (0, 0, 0 * W),            # week 0 only -> lost (vs week 1)
        (1, 1, 0 * W), (1, 1, 1 * W + 5),  # both -> stable
        (2, 2, 1 * W + 9),        # week 1 only -> gained
    ]
    df = spark.createDataFrame(rows, "cx long, cy long, t long")
    out = {r["status"]: r for r in tile_churn(df, 0, 1).collect()}
    assert out["lost"]["n_cells"] == 1 and out["lost"]["whash"] == 0
    assert out["stable"]["n_cells"] == 1 and out["stable"]["whash"] == 8192
    assert out["gained"]["n_cells"] == 1 and out["gained"]["whash"] == 2 * 8191 + 2
