"""EP1 end-to-end: images -> features -> covering tiles -> encoded
layers -> folded tiles -> decode (EP2) with parity invariants:
tile-assignment parity, caption equality through the whole pipeline,
quantized coords within the buffered extent (north_star contract)."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from mapnik_vector_tile_spark.functions import geomcodec as gc
from mapnik_vector_tile_spark.functions import tilemath as tm
from mapnik_vector_tile_spark.operators import tiling as T
from mapnik_vector_tile_spark.sources import synth

N_IMAGES = 120
Z_MIN, Z_MAX = 0, 8


@pytest.fixture(scope="module")
def tiles_and_features(spark):
    images = synth.images_df(spark, N_IMAGES, with_bytes=False, slices=4)
    feats = T.images_to_features(images)
    assigned = T.assign_tiles(feats, Z_MIN, Z_MAX)
    layers = T.encode_layers(assigned, n_salts=4)
    tiles = T.fold_tiles(layers).cache()
    decoded = T.decode_tiles_to_features(tiles).cache()
    return tiles.toPandas(), decoded.toPandas()


def test_tile_assignment_parity(tiles_and_features):
    """Every z in range present; point features land in the tile A.2
    math predicts (checked independently of the pipeline)."""
    tiles, decoded = tiles_and_features
    assert set(tiles["z"].unique()) == set(range(Z_MIN, Z_MAX + 1))
    i = np.arange(N_IMAGES, dtype=np.int64)
    ph = synth.phash_for_index(i)
    lon, lat, _ = synth.footprint_from_phash(ph, i)
    mx, my = tm.lonlat_to_merc_np(lon, lat)
    for z in (0, 4, Z_MAX):
        tx, ty = tm.point_tile_np(mx, my, z)
        got = decoded[
            (decoded.z == z) & (decoded.geom_type == gc.GEOM_POINT)
        ]
        # each point feature_id 2i must appear in tile (tx[i], ty[i])
        # (it may ALSO appear in buffer zones of neighbors)
        by_fid = got.groupby("feature_id")
        for k in range(N_IMAGES):
            fid = 2 * k
            assert fid in by_fid.groups, f"point {fid} missing at z{z}"
            rows = by_fid.get_group(fid)
            assert ((rows.x == tx[k]) & (rows.y == ty[k])).any()


def test_caption_equality_through_pipeline(tiles_and_features):
    _, decoded = tiles_and_features
    images = synth.gen_images_pdf(N_IMAGES, with_bytes=False)
    cap = dict(zip((np.arange(N_IMAGES) * 2).tolist(), images["caption"]))
    cap.update(dict(zip((np.arange(N_IMAGES) * 2 + 1).tolist(), images["caption"])))
    assert len(decoded) > 0
    for fid, c in zip(decoded.feature_id, decoded.caption):
        assert cap[int(fid)] == c


def test_coords_within_buffered_extent(tiles_and_features):
    _, decoded = tiles_and_features
    lo = -tm.DEFAULT_BUFFER
    hi = tm.DEFAULT_EXTENT + tm.DEFAULT_BUFFER
    for pxs, pys in zip(decoded.pxs, decoded.pys):
        assert min(pxs) >= lo and max(pxs) <= hi
        assert min(pys) >= lo and max(pys) <= hi


def test_polygon_winding_valid(tiles_and_features):
    _, decoded = tiles_and_features
    polys = decoded[decoded.geom_type == gc.GEOM_POLYGON]
    assert len(polys) > 0
    n_checked = 0
    for pxs, pys, offs in zip(polys.pxs, polys.pys, polys.part_offsets):
        xs = np.array(pxs, dtype=np.int64)
        ys = np.array(pys, dtype=np.int64)
        offs = np.array(offs, dtype=np.int64)
        # first ring of each feature must be exterior (positive)
        a2 = gc.signed_area2(xs[offs[0] : offs[1]], ys[offs[0] : offs[1]])
        assert a2 > 0
        n_checked += 1
    assert n_checked > 0


def test_salted_low_z_equals_unsalted(spark):
    """Two-phase salted encode must produce byte-identical tiles to the
    unsalted path (dictionary re-map correctness)."""
    images = synth.images_df(spark, 40, with_bytes=False, slices=2)
    feats = T.images_to_features(images)
    assigned = T.assign_tiles(feats, 0, 3)
    t_salted = (
        T.fold_tiles(T.encode_layers(assigned, n_salts=8)).toPandas()
        .sort_values(["z", "x", "y"]).reset_index(drop=True)
    )
    t_plain = (
        T.fold_tiles(T.encode_layers(assigned, n_salts=1)).toPandas()
        .sort_values(["z", "x", "y"]).reset_index(drop=True)
    )
    assert len(t_salted) == len(t_plain)
    for a, b in zip(t_salted.itertuples(), t_plain.itertuples()):
        assert (a.z, a.x, a.y) == (b.z, b.x, b.y)
        assert a.n_features == b.n_features
        assert bytes(a.tile) == bytes(b.tile), f"tile {a.z}/{a.x}/{a.y} differs"


SALTED_REF_RANGES = ((0, 3), (0, 7), (6, 8))


def _salted_reference(feats, z0, z1):
    """The two-phase reference: 8-way salted partials at z <= SALT_MAX_Z,
    splice-merged, then folded."""
    return T.fold_tiles(
        T.encode_layers(T.assign_tiles(feats, z0, z1), n_salts=8)
    )


def _assert_same_tiles(got, ref, label):
    got = got.toPandas().sort_values(["z", "x", "y"]).reset_index(drop=True)
    ref = ref.toPandas().sort_values(["z", "x", "y"]).reset_index(drop=True)
    assert len(got) == len(ref) > 0, label
    for a, b in zip(got.itertuples(), ref.itertuples()):
        assert (a.z, a.x, a.y) == (b.z, b.x, b.y), label
        assert (a.n_layers, a.n_features) == (b.n_layers, b.n_features)
        assert bytes(a.tile) == bytes(b.tile), (label, a.z, a.x, a.y)


def test_fused_encode_tiles_byte_identical(spark):
    """encode_tiles (one unsalted encode exchange that finishes every
    tile inline) must be byte-identical to the salted two-stage
    fold_tiles(encode_layers(..., n_salts=8)) path, over ranges inside,
    across and above the salted zooms."""
    images = synth.images_df(spark, 50, with_bytes=False, slices=2)
    feats = T.images_to_features(images)
    for z0, z1 in SALTED_REF_RANGES:
        _assert_same_tiles(
            T.encode_tiles(T.assign_tiles(feats, z0, z1)),
            _salted_reference(feats, z0, z1),
            (z0, z1),
        )


def test_encode_tiles_from_features_byte_identical(spark):
    """encode_tiles_from_features (features assigned once, one encode
    exchange) must be byte-identical to the salted two-stage reference
    over the same ranges."""
    images = synth.images_df(spark, 50, with_bytes=False, slices=2)
    feats = T.images_to_features(images)
    for z0, z1 in SALTED_REF_RANGES:
        _assert_same_tiles(
            T.encode_tiles_from_features(feats, z0, z1),
            _salted_reference(feats, z0, z1),
            (z0, z1),
        )


def test_encode_tiles_from_features_adaptive_salt(spark):
    """Adaptive salting can split hot groups at ANY zoom, so the
    inline finish (emit_tiles=True) must NOT be taken: each salted
    partial would be emitted as a finished tile — duplicate (z,x,y)
    rows.  Adaptive mode must route the whole range through
    merge+fold and stay byte-identical to encode_tiles."""
    images = synth.images_df(spark, 120, with_bytes=False, slices=2)
    feats = T.images_to_features(images)
    new = (
        T.encode_tiles_from_features(feats, 0, 7, adaptive_salt_target=5)
        .toPandas().sort_values(["z", "x", "y"]).reset_index(drop=True)
    )
    # no duplicate tile keys (the bug symptom)
    keys = list(map(tuple, new[["z", "x", "y"]].values))
    assert len(keys) == len(set(keys))
    ref = (
        T.encode_tiles(T.assign_tiles(feats, 0, 7), adaptive_salt_target=5)
        .toPandas().sort_values(["z", "x", "y"]).reset_index(drop=True)
    )
    assert len(ref) == len(new) > 0
    for a, b in zip(ref.itertuples(), new.itertuples()):
        assert (a.z, a.x, a.y) == (b.z, b.x, b.y)
        assert bytes(a.tile) == bytes(b.tile), (a.z, a.x, a.y)


def test_decode_bbox_prefilter(spark):
    """S2 decode-scan bbox: tile-id pruning before decode equals full
    decode + post-filter on tile intersection."""
    images = synth.images_df(spark, 80, with_bytes=False, slices=2)
    feats = T.images_to_features(images)
    tiles = T.fold_tiles(T.encode_layers(T.assign_tiles(feats, 3, 6))).cache()
    bbox = (-tm.W, 0.0, 0.0, tm.W)  # NW world quadrant
    pruned = T.decode_tiles_to_features(tiles, bbox=bbox).toPandas()
    full = T.decode_tiles_to_features(tiles).toPandas()
    # oracle: tiles whose merc extent intersects bbox
    keep = []
    for r in full.itertuples():
        span = 2 * tm.W / (1 << r.z)
        minx = -tm.W + r.x * span
        maxy = tm.W - r.y * span
        keep.append(
            minx <= bbox[2] and minx + span >= bbox[0]
            and maxy - span <= bbox[3] and maxy >= bbox[1]
        )
    expect = full[np.array(keep)]
    assert len(pruned) == len(expect)
    assert set(map(tuple, pruned[["z", "x", "y", "feature_id"]].values)) == set(
        map(tuple, expect[["z", "x", "y", "feature_id"]].values)
    )


def test_decode_drops_tile_the_general_decoder_rejects(spark):
    """A tile the general decoder rejects (a non-UTF-8 layer name, which
    the batched path demotes to it) yields no rows, and the clean tile
    in the same Arrow batch still decodes."""
    from mapnik_vector_tile_spark.functions import pbf

    lb = pbf.LayerBuilder("pts-ř")
    for fid in (1, 2, 3):
        stream = gc.encode_geometry(
            gc.GEOM_POINT, np.array([fid * 5]), np.array([7]),
            np.array([0, 1]),
        )
        lb.add_feature(fid, gc.GEOM_POINT, stream, {"caption": f"c{fid}"})
    clean = pbf.layer_to_tile(lb.build())
    corrupt = clean.replace(b"pts-\xc5\x99", b"pts-\xff\x99")
    tiles = spark.createDataFrame(
        [(3, 1, 2, clean), (3, 1, 3, corrupt)],
        "z int, x long, y long, tile binary",
    ).coalesce(1)
    got = T.decode_tiles_to_features(tiles).toPandas()
    assert got["y"].tolist() == [2, 2, 2]
    assert sorted(got["feature_id"]) == [1, 2, 3]
    assert set(got["layer"]) == {"pts-ř"}


def test_decode_feature_without_id(spark):
    """MVT 2.1 makes Feature.id optional: a tile with an id-less feature
    decodes it with a null feature_id, beside a clean tile of the same
    Arrow batch, and the other ids stay exact beyond 2^53."""
    from mapnik_vector_tile_spark.functions import pbf

    def tile(fids):
        lb = pbf.LayerBuilder("pts")
        for i, fid in enumerate(fids):
            stream = gc.encode_geometry(
                gc.GEOM_POINT, np.array([5 + i]), np.array([7]),
                np.array([0, 1]),
            )
            lb.add_feature(fid, gc.GEOM_POINT, stream, {"caption": f"c{i}"})
        return pbf.layer_to_tile(lb.build())

    tiles = spark.createDataFrame(
        [(3, 1, 2, tile([1, 2])), (3, 1, 3, tile([None, 2**60 + 1]))],
        "z int, x long, y long, tile binary",
    ).coalesce(1)
    got = sorted(
        (r["y"], r["caption"], r["feature_id"])
        for r in T.decode_tiles_to_features(tiles).collect()
    )
    assert got == [
        (2, "c0", 1), (2, "c1", 2), (3, "c0", None), (3, "c1", 2**60 + 1),
    ]


def test_adaptive_salt_equals_unsalted(spark):
    """Adaptive cell splitting (density-driven salt counts) must also
    reproduce byte-identical tiles — same splice-merge invariant as the
    fixed-salt path, plus: hot tiles actually split."""
    images = synth.images_df(spark, 300, with_bytes=False, slices=4)
    feats = T.images_to_features(images)
    assigned = T.assign_tiles(feats, 0, 4)
    t_adaptive = (
        T.fold_tiles(
            T.encode_layers(assigned, adaptive_salt_target=50)
        )
        .toPandas()
        .sort_values(["z", "x", "y"])
        .reset_index(drop=True)
    )
    t_plain = (
        T.fold_tiles(T.encode_layers(assigned, n_salts=1))
        .toPandas()
        .sort_values(["z", "x", "y"])
        .reset_index(drop=True)
    )
    assert len(t_adaptive) == len(t_plain)
    for a, b in zip(t_adaptive.itertuples(), t_plain.itertuples()):
        assert (a.z, a.x, a.y) == (b.z, b.x, b.y)
        assert bytes(a.tile) == bytes(b.tile)
    # the z0 tile (600 features > target 50) must have been salted:
    salted = T.with_adaptive_salt(assigned, target_group_rows=50)
    z0_salts = (
        salted.filter("z = 0").select("salt").distinct().count()
    )
    assert z0_salts > 1


def test_pack_coords_roundtrip():
    """_pack_coords/_unpack_coords: exact float64/int64 round trip for
    arbitrary part shapes (the shuffle wire format for multi-vertex
    geometry)."""
    import numpy as np

    from mapnik_vector_tile_spark.operators.tiling import (
        _pack_coords,
        _unpack_coords,
    )

    rng = np.random.default_rng(3)
    for n, m in [(1, 2), (4, 2), (23, 4), (1000, 11)]:
        xs = rng.uniform(-2e7, 2e7, n)
        ys = rng.uniform(-2e7, 2e7, n)
        offs = np.sort(rng.integers(0, n + 1, m))
        bx, by, bo = _unpack_coords(_pack_coords(xs, ys, offs))
        assert (bx == xs).all() and (by == ys).all() and (bo == offs).all()


def test_area_threshold_drops_small_rings(spark):
    """Reference processor option area_threshold (tile-unit ring area,
    src/vector_tile_geometry_clipper.hpp): a tiny interior ring is
    dropped at threshold>area while the exterior survives; threshold=0
    keeps both."""
    z = 2
    span = tm.tile_span(z)
    minx = -tm.W + 1 * span
    maxy = tm.W - 1 * span
    bx = minx + span * 0.25
    by = maxy - span * 0.75
    big_x = [bx, bx + span * 0.5, bx + span * 0.5, bx, bx]
    big_y = [by, by, by + span * 0.5, by + span * 0.5, by]
    tiny = span * 2 / 4096  # ~2 tile units => area ~4 units^2
    tx0, ty0 = bx + span * 0.1, by + span * 0.1
    tiny_x = [tx0, tx0 + tiny, tx0 + tiny, tx0, tx0]
    tiny_y = [ty0, ty0, ty0 + tiny, ty0 + tiny, ty0]
    feats = spark.createDataFrame(
        [(1, gc.GEOM_POLYGON, big_x + tiny_x, big_y + tiny_y, [0, 5, 10], "c")],
        "feature_id long, geom_type int, xs array<double>, "
        "ys array<double>, part_offsets array<long>, caption string",
    )
    assigned = T.assign_tiles(feats, z, z, buffer_units=0)
    rings = {}
    for thr in (0.0, 25.0):
        dec = T.decode_tiles_to_features(
            T.encode_tiles(assigned, area_threshold=thr)
        ).toPandas()
        assert len(dec) == 1
        rings[thr] = len(dec.part_offsets.iloc[0]) - 1
    assert rings[0.0] == 2
    assert rings[25.0] == 1


def test_zoom_thin_nested_and_kernel_parity(spark):
    """P6 thinning: the in-kernel mask equals the standalone post-
    filter row-for-row, kept sets are NESTED across zooms, and the
    keep rate tracks (den/num)^k."""
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.plans.flagship import derive_points
    from tests.conftest import SF_DIR

    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    pts = derive_points(orders, "o_orderkey")
    feats = pts.select(
        F.col("id").alias("feature_id"),
        F.lit(1).alias("geom_type"),
        F.array("mx").alias("xs"),
        F.array("my").alias("ys"),
        F.array(F.lit(0), F.lit(1)).alias("part_offsets"),
        F.lit("c").alias("caption"),
    )
    base_z = 8
    kern = T.assign_tiles(feats, 0, base_z, buffer_units=0,
                          thin_base_z=base_z)
    post = T.zoom_thin(
        T.assign_tiles(feats, 0, base_z, buffer_units=0), base_z
    )
    a = sorted(
        (r.z, r.feature_id, r.x, r.y)
        for r in kern.select("z", "feature_id", "x", "y").collect()
    )
    b = sorted(
        (r.z, r.feature_id, r.x, r.y)
        for r in post.select("z", "feature_id", "x", "y").collect()
    )
    assert a == b and len(a) > 0
    by_z = {}
    for z, fid, _, _ in a:
        by_z.setdefault(z, set()).add(fid)
    n_all = len(by_z[base_z])
    for z in range(base_z):
        assert by_z[z] <= by_z[z + 1], f"kept set not nested at z{z}"
        k = base_z - z
        expect = n_all * (2 / 5) ** k
        assert abs(len(by_z[z]) - expect) < max(6 * expect**0.5, 8), (
            z, len(by_z[z]), expect,
        )


def test_thin_thresholds_contract():
    import pytest

    from mapnik_vector_tile_spark.operators.tiling import thin_thresholds

    thr = thin_thresholds(10, 0)
    assert thr[10] == 1 << 53  # base zoom keeps everything
    assert all(thr[z] < thr[z + 1] for z in range(10))  # monotone
    assert thr[9] == ((1 << 53) * 2) // 5
    with pytest.raises(ValueError):
        thin_thresholds(10, 0, rate_num=2, rate_den=2)


def test_zoom_thin_spares_non_points(spark):
    """Thinning is POINT-only (tippecanoe --drop-rate semantics):
    polygons/lines must survive every zoom in both the in-kernel and
    the post-filter paths."""
    from pyspark.sql import functions as F

    rows = []
    for i in range(40):
        x0 = -10_000_000.0 + i * 300_000.0
        rows.append(
            (i, gc.GEOM_POLYGON,
             [x0, x0 + 9000.0, x0 + 9000.0, x0, x0],
             [0.0, 0.0, 9000.0, 9000.0, 0.0], [0, 5], "pg")
        )
    feats = spark.createDataFrame(rows, T.FEATURES_SCHEMA)
    kern = T.assign_tiles(feats, 0, 6, buffer_units=0, thin_base_z=6)
    per_z = {
        r["z"]: r["n"]
        for r in kern.groupBy("z")
        .agg(F.countDistinct("feature_id").alias("n"))
        .collect()
    }
    # every polygon present at every zoom (may cover >1 tile when it
    # straddles a boundary — count FEATURES, not rows)
    assert all(per_z[z] == 40 for z in range(7)), per_z
    post = T.zoom_thin(T.assign_tiles(feats, 0, 6, buffer_units=0), 6)
    assert post.count() == kern.count()


def test_utfgrid_codepoint_and_row_hash(spark):
    """Hand-computed UTFGrid pin: two points in tile (0,0) row 0 at
    cells cx=0 (id 20) and cx=1 (id 10). Ascending-id keys give
    ki(10)=1 -> cp 33, ki(20)=2 -> cp 35 (the '\"' gap at 34 is
    skipped), so rh = 35*31^0 + 33*31^1 = 1058."""
    from mapnik_vector_tile_spark.functions.tilemath import W
    from mapnik_vector_tile_spark.operators.tiling import utfgrid_rows

    span12 = 2.0 * W / (1 << 12)

    def pt(pid, cx, cy):
        return (
            pid,
            -W + (cx + 0.5) * span12,
            W - (cy + 0.5) * span12,
        )

    df = spark.createDataFrame(
        [pt(20, 0, 0), pt(10, 1, 0)], "id long, mx double, my double"
    )
    rows = utfgrid_rows(df, z=6).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["z"], r["x"], r["y"], r["row_idx"]) == (6, 0, 0, 0)
    assert r["n_cells"] == 2 and r["n_keys"] == 2
    assert r["rh"] == 35 + 33 * 31


def test_label_place_greedy_semantics(spark):
    """Hand-crafted candidates pin the greedy rules: priority by id,
    strict overlap (edge contact legal), and discards-don't-block —
    candidate 3 overlaps the DISCARDED candidate 2 but not placed 1,
    so it places."""
    from mapnik_vector_tile_spark.operators.tiling import label_place_greedy

    rows = [
        # (x, y, id, cx, cy, hw, hh)
        (0, 0, 1, 100, 100, 50, 20),   # places
        (0, 0, 2, 130, 100, 50, 20),   # overlaps 1 -> discarded
        (0, 0, 3, 210, 100, 30, 20),   # overlaps 2 only -> places
        (0, 0, 4, 200, 100, 50, 20),   # edge contact w/ 1 (dx=100=hw+hw)
                                       # but overlaps placed 3 -> discarded
        (0, 0, 5, 300, 100, 60, 20),   # overlaps 3? dx=90 >= 30+60 -> edge
                                       # contact, legal -> places
    ]
    df = spark.createDataFrame(
        rows, "x long, y long, id long, cx long, cy long, hw long, hh long"
    )
    r = label_place_greedy(df).collect()[0]
    assert r["n_cands"] == 5 and r["n_placed"] == 3
    want = sum((i * 2654435761) % (1 << 31) for i in (1, 3, 5))
    assert r["ph"] == want


def test_encode_batch_fast_path_matches_scalar():
    """The vectorized canonical-batch encoder must be byte-identical
    to the per-group scalar path on a mixed batch: all-singles groups
    (the handled set), groups with polygons, groups with null
    captions, groups whose singles are all out of bounds, and groups
    mixing ok/not-ok singles."""
    import numpy as np

    from mapnik_vector_tile_spark.operators import tiling as T
    from mapnik_vector_tile_spark.operators.grouped import group_starts

    rng = np.random.default_rng(9)
    rows = []
    # build a group-sorted synthetic batch over (z=5, x, y, salt=0)
    for g in range(30):
        kind = g % 5
        n = int(rng.integers(1, 6))
        for i in range(n):
            fid = g * 100 + i
            if kind == 3:  # polygon group -> scalar fallback
                rows.append((5, g, 0, 0, fid, 3, _poly_coords(), "c", False, 0, 0))
            elif kind == 4 and i == 0:  # null caption in group
                rows.append((5, g, 0, 0, fid, 1, None, None, True,
                             int(rng.integers(0, 4096)), int(rng.integers(0, 4096))))
            else:
                px = int(rng.integers(-500, 4596))  # some out of bounds
                py = int(rng.integers(-500, 4596))
                rows.append((5, g, 0, 0, fid, 1, None, f"cap-{fid % 7}", True, px, py))
    import pandas as pd

    pdf = pd.DataFrame(
        rows,
        columns=["z", "x", "y", "salt", "feature_id", "geom_type",
                 "coords", "caption", "is_single", "px", "py"],
    )
    keys = ["z", "x", "y", "salt"]
    prepare, encode_group, encode_batch = T.make_encode_kernel(
        "features", 4096, 64, emit_tiles=False
    )
    cols = {c: pdf[c].to_numpy() for c in pdf.columns}
    n = len(pdf)
    cols.update(prepare(cols, n))
    keycols = [cols[k] for k in keys]
    starts = group_starts(keycols, n)
    # scalar reference for every group
    ref = {}
    for i in range(len(starts) - 1):
        s = int(starts[i])
        sl = slice(s, int(starts[i + 1]))
        r = encode_group(tuple(c[s] for c in keycols), cols, sl)
        if r:
            ref[tuple(r[0][:3])] = r[0]
    # batch + fallback (the apply_grouped composition)
    got = {}
    brows, handled = encode_batch(keycols, cols, starts)
    assert handled.any() and not handled.all()
    for r in brows:
        got[tuple(r[:3])] = r
    for i in range(len(starts) - 1):
        if handled[i]:
            continue
        s = int(starts[i])
        sl = slice(s, int(starts[i + 1]))
        r = encode_group(tuple(c[s] for c in keycols), cols, sl)
        if r:
            got[tuple(r[0][:3])] = r[0]
    assert set(got) == set(ref)
    for k in ref:
        assert got[k] == ref[k], k


def _poly_coords():
    """Packed coords blob for a small triangle (matches
    tiling._unpack_coords wire shape)."""
    import numpy as np

    from mapnik_vector_tile_spark.operators.tiling import _pack_coords

    xs = np.array([0.0, 30000.0, 0.0])
    ys = np.array([0.0, 0.0, 30000.0])
    offs = np.array([0, 3], dtype=np.int64)
    return _pack_coords(xs, ys, offs)


_CAPTIONS = ["a", "b", "ü", "c" * 140, None]  # 140 B: 2-byte length varint
_ROW = st.tuples(
    st.sampled_from(["single", "quad", "ring", "holed", "line"]),
    st.floats(-300, 4400),  # centre, tile units: inside / straddling /
    st.floats(-300, 4400),  # beyond the 64-unit buffered edge
    st.floats(-3, 2.8),  # log10 half-size in tile units: < 0.5 collapses
    st.integers(0, 2**32 - 1),  # vertex details
    st.sampled_from(_CAPTIONS),
)
_GROUP = st.tuples(
    st.integers(0, 12), st.integers(0, 2**32 - 1),
    st.lists(_ROW, min_size=1, max_size=6),
)


def _kernel_batch(groups):
    """A group-sorted assigned batch (the encode stage's input shape):
    one (z, x, y, salt=ordinal) group per entry, geometry given in
    tile units and placed in world coords through the tile's frame."""
    import pandas as pd

    rows = []
    for g, (z, tile_seed, feats) in enumerate(groups):
        x = tile_seed % (1 << z)
        y = (tile_seed >> 12) % (1 << z)
        span = tm.tile_span(z)
        minx, maxy = -tm.W + x * span, tm.W - y * span
        scale = 4096 / span
        for i, (kind, cx, cy, lsize, seed, cap) in enumerate(feats):
            rng = np.random.default_rng(seed)
            fid = g * 100 + i
            size = 10.0 ** lsize
            if kind == "single":
                rows.append((z, x, y, g, fid, gc.GEOM_POINT, None, cap,
                             True, int(round(cx)), int(round(cy))))
                continue
            if kind == "quad":
                tx = cx + np.array([-1, -1, 1, 1]) * size
                ty = cy + np.array([1, -1, -1, 1]) * size
                offs = [0, 4]
            elif kind == "holed":
                tx = cx + np.array([-1, -1, 1, 1, -.5, .5, .5, -.5]) * size
                ty = cy + np.array([1, -1, -1, 1, .5, .5, -.5, -.5]) * size
                offs = [0, 4, 8]
            elif kind == "ring":
                n = int(rng.integers(3, 21))
                ang = np.sort(rng.uniform(0, 2 * np.pi, n))
                r = size * rng.uniform(0.2, 1.0, n)
                tx, ty = cx + r * np.cos(ang), cy + r * np.sin(ang)
                if rng.random() < 0.3:  # repeated vertex
                    k = int(rng.integers(0, n))
                    tx, ty = np.insert(tx, k, tx[k]), np.insert(ty, k, ty[k])
                if rng.random() < 0.3:  # explicit closing vertex
                    tx, ty = np.append(tx, tx[0]), np.append(ty, ty[0])
                offs = [0, len(tx)]
            else:  # line
                n = int(rng.integers(2, 6))
                tx = cx + rng.uniform(-size, size, n)
                ty = cy + rng.uniform(-size, size, n)
                offs = [0, n]
            if kind != "line" and rng.random() < 0.5:  # CW <-> CCW
                tx, ty = tx[::-1], ty[::-1]
            gt = gc.GEOM_LINESTRING if kind == "line" else gc.GEOM_POLYGON
            blob = T._pack_coords(minx + tx / scale, maxy - ty / scale, offs)
            rows.append((z, x, y, g, fid, gt, blob, cap, False, 0, 0))
    return pd.DataFrame(rows, columns=[
        "z", "x", "y", "salt", "feature_id", "geom_type", "coords",
        "caption", "is_single", "px", "py",
    ])


@settings(max_examples=60, deadline=None)
@given(st.lists(_GROUP, min_size=1, max_size=8))
def test_encode_batch_composition_matches_encode_group(groups):
    """encode_batch plus encode_group on the groups it leaves (the
    apply_grouped composition) equals encode_group on every group, byte
    for byte with equal n_features / n_points, for both output forms."""
    from mapnik_vector_tile_spark.operators.grouped import group_starts

    pdf = _kernel_batch(groups)
    n = len(pdf)
    for emit_tiles in (False, True):
        prepare, encode_group, encode_batch = T.make_encode_kernel(
            "features", 4096, 64, emit_tiles=emit_tiles
        )
        cols = {c: pdf[c].to_numpy() for c in pdf.columns}
        cols.update(prepare(cols, n))
        keycols = [cols[k] for k in ("z", "x", "y", "salt")]
        starts = group_starts(keycols, n)

        def scalar(i):
            s = int(starts[i])
            sl = slice(s, int(starts[i + 1]))
            return encode_group(tuple(c[s] for c in keycols), cols, sl) or []

        ref = [r for i in range(len(starts) - 1) for r in scalar(i)]
        got, handled = encode_batch(keycols, cols, starts)
        got = list(got)
        for i in np.flatnonzero(~handled):
            got += scalar(i)
        assert sorted(got) == sorted(ref)


def test_udf_schemas_equal_their_ddl(spark):
    """The StructTypes the UDFs return are the schemas their DDL strings
    parse to."""
    from pyspark.sql.types import _parse_datatype_string

    for struct, ddl in (
        (T.LAYER_SCHEMA, "z int, x long, y long, layer string, blob binary, "
                         "n_features long, n_points long"),
        (T.TILE_ROW_SCHEMA, "z int, x long, y long, tile binary, "
                            "n_layers long, n_features long"),
        (T.DECODED_SCHEMA, "z int, x long, y long, layer string, "
                           "feature_id long, geom_type int, pxs array<long>, "
                           "pys array<long>, part_offsets array<long>, "
                           "caption string"),
    ):
        assert struct == _parse_datatype_string(ddl)
