"""EP3 composite/merge (U1/U2), re-extent slow path, and P5 validity."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from mapnik_vector_tile_spark.functions import geomcodec as gc
from mapnik_vector_tile_spark.functions import pbf
from mapnik_vector_tile_spark.operators import composite as C
from mapnik_vector_tile_spark.operators import tiling as T


def _layer_row(spark, z, x, y, name, fid, px, py, nf=1):
    lb = pbf.LayerBuilder(name, extent=4096)
    stream = gc.encode_geometry(
        gc.GEOM_POINT,
        np.array([px], dtype=np.int64),
        np.array([py], dtype=np.int64),
        np.array([0, 1]),
    )
    lb.add_feature(fid, gc.GEOM_POINT, stream, {"caption": f"c{fid}"})
    pdf = pd.DataFrame(
        {
            "z": [z],
            "x": [x],
            "y": [y],
            "layer": [name],
            "blob": [lb.build()],
            "n_features": [nf],
            "n_points": [nf],
        }
    )
    schema = (
        "z int, x long, y long, layer string, blob binary, "
        "n_features long, n_points long"
    )
    return spark.createDataFrame(pdf, schema=schema)


def test_composite_unions_distinct_layers(spark):
    a = _layer_row(spark, 5, 3, 4, "roads", 1, 100, 200)
    b = _layer_row(spark, 5, 3, 4, "water", 2, 300, 400)
    tiles = C.composite_tiles([a, b]).collect()
    assert len(tiles) == 1
    layers = [pbf.decode_layer(m) for m in pbf.decode_tile(bytes(tiles[0].tile))]
    assert sorted(ly["name"] for ly in layers) == ["roads", "water"]


def test_composite_duplicate_layer_first_wins(spark):
    first = _layer_row(spark, 5, 3, 4, "roads", 1, 100, 200)
    second = _layer_row(spark, 5, 3, 4, "roads", 99, 999, 999)
    merged = C.composite_layers([first, second]).collect()
    assert len(merged) == 1
    d = pbf.decode_layer(bytes(merged[0].blob))
    assert d["features"][0]["id"] == 1  # first source won (U2)


def test_rescale_layer_blob():
    lb = pbf.LayerBuilder("l", extent=4096)
    stream = gc.encode_geometry(
        gc.GEOM_POINT,
        np.array([2048], dtype=np.int64),
        np.array([1024], dtype=np.int64),
        np.array([0, 1]),
    )
    lb.add_feature(7, gc.GEOM_POINT, stream, {"k": "v"})
    out = C.rescale_layer_blob(lb.build(), 256)
    d = pbf.decode_layer(out)
    assert d["extent"] == 256
    xs, ys, _ = gc.decode_geometry(1, d["features"][0]["geometry"].astype(np.int64))
    assert xs[0] == 128 and ys[0] == 64
    assert pbf.feature_props(d, d["features"][0]) == {"k": "v"}


def test_validity_good_and_bad(spark):
    good = _layer_row(spark, 1, 0, 0, "ok", 1, 10, 20)
    blob = bytes(good.collect()[0].blob)
    assert C.layer_is_valid(blob) == (True, [])
    ok, why = C.tile_is_valid(pbf.concat_tile([blob]))
    assert ok, why
    # duplicate layer names invalid
    ok, why = C.tile_is_valid(pbf.concat_tile([blob, blob]))
    assert not ok and "duplicate layer name" in why
    # garbage bytes invalid
    ok, why = C.tile_is_valid(b"\x99\x01garbage")
    assert not ok
    # empty tile invalid
    assert C.tile_is_valid(b"") == (False, ["no layers"])


def test_validate_tiles_operator(spark):
    a = _layer_row(spark, 5, 3, 4, "roads", 1, 100, 200)
    tiles = C.composite_tiles([a])
    out = C.validate_tiles(tiles).collect()
    assert len(out) == 1 and out[0].valid


def test_composite_rescale_path(spark):
    a = _layer_row(spark, 5, 3, 4, "roads", 1, 2048, 2048)
    merged = C.composite_layers([a], target_extent=512).collect()
    d = pbf.decode_layer(bytes(merged[0].blob))
    assert d["extent"] == 512
    xs, ys, _ = gc.decode_geometry(1, d["features"][0]["geometry"].astype(np.int64))
    assert xs[0] == 256 and ys[0] == 256


# --- overzoom (EP3 slow path across zoom levels) ---------------------------------


def _mixed_parent_blob() -> bytes:
    """Point in the NW quadrant, seam-crossing horizontal line, square
    polygon spanning all four child quadrants."""
    lb = pbf.LayerBuilder("features", extent=4096)
    lb.add_feature(
        1,
        gc.GEOM_POINT,
        gc.encode_geometry(
            gc.GEOM_POINT,
            np.array([100]),
            np.array([200]),
            np.array([0, 1]),
        ),
        {"caption": "p"},
    )
    lb.add_feature(
        2,
        gc.GEOM_LINESTRING,
        gc.encode_geometry(
            gc.GEOM_LINESTRING,
            np.array([1000, 3000]),
            np.array([1000, 1000]),
            np.array([0, 2]),
        ),
        {"caption": "l"},
    )
    lb.add_feature(
        3,
        gc.GEOM_POLYGON,
        gc.encode_geometry(
            gc.GEOM_POLYGON,
            np.array([1500, 2500, 2500, 1500]),
            np.array([1500, 1500, 2500, 2500]),
            np.array([0, 4]),
        ),
        {"caption": "g"},
    )
    return lb.build()


def _decode_feat(child: bytes, fid: int):
    d = pbf.decode_layer(child)
    for f in d["features"]:
        if f["id"] == fid:
            return gc.decode_geometry(int(f["type"]), f["geometry"].astype(np.int64))
    return None


def test_overzoom_children_seam_split():
    kids = {
        (cx, cy): (blob, nf, npts)
        for cx, cy, blob, nf, npts in C.overzoom_children(
            _mixed_parent_blob(), 1, buffer_units=64
        )
    }
    assert set(kids) == {(0, 0), (1, 0), (0, 1), (1, 1)}
    # point only lands in (0,0), doubled coords
    assert kids[(0, 0)][1] == 3
    xs, ys, _ = _decode_feat(kids[(0, 0)][0], 1)
    assert (xs.tolist(), ys.tolist()) == ([200], [400])
    # line clipped at the buffered seam: west part ends at 4096+64
    xs, ys, _ = _decode_feat(kids[(0, 0)][0], 2)
    assert xs.tolist() == [2000, 4160] and ys.tolist() == [2000, 2000]
    xs, ys, _ = _decode_feat(kids[(1, 0)][0], 2)
    assert xs.tolist() == [-64, 1904] and ys.tolist() == [2000, 2000]
    # polygon present in every child, each a buffered quad with
    # positive (exterior) winding and no line/point leakage
    for (cx, cy), (blob, nf, _np) in kids.items():
        got = _decode_feat(blob, 3)
        assert got is not None
        xs, ys, offs = got
        assert len(offs) == 2 and len(xs) == 4
        assert gc.signed_area2(xs, ys) > 0
    assert kids[(0, 1)][1] == 1 and kids[(1, 1)][1] == 1


def test_overzoom_points_match_closed_form():
    """Child membership and local coords of point features replay the
    closed-interval buffered clip exactly (the q_engine_overzoom oracle
    relation, asserted here without Spark)."""
    rng = np.random.default_rng(7)
    px = rng.integers(0, 4097, size=500)
    py = rng.integers(0, 4097, size=500)
    lb = pbf.LayerBuilder("features", extent=4096)
    for i in range(len(px)):
        lb.add_feature(
            i,
            gc.GEOM_POINT,
            gc.encode_geometry(
                gc.GEOM_POINT,
                np.array([px[i]]),
                np.array([py[i]]),
                np.array([0, 1]),
            ),
            {"caption": "c"},
        )
    buf = 64
    kids = C.overzoom_children(lb.build(), 1, buffer_units=buf)
    got = {}
    for cx, cy, blob, nf, npts in kids:
        d = pbf.decode_layer(blob)
        for f in d["features"]:
            xs, ys, _ = gc.decode_geometry(
                int(f["type"]), f["geometry"].astype(np.int64)
            )
            got[(int(f["id"]), cx, cy)] = (int(xs[0]), int(ys[0]))
    want = {}
    for i in range(len(px)):
        for cx in (0, 1):
            for cy in (0, 1):
                lx = int(px[i]) * 2 - cx * 4096
                ly = int(py[i]) * 2 - cy * 4096
                if -buf <= lx <= 4096 + buf and -buf <= ly <= 4096 + buf:
                    want[(i, cx, cy)] = (lx, ly)
    assert got == want


def test_overzoom_layers_spark_matches_kernel(spark):
    """overzoom_layers (narrow mapInPandas fan-out) emits exactly the
    kernel's children with shifted addresses, and the folded child
    tiles validate (P5)."""
    parent = _mixed_parent_blob()
    pdf = pd.DataFrame(
        {
            "z": [5],
            "x": [11],
            "y": [6],
            "layer": ["features"],
            "blob": [parent],
            "n_features": [3],
            "n_points": [7],
        }
    )
    layers = spark.createDataFrame(
        pdf,
        schema=(
            "z int, x long, y long, layer string, blob binary, "
            "n_features long, n_points long"
        ),
    )
    out = C.overzoom_layers(layers, 2, buffer_units=64).collect()
    want = {
        (5 + 2, 11 * 4 + cx, 6 * 4 + cy): (bytes(blob), nf, npts)
        for cx, cy, blob, nf, npts in C.overzoom_children(
            parent, 2, buffer_units=64
        )
    }
    got = {
        (r.z, r.x, r.y): (bytes(r.blob), r.n_features, r.n_points)
        for r in out
    }
    assert got == want
    from mapnik_vector_tile_spark.operators.tiling import fold_tiles

    tiles = fold_tiles(C.overzoom_layers(layers, 2, buffer_units=64))
    flags = C.validate_tiles(tiles).collect()
    assert flags and all(r.valid for r in flags)


def test_overzoom_preserves_raw_dictionaries():
    """Tags and value oneof bytes survive overzoom verbatim (the
    rescale_layer_blob raw-dictionary contract)."""
    lb = pbf.LayerBuilder("features", extent=4096)
    lb.add_feature(
        9,
        gc.GEOM_POINT,
        gc.encode_geometry(
            gc.GEOM_POINT, np.array([10]), np.array([10]), np.array([0, 1])
        ),
        {"caption": "keep", "k2": 7, "k3": 1.5},
    )
    kids = C.overzoom_children(lb.build(), 1, buffer_units=64)
    assert len(kids) == 1 and kids[0][:2] == (0, 0)
    d = pbf.decode_layer(kids[0][2])
    props = pbf.feature_props(d, d["features"][0])
    assert props == {"caption": "keep", "k2": 7, "k3": 1.5}


def test_overzoom_fast_matches_ref_bytes():
    """Candidate-range fast path == naive all-children scan, byte for
    byte, on a randomized mixed corpus (single points incl. buffer
    negatives, multipoints, seam-crossing lines, polygons), across dz
    and buffer settings."""
    rng = np.random.default_rng(42)
    lb = pbf.LayerBuilder("features", extent=4096)
    fid = 0
    for _ in range(40):
        fid += 1
        kind = rng.integers(0, 4)
        if kind == 0:  # single point, can sit in the parent buffer
            x = int(rng.integers(-128, 4225))
            y = int(rng.integers(-128, 4225))
            lb.add_feature(
                fid, gc.GEOM_POINT,
                gc.encode_geometry(
                    gc.GEOM_POINT, np.array([x]), np.array([y]),
                    np.array([0, 1]),
                ),
                {"caption": "s"},
            )
        elif kind == 1:  # multipoint
            n = int(rng.integers(2, 6))
            xs = rng.integers(-128, 4225, size=n)
            ys = rng.integers(-128, 4225, size=n)
            lb.add_feature(
                fid, gc.GEOM_POINT,
                gc.encode_geometry(gc.GEOM_POINT, xs, ys, np.array([0, n])),
                {"caption": "m"},
            )
        elif kind == 2:  # polyline
            n = int(rng.integers(2, 8))
            xs = np.cumsum(rng.integers(-900, 900, size=n)) + 2048
            ys = np.cumsum(rng.integers(-900, 900, size=n)) + 2048
            stream = gc.encode_geometry(
                gc.GEOM_LINESTRING, xs, ys, np.array([0, n])
            )
            if len(stream):
                lb.add_feature(fid, gc.GEOM_LINESTRING, stream, {"caption": "l"})
        else:  # axis-aligned box polygon (valid ring by construction)
            x0 = int(rng.integers(-128, 3800))
            y0 = int(rng.integers(-128, 3800))
            w = int(rng.integers(32, 2048))
            h = int(rng.integers(32, 2048))
            lb.add_feature(
                fid, gc.GEOM_POLYGON,
                gc.encode_geometry(
                    gc.GEOM_POLYGON,
                    np.array([x0, x0 + w, x0 + w, x0]),
                    np.array([y0, y0, y0 + h, y0 + h]),
                    np.array([0, 4]),
                ),
                {"caption": "g"},
            )
    blob = lb.build()
    for dz in (1, 2):
        for buf in (0, 64, 128):
            fast = C.overzoom_children(blob, dz, buffer_units=buf)
            ref = C._overzoom_children_ref(blob, dz, buffer_units=buf)
            assert fast == ref, (dz, buf)


def test_overzoom_multilayer_tile_folds_and_validates(spark):
    """Two layer names on the same parent address overzoom
    independently and re-fold into one multi-layer child tile."""
    import pandas as pd

    rows = []
    for name, px in (("roads", 1000), ("pois", 3000)):
        lb = pbf.LayerBuilder(name, extent=4096)
        lb.add_feature(
            1,
            gc.GEOM_POINT,
            gc.encode_geometry(
                gc.GEOM_POINT, np.array([px]), np.array([px]),
                np.array([0, 1]),
            ),
            {"caption": name},
        )
        rows.append((4, 3, 2, name, lb.build(), 1, 1))
    pdf = pd.DataFrame(
        rows,
        columns=["z", "x", "y", "layer", "blob", "n_features", "n_points"],
    )
    layers = spark.createDataFrame(
        pdf,
        schema=(
            "z int, x long, y long, layer string, blob binary, "
            "n_features long, n_points long"
        ),
    )
    from mapnik_vector_tile_spark.operators.tiling import fold_tiles

    tiles = fold_tiles(C.overzoom_layers(layers, 1, buffer_units=64))
    got = {(r.z, r.x, r.y): r for r in tiles.collect()}
    # px=1000 -> child (0,0); px=3000 -> child (1,1): separate tiles
    assert set(got) == {(5, 6, 4), (5, 7, 5)}
    for key, r in got.items():
        names = [pbf.decode_layer(m)["name"]
                 for m in pbf.decode_tile(bytes(r.tile))]
        assert names in (["roads"], ["pois"])
    flags = C.validate_tiles(tiles).collect()
    assert all(r.valid for r in flags)


def test_overzoom_multipoint_full_distinct_like_forward_path():
    """Non-adjacent duplicate quantized points in a multipoint dedup to
    DISTINCT order-preserving points, matching the forward encode
    kernel's F7 semantics (review regression: consecutive-only elision
    let [A,B,A] survive)."""
    lb = pbf.LayerBuilder("features", extent=4096)
    xs = np.array([100, 200, 100])
    ys = np.array([100, 200, 100])
    lb.add_feature(
        1, gc.GEOM_POINT,
        gc.encode_geometry(gc.GEOM_POINT, xs, ys, np.array([0, 3])),
        {"caption": "m"},
    )
    kids = C.overzoom_children(lb.build(), 1, buffer_units=64)
    assert len(kids) == 1
    gx, gy, _ = _decode_feat(kids[0][2], 1)
    assert gx.tolist() == [200, 400] and gy.tolist() == [200, 400]
    ref = C._overzoom_children_ref(lb.build(), 1, buffer_units=64)
    assert kids == ref


def test_overzoom_redistribute_identical_output(spark):
    """redistribute=True (explode (parent, child) pairs, one child per
    task) emits exactly the narrow path's rows; the kernel's
    single-child clamp equals the filtered full fan-out."""
    import pandas as pd

    parent = _mixed_parent_blob()
    full = C.overzoom_children(parent, 2, buffer_units=64)
    for cx, cy, blob, nf, npts in full:
        assert C.overzoom_children(
            parent, 2, buffer_units=64, child=(cx, cy)
        ) == [(cx, cy, blob, nf, npts)]
    # a child with no content comes back empty under the clamp too
    painted = {(cx, cy) for cx, cy, *_ in full}
    for cq in range(16):
        cx, cy = cq % 4, cq // 4
        if (cx, cy) not in painted:
            assert (
                C.overzoom_children(parent, 2, buffer_units=64, child=(cx, cy))
                == []
            )
    pdf = pd.DataFrame(
        {
            "z": [5], "x": [11], "y": [6], "layer": ["features"],
            "blob": [parent], "n_features": [3], "n_points": [7],
        }
    )
    layers = spark.createDataFrame(
        pdf,
        schema=(
            "z int, x long, y long, layer string, blob binary, "
            "n_features long, n_points long"
        ),
    )
    narrow = {
        (r.z, r.x, r.y): (bytes(r.blob), r.n_features, r.n_points)
        for r in C.overzoom_layers(layers, 2, buffer_units=64).collect()
    }
    redist = {
        (r.z, r.x, r.y): (bytes(r.blob), r.n_features, r.n_points)
        for r in C.overzoom_layers(
            layers, 2, buffer_units=64, redistribute=True
        ).collect()
    }
    assert narrow == redist


def test_tiles_to_layers_roundtrip(spark):
    """fold_tiles ∘ tiles_to_layers reproduces the Tile buffer exactly
    (multi-layer order preserved); feature counts come from the layer
    header parse, no geometry decode."""
    import pandas as pd

    rows = []
    for name, px in (("a_roads", 100), ("b_pois", 300)):
        lb = pbf.LayerBuilder(name, extent=4096)
        for i in range(3):
            lb.add_feature(
                i, gc.GEOM_POINT,
                gc.encode_geometry(
                    gc.GEOM_POINT, np.array([px + i]), np.array([px]),
                    np.array([0, 1]),
                ),
                {"caption": name},
            )
        rows.append((4, 3, 2, name, lb.build(), 3, 3))
    pdf = pd.DataFrame(
        rows,
        columns=["z", "x", "y", "layer", "blob", "n_features", "n_points"],
    )
    layers = spark.createDataFrame(
        pdf,
        schema=(
            "z int, x long, y long, layer string, blob binary, "
            "n_features long, n_points long"
        ),
    )
    from mapnik_vector_tile_spark.operators.tiling import fold_tiles

    tiles = fold_tiles(layers)
    back = C.tiles_to_layers(tiles)
    got = {
        (r.z, r.x, r.y, r.layer): (bytes(r.blob), r.n_features)
        for r in back.collect()
    }
    want = {
        (4, 3, 2, name): (blob, 3)
        for _, _, _, name, blob, _, _ in rows
    }
    assert got == want
    refold = fold_tiles(back).collect()
    orig = tiles.collect()
    assert bytes(refold[0].tile) == bytes(orig[0].tile)


def test_overzoom_fast_matches_ref_fuzz():
    """Property fuzz of the candidate-range fast path vs the naive
    all-children scan: random geometry soups (incl. far-outside and
    buffer-straddling coords), random dz/buffer — byte identity."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    coord = st.integers(min_value=-6000, max_value=10096)

    @st.composite
    def layer_blob(draw):
        lb = pbf.LayerBuilder("features", extent=4096)
        n = draw(st.integers(min_value=1, max_value=8))
        for fid in range(n):
            kind = draw(st.integers(min_value=0, max_value=2))
            if kind == 0:
                m = draw(st.integers(min_value=1, max_value=4))
                xs = np.array([draw(coord) for _ in range(m)])
                ys = np.array([draw(coord) for _ in range(m)])
                stream = gc.encode_geometry(
                    gc.GEOM_POINT, xs, ys, np.array([0, m])
                )
                gt = gc.GEOM_POINT
            elif kind == 1:
                m = draw(st.integers(min_value=2, max_value=6))
                xs = np.array([draw(coord) for _ in range(m)])
                ys = np.array([draw(coord) for _ in range(m)])
                stream = gc.encode_geometry(
                    gc.GEOM_LINESTRING, xs, ys, np.array([0, m])
                )
                gt = gc.GEOM_LINESTRING
            else:
                x0, y0 = draw(coord), draw(coord)
                w = draw(st.integers(min_value=1, max_value=4096))
                h = draw(st.integers(min_value=1, max_value=4096))
                stream = gc.encode_geometry(
                    gc.GEOM_POLYGON,
                    np.array([x0, x0 + w, x0 + w, x0]),
                    np.array([y0, y0, y0 + h, y0 + h]),
                    np.array([0, 4]),
                )
                gt = gc.GEOM_POLYGON
            if len(stream):
                lb.add_feature(fid, gt, stream, {"caption": str(fid)})
        return lb.build() if lb.painted else None

    @settings(max_examples=25, deadline=None)
    @given(
        blob=layer_blob(),
        dz=st.integers(min_value=1, max_value=3),
        buf=st.sampled_from([0, 64, 128, 2048]),
    )
    def check(blob, dz, buf):
        if blob is None:
            return
        assert C.overzoom_children(
            blob, dz, buffer_units=buf
        ) == C._overzoom_children_ref(blob, dz, buffer_units=buf)

    check()


def test_diff_tiles_duplicate_rows_and_statuses(spark):
    """diff_tiles is duplicate-safe: a store with two identical rows
    for one address diffs equal against a single-row store; changed /
    added / removed all classify; unchanged addresses are absent."""
    import pandas as pd

    def store(rows):
        pdf = pd.DataFrame(
            rows, columns=["z", "x", "y", "tile"]
        )
        return spark.createDataFrame(
            pdf, schema="z int, x long, y long, tile binary"
        )

    t1, t2, t3 = b"tile-one", b"tile-two", b"tile-three"
    a = store([(6, 1, 1, t1), (6, 1, 1, t1), (6, 2, 2, t2), (6, 3, 3, t3)])
    b = store([(6, 1, 1, t1), (6, 2, 2, b"tile-two-v2"), (6, 4, 4, t3)])
    got = {(r.z, r.x, r.y): r.status for r in C.diff_tiles(a, b).collect()}
    assert got == {
        (6, 2, 2): "changed",
        (6, 3, 3): "removed",
        (6, 4, 4): "added",
    }


def test_overzoom_child_extent_wafer_mode_ab(spark):
    """child_extent mode (f = 1 pure translation) pinned against the
    naive reference twin, mixed geometry."""
    from mapnik_vector_tile_spark.functions import pbf

    lb = pbf.LayerBuilder("l", extent=4096 << 2)
    # points spread over the wafer incl. exact child boundaries
    for i, (x, y) in enumerate(
        [(0, 0), (4096, 4096), (8191, 10), (12288, 12288), (16384, 16384),
         (5000, 7000), (4095, 4097)]
    ):
        lb.add_feature(i, 1, (9, x << 1, y << 1), {"k": "v"})
    blob = lb.build()
    fast = C.overzoom_children(blob, 2, buffer_units=8, child_extent=4096)
    ref = C._overzoom_children_ref(blob, 2, buffer_units=8, child_extent=4096)
    assert fast == ref
    assert fast  # nonempty
    # children declare the child extent
    from mapnik_vector_tile_spark.functions import pbf as P
    for _, _, child, _, _ in fast:
        assert P.split_layer(child)["extent"] == 4096


def test_overzoom_child_extent_divisibility_guard():
    from mapnik_vector_tile_spark.functions import pbf

    lb = pbf.LayerBuilder("l", extent=4096)
    lb.add_feature(0, 1, (9, 2, 2), {})
    with pytest.raises(ValueError):
        C.overzoom_children(lb.build(), 1, child_extent=1000)


def test_encode_wafer_tiles_matches_direct_on_points(spark):
    """Wafer-rendered z-tiles equal direct encode for point corpora up
    to the documented half-quantum class at buffered edges: with
    buffer 0 the only legal difference is points quantizing EXACTLY
    onto an internal child boundary (duplicated by the wafer split,
    single-assigned by direct covering)."""
    import pandas as pd

    rng = np.random.RandomState(5)
    n = 3000
    pdf = pd.DataFrame({
        "feature_id": np.arange(n),
        "geom_type": np.full(n, 1, dtype=np.int32),
        "xs": [[float(v)] for v in rng.uniform(-1.9e7, 1.9e7, n)],
        "ys": [[float(v)] for v in rng.uniform(-1.9e7, 1.9e7, n)],
        "part_offsets": [[0, 1]] * n,
        "caption": ["c"] * n,
    })
    feats = spark.createDataFrame(pdf, schema=T.FEATURES_SCHEMA)
    z, k = 7, 2
    direct = T.decode_tiles_to_features(
        T.encode_tiles(T.assign_tiles(feats, z, z, buffer_units=0),
                       buffer_units=0)
    ).select("z", "x", "y", "feature_id", "pxs", "pys").toPandas()
    wafer = T.decode_tiles_to_features(
        T.encode_wafer_tiles(feats, z, k=k, buffer_units=0)
    ).select("z", "x", "y", "feature_id", "pxs", "pys").toPandas()
    d = {(r.z, r.x, r.y, r.feature_id): (list(r.pxs), list(r.pys))
         for r in direct.itertuples(index=False)}
    w = {(r.z, r.x, r.y, r.feature_id): (list(r.pxs), list(r.pys))
         for r in wafer.itertuples(index=False)}
    assert set(d) <= set(w)
    # shared rows: identical quantized coordinates (shared grid, f=1)
    for key in d:
        assert d[key] == w[key], key
    # extras are exactly the boundary-duplicated memberships
    for key in set(w) - set(d):
        pxs, pys = w[key]
        assert any(p in (0, 4096) for p in pxs + pys), (key, w[key])


def test_encode_wafer_tiles_k0_is_direct(spark):
    import pandas as pd

    pdf = pd.DataFrame({
        "feature_id": [0, 1],
        "geom_type": [1, 1],
        "xs": [[1.0e6], [-2.0e6]],
        "ys": [[2.0e6], [1.0e6]],
        "part_offsets": [[0, 1]] * 2,
        "caption": ["a", "b"],
    })
    feats = spark.createDataFrame(pdf, schema=T.FEATURES_SCHEMA)
    a = T.encode_wafer_tiles(feats, 4, k=0, buffer_units=0).collect()
    b = T.encode_tiles(
        T.assign_tiles(feats, 4, 4, buffer_units=0), buffer_units=0
    ).collect()
    assert sorted((r.z, r.x, r.y, bytes(r.tile)) for r in a) == sorted(
        (r.z, r.x, r.y, bytes(r.tile)) for r in b
    )


def test_tilejson_layers_and_document(spark):
    import pandas as pd

    from mapnik_vector_tile_spark.functions.tilemath import W

    rows = [
        # layer a: z2 one tile, z3 two tiles
        (2, 1, 1, "a", b"x", 5, 5),
        (3, 2, 2, "a", b"x", 3, 3),
        (3, 5, 6, "a", b"x", 2, 2),
        # layer b: single zoom
        (4, 0, 15, "b", b"x", 7, 7),
    ]
    df = spark.createDataFrame(
        pd.DataFrame(
            rows,
            columns=[
                "z", "x", "y", "layer", "blob", "n_features", "n_points",
            ],
        )
    )
    out = {r["layer"]: r for r in C.tilejson_layers(df).collect()}
    a = out["a"]
    assert (a["minzoom"], a["maxzoom"], a["n_tiles"], a["n_features"]) == (
        2, 3, 3, 10,
    )
    # bounds from z3 (max zoom) tiles x in [2,5], y in [2,6]
    assert a["west_merc"] == 2 * (2 * W) / 8 - W
    assert a["east_merc"] == 6 * (2 * W) / 8 - W
    assert a["north_merc"] == W - 2 * (2 * W) / 8
    assert a["south_merc"] == W - 7 * (2 * W) / 8
    b = out["b"]
    assert (b["minzoom"], b["maxzoom"], b["n_tiles"]) == (4, 4, 1)

    doc = C.tilejson(df, "https://tiles.example/{z}/{x}/{y}.pbf")
    assert doc["tilejson"] == "3.0.0"
    assert doc["minzoom"] == 2 and doc["maxzoom"] == 4
    assert [v["id"] for v in doc["vector_layers"]] == ["a", "b"]
    assert doc["bounds"][0] <= doc["bounds"][2]
    assert -85.06 < doc["bounds"][1] < doc["bounds"][3] < 85.06


def test_filter_layer_features_semantics(spark):
    import pandas as pd

    zz = lambda v: v << 1 if v >= 0 else ((-v) << 1) - 1
    lb = pbf.LayerBuilder("pts", extent=4096)
    for fid, q, name in [(1, 10, "a"), (2, 30, "b"), (3, 50, "c")]:
        lb.add_feature(
            fid, gc.GEOM_POINT,
            np.array([9, zz(fid), zz(fid)], dtype=np.uint64),
            {"qty": q, "name": name},
        )
    pdf = pd.DataFrame(
        [(5, 1, 1, "pts", lb.build(), 3, 3)],
        columns=["z", "x", "y", "layer", "blob", "n_features", "n_points"],
    )
    df = spark.createDataFrame(pdf)
    out = C.filter_layer_features(
        df, key="qty", op=">=", value=30,
        keep_keys=["qty"], rename="big",
    ).collect()
    assert len(out) == 1 and out[0]["layer"] == "big"
    d = pbf.split_layer(bytes(out[0]["blob"]))
    assert d["name"] == "big" and d["keys"] == ["qty"]
    fids = [f[0] for f in d["features"]]
    assert fids == [2, 3]
    # projection rebuilt the value dictionary too (no orphan values)
    assert len(d["raw_values"]) == 2
    # empty result -> layer dropped entirely
    none = C.filter_layer_features(df, key="qty", op=">", value=99)
    assert none.count() == 0
    # type-incomparable operand: never matches, never raises
    mixed = C.filter_layer_features(df, key="name", op="<", value=5)
    assert mixed.count() == 0
    # has: key presence
    assert C.filter_layer_features(df, key="name").count() == 1
    import pytest

    with pytest.raises(ValueError, match="op must be"):
        C.filter_layer_features(df, key="qty", op="~")


def test_pyramid_orphans_detects_missing_parent(spark):
    import pandas as pd

    rows = [
        (3, 1, 1, b"t"),
        (4, 2, 2, b"t"),   # parent (3,1,1) present
        (4, 6, 6, b"t"),   # parent (3,3,3) MISSING -> orphan
        (5, 5, 5, b"t"),   # parent (4,2,2) present
        (5, 12, 13, b"t"), # parent (4,6,6) present (itself an orphan)
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["z", "x", "y", "tile"])
    )
    got = sorted(
        (r["z"], r["x"], r["y"], r["parent_x"], r["parent_y"])
        for r in C.pyramid_orphans(df).collect()
    )
    assert got == [(4, 6, 6, 3, 3)]
    # explicit z_min below the store's min adds the base level's check
    got2 = sorted(
        (r["z"], r["x"], r["y"])
        for r in C.pyramid_orphans(df, z_min=2).collect()
    )
    assert (3, 1, 1) in got2  # z3's parent at z2 is absent
    import pytest

    with pytest.raises(ValueError, match="empty"):
        C.pyramid_orphans(df.filter("z > 99"))


def test_layer_attribute_stats(spark):
    import pandas as pd

    zz = lambda v: v << 1 if v >= 0 else ((-v) << 1) - 1
    lb = pbf.LayerBuilder("a", extent=4096)
    for fid, props in [
        (1, {"n": 5, "s": "x", "f": True}),
        (2, {"n": 5, "s": "y"}),
        (3, {"n": 7, "d": 1.25}),
    ]:
        lb.add_feature(
            fid, gc.GEOM_POINT,
            np.array([9, zz(fid), zz(fid)], dtype=np.uint64), props,
        )
    lb2 = pbf.LayerBuilder("a", extent=4096)
    lb2.add_feature(
        9, gc.GEOM_POINT, np.array([9, 2, 2], dtype=np.uint64),
        {"n": 9, "d": -0.5},
    )
    pdf = pd.DataFrame(
        [
            (5, 1, 1, "a", lb.build(), 3, 3),
            (5, 2, 1, "a", lb2.build(), 1, 1),
        ],
        columns=["z", "x", "y", "layer", "blob", "n_features", "n_points"],
    )
    out = {
        (r["layer"], r["attr"]): r
        for r in C.layer_attribute_stats(
            spark.createDataFrame(pdf)
        ).collect()
    }
    n = out[("a", "n")]
    assert (n["vtype"], n["n_features"], n["n_distinct"]) == ("number", 4, 3)
    assert (n["min_num"], n["max_num"]) == (5.0, 9.0)
    assert n["top_value"] == "5"  # count 2 beats 7/9's count 1
    d = out[("a", "d")]
    assert (d["n_features"], d["n_distinct"]) == (2, 2)
    assert (d["min_num"], d["max_num"]) == (-0.5, 1.25)
    assert d["top_value"] is None  # doubles carry no repr by contract
    s = out[("a", "s")]
    assert (s["vtype"], s["n_distinct"], s["top_value"]) == ("string", 2, "x")
    f = out[("a", "f")]
    assert (f["vtype"], f["top_value"]) == ("boolean", "true")


# --- U9 is_solid_extent ------------------------------------------------------


def _poly_layer(name, rings, extent=4096):
    import numpy as np

    from mapnik_vector_tile_spark.functions import geomcodec as gc
    from mapnik_vector_tile_spark.functions import pbf

    lb = pbf.LayerBuilder(name, extent=extent)
    for i, (xs, ys) in enumerate(rings):
        stream = gc.encode_geometry(
            gc.GEOM_POLYGON,
            np.array(xs),
            np.array(ys),
            np.array([0, len(xs)]),
        )
        lb.add_feature(i + 1, gc.GEOM_POLYGON, stream)
    return lb.build()


def test_is_solid_extent_semantics():
    """Kernel-level pins for the cases the oracle corpus can't reach:
    on-edge vertices, linestrings, non-4096 extents, empty bytes."""
    import numpy as np

    from mapnik_vector_tile_spark.functions import geomcodec as gc
    from mapnik_vector_tile_spark.functions import pbf
    from mapnik_vector_tile_spark.operators.composite import is_solid_extent

    box = lambda lo, hi: ([lo, hi, hi, lo], [lo, lo, hi, hi])

    # exact-extent box: vertices ON the border are not strictly inside
    t = pbf.layer_to_tile(_poly_layer("water", [box(0, 4096)]))
    solid, covers, key, nf = is_solid_extent(t)
    assert (solid, key, nf) == (True, "water", 1)

    # clip-box fill beyond the border: solid and covers
    t = pbf.layer_to_tile(_poly_layer("water", [box(-64, 4160)]))
    assert is_solid_extent(t) == (True, True, "water", 1)

    # one vertex strictly inside on BOTH axes: not solid; x-only inside
    # with y outside must NOT disqualify (the both-axes reference rule)
    t = pbf.layer_to_tile(
        _poly_layer("water", [([-64, 2048, 4160, -64], [-64, 1, 4160, 4160])])
    )
    assert is_solid_extent(t)[0] is False
    t = pbf.layer_to_tile(
        _poly_layer("water", [([-64, 2048, 4160, -64], [-64, -64, 4160, 4160])])
    )
    assert is_solid_extent(t)[0] is True

    # a linestring feature disqualifies even with outside-only vertices
    lb = pbf.LayerBuilder("roads")
    lb.add_feature(
        1,
        gc.GEOM_LINESTRING,
        gc.encode_geometry(
            gc.GEOM_LINESTRING,
            np.array([-64, 4160]),
            np.array([-64, 4160]),
            np.array([0, 2]),
        ),
    )
    assert is_solid_extent(pbf.layer_to_tile(lb.build()))[0] is False

    # non-default extent: interior is judged against THAT extent
    t = pbf.layer_to_tile(_poly_layer("w", [box(-8, 520)], extent=512))
    assert is_solid_extent(t)[:2] == (True, True)
    t = pbf.layer_to_tile(_poly_layer("w", [([-8, 256, 520, -8], [-8, 8, 520, 520])], extent=512))
    assert is_solid_extent(t)[0] is False

    # donut fill: hole ring flips the extent corners to uncovered but
    # its vertices (strictly inside) already kill solidity
    t = pbf.layer_to_tile(
        _poly_layer("water", [box(-64, 4160), box(1000, 1500)])
    )
    assert is_solid_extent(t)[:2] == (False, True)

    # empty tile bytes: nothing known, nothing solid
    assert is_solid_extent(b"") == (False, False, "", 0)

    # two layers: key joins in tile order
    t = pbf.concat_tile(
        [_poly_layer("a", [box(-64, 4160)]), _poly_layer("b", [box(-64, 4160)])]
    )
    assert is_solid_extent(t) == (True, True, "a-b", 2)


# --- U10 join_attributes -----------------------------------------------------


def test_join_attributes_contracts(spark):
    """tile-join semantics: left keeps unmatched verbatim, inner drops,
    $id joins on feature id, a feature MISSING the join property never
    matches, None attr cells write no property, and new keys enter the
    rebuilt dictionary only when used."""
    import numpy as np

    from mapnik_vector_tile_spark.functions import geomcodec as gc
    from mapnik_vector_tile_spark.functions import pbf
    from mapnik_vector_tile_spark.operators.composite import join_attributes

    pt = gc.encode_geometry(
        gc.GEOM_POINT, np.array([10]), np.array([10]), np.array([0, 1])
    )
    lb = pbf.LayerBuilder("poi")
    lb.add_feature(1, gc.GEOM_POINT, pt, {"code": 7})
    lb.add_feature(2, gc.GEOM_POINT, pt, {"code": 8})
    lb.add_feature(3, gc.GEOM_POINT, pt, {})  # missing join property
    layers = spark.createDataFrame(
        [(0, 0, 0, "poi", bytearray(lb.build()), 3, 3)],
        "z int, x long, y long, layer string, blob binary, "
        "n_features long, n_points long",
    )
    attrs = spark.createDataFrame(
        [(7, "seven", 1.5), (9, "nine", None)],
        "code long, name string, score double",
    )

    def decode(df):
        blob = bytes(df.collect()[0].blob)
        layer = pbf.decode_layer(blob)
        return layer, {
            f["id"]: pbf.feature_props(layer, f) for f in layer["features"]
        }

    layer, props = decode(join_attributes(layers, attrs, on="code"))
    assert set(props) == {1, 2, 3}
    assert props[1] == {"code": 7, "name": "seven", "score": 1.5}
    assert props[2] == {"code": 8}          # unmatched: untouched
    assert props[3] == {}                   # no join key: no match
    assert set(layer["keys"]) == {"code", "name", "score"}

    layer, props = decode(join_attributes(layers, attrs, on="code", how="inner"))
    assert set(props) == {1}

    # $id join: feature ids 1..3; attr keys 7/9 -> no match anywhere,
    # dictionary must NOT grow
    layer, props = decode(join_attributes(layers, attrs, on="$id"))
    assert set(props) == {1, 2, 3}
    assert set(layer["keys"]) == {"code"}

    # None cell: key 9 under $id on a matching id writes only 'name'
    attrs2 = spark.createDataFrame(
        [(2, "two", None)], "fid long, name string, score double"
    )
    layer, props = decode(join_attributes(layers, attrs2, on="$id"))
    assert props[2] == {"code": 8, "name": "two"}
    assert "score" not in layer["keys"]

    # inner with zero survivors: tile dropped entirely (P4)
    attrs3 = spark.createDataFrame([(99, "x")], "code long, name string")
    assert join_attributes(layers, attrs3, on="code", how="inner").count() == 0


def test_trim_tile_to_budget_prefix(spark):
    """U11: exact wire-size prefix rule — kept set grows monotonically
    with the budget, the cut lands exactly where cumulative wrapped
    feature bytes cross it, and dictionaries shrink to the survivors."""
    import numpy as np

    from mapnik_vector_tile_spark.functions import geomcodec as gc
    from mapnik_vector_tile_spark.functions import pbf
    from mapnik_vector_tile_spark.operators.composite import (
        trim_tile_to_budget,
    )

    lb = pbf.LayerBuilder("t")
    sizes = []
    for i in range(6):
        stream = gc.encode_geometry(
            gc.GEOM_POINT, np.array([i * 100]), np.array([i * 50]),
            np.array([0, 1]),
        )
        props = {"tag": f"v{i}"} if i >= 4 else {}
        lb.add_feature(i + 1, gc.GEOM_POINT, stream, props)
        msg = pbf.encode_feature(
            i + 1, gc.GEOM_POINT, stream,
            [] if i < 4 else [0, i - 4], None,
        )
        sizes.append(1 + len(pbf.varint_of(len(msg))) + len(msg))
    layers = spark.createDataFrame(
        [(0, 0, 0, "t", bytearray(lb.build()), 6, 6)],
        "z int, x long, y long, layer string, blob binary, "
        "n_features long, n_points long",
    )

    def ids_of(budget):
        rows = trim_tile_to_budget(layers, budget).collect()
        if not rows:
            return [], None
        d = pbf.decode_layer(bytes(rows[0].blob))
        return [f["id"] for f in d["features"]], d

    import itertools

    cum = list(itertools.accumulate(sizes))
    # a budget exactly at the k-th cumulative size keeps exactly k
    for k in range(1, 7):
        ids, _ = ids_of(cum[k - 1])
        assert ids == list(range(1, k + 1)), (k, ids)
    # one byte below the first feature: whole tile dropped
    assert ids_of(sizes[0] - 1)[0] == []
    # trimming below feature 5 drops the only tagged features ->
    # dictionaries rebuilt EMPTY, not lingering
    _, d = ids_of(cum[3])
    assert d["keys"] == [] and d["values"] == []
    # keeping feature 5 brings exactly its key/value
    _, d = ids_of(cum[4])
    assert d["keys"] == ["tag"]


def test_join_attributes_relational_matches_broadcast(spark):
    """U10b: the fact-scale shuffle path emits byte-identical blobs to
    the broadcast path for left AND inner, on property and $id keys,
    including None-cell skipping."""
    import numpy as np

    from mapnik_vector_tile_spark.functions import geomcodec as gc
    from mapnik_vector_tile_spark.operators.composite import (
        join_attributes,
        join_attributes_relational,
    )

    pt = gc.encode_geometry(
        gc.GEOM_POINT, np.array([10]), np.array([10]), np.array([0, 1])
    )
    lb = pbf.LayerBuilder("poi")
    lb.add_feature(1, gc.GEOM_POINT, pt, {"code": 7})
    lb.add_feature(2, gc.GEOM_POINT, pt, {"code": 8})
    lb.add_feature(3, gc.GEOM_POINT, pt, {})
    lb2 = pbf.LayerBuilder("poi")
    lb2.add_feature(4, gc.GEOM_POINT, pt, {"code": 7})
    layers = spark.createDataFrame(
        [
            (0, 0, 0, "poi", bytearray(lb.build()), 3, 3),
            (0, 1, 0, "poi", bytearray(lb2.build()), 1, 1),
        ],
        "z int, x long, y long, layer string, blob binary, "
        "n_features long, n_points long",
    )
    attrs = spark.createDataFrame(
        [(7, "seven", 1.5), (9, "nine", None)],
        "code long, name string, score double",
    )

    def blobs(df):
        return {
            (r.x, r.layer): bytes(r.blob) for r in df.collect()
        }

    for how in ("left", "inner"):
        a = blobs(join_attributes(layers, attrs, on="code", how=how))
        b = blobs(
            join_attributes_relational(layers, attrs, on="code", how=how)
        )
        assert a == b, how

    attrs_id = spark.createDataFrame(
        [(2, "two", None)], "fid long, name string, score double"
    )
    a = blobs(join_attributes(layers, attrs_id, on="$id"))
    b = blobs(join_attributes_relational(layers, attrs_id, on="$id"))
    assert a == b

    # Duplicate attr keys: both paths must pick the SAME winner (max
    # value-struct), not a partition-order accident — repartition(5)
    # scrambles collect order to expose a last-wins broadcast bug.
    dup = spark.createDataFrame(
        [(7, "alpha", 1.0), (7, "zeta", 0.5), (7, "zeta", 2.0)],
        "code long, name string, score double",
    ).repartition(5)
    a = blobs(join_attributes(layers, dup, on="code"))
    b = blobs(join_attributes_relational(layers, dup, on="code"))
    assert a == b
    # pinned winner: ("zeta", 2.0) — max struct field-by-field
    layer_blob = a[(0, "poi")]
    d = pbf.split_layer(layer_blob)
    assert "zeta" in d["keys"] or any(
        pbf.decode_value(v) == "zeta" for v in d["raw_values"]
    )

    # Double-typed attrs key joining int wire values: 7.0 == 7 under
    # the shared Python-dict equality; both paths must enrich fid 1.
    fattrs = spark.createDataFrame(
        [(7.0, "seven-f")], "code double, name string"
    )
    a = blobs(join_attributes(layers, fattrs, on="code", how="inner"))
    b = blobs(
        join_attributes_relational(layers, fattrs, on="code", how="inner")
    )
    assert a == b and len(a) == 2  # fid 1 (x=0) and fid 4 (x=1) match


def test_patch_roundtrip_byte_identical(spark):
    """patch_tiles(a, make_patch(a, b)) must equal store b
    byte-for-byte per address (the delta-publish contract)."""
    from mapnik_vector_tile_spark.operators import composite as comp

    rows_a = [
        (1, 0, 0, b"AAA"),   # unchanged in b
        (1, 0, 1, b"OLD"),   # changed
        (1, 1, 0, b"GONE"),  # removed
    ]
    rows_b = [
        (1, 0, 0, b"AAA"),
        (1, 0, 1, b"NEW"),
        (1, 1, 1, b"ADDED"),
    ]
    a = spark.createDataFrame(rows_a, "z long, x long, y long, tile binary")
    b = spark.createDataFrame(rows_b, "z long, x long, y long, tile binary")
    patch = comp.make_patch(a, b)
    st = {(r["z"], r["x"], r["y"]): (r["status"], r["tile"]) for r in patch.collect()}
    assert st[(1, 0, 1)][0] == "changed" and bytes(st[(1, 0, 1)][1]) == b"NEW"
    assert st[(1, 1, 0)][0] == "removed" and st[(1, 1, 0)][1] is None
    assert st[(1, 1, 1)][0] == "added" and bytes(st[(1, 1, 1)][1]) == b"ADDED"
    assert len(st) == 3  # unchanged address emits no patch row
    got = {
        (r["z"], r["x"], r["y"]): bytes(r["tile"])
        for r in comp.patch_tiles(a, patch).collect()
    }
    want = {(r[0], r[1], r[2]): r[3] for r in rows_b}
    assert got == want
