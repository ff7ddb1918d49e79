"""Round-trip + spec-golden tests for the MVT geometry codec
(FIXTURES.md §3 mvt_spec_example_* cases + hypothesis properties)."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from mapnik_vector_tile_spark.functions import geomcodec as gc


def arr(*v):
    return np.array(v, dtype=np.int64)


# --- MVT 2.1 spec examples (normative command streams) ---------------------


def test_spec_example_point():
    # spec §4.3.5.1: point (25,17) -> [9, 50, 34]
    stream = gc.encode_geometry(gc.GEOM_POINT, arr(25), arr(17), arr(0, 1))
    np.testing.assert_array_equal(stream, [9, 50, 34])


def test_spec_example_multipoint():
    # spec: points (5,7),(3,2) -> [17, 10, 14, 3, 9]
    stream = gc.encode_geometry(gc.GEOM_POINT, arr(5, 3), arr(7, 2), arr(0, 2))
    np.testing.assert_array_equal(stream, [17, 10, 14, 3, 9])


def test_spec_example_linestring():
    # spec: (2,2)->(2,10)->(10,10) -> [9,4,4,18,0,16,16,0]
    stream = gc.encode_geometry(
        gc.GEOM_LINESTRING, arr(2, 2, 10), arr(2, 10, 10), arr(0, 3)
    )
    np.testing.assert_array_equal(stream, [9, 4, 4, 18, 0, 16, 16, 0])


def test_spec_example_multilinestring():
    # spec: line1 (2,2)->(2,10)->(10,10); line2 (1,1)->(3,5)
    # -> [9,4,4,18,0,16,16,0,9,17,17,10,4,8]
    stream = gc.encode_geometry(
        gc.GEOM_LINESTRING, arr(2, 2, 10, 1, 3), arr(2, 10, 10, 1, 5), arr(0, 3, 5)
    )
    np.testing.assert_array_equal(
        stream, [9, 4, 4, 18, 0, 16, 16, 0, 9, 17, 17, 10, 4, 8]
    )


def test_spec_example_polygon():
    # spec: ring (3,6)->(8,12)->(20,34) closed -> [9,6,12,18,10,12,24,44,15]
    stream = gc.encode_geometry(
        gc.GEOM_POLYGON, arr(3, 8, 20), arr(6, 12, 34), arr(0, 3)
    )
    np.testing.assert_array_equal(stream, [9, 6, 12, 18, 10, 12, 24, 44, 15])


def test_spec_example_multipolygon():
    # spec §4.3.5.6 multipolygon: two polygons, second with a hole
    xs = arr(0, 10, 10, 0, 11, 20, 20, 11, 13, 13, 17, 17)
    ys = arr(0, 0, 10, 10, 11, 11, 20, 20, 13, 17, 17, 13)
    offsets = arr(0, 4, 8, 12)
    stream = gc.encode_geometry(gc.GEOM_POLYGON, xs, ys, offsets)
    expected = [
        9, 0, 0, 26, 20, 0, 0, 20, 19, 0, 15,
        9, 22, 2, 26, 18, 0, 0, 18, 17, 0, 15,
        9, 4, 13, 26, 0, 8, 8, 0, 0, 7, 15,
    ]
    np.testing.assert_array_equal(stream, expected)
    # ring winding: rings 0,1 exterior (2A>0), ring 2 interior
    assert gc.signed_area2(xs[0:4], ys[0:4]) > 0
    assert gc.signed_area2(xs[8:12], ys[8:12]) < 0
    polys = gc.assemble_polygons(xs, ys, offsets)
    assert polys == [[0], [1, 2]]


# --- degenerate handling ----------------------------------------------------


def test_repeated_points_elided_line():
    stream = gc.encode_geometry(
        gc.GEOM_LINESTRING, arr(2, 2, 2, 10), arr(2, 2, 10, 10), arr(0, 4)
    )
    np.testing.assert_array_equal(stream, [9, 4, 4, 18, 0, 16, 16, 0])


def test_degenerate_line_dropped():
    stream = gc.encode_geometry(gc.GEOM_LINESTRING, arr(5, 5), arr(7, 7), arr(0, 2))
    assert len(stream) == 0


def test_zero_area_ring_dropped():
    stream = gc.encode_geometry(
        gc.GEOM_POLYGON, arr(0, 5, 10), arr(0, 5, 10), arr(0, 3)
    )
    assert len(stream) == 0


def test_closed_input_ring_closing_vertex_stripped():
    a = gc.encode_geometry(
        gc.GEOM_POLYGON, arr(3, 8, 20, 3), arr(6, 12, 34, 6), arr(0, 4)
    )
    b = gc.encode_geometry(gc.GEOM_POLYGON, arr(3, 8, 20), arr(6, 12, 34), arr(0, 3))
    np.testing.assert_array_equal(a, b)


def test_decode_rejects_malformed():
    import pytest

    with pytest.raises(ValueError):
        gc.decode_geometry(gc.GEOM_LINESTRING, arr(17, 0, 0, 0, 0))  # MoveTo(2) in line
    with pytest.raises(ValueError):
        gc.decode_geometry(gc.GEOM_POINT, arr(10, 2, 2))  # LineTo in point


# --- round-trip properties ---------------------------------------------------

coord = st.integers(min_value=-255, max_value=4351)


@settings(max_examples=200, deadline=None)
@given(st.lists(st.tuples(coord, coord), min_size=1, max_size=20))
def test_roundtrip_points(pts):
    xs = np.array([p[0] for p in pts], dtype=np.int64)
    ys = np.array([p[1] for p in pts], dtype=np.int64)
    stream = gc.encode_geometry(gc.GEOM_POINT, xs, ys, arr(0, len(pts)))
    dx, dy, off = gc.decode_geometry(gc.GEOM_POINT, stream)
    np.testing.assert_array_equal(dx, xs)
    np.testing.assert_array_equal(dy, ys)


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.lists(st.tuples(coord, coord), min_size=2, max_size=12),
        min_size=1,
        max_size=4,
    )
)
def test_roundtrip_lines(parts):
    xs = np.array([p[0] for part in parts for p in part], dtype=np.int64)
    ys = np.array([p[1] for part in parts for p in part], dtype=np.int64)
    offs = np.cumsum([0] + [len(p) for p in parts])
    stream = gc.encode_geometry(gc.GEOM_LINESTRING, xs, ys, offs)
    if len(stream) == 0:
        return  # everything degenerated — legal drop
    dx, dy, doff = gc.decode_geometry(gc.GEOM_LINESTRING, stream)
    # decode equals the deduped encode input per part, with <2pt parts gone
    exp_x, exp_y, exp_off = [], [], [0]
    for part in parts:
        px, py = gc._dedup_consecutive(
            np.array([p[0] for p in part], dtype=np.int64),
            np.array([p[1] for p in part], dtype=np.int64),
        )
        if len(px) >= 2:
            exp_x.extend(px.tolist())
            exp_y.extend(py.tolist())
            exp_off.append(len(exp_x))
    np.testing.assert_array_equal(dx, exp_x)
    np.testing.assert_array_equal(dy, exp_y)
    np.testing.assert_array_equal(doff, exp_off)


@settings(max_examples=200, deadline=None)
@given(
    st.integers(min_value=0, max_value=4000),
    st.integers(min_value=0, max_value=4000),
    st.integers(min_value=1, max_value=90),
)
def test_roundtrip_rect_polygon(x0, y0, s):
    # axis-aligned rectangle wound exterior-positive
    xs = arr(x0, x0 + s, x0 + s, x0)
    ys = arr(y0, y0, y0 + s, y0 + s)
    if gc.signed_area2(xs, ys) < 0:
        xs, ys = xs[::-1].copy(), ys[::-1].copy()
    stream = gc.encode_geometry(gc.GEOM_POLYGON, xs, ys, arr(0, 4))
    dx, dy, doff = gc.decode_geometry(gc.GEOM_POLYGON, stream)
    assert len(doff) == 2
    np.testing.assert_array_equal(dx, xs)
    np.testing.assert_array_equal(dy, ys)


def test_point_fast_path_matches_slow_path_extremes():
    """The single-point decode fast path must agree with the generic
    (numpy zigzag) path for ALL uint64 stream values, including
    int64-extreme/corrupt encodings that arrive negative after the
    astype(int64) at the decode boundary."""
    import numpy as np

    from mapnik_vector_tile_spark.functions import geomcodec as gc

    cases = [0, 1, 2, 3, 2**63 - 1, 2**63, 2**64 - 1, 2**64 - 2]
    for u1 in cases:
        for u2 in (0, 5, 2**64 - 1):
            stream = np.array([9, u1, u2], dtype=np.uint64).astype(np.int64)
            fx, fy, fo = gc.decode_geometry(gc.GEOM_POINT, stream)
            # generic path: disguise as a 2-command stream? No — force
            # the slow path by padding with a second MoveTo point
            enc2 = np.array([17, u1, u2, u1, u2], dtype=np.uint64).astype(
                np.int64
            )
            sx, sy, so = gc.decode_geometry(gc.GEOM_POINT, enc2)
            assert fx[0] == sx[0] and fy[0] == sy[0], (u1, u2)


def test_small_fast_path_matches_generic():
    """The pure-int small-geometry encode must be byte-identical to the
    generic numpy branch on every small single-part shape, including
    degenerate ones (consecutive dups, explicit closing vertex, zero
    area, 2^31-boundary coords that must fall back)."""
    import numpy as np

    from mapnik_vector_tile_spark.functions import geomcodec as gc

    rng = np.random.default_rng(7)
    cases = []
    for n in (1, 2, 3, 4, 5, 8, 16):
        for _ in range(40):
            xs = rng.integers(-300, 4400, n).astype(np.int64)
            ys = rng.integers(-300, 4400, n).astype(np.int64)
            cases.append((xs, ys))
    # hand-built degenerates
    cases += [
        (np.array([5, 5, 5], dtype=np.int64), np.array([7, 7, 7], dtype=np.int64)),
        (np.array([0, 10, 10, 0], dtype=np.int64), np.array([0, 0, 10, 10], dtype=np.int64)),
        (np.array([0, 10, 10, 0, 0], dtype=np.int64), np.array([0, 0, 10, 10, 0], dtype=np.int64)),
        (np.array([1, 2, 3], dtype=np.int64), np.array([1, 2, 3], dtype=np.int64)),  # zero area
        (np.array([0, 2**31 - 1, 5], dtype=np.int64), np.array([0, 1, 2], dtype=np.int64)),
        (np.array([0, 2**31, 5], dtype=np.int64), np.array([0, 1, 2], dtype=np.int64)),  # fallback
        (np.array([-(2**62), 2**62, 5], dtype=np.int64), np.array([0, 1, 2], dtype=np.int64)),
    ]
    for gt in (gc.GEOM_POINT, gc.GEOM_LINESTRING, gc.GEOM_POLYGON):
        for xs, ys in cases:
            offs = np.array([0, len(xs)], dtype=np.int64)
            fast = gc.encode_geometry(gt, xs, ys, offs)
            gen = gc._encode_geometry_generic(gt, xs, ys, offs)
            assert np.array_equal(fast, gen), (gt, xs, ys, fast, gen)


def test_decoder_rejects_structurally_invalid_streams():
    """Review-hardening pins: unclosed ring before MoveTo, LineTo with
    no open part, and 1-point linestring parts all raise ValueError
    (v2 strictness) instead of decoding to degenerate geometry."""
    import pytest

    # polygon: MoveTo starts ring 2 while ring 1 was never ClosePath'd
    bad_poly = [9, 2, 2, 10, 2, 2, 9, 2, 2, 18, 2, 2, 4, 4, 15]
    with pytest.raises(ValueError):
        gc.decode_geometry(gc.GEOM_POLYGON, np.array(bad_poly, dtype=np.int64))
    # linestring: LineTo at stream start (no MoveTo)
    with pytest.raises(ValueError):
        gc.decode_geometry(
            gc.GEOM_LINESTRING, np.array([18, 2, 2, 4, 4], dtype=np.int64)
        )
    # linestring: MoveTo-only part (1 point)
    with pytest.raises(ValueError):
        gc.decode_geometry(
            gc.GEOM_LINESTRING, np.array([9, 2, 2], dtype=np.int64)
        )


def test_pbf_malformed_varints_raise_valueerror():
    from mapnik_vector_tile_spark.functions import pbf

    import pytest

    with pytest.raises(ValueError):
        pbf._read_varint(b"\x80\x80", 0)  # truncated
    with pytest.raises(ValueError):
        pbf._read_varint(b"\x80" * 11 + b"\x01", 0)  # > 10 bytes
    # empty Value message: ValueError, not IndexError
    with pytest.raises(ValueError):
        pbf.decode_value(b"")
    # unknown Value field is SKIPPED, known member still decodes
    known = pbf._tag(1, 2) + pbf._varint1(2) + b"ok"
    # unknown varint field skipped
    assert pbf.decode_value(bytes([(8 << 3) | 0, 5]) + known) == "ok"
    # unknown length-delimited field skipped
    assert pbf.decode_value(bytes([(9 << 3) | 2, 3]) + b"xyz" + known) == "ok"


# --- v1 tolerant decode mode ------------------------------------------------------


def _cmds(*vals):
    return np.array(vals, dtype=np.int64)


def _zz(v: int) -> int:
    return (v << 1) ^ (v >> 63)


def test_v1_decode_drops_short_linestring_part():
    # MoveTo(0,0) LineTo(10,0) ; MoveTo(5,5) <stream ends: 1-pt part>
    stream = _cmds(
        9, _zz(0), _zz(0), 10, _zz(10), _zz(0), 9, _zz(-5), _zz(5)
    )
    with pytest.raises(ValueError):
        gc.decode_geometry(gc.GEOM_LINESTRING, stream, version=2)
    xs, ys, offs = gc.decode_geometry(gc.GEOM_LINESTRING, stream, version=1)
    assert xs.tolist() == [0, 10] and offs.tolist() == [0, 2]


def test_v1_decode_drops_small_ring_keeps_valid_one():
    # ring A: 2 points then ClosePath (invalid); ring B: valid triangle
    stream = _cmds(
        9, _zz(0), _zz(0), 10, _zz(4), _zz(0), 15,
        9, _zz(10), _zz(10), 18, _zz(8), _zz(0), _zz(0), _zz(8), 15,
    )
    with pytest.raises(ValueError):
        gc.decode_geometry(gc.GEOM_POLYGON, stream, version=2)
    xs, ys, offs = gc.decode_geometry(gc.GEOM_POLYGON, stream, version=1)
    assert len(offs) == 2 and len(xs) == 3
    assert xs.tolist() == [14, 22, 22] and ys.tolist() == [10, 10, 18]


def test_v1_decode_zero_count_lineto_is_noop():
    stream = _cmds(9, _zz(1), _zz(1), 2, 18, _zz(3), _zz(0), _zz(0), _zz(3))
    with pytest.raises(ValueError):
        gc.decode_geometry(gc.GEOM_LINESTRING, stream, version=2)
    xs, ys, offs = gc.decode_geometry(gc.GEOM_LINESTRING, stream, version=1)
    assert xs.tolist() == [1, 4, 4] and ys.tolist() == [1, 1, 4]


def test_v1_decode_unclosed_trailing_ring_dropped():
    stream = _cmds(9, _zz(0), _zz(0), 18, _zz(5), _zz(0), _zz(0), _zz(5))
    with pytest.raises(ValueError):
        gc.decode_geometry(gc.GEOM_POLYGON, stream, version=2)
    xs, ys, offs = gc.decode_geometry(gc.GEOM_POLYGON, stream, version=1)
    assert len(xs) == 0 and offs.tolist() == [0]


def test_v1_decode_fully_degenerate_feature_is_empty_not_error():
    stream = _cmds(9, _zz(7), _zz(7))  # 1-point linestring
    with pytest.raises(ValueError):
        gc.decode_geometry(gc.GEOM_LINESTRING, stream, version=2)
    xs, _ys, offs = gc.decode_geometry(gc.GEOM_LINESTRING, stream, version=1)
    assert len(xs) == 0


def test_v1_structural_errors_still_raise():
    # LineTo before any MoveTo is ambiguous in both versions
    with pytest.raises(ValueError):
        gc.decode_geometry(
            gc.GEOM_LINESTRING, _cmds(18, 2, 2, 2, 2), version=1
        )
    # unknown command
    with pytest.raises(ValueError):
        gc.decode_geometry(gc.GEOM_LINESTRING, _cmds(11, 2, 2), version=1)


def test_v1_mode_identical_on_valid_streams():
    """Tolerant mode is a strict superset: on v2-VALID streams the two
    versions decode identically (randomized encode round trips)."""
    rng = np.random.default_rng(99)
    for _ in range(60):
        gtype = int(rng.integers(1, 4))
        nparts = int(rng.integers(1, 4))
        xs_l, ys_l, offs = [], [], [0]
        for _p in range(nparts):
            n = int(rng.integers(3 if gtype == 3 else 2, 8))
            xs_l.extend(rng.integers(-5000, 5000, size=n).tolist())
            ys_l.extend(rng.integers(-5000, 5000, size=n).tolist())
            offs.append(len(xs_l))
        xs = np.array(xs_l, dtype=np.int64)
        ys = np.array(ys_l, dtype=np.int64)
        stream = gc.encode_geometry(gtype, xs, ys, np.array(offs))
        if len(stream) == 0:
            continue
        a = gc.decode_geometry(gtype, stream, version=2)
        b = gc.decode_geometry(gtype, stream, version=1)
        assert np.array_equal(a[0], b[0])
        assert np.array_equal(a[1], b[1])
        assert np.array_equal(a[2], b[2])


def test_v1_structural_lineto_checks_precede_lax_skip():
    """Zero-count LineTo must NOT mask structural errors in v1 mode:
    LineTo in a point geometry and LineTo before any MoveTo still
    raise (review regression)."""
    with pytest.raises(ValueError):
        gc.decode_geometry(
            gc.GEOM_POINT, _cmds(9, _zz(1), _zz(1), 2), version=1
        )
    with pytest.raises(ValueError):
        gc.decode_geometry(gc.GEOM_LINESTRING, _cmds(2), version=1)


def test_winding_tie_breaks_with_centroid_probe():
    """A ring whose vertex containment vote is an EXACT tie (half its
    vertices inside the other ring) is classified by a centroid probe
    instead of defaulting to outside — a tied hole must stay a hole
    (flipping it would invert the cut)."""
    from mapnik_vector_tile_spark.functions import pip

    # ring 0: CCW square (0..10)^2, positive area (exterior)
    ex = np.array([0, 10, 10, 0], dtype=np.float64)
    ey = np.array([0, 0, 10, 10], dtype=np.float64)
    # ring 1: 2 of 4 vertices strictly inside ring 0, centroid (9, 6.5)
    # strictly inside -> probe says contained -> depth 1 -> hole
    rx = np.array([5, 13, 13, 5], dtype=np.float64)
    ry = np.array([5, 5, 8, 8], dtype=np.float64)
    assert pip.points_in_ring(rx, ry, ex, ey).sum() * 2 == len(rx)
    xs = np.concatenate([ex, rx])
    ys = np.concatenate([ey, ry])
    offs = np.array([0, 4, 8], dtype=np.int64)
    ox, oy = pip.normalize_ring_winding(xs, ys, offs, gc.signed_area2)
    assert gc.signed_area2(ox[0:4], oy[0:4]) > 0  # exterior kept
    assert gc.signed_area2(ox[4:8], oy[4:8]) < 0  # tied ring -> hole
    # a tied ring whose centroid is OUTSIDE stays an exterior
    rx2 = np.array([5, 25, 25, 5], dtype=np.float64)
    ry2 = np.array([5, 5, 8, 8], dtype=np.float64)
    inside2 = pip.points_in_ring(rx2, ry2, ex, ey)
    assert inside2.sum() * 2 == len(rx2)
    xs2 = np.concatenate([ex, rx2])
    ys2 = np.concatenate([ey, ry2])
    ox2, oy2 = pip.normalize_ring_winding(xs2, ys2, offs, gc.signed_area2)
    assert gc.signed_area2(ox2[4:8], oy2[4:8]) > 0
