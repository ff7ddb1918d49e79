"""F12 polygon repair: even-odd decomposition of invalid rings +
quarantine predicate + encode-path round trip (SURVEY §2.7 F12;
reference parity: wagyu repair inside
src/vector_tile_geometry_clipper.hpp polygon overloads)."""

import math

import numpy as np

from mapnik_vector_tile_spark.functions import geomcodec as gc
from mapnik_vector_tile_spark.functions import repair

# --- the committed fixture corpus of invalid polygons ----------------------
BOWTIE = (
    np.array([0.0, 10.0, 10.0, 0.0]),
    np.array([0.0, 10.0, 0.0, 10.0]),
)
FIGURE8 = (  # two triangles touching at the shared vertex (0,0)
    np.array([0.0, 5.0, 5.0, 0.0, -5.0, -5.0]),
    np.array([0.0, 0.0, 5.0, 0.0, 0.0, -5.0]),
)
PENTAGRAM = (
    np.array([math.cos(math.pi / 2 + 4 * math.pi * i / 5) * 10 for i in range(5)]),
    np.array([math.sin(math.pi / 2 + 4 * math.pi * i / 5) * 10 for i in range(5)]),
)
SQUARE = (
    np.array([0.0, 10.0, 10.0, 0.0]),
    np.array([0.0, 0.0, 10.0, 10.0]),
)
COLLINEAR_SPIKE = (  # doubles back to an exact vertex repeat at (10,0)
    np.array([0.0, 10.0, 20.0, 10.0, 10.0, 0.0]),
    np.array([0.0, 0.0, 0.0, 0.0, 10.0, 10.0]),
)
COLLINEAR_PARTIAL = (  # edge overlaps another edge with NO shared vertex
    np.array([0.0, 20.0, 15.0, 15.0, 0.0]),
    np.array([0.0, 0.0, 0.0, 10.0, 10.0]),
)


def _area2(xs, ys):
    s = 0.0
    for i in range(len(xs)):
        j = (i + 1) % len(xs)
        s += xs[i] * ys[j] - xs[j] * ys[i]
    return s


def test_bowtie_splits_into_exact_triangles():
    lobes = repair.decompose_ring(*BOWTIE)
    assert len(lobes) == 2
    sets = [set(zip(lx, ly)) for lx, ly in lobes]
    assert {(5.0, 5.0), (10.0, 10.0), (10.0, 0.0)} in sets
    assert {(0.0, 0.0), (5.0, 5.0), (0.0, 10.0)} in sets
    # even-odd area preserved: two lobes of 25 each vs |crossing quad|
    assert sum(abs(_area2(lx, ly)) / 2 for lx, ly in lobes) == 50.0
    for lx, ly in lobes:
        assert repair.ring_is_simple(lx, ly)


def test_figure8_splits_at_shared_vertex():
    lobes = repair.decompose_ring(*FIGURE8)
    assert len(lobes) == 2
    assert all(len(lx) == 3 for lx, _ in lobes)
    assert all(repair.ring_is_simple(lx, ly) for lx, ly in lobes)


def test_pentagram_lobes_are_simple():
    lobes = repair.decompose_ring(*PENTAGRAM)
    assert len(lobes) >= 2
    for lx, ly in lobes:
        assert repair.ring_is_simple(lx, ly)


def test_valid_ring_is_untouched_no_copy():
    xs, ys = SQUARE
    out = repair.decompose_ring(xs, ys)
    assert len(out) == 1
    np.testing.assert_array_equal(out[0][0], xs)
    np.testing.assert_array_equal(out[0][1], ys)
    assert repair.ring_is_simple(xs, ys)


def test_collinear_spike_is_excised():
    """A spike that doubles back to an exact vertex repeat pops as a
    zero-area loop and is dropped — the main ring comes out clean."""
    lobes = repair.decompose_ring(*COLLINEAR_SPIKE)
    assert len(lobes) == 1
    assert set(zip(lobes[0][0], lobes[0][1])) == {
        (0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0)
    }
    assert not repair.ring_is_simple(*COLLINEAR_SPIKE)


def test_collinear_partial_overlap_is_repaired():
    """An edge lying ALONG another edge with no shared vertex (the
    spike quad: B->M retraces A->B's interior) — the round-2 collinear
    insertion pass splits at the exact overlap endpoint, the zero-area
    spike drops, and the remaining lobe is the clean trapezoid. This
    CLOSED the former F12 residual narrowing."""
    assert not repair.ring_is_simple(*COLLINEAR_PARTIAL)
    lobes = repair.decompose_ring(*COLLINEAR_PARTIAL)
    assert len(lobes) == 1
    lx, ly = lobes[0]
    assert repair.ring_is_simple(lx, ly)
    # spike (15,0)-(20,0) excised: trapezoid (0,0)(15,0)(15,10)(0,10)
    assert set(zip(lx, ly)) == {
        (0.0, 0.0), (15.0, 0.0), (15.0, 10.0), (0.0, 10.0)
    }
    assert abs(_area2(lx, ly)) == 2 * 150.0


def test_collinear_forward_retrace_decomposes_to_simple_lobes():
    """A ring that retraces the INTERIOR of an earlier edge in the
    same direction (both overlap endpoints strictly inside): every
    output lobe is simple, and the total even-odd area (lobes XOR)
    equals the singly-covered region."""
    xs = np.array([0.0, 10.0, 10.0, 2.0, 2.0, 6.0, 6.0, 0.0])
    ys = np.array([0.0, 0.0, 6.0, 6.0, 0.0, 0.0, 6.0, 6.0])
    assert not repair.ring_is_simple(xs, ys)
    lobes = repair.decompose_ring(xs, ys)
    assert len(lobes) >= 2
    for lx, ly in lobes:
        assert repair.ring_is_simple(lx, ly)


def test_repair_rings_multi_ring_polygon():
    """Bowtie exterior + valid hole: the hole ring passes through and
    the bowtie decomposes; ring count 1 -> 3."""
    xs = np.concatenate([BOWTIE[0] * 10, np.array([2.0, 4.0, 4.0, 2.0])])
    ys = np.concatenate([BOWTIE[1] * 10, np.array([2.0, 2.0, 4.0, 4.0])])
    offs = np.array([0, 4, 8])
    ox, oy, ooffs = repair.repair_rings(xs, ys, offs)
    assert len(ooffs) - 1 == 3


def test_zero_area_lobe_dropped():
    # spike out and back: A B A C D with B a pure spike -> lobe (A,B)
    # degenerate and dropped; the main ring survives with the full
    # area. B lies exactly ON the closing edge D->A (same y=x line),
    # so the collinear pass may legally leave B as a collinear vertex
    # of the main ring — assert semantics (area + simplicity), not a
    # vertex count.
    xs = np.array([0.0, 5.0, 0.0, 10.0, 10.0])
    ys = np.array([0.0, 5.0, 0.0, 0.0, 10.0])
    lobes = repair.decompose_ring(xs, ys)
    assert len(lobes) == 1
    lx, ly = lobes[0]
    assert abs(_area2(lx, ly)) == 2 * 50.0
    assert {(0.0, 0.0), (10.0, 0.0), (10.0, 10.0)} <= set(zip(lx, ly))


def test_encode_roundtrip_repairs_bowtie(spark):
    """Through the REAL encode path: a bowtie feature encoded with
    repair=True decodes as two rings whose total |area| equals the
    two lobes; with repair=False the bowtie's self-cancelling shoelace
    (net 2A = 0) makes the encoder drop the feature entirely — the
    data-loss mode repair exists to prevent."""
    from mapnik_vector_tile_spark.operators import tiling as T

    W = 2.0e6
    feats = spark.createDataFrame(
        [(1, 3, [0.0, W, W, 0.0], [0.0, W, 0.0, W], [0, 4], "b")],
        schema=T.FEATURES_SCHEMA,
    )
    assigned = T.assign_tiles(feats, 0, 0)
    dec = T.decode_tiles_to_features(
        T.encode_tiles(assigned, repair=True)
    ).collect()
    assert len(dec) == 1
    offs = dec[0].part_offsets
    assert len(offs) - 1 == 2
    px = np.asarray(dec[0].pxs, dtype=np.int64)
    py = np.asarray(dec[0].pys, dtype=np.int64)
    areas = [
        abs(gc.signed_area2(px[offs[r]:offs[r + 1]], py[offs[r]:offs[r + 1]]))
        for r in range(len(offs) - 1)
    ]
    assert all(a > 0 for a in areas)
    dec0 = T.decode_tiles_to_features(
        T.encode_tiles(assigned, repair=False)
    ).collect()
    assert dec0 == []


def test_flag_invalid_polygons(spark):
    from mapnik_vector_tile_spark.operators import tiling as T

    feats = spark.createDataFrame(
        [
            (1, 3, BOWTIE[0].tolist(), BOWTIE[1].tolist(), [0, 4], "bow"),
            (2, 3, SQUARE[0].tolist(), SQUARE[1].tolist(), [0, 4], "sq"),
            (3, 1, [1.0], [1.0], [0, 1], "pt"),
        ],
        schema=T.FEATURES_SCHEMA,
    )
    got = {r.feature_id: r.is_simple
           for r in T.flag_invalid_polygons(feats).collect()}
    assert got == {1: False, 2: True, 3: True}


def test_decompose_random_rings_invariants():
    """Property fuzz (seeded, deterministic): for arbitrary rings,
    every output lobe is simple, non-degenerate, and made of input or
    crossing-derived vertices; valid simple inputs come back whole."""
    rng = np.random.default_rng(42)
    for trial in range(120):
        n = int(rng.integers(3, 12))
        xs = rng.integers(-50, 50, n).astype(np.float64)
        ys = rng.integers(-50, 50, n).astype(np.float64)
        lobes = repair.decompose_ring(xs, ys)
        for lx, ly in lobes:
            assert len(lx) >= 3
            assert abs(_area2(lx, ly)) > 0
            assert repair.ring_is_simple(lx, ly), (trial, lx, ly)


def test_positive_fill_rule_drops_negative_bowtie_lobe():
    """fill_rule='positive' (wagyu option, OGC winding): the bowtie's
    CW lobe is dropped, the CCW lobe kept; even_odd keeps both; the
    double-CCW figure-8 is rule-agnostic."""
    import numpy as np

    from mapnik_vector_tile_spark.functions.repair import repair_rings

    # bowtie A(0,0) B(4,4) C(4,0) D(0,4): lobes (X,B,C) CW, (A,X,D) CCW
    xs = np.array([0.0, 4.0, 4.0, 0.0])
    ys = np.array([0.0, 4.0, 0.0, 4.0])
    offs = np.array([0, 4])
    _, _, o_eo = repair_rings(xs, ys, offs)
    assert len(o_eo) - 1 == 2
    px, py, o_pos = repair_rings(xs, ys, offs, fill_rule="positive")
    assert len(o_pos) - 1 == 1
    # the kept lobe is the CCW triangle (A, X, D)
    kept = set(zip(px.tolist(), py.tolist()))
    assert kept == {(0.0, 0.0), (2.0, 2.0), (0.0, 4.0)}
    # figure-8, both loops CCW: rule-agnostic
    xs8 = np.array([0.0, 4.0, 4.0, 0.0, -4.0, -4.0])
    ys8 = np.array([0.0, 0.0, 4.0, 0.0, 0.0, -4.0])
    offs8 = np.array([0, 6])
    _, _, o8 = repair_rings(xs8, ys8, offs8, fill_rule="positive")
    assert len(o8) - 1 == 2
    import pytest as _pytest

    with _pytest.raises(ValueError, match="fill_rule"):
        repair_rings(xs, ys, offs, fill_rule="negative")
