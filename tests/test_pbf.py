"""Wire-codec tests: varint vectorization, Value variants, layer
round-trip, tile concat legality, compression detect (S5/P5 areas)."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from mapnik_vector_tile_spark.functions import geomcodec as gc
from mapnik_vector_tile_spark.functions import pbf


@settings(max_examples=100, deadline=None)
@given(st.lists(st.integers(0, 2**63 - 1), max_size=50))
def test_varint_roundtrip(vals):
    buf = pbf.varint_bytes_np(np.array(vals, dtype=np.uint64))
    out, consumed = pbf.varint_decode_np(buf)
    assert consumed == len(buf)
    np.testing.assert_array_equal(out, np.array(vals, dtype=np.uint64))


def test_varint_known_bytes():
    assert pbf.varint_bytes_np(np.array([0])) == b"\x00"
    assert pbf.varint_bytes_np(np.array([1])) == b"\x01"
    assert pbf.varint_bytes_np(np.array([127])) == b"\x7f"
    assert pbf.varint_bytes_np(np.array([128])) == b"\x80\x01"
    assert pbf.varint_bytes_np(np.array([300])) == b"\xac\x02"  # protobuf doc example


def test_value_variants_roundtrip():
    for v in ["hello", 42, -7, 3.5, True, False, 0, -0.0]:
        got = pbf.decode_value(pbf.encode_value(v))
        assert got == v and type(got) is type(v)


def test_value_dictionary_type_sensitive():
    lb = pbf.LayerBuilder("t")
    i1 = lb.value_index(1)
    i2 = lb.value_index(1.0)
    i3 = lb.value_index("1")
    i4 = lb.value_index(1)
    assert i1 != i2 != i3 and i1 == i4
    # -0.0 vs 0.0 bit-distinct
    assert lb.value_index(-0.0) != lb.value_index(0.0)


def test_layer_roundtrip_with_features():
    lb = pbf.LayerBuilder("roads", extent=4096)
    g1 = gc.encode_geometry(gc.GEOM_POINT, np.array([25]), np.array([17]), np.array([0, 1]))
    lb.add_feature(7, gc.GEOM_POINT, g1, {"name": "a", "rank": 3})
    g2 = gc.encode_geometry(
        gc.GEOM_LINESTRING, np.array([2, 2, 10]), np.array([2, 10, 10]), np.array([0, 3])
    )
    lb.add_feature(8, gc.GEOM_LINESTRING, g2, {"name": "b", "rank": 3})
    msg = lb.build()
    dec = pbf.decode_layer(msg)
    assert dec["name"] == "roads"
    assert dec["version"] == 2
    assert dec["extent"] == 4096
    assert dec["keys"] == ["name", "rank"]  # first-appearance order
    assert dec["values"] == ["a", 3, "b"]
    assert len(dec["features"]) == 2
    f0 = dec["features"][0]
    assert f0["id"] == 7 and f0["type"] == gc.GEOM_POINT
    np.testing.assert_array_equal(f0["geometry"], [9, 50, 34])
    assert pbf.feature_props(dec, f0) == {"name": "a", "rank": 3}
    assert pbf.feature_props(dec, dec["features"][1]) == {"name": "b", "rank": 3}


def test_empty_feature_not_painted():
    lb = pbf.LayerBuilder("x")
    lb.add_feature(1, gc.GEOM_LINESTRING, np.empty(0), {})
    assert not lb.painted


def test_tile_concat_is_valid_tile():
    l1 = pbf.LayerBuilder("a")
    l1.add_feature(1, 1, np.array([9, 50, 34]), {})
    l2 = pbf.LayerBuilder("b")
    l2.add_feature(2, 1, np.array([9, 2, 2]), {})
    tile = pbf.concat_tile([l1.build(), l2.build()])
    layers = pbf.decode_tile(tile)
    assert len(layers) == 2
    assert pbf.decode_layer(layers[0])["name"] == "a"
    assert pbf.decode_layer(layers[1])["name"] == "b"
    # concat of two tiles is also a tile (composite fast path)
    layers2 = pbf.decode_tile(tile + tile)
    assert len(layers2) == 4


def test_compression_detect_roundtrip():
    raw = b"mapnik vector tile" * 10
    z = pbf.compress(raw)
    g = pbf.compress(raw, gzip=True)
    assert pbf.is_zlib(z) and not pbf.is_gzip(z)
    assert pbf.is_gzip(g) and not pbf.is_zlib(g)
    assert pbf.maybe_decompress(z) == raw
    assert pbf.maybe_decompress(g) == raw
    assert pbf.maybe_decompress(raw) == raw


def test_absent_version_defaults_to_v1():
    """proto2 `version = 15 [default = 1]`: a layer that omits the
    field reads as v1 everywhere — valid per is_valid rules, and its
    geometry decodes under the TOLERANT mode (review regression: the
    old default of 2 made version-less legacy layers strict)."""
    import numpy as np

    from mapnik_vector_tile_spark.functions import geomcodec as gc
    from mapnik_vector_tile_spark.operators.composite import layer_is_valid

    # name + one degenerate 1-point linestring feature + extent, NO version
    stream = gc.encode_geometry(
        gc.GEOM_POINT, np.array([5]), np.array([5]), np.array([0, 1])
    )
    feat = pbf.encode_feature(1, gc.GEOM_LINESTRING, stream[:3], [])
    buf = (
        pbf._len_delim(1, b"legacy")
        + pbf._len_delim(2, feat)
        + pbf._tag(5, 0)
        + pbf.varint_of(4096)
    )
    assert pbf.decode_layer(buf)["version"] == 1
    assert pbf.split_layer(buf)["version"] == 1
    ok, reasons = layer_is_valid(buf)
    assert ok, reasons


def test_decode_value_skips_wrong_wire_type_fields_4_7():
    """A field numbered 4-7 carried with a NON-varint wire type is an
    unknown/extension shape and must be skipped (decoders-MUST-skip),
    not misparsed as the int/bool member — the known member later in
    the message must win."""
    # field 4 (int_value) with wire 2 (length-delimited): bogus payload
    bogus = pbf._tag(4, 2) + pbf._varint1(3) + b"abc"
    real = pbf._tag(5, 0) + pbf._varint1(99)  # uint_value = 99
    assert pbf.decode_value(bogus + real) == 99
    # same for sint (6) and bool (7) with a fixed64 wire type
    bogus6 = pbf._tag(6, 1) + b"\x00" * 8
    bogus7 = pbf._tag(7, 5) + b"\x00" * 4
    assert pbf.decode_value(bogus6 + bogus7 + real) == 99
    # a Value holding ONLY wrong-wire members has no known member
    import pytest

    with pytest.raises(ValueError):
        pbf.decode_value(bogus)


def test_splice_merge_rejects_mixed_version_extent():
    """Partial blobs of one tile disagreeing on (version, extent) must
    be rejected: raw geometry bytes are spliced unrescaled, so a
    silent max() merge would change a feature's rendered scale."""
    import pytest

    stream = gc.encode_geometry(
        gc.GEOM_POINT,
        np.array([10], dtype=np.int64),
        np.array([20], dtype=np.int64),
        np.array([0, 1], dtype=np.int64),
    )
    a = pbf.LayerBuilder("l", extent=4096)
    a.add_feature(1, gc.GEOM_POINT, stream, {})
    b = pbf.LayerBuilder("l", extent=512)
    b.add_feature(2, gc.GEOM_POINT, stream, {})
    with pytest.raises(ValueError, match="disagree"):
        pbf.splice_merge_layers([a.build(), b.build()], "l")
    # agreeing blobs still merge fine
    c = pbf.LayerBuilder("l", extent=4096)
    c.add_feature(3, gc.GEOM_POINT, stream, {})
    merged = pbf.splice_merge_layers([a.build(), c.build()], "l")
    assert len(pbf.split_layer(merged)["features"]) == 2


def _canonical_point_blob(fids, key="k"):
    """Layer blob in the fast-path canonical shape: every feature a
    single-prop single-point record."""
    lb = pbf.LayerBuilder("l", extent=4096)
    for fid in fids:
        stream = gc.encode_geometry(
            gc.GEOM_POINT,
            np.array([fid + 3], dtype=np.int64),
            np.array([2 * fid + 1], dtype=np.int64),
            np.array([0, 1], dtype=np.int64),
        )
        lb.add_feature(fid, gc.GEOM_POINT, stream, {key: f"v{fid % 7}"})
    return lb.build()


def test_splice_merge_fast_matches_scalar():
    """The vectorized fast path must be byte-identical to the scalar
    splice path on canonical single-point blobs."""
    a = _canonical_point_blob(range(1, 60, 2))
    b = _canonical_point_blob(range(2, 60, 2))
    fast = pbf._splice_merge_fast([a, b], "l")
    assert fast is not None
    assert fast == pbf.splice_merge_layers([a, b], "l")


def test_splice_merge_fast_rejects_overlong_varints():
    """The fast path RE-ENCODES varints minimally while the scalar
    path splices raw geometry bytes — an overlong varint in a
    foreign blob passes all span checks but would merge to different
    bytes, so the minimality gate must route it to the scalar path."""
    a = _canonical_point_blob(range(1, 40))
    fast = pbf._splice_merge_fast([a], "l")
    assert fast is not None  # minimal blob: fast path accepts

    # overlong-encode one geometry varint: rebuild the layer with the
    # first feature's final geometry byte (a 1-byte varint < 0x80)
    # padded to the two-byte form [v|0x80, 0x00] — same decoded value,
    # +1 byte; build_layer_merged recomputes all length prefixes, so
    # the blob stays structurally valid.
    d = pbf.split_layer(a)
    bad_geom = None
    feats = []
    for fid, gtype, tags, raw_geom, raw_raster in d["features"]:
        props = [
            (d["keys"][tags[i]], d["raw_values"][tags[i + 1]])
            for i in range(0, len(tags), 2)
        ]
        if bad_geom is None:
            assert raw_geom[-1] < 0x80
            bad_geom = raw_geom[:-1] + bytes([raw_geom[-1] | 0x80, 0x00])
            raw_geom = bad_geom
        feats.append((fid, gtype, props, raw_geom, raw_raster))
    blob = pbf.build_layer_merged("l", 2, 4096, feats)
    # sanity: still parses to the same decoded features
    d2 = pbf.split_layer(blob)
    assert len(d2["features"]) == len(d["features"])
    assert pbf._splice_merge_fast([blob], "l") is None  # falls back
    # and the scalar path preserves the overlong geometry bytes
    merged = pbf.splice_merge_layers([blob], "l")
    assert bad_geom in merged


def _singles_tile(key, captions):
    """A Tile in the batched decoder's canonical shape: one layer of
    single-point features with one string prop each."""
    lb = pbf.LayerBuilder("pts-ř", extent=4096)
    for fid, cap in enumerate(captions, start=1):
        stream = gc.encode_geometry(
            gc.GEOM_POINT,
            np.array([fid * 5], dtype=np.int64),
            np.array([4096 - fid], dtype=np.int64),
            np.array([0, 1], dtype=np.int64),
        )
        lb.add_feature(fid, gc.GEOM_POINT, stream, {key: cap})
    return pbf.layer_to_tile(lb.build())


def _general_rows(blob):
    """(layer, id, type, px, py, caption) per feature from the general
    decoder, or None where it rejects the tile."""
    try:
        rows = []
        for lmsg in pbf.decode_tile(blob):
            layer = pbf.decode_layer(lmsg)
            for f in layer["features"]:
                xs, ys, _ = gc.decode_geometry(
                    int(f["type"]),
                    f["geometry"].astype(np.int64),
                    version=int(layer["version"]),
                )
                if len(xs):
                    rows.append((
                        layer["name"], int(f["id"]), int(f["type"]),
                        int(xs[0]), int(ys[0]),
                        pbf.feature_props(layer, f).get("caption"),
                    ))
        return rows
    except Exception:
        return None


_SINGLES_TILES = [
    _singles_tile("caption", ["a", "bb", "a", "Plzeň", "ccc"]),
    _singles_tile("caption", ["x" * 130, "Brno", "žluť"]),
    _singles_tile("name", ["p", "q"]),
]


@settings(max_examples=300, deadline=None)
@given(st.data())
def test_decode_singles_batch_single_byte_corruption(data):
    """A tile with one corrupted byte beside a clean one: the batch
    never raises, the clean tile stays on the batched path, and a
    corrupt tile the batch keeps decodes as the general decoder
    decodes it (otherwise it is demoted, and the general decoder
    decides). Non-UTF-8 layer names and captions used to raise or
    yield invalid Arrow strings here."""
    clean = data.draw(st.sampled_from(_SINGLES_TILES))
    base = data.draw(st.sampled_from(_SINGLES_TILES))
    pos = data.draw(st.integers(0, len(base) - 1))
    byte = data.draw(st.integers(0, 255).filter(lambda b: b != base[pos]))
    corrupt = base[:pos] + bytes([byte]) + base[pos + 1:]

    blobs = [clean, corrupt]
    descs, tix = [], []
    for i, b in enumerate(blobs):
        for lay in pbf.scan_singles_tile(b) or []:
            descs.append(lay)
            tix.append(i)
    assert tix[0] == 0
    res, bad = pbf.decode_singles_batch(descs, blobs, tix, n_tiles=2)
    assert res is not None and 0 not in bad
    res["caption"].validate(full=True)

    fast = {0: [], 1: []}
    first = 0
    for li, lay in enumerate(res["lay_idx"].tolist()):
        for r in range(first, first + int(res["nfeat"][li])):
            fast[tix[lay]].append((
                res["layer_name"][li], int(res["fid"][r]),
                int(res["gt"][r]), int(res["px"][r]), int(res["py"][r]),
                res["caption"][r].as_py(),
            ))
        first += int(res["nfeat"][li])
    assert fast[0] == _general_rows(clean)
    if 1 in tix and 1 not in bad:
        assert fast[1] == _general_rows(corrupt)


def test_decode_singles_batch_demotes_non_utf8_layer_name():
    clean = _SINGLES_TILES[0]
    corrupt = clean.replace(b"pts-\xc5\x99", b"pts-\xff\x99")
    descs = pbf.scan_singles_tile(clean) + pbf.scan_singles_tile(corrupt)
    res, bad = pbf.decode_singles_batch(descs, [clean, corrupt], [0, 1])
    assert bad == [1] and res["layer_name"].tolist() == ["pts-ř"]
    assert _general_rows(corrupt) is None
