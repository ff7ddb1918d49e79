"""Real baseline TIFF 6.0 codec (functions.tiff): bit-exact round-trip
on both compressions, IFD/container structure, PackBits row-restart
semantics, big-endian decode, fuzz contract."""

import struct

import numpy as np
import pytest

from mapnik_vector_tile_spark.functions import tiff as T
from mapnik_vector_tile_spark.sources.synth import make_pixels


def test_roundtrip_bit_exact_packbits():
    for i in range(6):
        rgba = make_pixels(i, 31 + i, 23 + 2 * i)
        assert (T.decode_tiff(T.encode_tiff(rgba)) == rgba).all(), i


def test_roundtrip_bit_exact_uncompressed():
    for i in range(4):
        rgba = make_pixels(i + 6, 17 + 3 * i, 40 + i)
        buf = T.encode_tiff(rgba, compress=False)
        assert (T.decode_tiff(buf) == rgba).all(), i


def test_roundtrip_shapes_and_rgb():
    rng = np.random.RandomState(3)
    for shape in ((1, 1, 4), (3, 200, 4), (200, 3, 4), (16, 16, 3)):
        img = rng.randint(0, 256, shape, dtype=np.uint8)
        back = T.decode_tiff(T.encode_tiff(img))
        if shape[2] == 4:
            assert (back == img).all(), shape
        else:
            assert (back[..., :3] == img).all()
            assert (back[..., 3] == 255).all()


def test_container_structure():
    buf = T.encode_tiff(make_pixels(0, 20, 20))
    assert buf[:4] == b"II*\x00"
    (ifd_off,) = struct.unpack("<I", buf[4:8])
    (n,) = struct.unpack("<H", buf[ifd_off : ifd_off + 2])
    tags = [
        struct.unpack("<H", buf[ifd_off + 2 + 12 * i : ifd_off + 4 + 12 * i])[0]
        for i in range(n)
    ]
    # baseline-required tags present, ascending order (TIFF 6.0 §2)
    assert tags == sorted(tags)
    for need in (256, 257, 258, 259, 262, 273, 277, 278, 279):
        assert need in tags, need
    assert 338 in tags  # ExtraSamples for the alpha channel


def test_packbits_compresses_runs():
    # constant image: every row collapses to replicate runs
    img = np.full((64, 64, 4), 129, dtype=np.uint8)
    buf = T.encode_tiff(img)
    assert len(buf) < img.size // 8


def test_packbits_row_restart():
    # runs that would span rows must NOT merge: decode each row
    # independently and still match (spec §9 row-restart rule)
    img = np.zeros((7, 5, 4), dtype=np.uint8)
    img[3:] = 255
    assert (T.decode_tiff(T.encode_tiff(img)) == img).all()


def test_decode_big_endian():
    # hand-build a tiny MM-order uncompressed RGBA TIFF (2x1)
    px = bytes([10, 20, 30, 40, 50, 60, 70, 80])
    n = 9
    ifd_off = 8
    data_off = ifd_off + 2 + 12 * n + 4 + 8  # after IFD + BitsPerSample
    bits_off = ifd_off + 2 + 12 * n + 4
    entries = b""
    def e(tag, typ, cnt, val):
        return struct.pack(">HHI", tag, typ, cnt) + val
    entries += e(256, 4, 1, struct.pack(">I", 2))
    entries += e(257, 4, 1, struct.pack(">I", 1))
    entries += e(258, 3, 4, struct.pack(">I", bits_off))
    entries += e(259, 3, 1, struct.pack(">HH", 1, 0))
    entries += e(262, 3, 1, struct.pack(">HH", 2, 0))
    entries += e(273, 4, 1, struct.pack(">I", data_off))
    entries += e(277, 3, 1, struct.pack(">HH", 4, 0))
    entries += e(278, 4, 1, struct.pack(">I", 1))
    entries += e(279, 4, 1, struct.pack(">I", len(px)))
    buf = (
        b"MM" + struct.pack(">HI", 42, ifd_off)
        + struct.pack(">H", n) + entries + struct.pack(">I", 0)
        + struct.pack(">HHHH", 8, 8, 8, 8)
        + px
    )
    out = T.decode_tiff(buf)
    assert out.shape == (1, 2, 4)
    assert out.tobytes() == px


def test_multi_strip_layout():
    # force many strips: rows wider than the 8 KiB strip budget
    img = np.random.RandomState(5).randint(0, 256, (40, 3000, 4), np.uint8)
    buf = T.encode_tiff(img, compress=False)
    assert (T.decode_tiff(buf) == img).all()


def test_malformed_folds_to_valueerror():
    good = T.encode_tiff(make_pixels(1, 16, 16))
    # (len-1 may only shave the even-alignment pad byte, which is
    # legitimately decodable — cut into real strip data instead)
    for cut in (0, 1, 3, 7, 11, 30, len(good) // 2, len(good) - 9):
        with pytest.raises(ValueError):
            T.decode_tiff(good[:cut])
    with pytest.raises(ValueError):
        T.decode_tiff(b"XX" + good[2:])
    # flip compression to an unsupported scheme
    bad = bytearray(good)
    (ifd_off,) = struct.unpack("<I", good[4:8])
    (n,) = struct.unpack("<H", good[ifd_off : ifd_off + 2])
    for i in range(n):
        off = ifd_off + 2 + 12 * i
        tag = struct.unpack("<H", good[off : off + 2])[0]
        if tag == 259:
            bad[off + 8 : off + 10] = struct.pack("<H", 5)  # LZW: unsupported
    with pytest.raises(ValueError):
        T.decode_tiff(bytes(bad))


def test_encode_rejects_bad_shapes():
    for bad in (
        np.zeros((4, 4), np.uint8),
        np.zeros((4, 4, 2), np.uint8),
        np.zeros((4, 4, 4), np.float32),
    ):
        with pytest.raises(ValueError):
            T.encode_tiff(bad)


# --- GeoTIFF georeferencing ----------------------------------------------------


def test_geotiff_tags_roundtrip():
    import numpy as np

    from mapnik_vector_tile_spark.functions.tiff import (
        encode_tiff,
        read_dims,
        read_geo_bbox,
    )
    from mapnik_vector_tile_spark.sources.synth import make_pixels

    img = make_pixels(5, 32, 16)
    bbox = (-1000.0, -500.0, 3000.0, 1500.0)
    buf = encode_tiff(img, compress=True, geo=bbox)
    assert read_dims(buf) == (32, 16)
    back = read_geo_bbox(buf)
    # spans divide by power-of-two dims -> exact reconstruction here
    assert back == bbox
    # pixel payload untouched by geo tags
    from mapnik_vector_tile_spark.functions.tiff import decode_tiff

    assert np.array_equal(decode_tiff(buf), img)
    # plain tiff: no geo
    assert read_geo_bbox(encode_tiff(img)) is None
    import pytest

    with pytest.raises(ValueError):
        encode_tiff(img, geo=(5.0, 0.0, 5.0, 1.0))  # degenerate
    with pytest.raises(ValueError):
        read_geo_bbox(b"garbage")
    with pytest.raises(ValueError):
        read_dims(b"II*\x00")


def test_geotiff_footprints_ingest(spark):
    from mapnik_vector_tile_spark.functions.tiff import encode_tiff
    from mapnik_vector_tile_spark.operators.raster import geotiff_footprints
    from mapnik_vector_tile_spark.sources.synth import make_pixels

    img = make_pixels(1, 16, 16)
    geo = encode_tiff(img, geo=(0.0, 0.0, 1024.0, 1024.0))
    plain = encode_tiff(img)  # no geo tags -> dropped
    df = spark.createDataFrame(
        [(1, geo, "cap a"), (2, plain, "cap b")],
        "idx long, bytes binary, caption string",
    )
    out = geotiff_footprints(df).collect()
    assert len(out) == 1
    r = out[0]
    assert r.idx == 1 and r.w == 16 and r.h == 16 and r.fmt == "tiff"
    assert (r.minx, r.miny, r.maxx, r.maxy) == (0.0, 0.0, 1024.0, 1024.0)
    assert r.caption == "cap a"
