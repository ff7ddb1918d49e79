"""ESRI Shapefile source/sink (sources/shapefile.py) — codec
round-trips per shape type, the one-type-per-file spec rule,
Null/Z-M record skip policy, dBASE attribute fidelity, byte
determinism, and the Spark sink→source end-to-end path."""

import os
import struct

import numpy as np
import pytest

from mapnik_vector_tile_spark.functions import geomcodec as gc
from mapnik_vector_tile_spark.sources.shapefile import (
    decode_dbf,
    decode_shp,
    encode_dbf,
    encode_shp,
    read_shapefile,
    write_shapefile_shards,
)


def test_roundtrip_each_type():
    cases = {
        "point": [(gc.GEOM_POINT, [1.5], [-2.25], [0, 1])],
        "multipoint": [(gc.GEOM_POINT, [0.0, 3.5, -1.0], [1.0, 2.0, 4.5], [0, 3])],
        "line": [
            (gc.GEOM_LINESTRING, [0.0, 1.0, 2.0], [0.0, 1.0, 0.0], [0, 3]),
            (gc.GEOM_LINESTRING, [5.0, 6.0, 5.0, 9.0], [0.0, 1.0, 2.0, 3.0], [0, 2, 4]),
        ],
        "polygon": [
            (
                gc.GEOM_POLYGON,
                [0.0, 4.0, 4.0, 0.0, 0.0],
                [0.0, 0.0, 3.0, 3.0, 0.0],
                [0, 5],
            )
        ],
    }
    for name, recs in cases.items():
        shp, shx = encode_shp(recs)
        back = decode_shp(shp)
        assert back == [
            (g, list(xs), list(ys), list(offs)) for g, xs, ys, offs in recs
        ], name
        # shx: one 8-byte entry per record after the 100-byte header
        assert len(shx) == 100 + 8 * len(recs)


def test_one_type_per_file_rule():
    with pytest.raises(ValueError):
        encode_shp(
            [
                (gc.GEOM_POINT, [1.0], [1.0], [0, 1]),
                (gc.GEOM_LINESTRING, [0.0, 1.0], [0.0, 1.0], [0, 2]),
            ]
        )
    with pytest.raises(ValueError):
        # Point and MultiPoint are different shape types too
        encode_shp(
            [
                (gc.GEOM_POINT, [1.0], [1.0], [0, 1]),
                (gc.GEOM_POINT, [1.0, 2.0], [1.0, 2.0], [0, 2]),
            ]
        )
    with pytest.raises(ValueError):
        encode_shp([])


def test_null_and_zm_records_skipped():
    shp, _ = encode_shp([(gc.GEOM_POINT, [1.0], [2.0], [0, 1])])
    # append a Null record (type 0) and a PointZ record (type 11)
    null_body = struct.pack("<i", 0)
    z_body = struct.pack("<i4d", 11, 1.0, 2.0, 3.0, 0.0)
    extra = (
        struct.pack(">2i", 2, len(null_body) // 2)
        + null_body
        + struct.pack(">2i", 3, len(z_body) // 2)
        + z_body
    )
    buf = bytearray(shp + extra)
    words = (len(buf)) // 2
    buf[24:28] = struct.pack(">i", words)
    out = decode_shp(bytes(buf))
    assert len(out) == 1 and out[0][0] == gc.GEOM_POINT


def test_malformed_raises_valueerror():
    shp, _ = encode_shp([(gc.GEOM_POINT, [1.0], [2.0], [0, 1])])
    with pytest.raises(ValueError):
        decode_shp(b"garbage")
    with pytest.raises(ValueError):
        decode_shp(shp[:50])
    bad = bytearray(shp)
    bad[24:28] = struct.pack(">i", 10_000)  # length beyond buffer
    with pytest.raises(ValueError):
        decode_shp(bytes(bad))
    with pytest.raises(ValueError):
        decode_dbf(b"\x03")


def test_dbf_attributes_and_deleted_rows():
    dbf = encode_dbf([7, 42], ["hello world", "x" * 100])
    rows = decode_dbf(dbf)
    assert rows[0] == (7, "hello world")
    assert rows[1] == (42, "x" * 64)  # caption truncates to field width
    # mark row 0 deleted
    hsize = struct.unpack_from("<H", dbf, 8)[0]
    bad = bytearray(dbf)
    bad[hsize] = ord("*")
    assert decode_dbf(bytes(bad)) == [(42, "x" * 64)]


def test_byte_determinism():
    recs = [(gc.GEOM_LINESTRING, [0.0, 1.0], [0.0, 1.0], [0, 2])]
    assert encode_shp(recs) == encode_shp(recs)
    assert encode_dbf([1], ["a"]) == encode_dbf([1], ["a"])


def test_spark_sink_source_roundtrip(spark, tmp_path):
    rows = [
        (1, gc.GEOM_POINT, [10.0], [20.0], [0, 1], "pt"),
        (2, gc.GEOM_POINT, [1.0, 2.0], [3.0, 4.0], [0, 2], "mp"),
        (3, gc.GEOM_LINESTRING, [0.0, 5.0, 9.0], [0.0, 1.0, 0.0], [0, 3], "ln"),
        (
            4,
            gc.GEOM_POLYGON,
            [0.0, 2.0, 2.0, 0.0, 0.0],
            [0.0, 0.0, 2.0, 2.0, 0.0],
            [0, 5],
            "pg",
        ),
    ]
    from mapnik_vector_tile_spark.operators.tiling import FEATURES_SCHEMA

    df = spark.createDataFrame(rows, FEATURES_SCHEMA)
    out = str(tmp_path / "shards")
    write_shapefile_shards(df, out, num_shards=2)
    files = sorted(os.listdir(out))
    assert any(f.endswith(".shp") for f in files)
    assert any(f.endswith(".dbf") for f in files)
    back = {
        r.feature_id: r
        for r in read_shapefile(spark, out, to_merc=False).collect()
    }
    assert set(back) == {1, 2, 3, 4}
    for fid, g, xs, ys, offs, cap in rows:
        r = back[fid]
        assert r.geom_type == g and list(r.xs) == xs and list(r.ys) == ys
        assert list(r.part_offsets) == offs and r.caption == cap
    # idempotent re-run: same bytes on disk
    snap = {f: open(os.path.join(out, f), "rb").read() for f in files}
    write_shapefile_shards(df, out, num_shards=2)
    for f, blob in snap.items():
        assert open(os.path.join(out, f), "rb").read() == blob


def test_source_missing_dbf_falls_back(spark, tmp_path):
    shp, shx = encode_shp([(gc.GEOM_POINT, [1.0], [2.0], [0, 1])])
    p = tmp_path / "lonely.shp"
    p.write_bytes(shp)
    out = read_shapefile(spark, str(p), to_merc=False).collect()
    assert len(out) == 1 and out[0].feature_id == 1 and out[0].caption == ""


def test_to_merc_transform(spark, tmp_path):
    from mapnik_vector_tile_spark.functions import tilemath as tm
    from mapnik_vector_tile_spark.operators.tiling import FEATURES_SCHEMA

    df = spark.createDataFrame(
        [(1, gc.GEOM_POINT, [10.0], [45.0], [0, 1], "c")], FEATURES_SCHEMA
    )
    out = str(tmp_path / "m")
    write_shapefile_shards(df, out, num_shards=1)
    r = read_shapefile(spark, out, to_merc=True).collect()[0]
    mx, my = tm.lonlat_to_merc_np(np.array([10.0]), np.array([45.0]))
    assert r.xs[0] == mx[0] and r.ys[0] == my[0]


def test_ordinal_join_survives_skipped_records(spark, tmp_path):
    """A spec-legal Null filler record must NOT shift later features
    onto their neighbor's attributes (ordinal join, not position)."""
    import struct as st

    shp, _ = encode_shp(
        [
            (gc.GEOM_POINT, [1.0], [1.0], [0, 1]),
            (gc.GEOM_POINT, [2.0], [2.0], [0, 1]),
        ]
    )
    # splice a Null record between the two points
    null_body = st.pack("<i", 0)
    hdr, rec1 = shp[:100], shp[100:]
    r1_len = 8 + st.unpack(">i", rec1[4:8])[0] * 2
    patched = (
        hdr
        + rec1[:r1_len]
        + st.pack(">2i", 2, len(null_body) // 2)
        + null_body
        + rec1[r1_len:]
    )
    buf = bytearray(patched)
    buf[24:28] = st.pack(">i", len(buf) // 2)
    p = tmp_path / "nulls.shp"
    p.write_bytes(bytes(buf))
    # dbf has THREE slots: point A, the null filler, point B
    (tmp_path / "nulls.dbf").write_bytes(
        encode_dbf([11, 99, 22], ["a", "filler", "b"])
    )
    out = {
        r.caption: r
        for r in read_shapefile(spark, str(p), to_merc=False).collect()
    }
    assert set(out) == {"a", "b"}
    assert out["a"].feature_id == 11 and out["a"].xs == [1.0]
    assert out["b"].feature_id == 22 and out["b"].xs == [2.0]


def test_deleted_dbf_slot_keeps_alignment():
    import struct as st

    from mapnik_vector_tile_spark.sources.shapefile import decode_dbf

    dbf = encode_dbf([1, 2, 3], ["x", "y", "z"])
    hsize = st.unpack_from("<H", dbf, 8)[0]
    rsize = st.unpack_from("<H", dbf, 10)[0]
    bad = bytearray(dbf)
    bad[hsize + rsize] = ord("*")  # delete row 1 (the middle slot)
    slots = decode_dbf(bytes(bad), keep_slots=True)
    assert slots == [(1, "x"), None, (3, "z")]
