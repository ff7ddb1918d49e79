"""PMTiles v3 sink/source: spec tile-id order, directory varint
round-trip, content dedup, leaf-directory spill, header fields,
deterministic bytes, sharded Spark round-trip."""

from __future__ import annotations

import os
import random

import pandas as pd
import pytest

from mapnik_vector_tile_spark.sources import pmtiles as P


def test_tileid_spec_order():
    assert P.zxy_to_tileid(0, 0, 0) == 0
    # z1 Hilbert "U": (0,0) (0,1) (1,1) (1,0)
    assert [
        P.zxy_to_tileid(1, x, y)
        for x, y in [(0, 0), (0, 1), (1, 1), (1, 0)]
    ] == [1, 2, 3, 4]
    assert P.zxy_to_tileid(2, 0, 0) == 5
    # pyramid offsets: first id of z = (4^z - 1) / 3
    for z in range(6):
        assert P.zxy_to_tileid(z, 0, 0) == ((1 << (2 * z)) - 1) // 3


def test_tileid_roundtrip_random():
    rng = random.Random(1)
    for _ in range(2000):
        z = rng.randint(0, 20)
        x = rng.randint(0, (1 << z) - 1)
        y = rng.randint(0, (1 << z) - 1)
        assert P.tileid_to_zxy(P.zxy_to_tileid(z, x, y)) == (z, x, y)
    with pytest.raises(ValueError):
        P.zxy_to_tileid(3, 8, 0)


def test_directory_roundtrip_offsets_and_runs():
    ents = [(5, 0, 10, 1), (6, 10, 20, 1), (9, 0, 10, 1), (12, 30, 7, 3)]
    assert P.deserialize_directory(P.serialize_directory(ents)) == ents
    assert P.deserialize_directory(P.serialize_directory([])) == []


def _rows():
    rows = [
        (3, x, y, bytes([x * 16 + y]) * 50)
        for x in range(8)
        for y in range(8)
    ]
    # two z4 tiles sharing content with each other AND with z3 (0,1)
    rows += [(4, 0, 0, b"\x01" * 50), (4, 1, 0, b"\x01" * 50)]
    return rows


def test_archive_roundtrip_and_content_dedup(tmp_path):
    p = str(tmp_path / "a.pmtiles")
    P.write_pmtiles(p, _rows())
    back = sorted(P._iter_archive(p))
    assert back == sorted(_rows())
    h = P.read_header(p)
    assert (h["n_entries"], h["n_contents"]) == (66, 64)
    assert (h["min_zoom"], h["max_zoom"]) == (3, 4)
    assert h["clustered"] and h["tile_type"] == P.TILETYPE_MVT
    assert P.read_metadata(p)["format"] == "pbf"


def test_leaf_directories(tmp_path):
    p = str(tmp_path / "leaf.pmtiles")
    P.write_pmtiles(p, _rows(), max_root_entries=16)
    assert P.read_header(p)["leaf_len"] > 0
    assert sorted(P._iter_archive(p)) == sorted(_rows())


def test_write_is_deterministic(tmp_path):
    a = str(tmp_path / "a.pmtiles")
    b = str(tmp_path / "b.pmtiles")
    P.write_pmtiles(a, _rows())
    P.write_pmtiles(b, list(reversed(_rows())))  # input order irrelevant
    assert open(a, "rb").read() == open(b, "rb").read()


def test_duplicate_address_raises(tmp_path):
    with pytest.raises(ValueError, match="duplicate"):
        P.write_pmtiles(
            str(tmp_path / "d.pmtiles"),
            [(1, 0, 0, b"a"), (1, 0, 0, b"b")],
        )


def test_sharded_spark_roundtrip(spark, tmp_path):
    out = str(tmp_path / "shards")
    pdf = pd.DataFrame(
        _rows(), columns=["z", "x", "y", "tile"]
    )
    df = spark.createDataFrame(pdf)
    P.write_pmtiles_shards(df, out, num_shards=4)
    files = [f for f in os.listdir(out) if f.endswith(".pmtiles")]
    assert 1 <= len(files) <= 4
    back = sorted(
        (r["z"], r["x"], r["y"], bytes(r["tile"]))
        for r in P.read_pmtiles(spark, out).collect()
    )
    assert back == sorted(_rows())
    # idempotent re-run replaces shards, reader sees the same set
    P.write_pmtiles_shards(df, out, num_shards=4)
    back2 = sorted(
        (r["z"], r["x"], r["y"], bytes(r["tile"]))
        for r in P.read_pmtiles(spark, out).collect()
    )
    assert back2 == back
