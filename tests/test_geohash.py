"""Geohash (functions/geohash.py): spec parity against an INDEPENDENT
textbook implementation, public test vectors, and prefix-containment."""

import duckdb
import pytest
from pyspark.sql import functions as F

from mapnik_vector_tile_spark.functions import geohash as GH

ALPH = GH.ALPHABET


def ref_geohash(lat: float, lon: float, precision: int) -> str:
    """Textbook bisection encoder (Niemeyer's original algorithm) —
    structurally unrelated to the engine's floor/interleave form."""
    lat_lo, lat_hi = -90.0, 90.0
    lon_lo, lon_hi = -180.0, 180.0
    out, bit, ch, even = [], 0, 0, True
    while len(out) < precision:
        if even:
            mid = (lon_lo + lon_hi) / 2
            if lon >= mid:
                ch = (ch << 1) | 1
                lon_lo = mid
            else:
                ch <<= 1
                lon_hi = mid
        else:
            mid = (lat_lo + lat_hi) / 2
            if lat >= mid:
                ch = (ch << 1) | 1
                lat_lo = mid
            else:
                ch <<= 1
                lat_hi = mid
        even = not even
        bit += 1
        if bit == 5:
            out.append(ALPH[ch])
            bit, ch = 0, 0
    return "".join(out)


# (lat, lon, precision, geohash) — geohash.org / Wikipedia vectors
VECTORS = [
    (57.64911, 10.40744, 8, "u4pruydq"),
    (42.6, -5.6, 5, "ezs42"),
    (-25.382708, -49.265506, 8, "6gkzwgjz"),
    (0.0001, 0.0001, 8, "s0000000"),
]


@pytest.mark.parametrize("lat,lon,p,want", VECTORS)
def test_reference_impl_matches_public_vectors(lat, lon, p, want):
    assert ref_geohash(lat, lon, p) == want


def _sql_hash(lon, lat, p):
    ix, iy = GH.lonlat_index_sql("lon", "lat", p)
    code = GH.interleave_sql("gx", "gy", p)
    gh = GH.geohash_sql("code", p)
    q = f"""WITH ll AS (SELECT {lon!r}::DOUBLE AS lon, {lat!r}::DOUBLE AS lat),
g AS (SELECT {ix} AS gx, {iy} AS gy FROM ll),
c AS (SELECT CAST({code} AS BIGINT) AS code FROM g)
SELECT code, {gh} AS gh FROM c"""
    return duckdb.sql(q).fetchall()[0]


@pytest.mark.parametrize("lat,lon,p,want", VECTORS)
def test_sql_rendering_matches_vectors(lat, lon, p, want):
    assert _sql_hash(lon, lat, p)[1] == want


def test_sql_matches_reference_on_grid():
    for lat in (-84.3, -31.7, 0.2, 44.9, 83.1):
        for lon in (-179.5, -90.1, -0.3, 59.7, 179.4):
            for p in (1, 4, 7, 8):
                assert _sql_hash(lon, lat, p)[1] == ref_geohash(lat, lon, p)


def test_column_side_matches_reference(spark):
    pts = [(i, -150.0 + 37.0 * i, -80.0 + 16.0 * i) for i in range(10)]
    df = spark.createDataFrame(pts, "id int, lon double, lat double")
    code = GH.geohash_code_col(F.col("lon"), F.col("lat"), 8)
    out = (
        df.select("id", "lon", "lat", code.alias("code"))
        .select("id", "lon", "lat", "code",
                GH.geohash_str_col(F.col("code"), 8).alias("gh"))
        .collect()
    )
    for r in out:
        assert r.gh == ref_geohash(r.lat, r.lon, 8), (r.lon, r.lat)


def test_prefix_containment_is_truncation(spark):
    df = spark.createDataFrame(
        [(i, -170.0 + 34.5 * i, -80.0 + 15.5 * i) for i in range(10)],
        "id int, lon double, lat double",
    )
    c8 = GH.geohash_code_col(F.col("lon"), F.col("lat"), 8)
    c4 = GH.geohash_code_col(F.col("lon"), F.col("lat"), 4)
    rows = (
        df.select(c8.alias("c8"), c4.alias("c4"))
        .select(
            GH.geohash_str_col(F.col("c8"), 8).alias("g8"),
            GH.geohash_str_col(F.col("c4"), 4).alias("g4"),
        )
        .collect()
    )
    for r in rows:
        assert r.g8[:4] == r.g4
