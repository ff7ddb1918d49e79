"""Polyline5 codec pins: the Google spec's published example vector,
negative/zero deltas, and corpus round-trip losslessness."""

from mapnik_vector_tile_spark.functions.polyline import (
    decode_polyline,
    encode_trajectories,
)


def _enc(spark, rows):
    df = spark.createDataFrame(rows, "tid long, seq long, lat5 long, lng5 long")
    return {r["tid"]: r for r in encode_trajectories(df).collect()}


def test_google_spec_vector(spark):
    # developers.google.com polyline spec worked example:
    # (38.5,-120.2) (40.7,-120.95) (43.252,-126.453)
    pts = [(3850000, -12020000), (4070000, -12095000), (4325200, -12645300)]
    rows = [(1, i, la, ln) for i, (la, ln) in enumerate(pts)]
    d = _enc(spark, rows)
    assert d[1]["poly"] == "_p~iF~ps|U_ulLnnqC_mqNvxq`@"
    assert decode_polyline(d[1]["poly"]) == pts


def test_single_point_and_zero_delta(spark):
    d = _enc(spark, [(1, 0, 0, 0), (2, 0, 100, -100), (2, 1, 100, -100)])
    assert decode_polyline(d[1]["poly"]) == [(0, 0)]
    assert decode_polyline(d[2]["poly"]) == [(100, -100), (100, -100)]


def test_corpus_roundtrip(spark):
    from mapnik_vector_tile_spark.plans.oracles.geometry import q_polyline

    rows = q_polyline(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 300
    for r in rows[:50]:
        pts = decode_polyline(r["poly"])
        assert len(pts) == r["n_pts"]
        assert all(abs(a) <= 100000 and abs(b) <= 100000 for a, b in pts)
