"""GeoJSON source/sink (sources.geojson): parse -> features schema,
serialize back, and feed EP1 — S1 source parity with the reference's
GeoJSON bench/fixture inputs."""

import json

import numpy as np
import pytest

from mapnik_vector_tile_spark.functions import geomcodec as gc
from mapnik_vector_tile_spark.functions import tilemath as tm
from mapnik_vector_tile_spark.operators import tiling as T
from mapnik_vector_tile_spark.sources.geojson import (
    features_to_geojson,
    geojson_to_features,
)

DOCS = [
    {
        "type": "Feature",
        "id": 1,
        "geometry": {"type": "Point", "coordinates": [12.5, 41.9]},
        "properties": {"caption": "rome"},
    },
    {
        "type": "Feature",
        "id": 2,
        "geometry": {
            "type": "LineString",
            "coordinates": [[0.0, 0.0], [1.0, 1.0], [2.0, 0.5]],
        },
        "properties": {"caption": "line"},
    },
    {
        "type": "Feature",
        "id": 3,
        "geometry": {
            "type": "Polygon",
            "coordinates": [
                [[0, 0], [4, 0], [4, 4], [0, 4], [0, 0]],
                [[1, 1], [1, 2], [2, 2], [2, 1], [1, 1]],
            ],
        },
        "properties": {"caption": "holed"},
    },
    {
        "type": "Feature",
        "id": 4,
        "geometry": {
            "type": "MultiLineString",
            "coordinates": [
                [[10, 10], [11, 11]],
                [[12, 10], [13, 11], [14, 10]],
            ],
        },
        "properties": {"caption": "mls"},
    },
    {
        "type": "Feature",
        "id": 5,
        "geometry": {
            "type": "MultiPolygon",
            "coordinates": [
                [[[20, 20], [22, 20], [22, 22], [20, 22], [20, 20]]],
                [[[30, 30], [31, 30], [31, 31], [30, 31], [30, 30]]],
            ],
        },
        "properties": {"caption": "mp"},
    },
]


@pytest.fixture(scope="module")
def parsed(spark):
    docs_df = spark.createDataFrame(
        [(json.dumps(d),) for d in DOCS], schema="json string"
    )
    return (
        geojson_to_features(docs_df, to_merc=False)
        .toPandas()
        .sort_values("feature_id")
        .reset_index(drop=True)
    )


def test_parse_types_and_offsets(parsed):
    assert parsed["feature_id"].tolist() == [1, 2, 3, 4, 5]
    assert parsed["geom_type"].tolist() == [
        gc.GEOM_POINT,
        gc.GEOM_LINESTRING,
        gc.GEOM_POLYGON,
        gc.GEOM_LINESTRING,
        gc.GEOM_POLYGON,
    ]
    # holed polygon: 2 rings; MultiLineString: 2 parts; MultiPolygon:
    # 2 rings (one per part)
    assert list(parsed.iloc[2]["part_offsets"]) == [0, 5, 10]
    assert list(parsed.iloc[3]["part_offsets"]) == [0, 2, 5]
    assert list(parsed.iloc[4]["part_offsets"]) == [0, 5, 10]
    assert parsed.iloc[0]["caption"] == "rome"


def test_sink_roundtrip(spark, parsed):
    """parse -> serialize -> parse again: identical coords/offsets
    (to_merc=False keeps doubles untouched; json repr round-trips)."""
    feats_df = spark.createDataFrame(parsed, schema=T.FEATURES_SCHEMA)
    docs2 = features_to_geojson(feats_df, from_merc=False)
    back = (
        geojson_to_features(docs2, to_merc=False)
        .toPandas()
        .sort_values("feature_id")
        .reset_index(drop=True)
    )
    assert len(back) == len(parsed)
    for a, b in zip(parsed.itertuples(), back.itertuples()):
        assert a.feature_id == b.feature_id
        assert a.geom_type == b.geom_type
        assert list(a.part_offsets) == list(b.part_offsets)
        assert np.allclose(a.xs, b.xs, rtol=0, atol=0)
        assert np.allclose(a.ys, b.ys, rtol=0, atol=0)
        assert a.caption == b.caption


def test_feature_collection_explodes(spark):
    fc = {"type": "FeatureCollection", "features": DOCS}
    docs_df = spark.createDataFrame([(json.dumps(fc),)], schema="json string")
    out = geojson_to_features(docs_df, to_merc=False).toPandas()
    assert sorted(out["feature_id"]) == [1, 2, 3, 4, 5]


def test_geojson_feeds_ep1(spark):
    """GeoJSON corpus through assign -> encode -> decode: captions and
    feature ids survive; decoded tile coords in-extent."""
    docs_df = spark.createDataFrame(
        [(json.dumps(d),) for d in DOCS], schema="json string"
    )
    feats = geojson_to_features(docs_df)  # -> merc
    tiles = T.encode_tiles(T.assign_tiles(feats, 2, 4))
    dec = T.decode_tiles_to_features(tiles).toPandas()
    assert len(dec) > 0
    caps = dict(zip(dec.feature_id, dec.caption))
    assert caps[1] == "rome" and caps[3] == "holed"
    lo, hi = -tm.DEFAULT_BUFFER, tm.DEFAULT_EXTENT + tm.DEFAULT_BUFFER
    for pxs in dec.pxs:
        assert min(pxs) >= lo and max(pxs) <= hi


def test_parser_never_crashes_on_arbitrary_json(spark):
    """Fuzz the skip-malformed policy: arbitrary JSON documents (and
    non-JSON lines) must never kill the task — every outcome is
    'parsed rows' or 'dropped rows', never an exception."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    json_scalars = st.one_of(
        st.none(), st.booleans(), st.integers(-10**12, 10**12),
        st.floats(allow_nan=False, allow_infinity=False), st.text(max_size=8),
    )
    json_values = st.recursive(
        json_scalars,
        lambda children: st.one_of(
            st.lists(children, max_size=4),
            st.dictionaries(
                st.sampled_from(
                    ["type", "id", "geometry", "coordinates", "properties",
                     "features", "caption", "Point", "LineString", "Polygon"]
                ),
                children,
                max_size=5,
            ),
        ),
        max_leaves=12,
    )

    collected = []

    @settings(max_examples=60, deadline=None)
    @given(st.lists(json_values, min_size=1, max_size=4))
    def run(vals):
        collected.append([json.dumps(v) for v in vals])

    run()
    docs = [(d,) for batch in collected for d in batch]
    docs += [("not json at all",), ("{'single': 'quotes'}",), ("",)]
    df = spark.createDataFrame(docs, schema="json string")
    out = geojson_to_features(df, to_merc=False).toPandas()  # must not raise
    assert len(out) >= 0


def test_malformed_rows_dropped(spark):
    rows = [
        ("not json",),
        (json.dumps({"type": "Feature", "geometry": None, "id": 9}),),
        (json.dumps({"type": "Feature",
                     "geometry": {"type": "Point", "coordinates": [1, 2]}}),),
        (json.dumps(DOCS[0]),),
    ]
    docs_df = spark.createDataFrame(rows, schema="json string")
    out = geojson_to_features(docs_df, to_merc=False).toPandas()
    # only the one well-formed Feature WITH an id survives
    assert out["feature_id"].tolist() == [1]


def test_geometry_collection_expands_to_leaf_rows(spark):
    """GeometryCollection emits one features-row per non-collection
    leaf (same feature id, same props), nested collections recurse,
    and a depth bomb is dropped rather than recursed."""
    import json as _json

    import pandas as pd

    from mapnik_vector_tile_spark.sources.geojson import geojson_to_features

    doc = {
        "type": "Feature",
        "id": 7,
        "properties": {"caption": "gc"},
        "geometry": {
            "type": "GeometryCollection",
            "geometries": [
                {"type": "Point", "coordinates": [10.0, 20.0]},
                {
                    "type": "GeometryCollection",
                    "geometries": [
                        {
                            "type": "LineString",
                            "coordinates": [[0.0, 0.0], [1.0, 1.0]],
                        }
                    ],
                },
            ],
        },
    }
    bomb = {"type": "GeometryCollection", "geometries": []}
    for _ in range(50):
        bomb = {"type": "GeometryCollection", "geometries": [bomb]}
    docs = [
        _json.dumps(doc),
        _json.dumps(
            {
                "type": "Feature",
                "id": 8,
                "properties": {},
                "geometry": bomb,
            }
        ),
    ]
    df = spark.createDataFrame(
        pd.DataFrame({"json": docs}), schema="json string"
    )
    rows = sorted(
        geojson_to_features(df, to_merc=False).collect(),
        key=lambda r: r.geom_type,
    )
    assert len(rows) == 2  # bomb dropped, collection expands to 2 leaves
    assert [r.feature_id for r in rows] == [7, 7]
    assert [r.caption for r in rows] == ["gc", "gc"]
    assert rows[0].geom_type == 1 and rows[0].xs == [10.0]
    assert rows[1].geom_type == 2 and len(rows[1].xs) == 2
