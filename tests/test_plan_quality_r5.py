"""Round-5 scale-shape plan pins.

Same philosophy as test_plan_quality.py / _r4: inspect the PHYSICAL
PLAN (or its structural consequences), not results — a regression that
re-introduces a scale hazard (the canonical-singles decode silently
falling back to per-feature Python) should fail here even while
small-scale results stay correct."""

import numpy as np

from pyspark.sql import functions as F


def _point_feats(spark, n=300):
    W = 20037508.342789244
    return spark.range(n).select(
        F.col("id").alias("feature_id"),
        F.lit(1).alias("geom_type"),
        F.array((F.col("id") % 97) * (W / 50) - W * 0.95).alias("xs"),
        F.array((F.col("id") % 89) * (W / 46) - W * 0.95).alias("ys"),
        F.array(F.lit(0), F.lit(1)).alias("part_offsets"),
        F.concat(F.lit("cap-"), F.col("id")).alias("caption"),
    )


def test_decode_singles_batch_path_is_exercised(spark):
    """The r5 batched decode must actually take the vectorized path on
    the canonical encode output (not silently fall back to the
    per-feature loop): for a pure single-point corpus every folded
    tile must pass scan_singles_tile AND decode_singles_batch with an
    empty demotion list, and the columns must reproduce the general
    decoder bit-for-bit."""
    from mapnik_vector_tile_spark.functions import geomcodec as gc
    from mapnik_vector_tile_spark.functions import pbf
    from mapnik_vector_tile_spark.operators import tiling as T

    tiles = T.encode_tiles_from_features(
        _point_feats(spark), 3, 5, buffer_units=0
    ).collect()
    assert tiles
    blobs = [pbf.maybe_decompress(bytes(r["tile"])) for r in tiles]
    descs, tix = [], []
    for i, b in enumerate(blobs):
        d = pbf.scan_singles_tile(b)
        assert d is not None, f"tile {i} rejected by the singles scan"
        for lay in d:
            descs.append(lay)
            tix.append(i)
    res, bad = pbf.decode_singles_batch(
        descs, blobs, tix, n_tiles=len(blobs)
    )
    assert res is not None
    assert bad == [], f"canonical tiles demoted: {bad[:5]}"
    assert len(res["lay_idx"]) == len(descs)
    fast_rows = []
    base = 0
    for li in range(len(res["lay_idx"])):
        ti = tix[int(res["lay_idx"][li])]
        for r in range(base, base + int(res["nfeat"][li])):
            fast_rows.append(
                (
                    ti,
                    res["layer_name"][res["lay_of_feat"][r]],
                    int(res["fid"][r]),
                    int(res["gt"][r]),
                    int(res["px"][r]),
                    int(res["py"][r]),
                    res["caption"][r].as_py(),
                )
            )
        base += int(res["nfeat"][li])
    slow_rows = []
    for i, b in enumerate(blobs):
        for lmsg in pbf.decode_tile(b):
            layer = pbf.decode_layer(lmsg)
            for f in layer["features"]:
                xs, ys, _ = gc.decode_geometry(
                    int(f["type"]),
                    f["geometry"].astype(np.int64),
                    version=int(layer["version"]),
                )
                props = pbf.feature_props(layer, f)
                slow_rows.append(
                    (
                        i,
                        layer["name"],
                        int(f["id"]),
                        int(f["type"]),
                        int(xs[0]),
                        int(ys[0]),
                        props.get("caption"),
                    )
                )
    assert fast_rows == slow_rows


def test_decode_mixed_corpus_tile_granular_fallback(spark):
    """Mixed corpora (image-footprint POLYGONS sharing tiles with
    points) must decode end-to-end identically to the general decoder:
    the batch validator demotes exactly the non-singles TILES (not the
    whole batch), and decode_tiles_to_features' fast+fallback union is
    row-for-row the slow path's output."""
    from mapnik_vector_tile_spark.functions import geomcodec as gc
    from mapnik_vector_tile_spark.functions import pbf
    from mapnik_vector_tile_spark.operators import tiling as T
    from mapnik_vector_tile_spark.sources.synth import images_df

    imgs = images_df(spark, 400, with_bytes=False)
    feats = T.assign_tiles(T.images_to_features(imgs), 3, 5)
    tiles_df = T.fold_tiles(T.encode_layers(feats, n_salts=4))
    rows = tiles_df.collect()
    assert rows
    got = sorted(
        (
            r.z, r.x, r.y, r.layer, r.feature_id, r.geom_type,
            tuple(r.pxs), tuple(r.pys), tuple(r.part_offsets), r.caption,
        )
        for r in T.decode_tiles_to_features(tiles_df).collect()
    )
    exp = []
    for t in rows:
        b = pbf.maybe_decompress(bytes(t["tile"]))
        for lmsg in pbf.decode_tile(b):
            layer = pbf.decode_layer(lmsg)
            for f in layer["features"]:
                xs, ys, offs = gc.decode_geometry(
                    int(f["type"]),
                    f["geometry"].astype(np.int64),
                    version=int(layer["version"]),
                )
                if not len(xs):
                    continue
                props = pbf.feature_props(layer, f)
                exp.append(
                    (
                        int(t["z"]), int(t["x"]), int(t["y"]),
                        layer["name"], int(f["id"]), int(f["type"]),
                        tuple(int(v) for v in xs),
                        tuple(int(v) for v in ys),
                        tuple(int(v) for v in offs),
                        props.get("caption"),
                    )
                )
    assert got == sorted(exp)


def test_decode_singles_scan_rejects_non_canonical():
    """Fallback safety: v1 layers, multi-key layers, and non-point
    geometry must be REJECTED by the scan (routed to the general
    decoder), never mis-decoded by the batch path."""
    from mapnik_vector_tile_spark.functions import pbf

    # v1 layer (version omitted -> proto2 default 1): builder path
    lb = pbf.LayerBuilder("l", version=2)
    lb.add_feature(1, 1, np.array([9, 2, 4], np.int64), {"caption": "x"})
    tile_v2 = pbf.layer_to_tile(lb.build())
    assert pbf.scan_singles_tile(tile_v2) is not None

    lb1 = pbf.LayerBuilder("l", version=1)
    lb1.add_feature(1, 1, np.array([9, 2, 4], np.int64), {"caption": "x"})
    assert pbf.scan_singles_tile(pbf.layer_to_tile(lb1.build())) is None

    lb2 = pbf.LayerBuilder("l", version=2)
    lb2.add_feature(
        1, 1, np.array([9, 2, 4], np.int64), {"caption": "x", "k2": "y"}
    )
    t2 = pbf.layer_to_tile(lb2.build())
    d2 = pbf.scan_singles_tile(t2)
    if d2 is not None:
        # the scan's cheap skip can't see the second key; the batch
        # validator must demote (two tag pairs -> 17-varint records
        # fail stage A; the stray key record fails the value scan)
        res, bad = pbf.decode_singles_batch(
            d2, [pbf.maybe_decompress(t2)], [0] * len(d2), n_tiles=1
        )
        assert res is None and bad == [0]

    lb3 = pbf.LayerBuilder("l", version=2)
    lb3.add_feature(
        7, 2, np.array([9, 0, 0, 10, 1, 2, 2], np.int64), {"caption": "x"}
    )
    t3 = pbf.layer_to_tile(lb3.build())
    d3 = pbf.scan_singles_tile(t3)
    if d3 is not None:
        # structurally singles-like is fine, but the batch validator
        # must demote the non-point record's tile
        res, bad = pbf.decode_singles_batch(
            d3, [pbf.maybe_decompress(t3)], [0] * len(d3), n_tiles=1
        )
        assert res is None and bad == [0]
