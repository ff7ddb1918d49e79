"""Round-5 scale-shape plan pins.

Same philosophy as test_plan_quality.py / _r4: inspect the PHYSICAL
PLAN (or its structural consequences), not results — a regression that
re-introduces a scale hazard (a corpus self-join in substring dedup, a
shuffle join where the DSIR score table must broadcast, the canonical-
singles decode silently falling back to per-feature Python) should
fail here even while small-scale results stay correct."""

import numpy as np
import pytest

from pyspark.sql import functions as F


def _docs_df(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def test_substring_dedup_has_no_join(spark):
    """substring_dup_spans' scale contract: the corpus-frequency gate
    is a WINDOW over partition(gram), never a gram->positions join and
    never a corpus self-join — at 10^12 documents any join would
    double-shuffle the gram fan-out. The physical plan must contain
    zero join operators of any strategy."""
    from mapnik_vector_tile_spark.operators import dedup as D

    docs = _docs_df(
        spark,
        ["a b c d e f g h i j k l m n o p"] * 3,
    )
    plan = D.substring_dup_spans(
        docs, min_len=12, min_occ=2
    )._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan


def test_substring_dedup_variable_length_merge(spark):
    """The variable-length semantics the fixed-n dup_ngram_spans lacks:
    two docs sharing a 20-token run (longer than min_len=12) must
    yield ONE maximal span of exactly 20 tokens, not a pile of 12-gram
    rows; a doc with two separated shared runs must yield two spans."""
    from mapnik_vector_tile_spark.operators import dedup as D

    shared = " ".join(f"s{i}" for i in range(20))
    shared2 = " ".join(f"t{i}" for i in range(14))
    docs = _docs_df(
        spark,
        [
            shared + " u0 u1 u2 u3 u4 u5 u6 u7 u8 u9 u10 u11 " + shared2,
            "v0 v1 " + shared,
            shared2 + " w0",
        ],
    )
    spans = {
        (r.doc_id, r.span_start, r.span_end)
        for r in D.substring_dup_spans(docs, min_len=12).collect()
    }
    assert spans == {
        (0, 0, 20),     # maximal 20-token run, single span
        (0, 32, 46),    # second shared run, separated -> own span
        (1, 2, 22),
        (2, 0, 14),
    }


def test_dsir_score_table_broadcasts(spark):
    """dsir_topk's scale contract: the <=n_buckets-row score table
    re-enters the corpus-sized gram stream as a BROADCAST hash join
    (the raw corpus is never shuffled for scoring), and the selection
    is a TakeOrderedAndProject, not a global Sort+collect."""
    from mapnik_vector_tile_spark.operators import sampling as SMP

    docs = spark.createDataFrame(
        [
            (i, f"w{i % 7} w{(i + 1) % 5} common tail", "en",
             f"src{i % 4}")
            for i in range(40)
        ],
        "doc_id long, text string, lang string, source string",
    )
    df = SMP.dsir_topk(docs, target_sources=("src0",), k=5)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    got = df.collect()
    assert 0 < len(got) <= 5
    # raw corpus only (target sources excluded from the output)
    assert all(r.source != "src0" for r in got)


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


def test_prototype_prune_uses_window_group_limit(spark):
    """prototype_prune's scale contract: the constant per-cluster cap
    must compile to a map-side WindowGroupLimit (each upstream
    partition forwards <= cap rows per cluster), not a full
    per-cluster sort of the corpus — with k tiny, a global
    rank-then-filter would funnel 100 TB through k partitions."""
    import numpy as np

    from mapnik_vector_tile_spark.operators.similarity import (
        prototype_prune,
    )

    rng = np.random.default_rng(7)
    rows = [
        (i, [float(x) for x in rng.normal(size=8)]) for i in range(200)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    df = prototype_prune(emb, cap=5, k=4, iters=1)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan, plan
    got = df.collect()
    per = {}
    for r in got:
        per.setdefault(r.cluster, []).append(r)
    assert all(len(v) <= 5 for v in per.values())
    # hardest-first: within each cluster the kept d2s are the largest
    assert all(
        sorted((x.rnk for x in v)) == list(range(1, len(v) + 1))
        for v in per.values()
    )


def test_ccnet_buckets_sample_and_split(spark):
    """ccnet_buckets' scale contracts: the per-language quantile
    sample is a constant-K rank (map-side WindowGroupLimit — the
    corpus never funnels through |langs| partitions), and the
    three-way split covers every scorable doc with per-language
    thresholds actually separating the buckets."""
    from mapnik_vector_tile_spark.operators import textstats as T

    # score spread: doc i mixes (i%10) common filler bigrams with
    # doc-unique rare words, so mean_prob varies smoothly per doc
    docs = spark.createDataFrame(
        [
            (
                i,
                " ".join(
                    ["the of"] * (1 + i % 10)
                    + [f"rare{i}x{j}" for j in range(1 + (i // 10) % 5)]
                ),
                "en" if i % 2 else "de",
            )
            for i in range(80)
        ],
        "doc_id long, text string, lang string",
    )
    scored = T.bigram_lm_score(docs)
    samp_plan = scored.join(
        docs.select("doc_id", "lang"), "doc_id"
    )
    df = T.ccnet_buckets(docs, k_sample=15)
    got = df.collect()
    assert len(got) == 80  # every scorable doc bucketed exactly once
    per = {}
    for r in got:
        per.setdefault((r.lang, r.bucket), 0)
        per[(r.lang, r.bucket)] += 1
    langs = {lang for lang, _ in per}
    assert langs == {"en", "de"}
    for lang in langs:
        # all three buckets are populated for each language
        assert {(lang, b) in per for b in ("head", "middle", "tail")} == {
            True
        }, per
    # WindowGroupLimit on the constant-K sample rank
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.operators.sampling import (
        with_sample_hash,
    )

    w = Window.partitionBy("lang").orderBy("hord", "doc_id")
    samp = (
        with_sample_hash(samp_plan)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 15)
    )
    plan = samp._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan, plan


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
