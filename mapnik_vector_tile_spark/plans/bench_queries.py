"""Headline benchmark queries (bench.py registry).

Each entry is (spark, sf_dir) -> DataFrame; bench.py forces full
execution with a noop sink (no driver collect — measures the
distributed plan, not result transfer). Queries are chosen to cover
the engine's hot paths at sf0.1 scale:

  q_pyramid        — flagship z0..14 pyramid aggregation (pure Catalyst,
                     1 shuffle, whole-stage codegen end-to-end)
  q_encode_tiles   — EP1: assign -> salted applyInPandas encode ->
                     merge -> tile fold (the Arrow/UDF hot path)
  q_decode_rt      — EP2: decode the encoded tiles back to features
  q_overzoom       — EP3 cross-zoom slow path: z8 parents re-rendered
                     into z10 children (candidate-range kernel)
  q_pip_join       — J3 broadcast point-in-polygon join w/ cell prefilter
  q_knn            — J5 kNN via cell-ring expansion
  q_phash_dedup    — T21 Hamming-band LSH image near-dup (pure JVM join)
  q_raster         — R1 decode + bilinear warp + painter's composite
                     (the binary-heavy mapInPandas leg)
  q_hex_density    — T18 hex binning + ring-1 disk smoothing (Catalyst)
  q_balanced_sample— T17 exact-k/stratum sample (WindowGroupLimit)
  q_delta_sssp     — G1b delta-stepping SSSP (driver-loop-bounded)

Scale notes: every query here is shuffle-bounded, not driver-bounded;
row counts grow linearly with sf and the plans contain no collect(),
no cartesian products beyond broadcast-size dims, and no per-row
Python. These are the queries whose wall-clock at local[8] vs
local[32] produces the scaling-efficiency evidence in BENCH/BASELINE.md.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def q_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapnik_vector_tile_spark.plans.flagship import pyramid_counts

    return pyramid_counts(spark, sf_dir)


def _order_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders -> point features (the bench feature source; deterministic,
    linear in sf)."""
    from mapnik_vector_tile_spark.plans.flagship import derive_points

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    pts = derive_points(orders, "o_orderkey")
    return pts.select(
        F.col("id").alias("feature_id"),
        F.lit(1).alias("geom_type"),
        F.array("mx").alias("xs"),
        F.array("my").alias("ys"),
        F.array(F.lit(0), F.lit(1)).alias("part_offsets"),
        F.concat(F.lit("cap-"), F.col("id")).alias("caption"),
    )


def q_encode_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapnik_vector_tile_spark.operators import tiling as T

    feats = _order_features(spark, sf_dir)
    return T.encode_tiles_from_features(feats, 0, 10, buffer_units=0)


def q_decode_rt(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapnik_vector_tile_spark.operators import tiling as T

    feats = _order_features(spark, sf_dir)
    tiles = T.encode_tiles_from_features(feats, 6, 10, buffer_units=0)
    return T.decode_tiles_to_features(tiles)


def q_overzoom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EP3 cross-zoom slow path at bench scale: encode z8 parents,
    re-render every parent into its 16 z10 children (decode ->
    integer scale/offset -> re-clip -> re-encode), fold child tiles.
    The overzoom stage itself is a narrow flatMap — the measured cost
    beyond q_encode_tiles' machinery is pure kernel throughput."""
    from mapnik_vector_tile_spark.operators import composite as C
    from mapnik_vector_tile_spark.operators import tiling as T

    feats = _order_features(spark, sf_dir)
    assigned = T.assign_tiles(feats, 8, 8, buffer_units=0)
    layers = T.encode_layers(assigned, n_salts=16)
    return T.fold_tiles(C.overzoom_layers(layers, 2, buffer_units=64))


def q_wafer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wafer-rendered z10 (k=3: one z7 wafer per 8x8 tile block, then
    an exact integer-translation split) over the bench point corpus —
    the mapycz multi-tile render strategy. Direct comparison: the z10
    level alone through the classic per-tile encode is the same work
    with 4^3 = 64x more shuffle groups."""
    from mapnik_vector_tile_spark.operators import tiling as T

    feats = _order_features(spark, sf_dir)
    return T.encode_wafer_tiles(feats, z=10, k=3, buffer_units=0)


def q_encode_z10_direct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-tile twin of q_wafer (z10 only, direct encode) so the
    bench JSON carries both sides of the wafer comparison."""
    from mapnik_vector_tile_spark.operators import tiling as T

    feats = _order_features(spark, sf_dir)
    return T.encode_tiles_from_features(feats, 10, 10, buffer_units=0)


def q_pip_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapnik_vector_tile_spark.operators import joins as J

    return J.bench_pip_join(spark, sf_dir)


def q_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapnik_vector_tile_spark.operators import joins as J

    return J.bench_knn(spark, sf_dir)


def q_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T21 image near-dup over clustered 63-bit phashes at bench
    scale — since r3 the MULTI-INDEX join (4×16-bit bands + 1-flip
    probes, dedup.phash_neardup_pairs_mi): the sf1.0 spot-run showed
    the 8-bit-band join going super-linear (exponent ≈1.8, 91 s at
    sf1.0); the multi-index form keeps the identical exact
    Hamming ≤ 6 output with ~15× fewer candidates."""
    from mapnik_vector_tile_spark.plans.oracle_pairs import q_phash_mi

    return q_phash_mi(spark, sf_dir)


def q_raster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1 raster leg: decode + bilinear warp + painter's composite of
    4000 synthetic images into z5 tiles (binary-heavy mapInPandas)."""
    from mapnik_vector_tile_spark.operators import raster as R
    from mapnik_vector_tile_spark.sources.synth import images_df

    return R.rasterize_images(images_df(spark, 4000), z=5, tile_size=64)


def q_hex_density_b(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T18 hex binning + ring-1 disk smoothing (pure Catalyst)."""
    from mapnik_vector_tile_spark.plans import shared_sql as S
    from mapnik_vector_tile_spark.plans.oracle_pairs import (
        _sql_hex_density,
        load_views,
    )

    load_views(spark, sf_dir)
    return spark.sql(S.render(_sql_hex_density(), "spark"))


def q_balanced_sample_b(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T17 exact-k-per-stratum sample (map-side WindowGroupLimit)."""
    from mapnik_vector_tile_spark.plans.sampling_oracles import q_balanced_sample

    return q_balanced_sample(spark, sf_dir)


def q_downzoom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U5 bottom-up pyramid: encode z8 once, derive z7..z4 by 4->1
    rollups (downzoom_band) — the derive-ancestors-from-base strategy
    whose cost beyond q_encode_tiles' machinery is one bounded-fan-in
    shuffle per level over the (much smaller) tile tables."""
    from mapnik_vector_tile_spark.operators import composite as C
    from mapnik_vector_tile_spark.operators import tiling as T

    feats = _order_features(spark, sf_dir)
    assigned = T.assign_tiles(feats, 8, 8, buffer_units=0)
    layers = T.encode_layers(assigned, n_salts=16)
    return T.fold_tiles(C.downzoom_band(layers, 4))


def q_delta_sssp_b(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1b delta-stepping SSSP (r3 family): the driver-loop-bounded
    iterative operator — its cost is synchronization rounds, not rows,
    so bench visibility catches round-count regressions that per-key
    oracle timing would attribute to noise."""
    from mapnik_vector_tile_spark.plans.oracle_pairs import q_delta_sssp

    return q_delta_sssp(spark, sf_dir)


def registry() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "q_pyramid": q_pyramid,
        "q_encode_tiles": q_encode_tiles,
        "q_decode_rt": q_decode_rt,
        "q_overzoom": q_overzoom,
        "q_wafer": q_wafer,
        "q_encode_z10_direct": q_encode_z10_direct,
        "q_downzoom": q_downzoom,
        "q_pip_join": q_pip_join,
        "q_knn": q_knn,
        "q_phash_dedup": q_phash_dedup,
        "q_raster": q_raster,
        "q_delta_sssp": q_delta_sssp_b,
        "q_hex_density": q_hex_density_b,
        "q_balanced_sample": q_balanced_sample_b,
    }
