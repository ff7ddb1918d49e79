"""Deterministic corpus sampling / split assignment (T17 family).

Hash-keyed sampling and split operators over the ``documents`` table
(and, keyed by cell or image, over spatial rows and images):

* ``with_sample_hash`` — a stable per-row coin: ``splitmix64(doc_id)``
  truncated to its top 53 bits, so the SAME value is representable
  exactly as an int64 (Spark), a DuckDB BIGINT, and (if it ever
  transits a DOUBLE) an IEEE float. Sampling decisions are pure
  functions of the row key: re-runs, resumes, and both engines agree
  row-for-row, which is what makes holdout splits trustworthy across
  pipeline versions.
* ``assign_split`` — train/val/test assignment by hash bucket
  (80/10/10 of ``hord % 10000``). Map-side only; the split column
  costs no shuffle and any downstream filter on it is
  pushdown-friendly.
* ``stratified_sample`` — per-stratum (language) keep-rates applied as
  a single CASE threshold on the same bucket. Down-samples
  over-represented strata (the classic corpus-balancing op) without a
  shuffle: filter is map-side, the only exchange is the final stats
  aggregate (partial-agg'd).
* ``balanced_topk`` — EXACTLY k rows per stratum, chosen by hash
  order (deterministic "random" without replacement). Declared as
  ``row_number() OVER (PARTITION BY lang ORDER BY hord, doc_id) <= k``
  — Spark's WindowGroupLimit rule (asserted in
  tests/test_plan_quality.py) rewrites this to a per-map-partition
  top-k BEFORE the shuffle, so the exchange carries at most
  ``k × n_partitions`` rows per stratum, not the stratum. That is the
  100 TB plan: the full-sort-per-stratum a naive window implies never
  materializes.

No reference counterpart (mapnik-vector-tile renders tiles; it has no
corpus curation); ``sample_hash`` is also the zoom-thinning coin of
``tiling``. Every public operator here is gated by a full DuckDB
oracle (oracle_pairs re-derives the hash via splitmix64_sql HUGEINT
arithmetic, bit-exact).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from mapnik_vector_tile_spark.sources.synth import splitmix64

# Top 53 bits of the 64-bit hash: exactly representable everywhere.
_HSHIFT = 11
# Bucket space for rate thresholds: rates are "per ten-thousand".
BUCKETS = 10_000

# Per-language keep-rates (per BUCKETS). en is down-sampled hardest —
# it dominates the corpus — zh kept nearly whole; the point is the
# rates are non-uniform so the oracle is non-vacuous.
STRATA_RATES: dict[str, int] = {
    "en": 2000,
    "de": 5000,
    "es": 5000,
    "fr": 5000,
    "zh": 8000,
}

# train/val/test thresholds on hord % BUCKETS.
SPLIT_TRAIN = 8000
SPLIT_VAL = 9000


def _sample_hash_kernel(ids: pd.Series) -> pd.Series:
    """splitmix64(id) >> 11 — vectorized, uint64-exact, 53-bit result."""
    h = splitmix64(ids.to_numpy(dtype=np.uint64))
    return pd.Series((h >> np.uint64(_HSHIFT)).astype(np.int64))


# DataType instance (not a DDL string) so the decorator needs no active
# SparkSession at import time.
sample_hash = F.pandas_udf(_sample_hash_kernel, LongType())


def with_sample_hash(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    return df.withColumn("hord", sample_hash(F.col(id_col)))


def _bucket() -> Column:
    return F.col("hord") % F.lit(BUCKETS)


def assign_split(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Add ``split ∈ {train, val, test}`` by hash bucket (80/10/10)."""
    b = _bucket()
    return with_sample_hash(df, id_col).withColumn(
        "split",
        F.when(b < SPLIT_TRAIN, F.lit("train"))
        .when(b < SPLIT_VAL, F.lit("val"))
        .otherwise(F.lit("test")),
    )


def spatial_block_split(
    df: DataFrame, z: int = 6, mx_col: str = "mx", my_col: str = "my"
) -> DataFrame:
    """Leakage-safe GEOGRAPHIC train/val/test split — the geo-ML
    evaluation discipline: spatial autocorrelation makes a random row
    split leak (a test point meters from a train point is trivially
    predictable), so whole spatial BLOCKS are assigned to one side
    (block cross-validation, Roberts et al. 2017, Ecography 40).

    Block = the z-level Web-Mercator tile cell containing the row's
    mercator point — the engine's own pyramid grid, so blocks align
    with every other operator's partitioning and the block id is the
    standard Morton cell key. The split coin is splitmix64(block)
    (the corpus's committed row-coin, here keyed by CELL), so every
    row of a block draws the SAME coin and train/test never share a
    block; thresholds are the assign_split 80/10/10 — of BLOCKS, not
    rows, which is what the discipline requires (row shares then
    follow block occupancy). Zero shuffle: pure Column tile math plus
    one Arrow-batched hash projection; adds (block long, split
    string). Lon/lat callers wrap with tilemath.merc_{x,y}_col."""
    from mapnik_vector_tile_spark.functions import tilemath as T

    out = (
        df.withColumn("_tx", T.tile_x_col(F.col(mx_col), z))
        .withColumn("_ty", T.tile_y_col(F.col(my_col), z))
        .withColumn("block", F.expr(T.cell_id_sql_expr("_tx", "_ty", z)))
        .drop("_tx", "_ty")
    )
    b = sample_hash(F.col("block")) % F.lit(BUCKETS)
    return out.withColumn(
        "split",
        F.when(b < SPLIT_TRAIN, F.lit("train"))
        .when(b < SPLIT_VAL, F.lit("val"))
        .otherwise(F.lit("test")),
    )


def stratified_sample(
    df: DataFrame,
    rates: dict[str, int] | None = None,
    stratum_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep a row iff ``hord % BUCKETS < rate(stratum)``; unknown
    strata are dropped (rate 0)."""
    rates = STRATA_RATES if rates is None else rates
    thr: Column = F.lit(0)
    for lang, rate in sorted(rates.items()):
        thr = F.when(F.col(stratum_col) == lang, F.lit(rate)).otherwise(thr)
    return with_sample_hash(df, id_col).filter(_bucket() < thr)


def balanced_topk(
    df: DataFrame,
    k: int,
    stratum_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exactly min(k, |stratum|) rows per stratum in hash order."""
    w = Window.partitionBy(stratum_col).orderBy("hord", id_col)
    return (
        with_sample_hash(df, id_col)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
    )


# --- aspect-ratio bucketing (T28) -------------------------------------------

# Canonical training aspect-ratio buckets as REDUCED fractions
# (num, den) spanning the 1:4 .. 4:1 range image models bucket over
# (the SDXL/NovelAI bucketing families reduce to these ratios).
AR_BUCKETS: tuple[tuple[int, int], ...] = (
    (1, 4), (1, 3), (1, 2), (2, 3), (3, 4), (1, 1),
    (4, 3), (3, 2), (2, 1), (3, 1), (4, 1),
)


def _ar_lcm_den() -> int:
    import math

    d = 1
    for _, den in AR_BUCKETS:
        d = d * den // math.gcd(d, den)
    return d


def ar_bucket_batches(
    images: DataFrame,
    batch_size: int = 8,
    n_shards: int = 4,
    id_col: str = "image_id",
) -> DataFrame:
    """Aspect-ratio bucketing + fixed-size batch packing — the batch
    former of every image-model training pipeline (variable-AR corpora
    train on same-AR batches; NovelAI/SDXL bucketing): each image
    snaps to the NEAREST ratio bucket, then same-bucket images pack
    into batches of ``batch_size``.

    Nearest is EXACT integer arithmetic (both engines bit-agree, no FP
    tie risk): for bucket i = n_i/d_i the true error |w/h − n_i/d_i|
    equals |w·d_i − h·n_i| / (h·d_i); multiplying by the constant
    h·lcm(d) gives the cross-bucket-comparable integer metric
    |w·d_i − h·n_i| · (lcm/d_i). Ties break to the smaller bucket
    index via struct ordering — F.least over (metric, idx) structs,
    pure Column math, no UDF, no shuffle for the assignment itself.

    Batch packing at 10^12 rows cannot be one row_number per bucket —
    that puts a whole bucket on one task. Rows are therefore sharded
    by ``pmod(phash, n_shards)`` and ranked within (bucket, shard)
    ordered by id: parallelism is |buckets|·n_shards (pick n_shards ≈
    cluster cores / |buckets|), ONE exchange computes both the rank
    and the group count, and batches stay same-bucket by
    construction. ``is_full`` marks complete batches (training drops
    or pads the per-shard remainder). Deterministic: a pure function
    of (w, h, phash, id) — re-runs and resumes agree row-for-row."""
    lcm = _ar_lcm_den()
    structs = [
        F.struct(
            (
                F.abs(
                    F.col("w").cast("long") * F.lit(d)
                    - F.col("h").cast("long") * F.lit(n)
                )
                * F.lit(lcm // d)
            ).alias("metric"),
            F.lit(i).alias("idx"),
        )
        for i, (n, d) in enumerate(AR_BUCKETS)
    ]
    best = F.least(*structs)
    df = images.withColumn("bucket", best["idx"]).withColumn(
        "shard", F.pmod(F.col("phash"), F.lit(n_shards)).cast("int")
    )
    w = Window.partitionBy("bucket", "shard").orderBy(id_col)
    wc = Window.partitionBy("bucket", "shard")
    ratio_n = F.element_at(
        F.array(*[F.lit(n) for n, _ in AR_BUCKETS]), F.col("bucket") + 1
    )
    ratio_d = F.element_at(
        F.array(*[F.lit(d) for _, d in AR_BUCKETS]), F.col("bucket") + 1
    )
    batch = F.floor((F.row_number().over(w) - 1) / batch_size).cast(
        "long"
    )
    n_full = F.floor(F.count(F.lit(1)).over(wc) / batch_size)
    return df.select(
        id_col,
        "w",
        "h",
        "bucket",
        ratio_n.alias("ratio_n"),
        ratio_d.alias("ratio_d"),
        "shard",
        batch.alias("batch_id"),
        (batch < n_full).alias("is_full"),
    )
