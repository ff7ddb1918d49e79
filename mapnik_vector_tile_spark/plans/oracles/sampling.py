"""Oracle pairs for the hash-keyed sampling operators
(operators.sampling: train/val/test split, stratified sample, exact k
per stratum, spatial block split).

The twins are independent ANSI SQL over the same parquet views. Parity
holds because both sides derive the same splitmix64 row hash: Spark
through ``sampling.with_sample_hash``, DuckDB through
``splitmix64_sql`` HUGEINT arithmetic.

`pairs()` maps each query key to (spark_fn, oracle SQL template);
`plans.oracles.sql_pairs()` merges the families."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapnik_vector_tile_spark.plans import shared_sql as S
from mapnik_vector_tile_spark.plans.shared_sql import splitmix64_sql


def q_spatial_block_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T-class × spatial: leakage-safe geographic train/val/test split
    (operators.sampling.spatial_block_split — block cross-validation:
    whole z6 tile cells assigned to one side by the committed
    splitmix64 cell coin, so spatial autocorrelation cannot leak
    between train and test). Full oracle: the twin recomputes tile
    cells, Morton blocks, the 64-bit mix, and the 80/10/10 threshold
    walk in pure SQL; n_blocks per split certifies block-level (not
    row-level) assignment."""
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.operators import joins as J
    from mapnik_vector_tile_spark.operators import sampling as SMP

    pts = J._order_points(spark, sf_dir, "orders", "o_orderkey")
    out = SMP.spatial_block_split(pts, z=6)
    return out.groupBy("split").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.countDistinct("block").cast("bigint").alias("n_blocks"),
        F.sum("id").cast("bigint").alias("sum_id"),
        F.min("id").cast("bigint").alias("min_id"),
    )


def _sql_spatial_block_split(z: int = 6) -> str:
    from mapnik_vector_tile_spark.functions.tilemath import cell_id_sql_expr
    from mapnik_vector_tile_spark.operators.sampling import (
        BUCKETS,
        SPLIT_TRAIN,
        SPLIT_VAL,
        _HSHIFT,
    )

    tx, ty = S.tile_xy_exprs(z)
    cell = cell_id_sql_expr("tx", "ty", z)
    sm = splitmix64_sql("block")
    return f"""
WITH {S.point_cte('orders', 'o_orderkey')},
t AS (SELECT id, {tx} AS tx, {ty} AS ty FROM pts),
bl AS (SELECT id, {cell} AS block FROM t),
h AS (SELECT id, block,
             CAST((({sm}) // {1 << _HSHIFT}) % {BUCKETS} AS BIGINT) AS bkt
      FROM bl),
s AS (SELECT id, block,
             CASE WHEN bkt < {SPLIT_TRAIN} THEN 'train'
                  WHEN bkt < {SPLIT_VAL} THEN 'val'
                  ELSE 'test' END AS split
      FROM h)
SELECT split,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT block) AS BIGINT) AS n_blocks,
       CAST(SUM(id) AS BIGINT) AS sum_id,
       CAST(MIN(id) AS BIGINT) AS min_id
FROM s GROUP BY 1
"""


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _hord_cte(src: str = "documents") -> str:
    """DuckDB twin of sampling.sample_hash: splitmix64(doc_id) >> 11
    via HUGEINT arithmetic (bit-exact, verified by the pair hashes)."""
    return f"""
h AS (SELECT doc_id, lang, source, n_chars,
             CAST(({splitmix64_sql('doc_id')}) // 2048 AS BIGINT) AS hord
      FROM {src})"""


def sql_train_split() -> str:
    from mapnik_vector_tile_spark.operators.sampling import (
        BUCKETS,
        SPLIT_TRAIN,
        SPLIT_VAL,
    )

    return f"""
WITH {_hord_cte()}
SELECT lang,
       CASE WHEN hord % {BUCKETS} < {SPLIT_TRAIN} THEN 'train'
            WHEN hord % {BUCKETS} < {SPLIT_VAL} THEN 'val'
            ELSE 'test' END AS split,
       COUNT(*) AS n,
       MIN(doc_id) AS min_id,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM h
GROUP BY 1, 2
"""


def sql_stratified_sample() -> str:
    from mapnik_vector_tile_spark.operators.sampling import (
        BUCKETS,
        STRATA_RATES,
    )

    case = " ".join(
        f"WHEN '{lang}' THEN {rate}" for lang, rate in sorted(STRATA_RATES.items())
    )
    return f"""
WITH {_hord_cte()}
SELECT lang, source,
       COUNT(*) AS n,
       MIN(doc_id) AS min_id,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM h
WHERE hord % {BUCKETS} < CASE lang {case} ELSE 0 END
GROUP BY 1, 2
"""


def sql_balanced_sample(k: int = 20) -> str:
    return f"""
WITH {_hord_cte()}
SELECT lang, CAST(rnk AS BIGINT) AS rnk, doc_id
FROM (SELECT lang, doc_id,
             row_number() OVER (PARTITION BY lang ORDER BY hord, doc_id) AS rnk
      FROM h) r
WHERE rnk <= {k}
"""


def q_train_split(spark, sf_dir):
    from mapnik_vector_tile_spark.operators import sampling as SMP

    return (
        SMP.assign_split(_docs(spark, sf_dir))
        .groupBy("lang", "split")
        .agg(
            F.count("*").alias("n"),
            F.min("doc_id").alias("min_id"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
    )


def q_stratified_sample(spark, sf_dir):
    from mapnik_vector_tile_spark.operators import sampling as SMP

    return (
        SMP.stratified_sample(_docs(spark, sf_dir))
        .groupBy("lang", "source")
        .agg(
            F.count("*").alias("n"),
            F.min("doc_id").alias("min_id"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
    )


def q_balanced_sample(spark, sf_dir):
    from mapnik_vector_tile_spark.operators import sampling as SMP

    return SMP.balanced_topk(_docs(spark, sf_dir), k=20).select(
        "lang", F.col("rnk").cast("bigint").alias("rnk"), "doc_id"
    )


def pairs() -> dict[str, tuple[Callable, str]]:
    """key -> (spark_fn, oracle SQL template)."""
    return {
        "q_spatial_block_split": (
            q_spatial_block_split,
            _sql_spatial_block_split(),
        ),
        "q_train_split": (q_train_split, sql_train_split()),
        "q_stratified_sample": (q_stratified_sample, sql_stratified_sample()),
        "q_balanced_sample": (q_balanced_sample, sql_balanced_sample(20)),
    }
