"""DuckDB oracle SQL for the hash-keyed sampling operators
(operators/sampling: train/val/test split, stratified sample, exact
k per stratum), plus the Spark query callables they gate.

The oracle is independent ANSI SQL over the same `documents` parquet
view. Parity holds because both sides derive the same splitmix64 row
hash (`hord`): Spark through ``sampling.with_sample_hash``, DuckDB
through ``splitmix64_sql`` HUGEINT arithmetic.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _hord_cte(src: str = "documents") -> str:
    """DuckDB twin of sampling.sample_hash: splitmix64(doc_id) >> 11
    via HUGEINT arithmetic (bit-exact, verified by the pair hashes)."""
    from mapnik_vector_tile_spark.plans.oracle_pairs import splitmix64_sql

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
    """name -> (spark_fn, oracle_sql)."""
    return {
        "q_train_split": (q_train_split, sql_train_split()),
        "q_stratified_sample": (q_stratified_sample, sql_stratified_sample()),
        "q_balanced_sample": (q_balanced_sample, sql_balanced_sample(20)),
    }
