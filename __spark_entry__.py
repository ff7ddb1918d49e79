"""Driver contract for the spark-graft builder (PySpark target).

entry()      — flagship z0..z14 tile-pyramid job on sf0.001.
queries()    — one entry per implemented operator (SURVEY.md §2;
               §2.12 indexes every key to the rows it gates).
oracle_sql() — DuckDB ANSI-SQL twins: since round 2 EVERY key has one
               (0 rows-only).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from mapnik_vector_tile_spark.plans.flagship import pyramid_counts

    return pyramid_counts(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from mapnik_vector_tile_spark.plans.oracles import sql_pairs

    q, _ = sql_pairs()
    return q


def oracle_sql() -> dict[str, str]:
    from mapnik_vector_tile_spark.plans.oracles import sql_pairs

    _, o = sql_pairs()
    return o
