"""Registry of (Spark query, DuckDB oracle SQL) pairs behind
`__spark_entry__.queries` / `oracle_sql`: the engine's correctness
contract.

Each family module holds the keys whose Spark side calls its operator
modules, in one `pairs() -> {key: (spark_fn, sql_template)}` dict. The
templates are rendered for DuckDB here (`shared_sql.render`), so
arithmetic shared with the Spark side stays bit-identical and the
order-insensitive value hash of `oracle_check.compare` matches."""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from mapnik_vector_tile_spark.plans import shared_sql as S
from mapnik_vector_tile_spark.plans.oracles import (
    geometry,
    geostats,
    graph,
    io,
    joins,
    raster,
    sampling,
    streaming,
    tiles,
)

FAMILIES = (
    tiles, raster, joins, geostats, geometry, graph, io, streaming, sampling,
)


@functools.cache
def _merged() -> dict[str, tuple[Callable, str]]:
    out: dict[str, tuple[Callable, str]] = {}
    for family in FAMILIES:
        for name, (fn, template) in family.pairs().items():
            if name in out:
                raise ValueError(
                    f"oracle key {name} registered twice"
                    f" (again by {family.__name__})"
                )
            out[name] = (fn, S.render(template, "duckdb"))
    return out


def sql_pairs() -> tuple[
    dict[str, Callable[[SparkSession, str], DataFrame]], dict[str, str]
]:
    """(queries, oracles), each a fresh dict keyed in family order."""
    pairs = _merged()
    return (
        {name: fn for name, (fn, _) in pairs.items()},
        {name: sql for name, (_, sql) in pairs.items()},
    )
