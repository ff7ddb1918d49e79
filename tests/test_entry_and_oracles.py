"""Driver-contract smoke: entry() returns rows; every queries() entry
matches its DuckDB oracle at sf0.001 (the driver re-runs at sf0.01)."""

import duckdb
import pytest

import __spark_entry__ as entrymod
from mapnik_vector_tile_spark.plans.oracle_check import compare
from tests.conftest import SF_DIR


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.limit(5).collect()
    assert len(rows) > 0
    assert set(df.columns) == {"z", "x", "y", "n_features"}


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents"
    ).split():
        con.sql(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


def _ids():
    return sorted(entrymod.queries().keys())


@pytest.mark.parametrize("name", _ids())
def test_oracle_pair(spark, duck, name):
    fn = entrymod.queries()[name]
    sdf = fn(spark, SF_DIR).toPandas()
    oracles = entrymod.oracle_sql()
    if name not in oracles:
        assert len(sdf) >= 0  # rows-only contract
        return
    ddf = duck.sql(oracles[name]).df()
    res = compare(sdf, ddf)
    assert res["rows"][2], res
    assert res["cols"][2], res
    assert res["hash_match"], f"value hash mismatch for {name}"


def test_rows_only_set_is_pinned():
    """Every queries() key carries a full DuckDB oracle — a new query
    landing without its oracle fails here instead of silently
    weakening the correctness gate. (Round 1 had three documented
    rows-only keys; round 2 gave q_raster_tiles a full oracle and
    deleted q_simplify_lines, superseded by q_engine_simplify_exact.)"""
    q = set(entrymod.queries())
    o = set(entrymod.oracle_sql())
    assert o <= q
    assert q - o == set()


def test_family_registries_partition_the_keys():
    """Each key lives in exactly one family's pairs(), and the families
    together register every queries() key."""
    from mapnik_vector_tile_spark.plans.oracles import FAMILIES

    seen: dict[str, str] = {}
    for family in FAMILIES:
        for name in family.pairs():
            assert name not in seen, (name, seen.get(name), family.__name__)
            seen[name] = family.__name__
    assert set(seen) == set(entrymod.queries())


def test_sql_pairs_rejects_a_key_registered_twice(monkeypatch):
    from mapnik_vector_tile_spark.plans import oracles
    from mapnik_vector_tile_spark.plans.oracles import sampling

    monkeypatch.setattr(oracles, "FAMILIES", (sampling, sampling))
    oracles._merged.cache_clear()
    try:
        with pytest.raises(ValueError, match="registered twice"):
            oracles.sql_pairs()
    finally:
        monkeypatch.undo()
        oracles._merged.cache_clear()
    assert len(oracles.sql_pairs()[0]) == len(entrymod.queries())
