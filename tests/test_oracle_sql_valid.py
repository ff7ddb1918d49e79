"""Every registered oracle SQL must BIND in DuckDB.

EXPLAIN (no execution) over the full registry in a few seconds — the
cheap gate for the failure class round 4 hit twice: a shared SQL
helper change (the splitmix64 subquery-chain rewrite) that is valid
in projection position but breaks inside LATERAL/recursive contexts
surfaces here immediately instead of deep inside a 15-minute sweep.
Value correctness stays the oracle sweep's job; this pins syntax +
binding only."""

import duckdb
import pytest

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents"
).split()

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        c.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return c


def test_every_oracle_sql_binds(con):
    from mapnik_vector_tile_spark.plans.oracle_pairs import sql_pairs

    queries, oracles = sql_pairs()
    assert oracles and set(oracles) == set(queries)
    bad = []
    for k, sql in oracles.items():
        try:
            con.execute("EXPLAIN " + sql)
        except Exception as e:  # noqa: BLE001 — collecting all failures
            bad.append((k, f"{type(e).__name__}: {str(e)[:100]}"))
    assert not bad, bad
