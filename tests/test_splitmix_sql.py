"""The DuckDB rendering of the corpus mixing function must stay
bit-exact with the committed numpy implementation — every closed-form
twin regenerates its corpus through it, so a single wrong bit breaks
dozens of value-hash oracles.  Pinned over a large contiguous range
plus scattered huge inputs (the r4 subquery-chain rewrite made the
expression ~35x smaller and ~10x faster; this is its equality pin)."""

import duckdb
import numpy as np

from mapnik_vector_tile_spark.plans.shared_sql import splitmix64_sql
from mapnik_vector_tile_spark.sources.synth import splitmix64


def test_bit_exact_contiguous_range():
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT CAST(({splitmix64_sql('i')}) AS VARCHAR) FROM "
        "(SELECT unnest(generate_series(0, 199999)) AS i)"
    ).fetchall()
    got = np.array([int(r[0]) for r in rows], dtype=np.uint64)
    ref = splitmix64(np.arange(0, 200000, dtype=np.uint64))
    assert np.array_equal(got, ref)


def test_bit_exact_large_and_composite_inputs():
    """Call-site shapes: composite integer expressions and inputs far
    beyond 32 bits."""
    con = duckdb.connect()
    vals = [0, 1, 2**31, 2**32 + 7, 10**15 + 3, 2**62 - 1]
    rows = con.execute(
        "SELECT CAST(("
        + splitmix64_sql("(CAST(i AS HUGEINT) * 1000003 + 7)")
        + ") AS VARCHAR) FROM (SELECT unnest($1::BIGINT[]) AS i)",
        [vals],
    ).fetchall()
    got = np.array([int(r[0]) for r in rows], dtype=np.uint64)
    ref = splitmix64(
        (np.array(vals, dtype=np.uint64) * np.uint64(1000003))
        + np.uint64(7)
    )
    assert np.array_equal(got, ref)
