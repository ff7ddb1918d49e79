"""Local stand-in for the driver's correctness gate: run every
queries() entry on Spark and its oracle_sql() on DuckDB over the same
sf dir; compare row count, schema (sorted column names), and an
order-insensitive value hash.

Usage:  python -m mapnik_vector_tile_spark.plans.oracle_check [sf_dir] [only...]

Optional ``only`` args restrict the sweep to queries whose name
contains any of the given substrings (fast iteration on one operator).
"""

from __future__ import annotations

import hashlib
import sys

import duckdb
import pandas as pd


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def value_hash(df: pd.DataFrame) -> str:
    canon = _canon(df)
    h = hashlib.sha256()
    for c in canon.columns:
        col = canon[c]
        if col.dtype == "float64":
            # match driver tolerance philosophy: full repr
            h.update("\x00".join(repr(v) for v in col.to_list()).encode())
        else:
            h.update("\x00".join(str(v) for v in col.to_list()).encode())
    return h.hexdigest()


def compare(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> dict:
    return {
        "rows": (len(spark_pdf), len(duck_pdf), len(spark_pdf) == len(duck_pdf)),
        "cols": (
            sorted(spark_pdf.columns),
            sorted(duck_pdf.columns),
            sorted(spark_pdf.columns) == sorted(duck_pdf.columns),
        ),
        "hash_match": value_hash(spark_pdf) == value_hash(duck_pdf),
    }


def main(sf_dir: str = "/root/testdata/sf0.01", *only: str) -> int:
    import __spark_entry__ as entrymod

    from mapnik_vector_tile_spark.session import get_spark

    spark = get_spark("oracle-check")
    con = duckdb.connect()
    # big-sf sweeps: the heaviest twins (quadratic kNN candidates,
    # recursive-CTE DP) exceed DuckDB's default ~80%-of-RAM budget
    # when Spark's 48g JVM already holds half the host — cap the
    # budget explicitly and spill to /tmp instead of dying with
    # OutOfMemoryException mid-sweep (observed at sf0.1).
    con.sql("SET memory_limit='40GB'")
    con.sql("SET temp_directory='/tmp/duckdb_oracle_spill'")
    con.sql("SET preserve_insertion_order=false")
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents"
    ).split():
        con.sql(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    import time as _time

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    for name, fn in queries.items():
        if only and not any(s in name for s in only):
            continue
        t0 = _time.perf_counter()
        sdf = fn(spark, sf_dir).toPandas()
        if name not in oracles:
            print(f"{name:30s} rows-only: {len(sdf)} rows")
            continue
        ddf = con.sql(oracles[name]).df()
        res = compare(sdf, ddf)
        dt = _time.perf_counter() - t0
        ok = res["rows"][2] and res["cols"][2] and res["hash_match"]
        print(f"{name:30s} {'OK ' if ok else 'FAIL'} [{dt:6.1f}s] {res}")
        if not ok:
            failures += 1
            # dump a small diff for debugging
            a, b = _canon(sdf), _canon(ddf)
            if res["rows"][2] and res["cols"][2]:
                neq = (a != b).any(axis=1)
                print(a[neq].head(5))
                print(b[neq].head(5))
    print("FAILURES:", failures)
    return failures


if __name__ == "__main__":
    sys.exit(main(*sys.argv[1:]))
