#!/usr/bin/env python
"""Generate a testdata-shaped synthetic dataset at an arbitrary scale
factor — the input for the sf1.0 "plans survive 10×" spot-run
(BASELINE.md §4).  /root/testdata is driver-owned and read-only, so
larger scales are generated here, schema- and distribution-compatible
with the committed sf0.1 tables (verified column-for-column against
`DESCRIBE` of the driver parquet):

  orders 1.5M·sf/0.1, lineitem 6M·sf/0.1, events 1M·sf/0.1,
  customer/part/supplier/documents scaled likewise,
  region/nation fixed dims.

Values are deterministic (numpy PCG64 seed 42) and match the driver
corpus's ranges/cardinalities (order status/priority mixes, 1995-2001
date ranges, event types, word-soup docs
at the same length profile) so query selectivities — and therefore
scaling exponents — are comparable.  These tables are NOT the
driver's bytes: correctness at this scale is still exact (the DuckDB
twin reads the same parquet), but value hashes differ from the
driver corpus by construction.

Usage: python jobs/gen_sf.py --sf 1.0 --out /tmp/sf1.0
"""

from __future__ import annotations

import argparse
import os
import sys

import numpy as np
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
NATIONS = [f"NATION_{i:02d}" for i in range(25)]
STATUS = np.array(["O", "F", "P"])
PRIO = np.array(
    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
)
SEGMENTS = np.array(
    ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
)
ETYPES = np.array(["view", "click", "purchase", "signup", "error"])
EPROBS = np.array([0.55, 0.25, 0.08, 0.07, 0.05])
LANGS = np.array(["en", "de", "fr", "es", "zh"])
WORDS = (
    "spark line column order part batch small sort vector scan fast "
    "query agg slow value filter customer string join shuffle tile "
    "zoom layer point merge stream window group hash index cache"
).split()


def write(df: pd.DataFrame, out: str, name: str) -> None:
    path = os.path.join(out, f"{name}.parquet")
    # bounded row groups: a single-row-group file scans as ONE Spark
    # task and serializes every narrow fan-out downstream
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.Table.from_pandas(df, preserve_index=False),
        path,
        row_group_size=65536,
    )
    print(f"{name}: {len(df)} rows -> {path}", flush=True)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", type=float, default=1.0)
    ap.add_argument("--out", default="/tmp/sf1.0")
    args = ap.parse_args()
    k = args.sf / 0.1  # multiples of the committed sf0.1 sizes
    os.makedirs(args.out, exist_ok=True)
    rng = np.random.Generator(np.random.PCG64(42))

    write(pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": REGIONS,
    }), args.out, "region")
    write(pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": NATIONS,
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    }), args.out, "nation")

    n_cust = int(15000 * k)
    write(pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": SEGMENTS[rng.integers(0, 5, n_cust)],
    }), args.out, "customer")

    n_supp = int(1000 * k)
    write(pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
    }), args.out, "supplier")

    n_part = int(20000 * k)
    write(pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"part {i} {WORDS[i % len(WORDS)]}" for i in range(n_part)],
        "p_brand": [f"Brand#{(i % 5) + 1}{(i % 5) + 1}" for i in range(n_part)],
        "p_type": [f"TYPE {i % 25}" for i in range(n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(rng.uniform(900, 2000, n_part), 2),
    }), args.out, "part")

    n_ord = int(150000 * k)
    t0 = np.datetime64("1995-01-01")
    write(pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": STATUS[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": t0 + rng.integers(0, 2400, n_ord).astype(
            "timedelta64[D]"
        ),
        "o_orderpriority": PRIO[rng.integers(0, 5, n_ord)],
    }), args.out, "orders")

    n_li = int(600000 * k)
    write(pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
        "l_shipdate": t0 + rng.integers(0, 2500, n_li).astype(
            "timedelta64[D]"
        ),
    }), args.out, "lineitem")

    n_ev = int(100000 * k)
    e0 = np.datetime64("2024-01-01T00:00:00")
    write(pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": e0 + rng.integers(0, 30 * 86400 * 10**6, n_ev).astype(
            "timedelta64[us]"
        ),
        "user_id": rng.integers(0, max(1, n_ev // 20), n_ev).astype(
            np.int64
        ),
        "event_type": ETYPES[
            rng.choice(5, n_ev, p=EPROBS)
        ],
        "value": np.round(rng.uniform(0, 560, n_ev), 2),
        "props": [f'{{"k": {int(v)}}}' for v in rng.integers(0, 100, n_ev)],
    }), args.out, "events")

    n_doc = int(5000 * k)
    lens = rng.integers(8, 80, n_doc)
    widx = rng.integers(0, len(WORDS), int(lens.sum()))
    offs = np.concatenate(([0], np.cumsum(lens)))
    texts = [
        " ".join(WORDS[j] for j in widx[offs[i]:offs[i + 1]])
        for i in range(n_doc)
    ]
    write(pd.DataFrame({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": LANGS[rng.choice(5, n_doc, p=[0.5, 0.15, 0.15, 0.1, 0.1])],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }), args.out, "documents")


if __name__ == "__main__":
    main()
