#!/usr/bin/env python
"""sf0.1 → sf1.0 scaling spot-run (BASELINE.md §4): time the Spark
side of a representative set of heavyweight oracle queries at two
scale factors and report per-query wall seconds plus the scaling
exponent  e = log10(T_big/T_small) / log10(sf_big/sf_small)  —
e ≈ 1 is linear data scaling, e < 1 means fixed overheads still
dominate at the small end, e > 1 names a super-linear operator.

The big-scale dataset is generated by jobs/gen_sf.py (testdata-shaped
and distribution-compatible; /root/testdata is read-only).  Each
query is forced to full execution with a noop sink, timed once per sf
after a warm-up of the scan.

Usage:
  python jobs/gen_sf.py --sf 1.0 --out /tmp/sf1.0
  python jobs/sf_scaling_probe.py --small /root/testdata/sf0.1 \
      --big /tmp/sf1.0 --ratio 10
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# heavyweight, sf-table-reading keys across the operator families:
# flagship pyramid, encode+decode, spatial joins, space-time stats
KEYS = [
    "q_tile_pyramid_counts",
    "q_engine_tile_counts",
    "q_engine_decode_roundtrip",
    "q_engine_knn",
    "q_engine_pip_partitioned",
    "q_knox",
]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--small", default="/root/testdata/sf0.1")
    ap.add_argument("--big", default="/tmp/sf1.0")
    ap.add_argument("--ratio", type=float, default=10.0)
    ap.add_argument("--keys", default=None,
                    help="comma-separated subset (default: KEYS)")
    args = ap.parse_args()
    if args.keys:
        global KEYS
        KEYS = args.keys.split(",")

    import __spark_entry__ as em

    from mapnik_vector_tile_spark.session import get_spark

    spark = get_spark("sf-scaling-probe")
    queries = em.queries()
    out = {}
    # untimed warm-up of every probed key at the SMALL sf: the first
    # execution pays Python-worker spin-up + Arrow codepath JIT, which
    # otherwise lands entirely on the small reading and can push the
    # measured exponent negative
    for k in KEYS:
        queries[k](spark, args.small).write.format("noop").mode(
            "overwrite"
        ).save()
    for sf_dir, tag in ((args.small, "small"), (args.big, "big")):
        for t in ("orders", "lineitem", "events", "documents"):
            spark.read.parquet(f"{sf_dir}/{t}.parquet").write.format(
                "noop"
            ).mode("overwrite").save()
        for k in KEYS:
            t0 = time.perf_counter()
            queries[k](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            dt = time.perf_counter() - t0
            out.setdefault(k, {})[tag] = round(dt, 2)
            print(f"{tag} {k}: {dt:.2f}s", flush=True)
    lr = math.log10(args.ratio)
    for k, v in out.items():
        v["exponent"] = round(
            math.log10(max(v["big"], 1e-9) / max(v["small"], 1e-9)) / lr, 2
        )
    print(json.dumps({"probe": "sf_scaling", "ratio": args.ratio,
                      "queries": out}))


if __name__ == "__main__":
    main()
