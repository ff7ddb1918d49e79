#!/usr/bin/env python
"""Fixed-batch encode-kernel benchmark — the host-noise-proof number.

Per BASELINE.md §4.3/§4.4, single invocations of the end-to-end suite
on this VM carry a ±30-40% error bar, so kernel regressions can only be
judged on a FIXED in-process batch: deterministic input, no Spark jobs
in the timed region, no shuffle, no Arrow transport. This harness is
the committed, reproducible form of the measurement that drove the
10.2 s → 2.2 s encode-kernel iteration.

Protocol:
  1. (untimed, cached) materialize the assigned-features batch with
     Spark once: synth images → features → assign_tiles(z,z) →
     with_salt(n_salts=1) — byte-for-byte what the build's one
     unsalted encode exchange shuffles (every tile one group, salt 0).
  2. (timed) sort by the group keys and run prepare + the group loop
     exactly as operators.grouped.apply_grouped does, using the REAL
     kernel from tiling.make_encode_kernel.
  3. print ONE JSON line: rows, groups, wall seconds (min of repeats),
     output blob bytes (determinism check: must be identical across
     runs and code changes that claim value-neutrality).

Usage: python jobs/kernel_bench.py [--n-images 15000] [--z 8] [--repeat 3]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def materialize(path: str, n_images: int, z: int) -> None:
    from mapnik_vector_tile_spark.operators import tiling as T
    from mapnik_vector_tile_spark.session import get_spark
    from mapnik_vector_tile_spark.sources import synth

    spark = get_spark("kernel-bench-prep", cores=4, shuffle_partitions=8)
    images = synth.images_df(spark, n_images, with_bytes=False, slices=4)
    feats = T.images_to_features(images)
    assigned = T.with_salt(T.assign_tiles(feats, z, z), n_salts=1)
    assigned.coalesce(1).write.mode("overwrite").parquet(path)
    spark.stop()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n-images", type=int, default=15000)
    ap.add_argument("--z", type=int, default=8)
    ap.add_argument("--repeat", type=int, default=3)
    ap.add_argument("--cache", default="/tmp/kernel_bench_batch")
    ap.add_argument("--refresh", action="store_true",
                    help="force re-materialization of the cached batch")
    ap.add_argument("--mode",
                    choices=("encode", "decode", "downzoom"),
                    default="encode",
                    help="decode: time the tile->features kernel on the "
                         "tiles produced (in-process) from the same batch")
    args = ap.parse_args()

    from mapnik_vector_tile_spark.operators import tiling as T
    from mapnik_vector_tile_spark.operators.grouped import group_starts

    # cache key includes a fingerprint of the batch-producing sources
    # (this file's materialize too), so upstream changes to
    # synth/assign_tiles can never be timed (or byte-compared) against a
    # stale materialization
    import hashlib

    import mapnik_vector_tile_spark.sources.synth as _synth

    fp = hashlib.md5()
    for path in (T.__file__, _synth.__file__, __file__):
        with open(path, "rb") as f:
            fp.update(f.read())
    tag = fp.hexdigest()[:10]
    cache = f"{args.cache}_n{args.n_images}_z{args.z}_{tag}.parquet"
    if args.refresh or not os.path.exists(cache):
        materialize(cache, args.n_images, args.z)

    import pyarrow.parquet as pq

    pdf: pd.DataFrame = pq.read_table(cache).to_pandas()
    keys = ["z", "x", "y", "salt"]
    pdf = pdf.sort_values([*keys, "feature_id"], kind="mergesort").reset_index(
        drop=True
    )
    n = len(pdf)

    prepare, encode_group, encode_batch = T.make_encode_kernel(
        "features", 4096, 128, emit_tiles=False
    )

    if args.mode == "decode":
        _decode_bench(pdf, keys, prepare, encode_group, args)
        return

    if args.mode == "downzoom":
        _downzoom_bench(pdf, keys, prepare, encode_group, args)
        return

    best = float("inf")
    out_bytes = out_rows = n_groups = 0
    for _ in range(max(1, args.repeat)):
        cols = {c: pdf[c].to_numpy() for c in pdf.columns}
        t0 = time.monotonic()
        cols.update(prepare(cols, n))
        keycols = [cols[k] for k in keys]
        starts = group_starts(keycols, n)
        tot_b = tot_r = 0
        # production path: vectorized canonical-batch pass first,
        # scalar encode_group for the unhandled groups (mirrors
        # apply_grouped — the pin times what the engine runs)
        brows, handled = encode_batch(keycols, cols, starts)
        tot_r += len(brows)
        tot_b += sum(len(row[4]) for row in brows)
        for i in range(len(starts) - 1):
            if handled[i]:
                continue
            s = int(starts[i])
            sl = slice(s, int(starts[i + 1]))
            r = encode_group(tuple(c[s] for c in keycols), cols, sl)
            if r:
                tot_r += len(r)
                tot_b += sum(len(row[4]) for row in r)
        wall = time.monotonic() - t0
        best = min(best, wall)
        out_bytes, out_rows, n_groups = tot_b, tot_r, len(starts) - 1

    print(
        json.dumps(
            {
                "metric": "encode_kernel_fixed_batch_seconds",
                "value": round(best, 3),
                "unit": "sec",
                "rows": n,
                "groups": n_groups,
                "out_rows": out_rows,
                "out_bytes": out_bytes,
                "rows_per_sec": round(n / best),
                "z": args.z,
                "n_images": args.n_images,
            }
        )
    )


def _downzoom_bench(pdf, keys, prepare, encode_group, args) -> None:
    """Time ONE 4->1 rollup level over the layers produced (untimed,
    in-process) from the fixed batch: encode partials, splice-merge
    per tile, then run composite.downzoom_parent_layer over every
    parent group. out_bytes is the determinism pin for the rollup
    kernel (floor-shift + dictionary re-merge)."""
    from mapnik_vector_tile_spark.functions import pbf
    from mapnik_vector_tile_spark.operators.composite import (
        downzoom_parent_layer,
    )
    from mapnik_vector_tile_spark.operators.grouped import group_starts

    n = len(pdf)
    cols = {c: pdf[c].to_numpy() for c in pdf.columns}
    cols.update(prepare(cols, n))
    keycols = [cols[k] for k in keys]
    starts = group_starts(keycols, n)
    partials: dict[tuple, list] = {}
    for i in range(len(starts) - 1):
        s0 = int(starts[i])
        sl = slice(s0, int(starts[i + 1]))
        for row in encode_group(tuple(c[s0] for c in keycols), cols, sl) or []:
            partials.setdefault((row[0], row[1], row[2]), []).append(row[4])
    tiles = [
        (z, x, y, pbf.splice_merge_layers(blobs, "features"))
        for (z, x, y), blobs in sorted(partials.items())
    ]
    parents: dict[tuple, list] = {}
    for z, x, y, blob in tiles:
        parents.setdefault((z - 1, x >> 1, y >> 1), []).append(
            (x & 1, y & 1, blob)
        )

    best = float("inf")
    out_bytes = out_feats = 0
    for _ in range(max(1, args.repeat)):
        t0 = time.monotonic()
        tb = tf = 0
        for _k, kids in sorted(parents.items()):
            r = downzoom_parent_layer(kids)
            if r is not None:
                tb += len(r[0])
                tf += r[1]
        wall = time.monotonic() - t0
        best = min(best, wall)
        out_bytes, out_feats = tb, tf

    print(
        json.dumps(
            {
                "metric": "downzoom_kernel_fixed_batch_seconds",
                "value": round(best, 3),
                "unit": "sec",
                "tiles_in": len(tiles),
                "parents": len(parents),
                "out_features": out_feats,
                "out_bytes": out_bytes,
                "z": args.z,
                "n_images": args.n_images,
            }
        )
    )


def _decode_bench(pdf, keys, prepare, encode_group, args) -> None:
    """Time the tile->features decode kernel (pbf.decode_tile +
    decode_layer + geomcodec.decode_geometry — the inner loop of
    tiling.decode_tiles_to_features) on tiles folded in-process from
    the SAME deterministic batch. Determinism check: total decoded
    feature count and coordinate checksum."""
    import json
    import time

    import numpy as np

    from mapnik_vector_tile_spark.functions import geomcodec as gc
    from mapnik_vector_tile_spark.functions import pbf
    from mapnik_vector_tile_spark.operators.grouped import group_starts

    n = len(pdf)
    cols = {c: pdf[c].to_numpy() for c in pdf.columns}
    cols.update(prepare(cols, n))
    keycols = [cols[k] for k in keys]
    starts = group_starts(keycols, n)
    tiles: list[bytes] = []
    for i in range(len(starts) - 1):
        s = int(starts[i])
        r = encode_group(
            tuple(c[s] for c in keycols), cols, slice(s, int(starts[i + 1]))
        )
        if r:
            tiles.extend(pbf.concat_tile([row[4]]) for row in r)

    best = float("inf")
    n_feats = checksum = 0
    for _ in range(max(1, args.repeat)):
        t0 = time.monotonic()
        nf = ck = 0
        for t in tiles:
            for lmsg in pbf.decode_tile(t):
                layer = pbf.decode_layer(lmsg)
                for f in layer["features"]:
                    xs, ys, _ = gc.decode_geometry(
                        int(f["type"]), f["geometry"].astype(np.int64)
                    )
                    nf += 1
                    ck += int(xs.sum()) + int(ys.sum())
        best = min(best, time.monotonic() - t0)
        n_feats, checksum = nf, ck
    # r5 batched canonical-singles path (tiling.decode_tiles_to_features'
    # fast lane): same tiles, same checksum contract — the pin asserts
    # the vectorized kernel decodes bit-identical coordinates
    best_b = float("inf")
    n_feats_b = checksum_b = 0
    for _ in range(max(1, args.repeat)):
        t0 = time.monotonic()
        descs, tix, fb = [], [], []
        for i, t in enumerate(tiles):
            d = pbf.scan_singles_tile(t)
            if d is None:
                fb.append(i)
            else:
                for lay in d:
                    descs.append(lay)
                    tix.append(i)
        res, bad = (
            pbf.decode_singles_batch(descs, tiles, tix, n_tiles=len(tiles))
            if descs
            else (None, [])
        )
        nf = ck = 0
        if res is not None:
            nf = len(res["fid"])
            ck = int(res["px"].sum()) + int(res["py"].sum())
        for i in sorted(set(fb) | set(bad)):
            for lmsg in pbf.decode_tile(tiles[i]):
                layer = pbf.decode_layer(lmsg)
                for f in layer["features"]:
                    xs, ys, _ = gc.decode_geometry(
                        int(f["type"]), f["geometry"].astype(np.int64)
                    )
                    nf += 1
                    ck += int(xs.sum()) + int(ys.sum())
        best_b = min(best_b, time.monotonic() - t0)
        n_feats_b, checksum_b = nf, ck
    if (n_feats_b, checksum_b) != (n_feats, checksum):
        raise SystemExit(
            f"batched decode determinism pin FAILED: "
            f"{(n_feats_b, checksum_b)} != {(n_feats, checksum)}"
        )
    print(
        json.dumps(
            {
                "metric": "decode_kernel_fixed_batch_seconds",
                "value": round(best, 3),
                "batched_value": round(best_b, 3),
                "unit": "sec",
                "tiles": len(tiles),
                "features": n_feats,
                "coord_checksum": checksum,
                "z": args.z,
                "n_images": args.n_images,
            }
        )
    )


if __name__ == "__main__":
    main()
