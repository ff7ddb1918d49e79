#!/usr/bin/env python
"""spark-submit entry point — the north_rule deployment shape:

    zip -r mvt_spark.zip mapnik_vector_tile_spark
    spark-submit --py-files mvt_spark.zip jobs/tile_pipeline.py \\
        --images  <parquet/iceberg path of input_hint images> \\
        --out     <output root (tiles + lineage checkpoints)>  \\
        --z-min 0 --z-max 14

Runs EP1 end-to-end on a cluster: images → point+quad features →
covering-tile fan-out → salted grouped encode → merged layers → Tile
buffers, checkpointed per bucket through operators.lineage so a killed
job resumes idempotently (rerun the same command). The master/executor
topology comes entirely from spark-submit — nothing here is local-mode.

Local smoke (synthesizes images when --images is omitted):
    python jobs/tile_pipeline.py --n-images 5000 --out /tmp/tiles --z-max 8
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _ship_package(spark) -> None:
    """Make the package importable on Python workers when launched
    without ``spark-submit --py-files`` (local smoke runs): zip the
    package dir and addPyFile it — the same mechanism --py-files uses,
    so cluster behavior is identical either way."""
    import importlib
    import tempfile
    import zipfile

    pkg = importlib.import_module("mapnik_vector_tile_spark")
    pkg_dir = os.path.dirname(os.path.abspath(pkg.__file__))
    if not os.path.isdir(pkg_dir):  # already running from a --py-files zip
        return
    zpath = os.path.join(tempfile.mkdtemp(prefix="mvt_spark_"), "mvt_spark.zip")
    with zipfile.ZipFile(zpath, "w") as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                    zf.write(full, rel)
    spark.sparkContext.addPyFile(zpath)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--images", default=None, help="input images table path")
    ap.add_argument("--n-images", type=int, default=5000,
                    help="synthesize N images when --images is omitted")
    ap.add_argument("--out", required=True)
    ap.add_argument("--z-min", type=int, default=0)
    ap.add_argument("--z-max", type=int, default=14)
    ap.add_argument("--buffer", type=int, default=128)
    ap.add_argument("--adaptive-target", type=int, default=None,
                    help="rows per encode group for adaptive cell "
                         "splitting (density-driven salts): a tile "
                         "with more rows is salted and merged")
    ap.add_argument("--run-id", default=None)
    ap.add_argument("--overzoom-dz", type=int, default=0,
                    help="after the base pyramid commits, serve "
                         "z-max+1..z-max+dz from the STORED z-max "
                         "tiles (EP3 slow path) as a second "
                         "checkpointed stage")
    ap.add_argument("--repair", action="store_true",
                    help="decompose invalid (self-crossing/self-touching) "
                         "polygon rings into simple lobes before clipping "
                         "(F12 wagyu-parity repair)")
    ap.add_argument("--overzoom-redistribute", action="store_true",
                    help="one child per task (few hot parents, deep "
                         "dz) instead of the narrow 1->4^dz flatMap")
    ap.add_argument("--rollup", action="store_true",
                    help="encode ONLY z-max from source (one source "
                         "scan instead of one fan-out per level) and "
                         "derive z-min..z-max-1 bottom-up from the "
                         "COMMITTED store by 4->1 downzoom rollups — "
                         "at 100 TB the source scan dominates, so the "
                         "rollup build reads it once and each derived "
                         "level costs one bounded-fan-in shuffle over "
                         "the much smaller tile table")
    ap.add_argument("--thin-base-z", type=int, default=None,
                    help="tippecanoe-style drop-rate 5/2 point "
                         "thinning below this zoom (P6): the keep "
                         "mask applies INSIDE the fan-out so dropped "
                         "low-zoom rows are never generated — at "
                         "planetary point counts this is what keeps "
                         "z0-z5 renderable AND keeps shuffle #1 from "
                         "carrying un-renderable rows")
    args = ap.parse_args()
    if args.thin_base_z is not None and args.rollup:
        # --rollup encodes ONLY z_max from source and derives the lower
        # pyramid from committed tiles, so a low-zoom thin mask would
        # silently never apply — reject rather than no-op
        ap.error("--thin-base-z is incompatible with --rollup (the "
                 "rollup derives low zooms from the committed z-max "
                 "store, so the fan-out mask would never fire)")
    if not 0 <= args.z_min <= args.z_max:
        ap.error(f"need 0 <= z-min <= z-max, got {args.z_min}..{args.z_max}")
    if args.z_max + args.overzoom_dz > 15:
        # the packed lineage-bucket key gives z 4 bits (z<<60); z>=16
        # would alias mod 16 and silently prune WRONG tiles on resume
        ap.error(
            "z-max + overzoom-dz must be <= 15 (4-bit z field in the "
            f"packed lineage bucket key), got {args.z_max} + "
            f"{args.overzoom_dz}"
        )

    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.operators import lineage as L
    from mapnik_vector_tile_spark.operators import tiling as T
    from mapnik_vector_tile_spark.session import get_spark

    spark = get_spark("tile-pipeline")
    _ship_package(spark)
    if args.images:
        images = spark.read.parquet(args.images)
    else:
        from mapnik_vector_tile_spark.sources.synth import images_df

        images = images_df(spark, args.n_images)

    feats = T.images_to_features(images)
    base_z_min = args.z_max if args.rollup else args.z_min
    assigned = T.assign_tiles(
        feats, base_z_min, args.z_max, args.buffer,
        thin_base_z=args.thin_base_z,
    )

    # packed tile key (z:4 | x:30 | y:30 bits) — the deterministic
    # lineage-bucket key; stable across cluster sizes
    def cell_col():
        return (
            F.shiftleft(F.col("z").cast("long"), 60)
            + F.shiftleft(F.col("x"), 30)
            + F.col("y")
        )

    # resume prunes COMPUTE, not just writes: the bucket key is pure
    # (z,x,y) math known at assign time, so completed buckets never
    # reach the shuffle/encode — a resumed run pays only the narrow
    # scan+assign over the input, not the expensive stages (run_stage
    # re-filters defensively; every row of a tile shares one bucket so
    # the pre-filter is exact)
    done = L.completed_buckets(args.out, "tiles")
    if done:
        assigned = assigned.withColumn("cell", cell_col())
        b = L.bucket_col("cell")  # MUST be run_stage's own expression
        assigned = assigned.filter(
            ~b.isin(*[int(x) for x in sorted(done)])
        ).drop("cell")

    tiles = T.encode_tiles(
        assigned,
        buffer_units=args.buffer,
        adaptive_salt_target=args.adaptive_target,
        repair=args.repair,
    ).withColumn("cell", cell_col())
    lin = L.run_stage(
        tiles.select("z", "x", "y", "cell", "tile", "n_layers", "n_features"),
        args.out,
        stage="tiles",
        key_col="cell",
        run_id=args.run_id,
    )
    rows = lin.collect()
    done = sum(r.rows_out for r in rows)
    print(
        f"committed {len(rows)} buckets, {done} tiles this run; "
        f"total buckets done: {len(L.completed_buckets(args.out, 'tiles'))}"
    )

    if args.rollup and args.z_min < args.z_max:
        # third checkpointed stage: derive the lower pyramid from the
        # COMMITTED z-max store (reads tiles, never the source).
        # Buffered children legitimately duplicate seam-straddling
        # features whole across siblings -> content-exact dedupe keeps
        # one copy; clipped fragments differ and are all kept.
        from mapnik_vector_tile_spark.operators import composite as C

        stored = L.read_stage(spark, args.out, "tiles").filter(
            F.col("z") == args.z_max
        )
        base_layers = C.tiles_to_layers(
            stored.select("z", "x", "y", "tile")
        )
        band = C.downzoom_band(
            base_layers, args.z_min, dedupe_fids=True
        )
        rolled = T.fold_tiles(band).withColumn("cell", cell_col())
        lin_r = L.run_stage(
            rolled.select(
                "z", "x", "y", "cell", "tile", "n_layers", "n_features"
            ),
            args.out,
            stage="rollup",
            key_col="cell",
            run_id=args.run_id,
        )
        rows_r = lin_r.collect()
        print(
            f"rollup: committed {len(rows_r)} buckets, "
            f"{sum(r.rows_out for r in rows_r)} derived tiles "
            f"(z{args.z_min}..z{args.z_max - 1}); total buckets done: "
            f"{len(L.completed_buckets(args.out, 'rollup'))}"
        )

    if args.overzoom_dz > 0:
        # second checkpointed stage, sourced from the COMMITTED store
        # (the tile-server shape: overzoom reads what was written, so
        # a resumed run never recomputes the base pyramid)
        from mapnik_vector_tile_spark.operators import composite as C

        stored = L.read_stage(spark, args.out, "tiles").filter(
            F.col("z") == args.z_max
        )
        # the overzoom bucket key is the PARENT tile cell — every child
        # of one parent shares a bucket, so a resumed run prunes the
        # parents of completed buckets BEFORE any decode/render (the
        # same compute-prune the base stage does), not just the writes
        done_oz = L.completed_buckets(args.out, "overzoom")
        if done_oz:
            stored = stored.withColumn("cell", cell_col())
            b = L.bucket_col("cell")
            stored = stored.filter(
                ~b.isin(*[int(x) for x in sorted(done_oz)])
            ).drop("cell")
        parents = C.tiles_to_layers(
            stored.select("z", "x", "y", "tile")
        ).persist()  # each dz level re-reads the split parents, not the store
        kids = C.overzoom_band(
            parents,
            args.z_max,
            args.overzoom_dz,
            buffer_units=args.buffer,
            redistribute=args.overzoom_redistribute,
        )
        # bucket by the PARENT address (px/py from overzoom_band)
        kids = kids.withColumn(
            "cell",
            F.shiftleft(F.lit(args.z_max).cast("long"), 60)
            + F.shiftleft(F.col("px"), 30)
            + F.col("py"),
        ).drop("px", "py")
        lin2 = L.run_stage(
            kids.select(
                "z", "x", "y", "cell", "tile", "n_layers", "n_features"
            ),
            args.out,
            stage="overzoom",
            key_col="cell",
            run_id=args.run_id,
        )
        rows2 = lin2.collect()  # triggers the bucket writes
        parents.unpersist()
        print(
            f"overzoom: committed {len(rows2)} buckets, "
            f"{sum(r.rows_out for r in rows2)} child tiles "
            f"(z{args.z_max + 1}..z{args.z_max + args.overzoom_dz}); "
            f"total buckets done: "
            f"{len(L.completed_buckets(args.out, 'overzoom'))}"
        )
    spark.stop()


if __name__ == "__main__":
    main()
