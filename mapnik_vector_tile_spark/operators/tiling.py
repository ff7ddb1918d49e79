"""EP1 — the flagship encode pipeline (SURVEY.md §3):

features --assign_tiles--> explode --> groupBy(z,x,y)
  --applyInPandas(quantize -> clip -> simplify -> encode)--> tile blobs

This inverts the reference's per-tile datasource probe
(processor::update_tile looping ds->features(query)) into ONE shuffle
keyed on tile address — J1 inversion. Stage order inside the UDF
(transform -> clip -> simplify -> encode) preserves
vector_tile_processor.ipp create_geom_layer's visitor order.

Scale notes (the 100TB story):
* assign_tiles is a narrow 1->N flatmap in Arrow batches — no shuffle;
* the groupBy is THE shuffle, one for every zoom; each group is a
  whole tile, finished inside the encode stage;
* a tile is a hot key only when it holds many rows, at any zoom: with
  ``adaptive_salt_target`` the tiles whose counted rows exceed the
  target are salted into sub-groups, encoded as partial layers and
  merged in a second, much smaller groupBy (two-phase aggregation —
  SURVEY.md §4.3);
* all geometry kernels run vectorized numpy inside the Arrow batch;
  per-feature Python is bounded by features-per-tile, not table size.
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DataType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from mapnik_vector_tile_spark.functions import clip as clipmod
from mapnik_vector_tile_spark.functions import repair as repairmod
from mapnik_vector_tile_spark.functions import geomcodec as gc
from mapnik_vector_tile_spark.functions import pbf
from mapnik_vector_tile_spark.functions import pip as pipmod
from mapnik_vector_tile_spark.functions import simplify as simp
from mapnik_vector_tile_spark.functions import tilemath as tm
from mapnik_vector_tile_spark.operators.grouped import apply_grouped, group_starts
from mapnik_vector_tile_spark.sources.synth import footprint_from_phash

TWO_W_ARR = 2.0 * tm.W

FEATURES_SCHEMA = (
    "feature_id long, geom_type int, xs array<double>, ys array<double>, "
    "part_offsets array<int>, caption string"
)


def flag_invalid_polygons(features: DataFrame) -> DataFrame:
    """F12 quarantine path: append ``is_simple boolean`` — True for
    non-polygons and for polygons whose every ring is simple (no
    repeated vertex, no proper self-crossing; functions.repair
    .ring_is_simple). Lets a pipeline route invalid geometry to a
    side table (`.filter(~col("is_simple"))`) instead of — or before —
    in-kernel repair. Narrow vectorized stage, no shuffle.
    Ref parity: the reference's wagyu clip repairs implicitly; this is
    the explicit-audit alternative (SURVEY §2.7 F12)."""

    def gen(it):
        for pdf in it:
            flags = []
            for gt, xs, ys, offs in zip(
                pdf["geom_type"], pdf["xs"], pdf["ys"], pdf["part_offsets"]
            ):
                if int(gt) != gc.GEOM_POLYGON:
                    flags.append(True)
                    continue
                xs = np.asarray(xs, dtype=np.float64)
                ys = np.asarray(ys, dtype=np.float64)
                offs = np.asarray(offs, dtype=np.int64)
                flags.append(all(
                    repairmod.ring_is_simple(
                        xs[offs[r]:offs[r + 1]], ys[offs[r]:offs[r + 1]]
                    )
                    for r in range(len(offs) - 1)
                ))
            out = pdf.copy()
            out["is_simple"] = flags
            yield out

    return features.mapInPandas(
        gen, schema=FEATURES_SCHEMA + ", is_simple boolean"
    )


def images_to_features(images: DataFrame) -> DataFrame:
    """input_hint images -> canonical features: point footprint + quad
    polygon derived from phash (FIXTURES.md §1). Vectorized pandas UDF;
    bytes column never touched (column pruning keeps it out of Arrow).
    """

    def gen(it):
        for pdf in it:
            n = len(pdf)
            if n == 0:
                continue
            ph = pdf["phash"].to_numpy()
            idx = pdf["image_id"].str.slice(4).astype(np.int64).to_numpy()
            lon, lat, hw = footprint_from_phash(ph, idx)
            mx, my = tm.lonlat_to_merc_np(lon, lat)
            # footprint quad in mercator: half-width in degrees scaled
            hwm = hw * 111319.49079327358
            # one point feature + one quad polygon feature per image
            pt = pd.DataFrame(
                {
                    "feature_id": idx * 2,
                    "geom_type": gc.GEOM_POINT,
                    "xs": [[x] for x in mx],
                    "ys": [[y] for y in my],
                    "part_offsets": [[0, 1]] * n,
                    "caption": pdf["caption"].to_numpy(),
                }
            )
            quad = pd.DataFrame(
                {
                    "feature_id": idx * 2 + 1,
                    "geom_type": gc.GEOM_POLYGON,
                    # wound CW in mercator y-up so the y-flip at
                    # quantization yields MVT-positive exterior area
                    "xs": [
                        [x - w, x - w, x + w, x + w]
                        for x, w in zip(mx, hwm)
                    ],
                    "ys": [
                        [y - w, y + w, y + w, y - w]
                        for y, w in zip(my, hwm)
                    ],
                    "part_offsets": [[0, 4]] * n,
                    "caption": pdf["caption"].to_numpy(),
                }
            )
            yield pd.concat([pt, quad])

    cols = ["image_id", "phash", "caption"]
    return images.select(*cols).mapInPandas(gen, schema=FEATURES_SCHEMA)


ASSIGNED_SCHEMA = (
    "feature_id long, geom_type int, coords binary, caption string, "
    "z int, x long, y long, is_single boolean, px long, py long"
)


def _pack_coords(xs, ys, offs) -> bytes:
    """Multi-vertex geometry -> one binary blob: [n, m] int64 header +
    xs/ys float64[n] + offsets int64[m]. A binary column shuffles at
    string cost; Arrow list columns cost ~5-20x more per row (see
    assign_tiles docstring)."""
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    offs = np.asarray(offs, dtype=np.int64)
    head = np.array([len(xs), len(offs)], dtype=np.int64)
    return head.tobytes() + xs.tobytes() + ys.tobytes() + offs.tobytes()


def _unpack_coords(buf) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    b = bytes(buf)
    head = np.frombuffer(b, np.int64, 2)
    n, m = int(head[0]), int(head[1])
    xs = np.frombuffer(b, np.float64, n, 16)
    ys = np.frombuffer(b, np.float64, n, 16 + 8 * n)
    offs = np.frombuffer(b, np.int64, m, 16 + 16 * n)
    return xs, ys, offs


THIN_HBITS = 53  # splitmix64(fid) >> 11 coin domain, shared w/ sampling


def thin_thresholds(
    base_z: int,
    z_min: int = 0,
    rate_num: int = 5,
    rate_den: int = 2,
) -> dict[int, int]:
    """tippecanoe ``--drop-rate`` keep thresholds: at zoom z below
    ``base_z`` a point survives iff its 53-bit hash coin is under
    2^53·(rate_den/rate_num)^(base_z−z) — the default 5/2 halves-ish
    density 2.5× per zoom-out step, computed in EXACT integer
    arithmetic (2^53·den^k // num^k) so both engines agree bit-for-bit.
    Thresholds are monotone in z, so the kept sets are NESTED across
    zooms (a point visible at z is visible at every deeper zoom) —
    the visual-consistency invariant tile viewers rely on."""
    if rate_num <= rate_den or rate_den < 1:
        raise ValueError("thin rate must be > 1 (num > den >= 1)")
    out = {}
    for z in range(z_min, base_z + 1):
        k = base_z - z
        out[z] = ((1 << THIN_HBITS) * rate_den**k) // rate_num**k
    return out


def zoom_thin(
    assigned: DataFrame,
    base_z: int,
    rate_num: int = 5,
    rate_den: int = 2,
) -> DataFrame:
    """Post-assign zoom thinning filter over the assigned schema (any
    schema with feature_id + z; geom_type honored when present): keep
    rows whose splitmix64 coin clears the z-level threshold. Only
    POINT features thin (tippecanoe --drop-rate semantics — lines and
    polygons always render); prefer assign_tiles(thin_base_z=...)
    which applies the same rule INSIDE the fan-out kernel so dropped
    rows never materialize — this standalone form serves already-
    assigned tables. Drops nothing at z >= base_z."""
    from mapnik_vector_tile_spark.functions import geomcodec as _gc
    from mapnik_vector_tile_spark.operators.sampling import sample_hash

    thr = thin_thresholds(base_z, 0, rate_num, rate_den)
    hord = sample_hash(F.col("feature_id"))
    cond = F.col("z") >= F.lit(base_z)
    if "geom_type" in assigned.columns:
        cond = cond | (F.col("geom_type") != F.lit(_gc.GEOM_POINT))
    for z in sorted(thr):
        if z < base_z:
            cond = cond | (
                (F.col("z") == F.lit(z)) & (hord < F.lit(thr[z]))
            )
    return assigned.filter(cond)


def assign_tiles(
    features: DataFrame,
    z_min: int = 0,
    z_max: int = 14,
    buffer_units: int = tm.DEFAULT_BUFFER,
    extent: int = tm.DEFAULT_EXTENT,
    thin_base_z: int | None = None,
    thin_rate: tuple[int, int] = (5, 2),
) -> DataFrame:
    """1->N covering-tile fan-out (A.2) over the z range — fully
    vectorized (np.repeat cartesian enumeration, no per-feature Python
    loop): the hot narrow stage before THE shuffle.

    Single-point features (the bulk of an image-footprint table) are
    quantized to tile-local ints HERE and carry NO geometry payload
    through the shuffle; multi-vertex geometries ship ONE packed
    binary `coords` column (len-header + xs/ys float64 + offsets
    int64, `_pack_coords`) instead of three array<double>/array<int>
    columns. Measured on this host: shuffling 1.65M rows with three
    (even all-NULL) Arrow list columns costs ~11s beyond the numeric
    columns (and ~55s at 100k-record Arrow batches); the same rows
    with a binary column cost the same as numerics — list columns are
    the single most expensive thing this pipeline can put through
    exchange+Arrow, so the internal assigned schema never uses them.
    Encode re-checks buffered bounds on the quantized ints; for a point
    within half a quantum of the buffered edge this differs from the
    world-coordinate check by that half-quantum — sub-output-resolution
    by construction.

    Small-file inputs (one parquet row-group -> one partition) would run
    this CPU-bound stage on one core; widen to cluster parallelism
    first. At 100TB the scan already has thousands of partitions and the
    repartition is skipped."""
    sc = features.sparkSession.sparkContext
    if features.rdd.getNumPartitions() < sc.defaultParallelism:
        features = features.repartition(sc.defaultParallelism * 2)

    # zoom thinning (tippecanoe --drop-rate): per-z keep thresholds on
    # the 53-bit splitmix coin; applied INSIDE the fan-out by zeroing
    # the covering count of dropped features, so the dropped rows are
    # never enumerated (at 10^12 points, z0-z5 would otherwise fan out
    # 6·10^12 rows that the pyramid cannot render anyway)
    thin_thr = (
        thin_thresholds(thin_base_z, z_min, *thin_rate)
        if thin_base_z is not None
        else None
    )

    def gen(it):
        for pdf in it:
            n = len(pdf)
            if n == 0:
                continue
            xs_np = pdf["xs"].to_numpy()
            ys_np = pdf["ys"].to_numpy()
            offs_np = pdf["part_offsets"].to_numpy()
            gts = pdf["geom_type"].to_numpy()
            fids = pdf["feature_id"].to_numpy()
            caps = pdf["caption"].to_numpy()
            lens = np.fromiter((len(a) for a in xs_np), np.int64, count=n)
            single = (gts == gc.GEOM_POINT) & (lens == 1)
            if single.all():
                # all-single fast path (the image-footprint /
                # point-corpus shape): one C-level concatenate, no
                # per-row Python min/max maps, no packing loop
                sx = np.concatenate(list(xs_np)).astype(np.float64)
                sy = np.concatenate(list(ys_np)).astype(np.float64)
                minxs = maxxs = sx
                minys = maxys = sy
                packed = np.empty(n, dtype=object)
            else:
                sx = np.fromiter(
                    (a[0] if s else 0.0 for a, s in zip(xs_np, single)),
                    np.float64, count=n,
                )
                sy = np.fromiter(
                    (a[0] if s else 0.0 for a, s in zip(ys_np, single)),
                    np.float64, count=n,
                )
                minxs = np.where(
                    single, sx, pdf["xs"].map(min).to_numpy(np.float64)
                )
                maxxs = np.where(
                    single, sx, pdf["xs"].map(max).to_numpy(np.float64)
                )
                minys = np.where(
                    single, sy, pdf["ys"].map(min).to_numpy(np.float64)
                )
                maxys = np.where(
                    single, sy, pdf["ys"].map(max).to_numpy(np.float64)
                )
                # one packed-bytes object per MULTI feature, shared
                # across all its z-level fan-out rows (np fancy-index
                # copies the reference, not the bytes)
                packed = np.empty(n, dtype=object)
                for i in np.flatnonzero(~single):
                    packed[i] = _pack_coords(xs_np[i], ys_np[i], offs_np[i])
            if thin_thr is not None:
                from mapnik_vector_tile_spark.sources.synth import splitmix64

                hord = (
                    splitmix64(fids.astype(np.uint64)) >> np.uint64(11)
                ).astype(np.int64)
            chunks = []
            for z in range(z_min, z_max + 1):
                lox, hix, loy, hiy = tm.covering_tiles_np(
                    minxs, minys, maxxs, maxys, z, buffer_units, extent
                )
                nx = hix - lox + 1
                ny = hiy - loy + 1
                cnt = nx * ny
                if thin_thr is not None and z in thin_thr:
                    t = thin_thr[z]
                    if t < (1 << THIN_HBITS):
                        # POINT features only (tippecanoe --drop-rate
                        # semantics): lines/polygons always render —
                        # dropping a whole footprint from a low zoom is
                        # not density thinning, it's a missing feature
                        cnt = np.where(
                            (hord < t) | (gts != gc.GEOM_POINT), cnt, 0
                        )
                rep = np.repeat(np.arange(n), cnt)
                # within-feature rank 0..cnt-1 -> (dx, dy) cartesian
                starts = np.concatenate(([0], np.cumsum(cnt)[:-1]))
                rank = np.arange(int(cnt.sum())) - np.repeat(starts, cnt)
                tx = lox[rep] + rank // ny[rep]
                ty = loy[rep] + rank % ny[rep]
                srep = single[rep]
                span = TWO_W_ARR / float(1 << z)
                scale = extent / span
                minx_t = -tm.W + tx * span
                maxy_t = tm.W - ty * span
                px = tm.round_half_away_np((sx[rep] - minx_t) * scale)
                py = tm.round_half_away_np((maxy_t - sy[rep]) * scale)
                m = len(rep)
                chunks.append((
                    fids[rep],
                    gts[rep],
                    packed[rep],
                    caps[rep],
                    np.full(m, z, dtype=np.int32),
                    tx,
                    ty,
                    srep,
                    np.where(srep, px, 0.0).astype(np.int64),
                    np.where(srep, py, 0.0).astype(np.int64),
                ))
            # one column-wise concatenate + one DataFrame build (the
            # per-z pd.DataFrame + pd.concat pair spent ~30% of this
            # kernel in pandas block management)
            names = ("feature_id", "geom_type", "coords", "caption",
                     "z", "x", "y", "is_single", "px", "py")
            yield pd.DataFrame({
                name: np.concatenate([c[i] for c in chunks])
                for i, name in enumerate(names)
            })

    schema = ASSIGNED_SCHEMA
    return features.mapInPandas(gen, schema=schema)


SALT_MAX_Z = 5  # with_salt splits the tiles at z <= this (encode_layers)


def with_salt(assigned: DataFrame, n_salts: int = 16) -> DataFrame:
    """Hot-key mitigation: low-z groups split by a feature_id-derived
    salt; high-z groups use salt 0. Deterministic (no rand()) so resume
    and golden tests stay stable."""
    return assigned.withColumn(
        "salt",
        F.when(
            F.col("z") <= SALT_MAX_Z,
            (F.col("feature_id") % n_salts).cast("int"),
        ).otherwise(F.lit(0)),
    )


def with_adaptive_salt(
    assigned: DataFrame,
    target_group_rows: int = 20_000,
    max_salts: int = 256,
) -> DataFrame:
    """Adaptive cell splitting (north_rule): salt count per tile is
    driven by that tile's MEASURED density, not a zoom heuristic — a
    z14 tile over a megacity splits, an empty z2 ocean tile doesn't.

    One cheap counting aggregation (bytes-per-key ~16, broadcast-size
    because only keys above ``target_group_rows`` are kept), then
    ``salt = feature_id % ceil(count/target)`` via a broadcast join.
    Deterministic — identical salts on every retry/resume regardless of
    cluster size, unlike rand()-based salting.

    At 100 TB the count aggregate is map-side-combined to ~one row per
    hot tile; the broadcast stays tiny because hot tiles are by
    definition rare (a heavy-hitter sketch would bound it further if
    the tail were ever fat)."""
    hot = (
        assigned.groupBy("z", "x", "y")
        .count()
        .filter(F.col("count") > target_group_rows)
        .select(
            "z",
            "x",
            "y",
            F.least(
                F.lit(max_salts),
                F.ceil(F.col("count") / target_group_rows).cast("int"),
            ).alias("_n_salts"),
        )
    )
    return (
        assigned.join(F.broadcast(hot), ["z", "x", "y"], "left")
        .withColumn(
            "salt",
            F.when(
                F.col("_n_salts").isNotNull(),
                (F.col("feature_id") % F.col("_n_salts")).cast("int"),
            ).otherwise(F.lit(0)),
        )
        .drop("_n_salts")
    )


def _schema(*fields: tuple[str, DataType]) -> StructType:
    """A UDF output schema built once, without the JVM: a DDL string
    passed to mapInPandas / mapInArrow is parsed by the JVM again on
    every call, which a serving request pays for (~5 ms each)."""
    return StructType([StructField(name, t) for name, t in fields])


_ZXY = (("z", IntegerType()), ("x", LongType()), ("y", LongType()))
LAYER_SCHEMA = _schema(
    *_ZXY,
    ("layer", StringType()),
    ("blob", BinaryType()),
    ("n_features", LongType()),
    ("n_points", LongType()),
)
LAYER_COLS = LAYER_SCHEMA.fieldNames()
TILE_ROW_SCHEMA = _schema(
    *_ZXY,
    ("tile", BinaryType()),
    ("n_layers", LongType()),
    ("n_features", LongType()),
)
TILE_ROW_COLS = TILE_ROW_SCHEMA.fieldNames()
DECODED_SCHEMA = _schema(
    *_ZXY,
    ("layer", StringType()),
    ("feature_id", LongType()),
    ("geom_type", IntegerType()),
    ("pxs", ArrayType(LongType())),
    ("pys", ArrayType(LongType())),
    ("part_offsets", ArrayType(LongType())),
    ("caption", StringType()),
)


# int64 shoelace sums of <= _SMALL_N terms are exact while every tile
# coordinate stays within ±2^29 (and so within geomcodec's ±2^31 small
# path); rings quantized beyond it take the per-row path
_RING_COORD_LIM = 1 << 29


def _ring_dedup(xs: np.ndarray, ys: np.ndarray):
    """Row-wise twin of the ring dedupe shared by clip._finish_ring and
    geomcodec._encode_small_single_part over a (rows, n) vertex matrix:
    drop consecutive duplicates, then a last vertex equal to the first.
    Returns the keep mask and the kept count per row."""
    keep = np.ones(xs.shape, dtype=bool)
    keep[:, 1:] = (xs[:, 1:] != xs[:, :-1]) | (ys[:, 1:] != ys[:, :-1])
    cnt = keep.sum(axis=1)
    # the last kept vertex has the last vertex's value (same run)
    close = (cnt > 1) & (xs[:, 0] == xs[:, -1]) & (ys[:, 0] == ys[:, -1])
    last = xs.shape[1] - 1 - np.argmax(keep[:, ::-1], axis=1)
    keep[close, last[close]] = False
    return keep, cnt - close


def _by_count(rows, keep, cnt, xs, ys):
    """Split rows by kept-vertex count and compact each set to a
    (rows, count) matrix pair."""
    for c in np.unique(cnt).tolist():
        sel = cnt == c
        k = keep[sel]
        yield c, rows[sel], xs[sel][k].reshape(-1, c), ys[sel][k].reshape(-1, c)


def _small_ring_streams(blobs, frame):
    """Batch twin of the per-row polygon path (``feature_stream``) for
    the dominant footprint shape: a one-ring polygon of 3.._SMALL_N
    packed vertices. Each scalar step runs column-wise in the scalar
    float operation order, so the streams are bit-identical:

    clip_ring's bbox fast path (a ring missing the buffered box paints
    nothing; one inside it is _finish_ring'd) -> the sequential world
    area ``<= 0`` drop -> quantize -> int signed-area winding reversal
    -> the small single-part encode (dedupe, zero-area drop, zigzag
    MoveTo/LineTo/ClosePath).

    ``frame`` is per-row (minx, maxy, scale, bx0, by0, bx1, by1).
    Returns (done, nverts, pieces): ``done[i]`` when row i is settled
    here (painted via ``pieces`` or not painted at all); ``nverts`` its
    raw packed vertex count; ``pieces`` a list of (row indices, stream
    matrix), one matrix per stream length. Rows not done (clipped,
    multi-ring, other sizes, extreme coordinates) need the per-row
    path."""
    minx, maxy, scale, bx0, by0, bx1, by1 = frame
    k = len(blobs)
    done = np.zeros(k, dtype=bool)
    nverts = np.zeros(k, dtype=np.int64)
    pieces = []
    # _pack_coords of one ring: [n, 2] header, xs, ys, offsets [0, n]
    lens = np.fromiter(map(len, blobs), np.int64, count=k)
    cand = np.flatnonzero(
        (lens >= 32 + 16 * 3) & (lens <= 32 + 16 * gc._SMALL_N)
        & (lens % 16 == 0)
    )
    if not len(cand):
        return done, nverts, pieces
    buf = b"".join(blobs[cand])
    wi = np.frombuffer(buf, np.int64)
    wf = np.frombuffer(buf, np.float64)
    w0 = np.concatenate(([0], np.cumsum(lens[cand])[:-1])) // 8
    n = wi[w0]
    ok = (wi[w0 + 1] == 2) & (lens[cand] == 32 + 16 * n)
    cand, w0, n = cand[ok], w0[ok], n[ok]
    ok = (wi[w0 + 2 + 2 * n] == 0) & (wi[w0 + 3 + 2 * n] == n)
    cand, w0, n = cand[ok], w0[ok], n[ok]
    nverts[cand] = n
    for nv in np.unique(n).tolist():
        sel = n == nv
        rows = cand[sel]
        at = (w0[sel] + 2)[:, None] + np.arange(nv)
        xs, ys = wf[at], wf[at + nv]
        rx0, rx1 = xs.min(axis=1), xs.max(axis=1)
        ry0, ry1 = ys.min(axis=1), ys.max(axis=1)
        miss = (
            (rx1 < bx0[rows]) | (rx0 > bx1[rows])
            | (ry1 < by0[rows]) | (ry0 > by1[rows])
        )
        inside = (
            (rx0 >= bx0[rows]) & (rx1 <= bx1[rows])
            & (ry0 >= by0[rows]) & (ry1 <= by1[rows])
        )
        done[rows[miss]] = True
        rows, xs, ys = rows[inside], xs[inside], ys[inside]
        keep, cnt = _ring_dedup(xs, ys)
        done[rows[cnt < 3]] = True
        live = cnt >= 3
        for f, frows, fx, fy in _by_count(
            rows[live], keep[live], cnt[live], xs[live], ys[live]
        ):
            area = 0.0
            for i in range(f):
                j = (i + 1) % f
                area = area + (fx[:, i] * fy[:, j] - fx[:, j] * fy[:, i])
            flat = area == 0.0
            done[frows[flat]] = True
            frows, fx, fy = frows[~flat], fx[~flat], fy[~flat]
            px = tm.round_half_away_np(
                (fx - minx[frows, None]) * scale[frows, None]
            )
            py = tm.round_half_away_np(
                (maxy[frows, None] - fy) * scale[frows, None]
            )
            lim = _RING_COORD_LIM
            fits = (
                (px >= -lim) & (px <= lim) & (py >= -lim) & (py <= lim)
            ).all(axis=1)
            frows, px, py = frows[fits], px[fits], py[fits]
            a2 = np.zeros(len(frows), dtype=np.int64)
            for i in range(f):
                j = (i + 1) % f
                a2 += px[:, i] * py[:, j] - px[:, j] * py[:, i]
            flip = a2 < 0
            px[flip] = px[flip, ::-1]
            py[flip] = py[flip, ::-1]
            done[frows] = True
            keep2, cnt2 = _ring_dedup(px, py)
            paint = (a2 != 0) & (cnt2 >= 3)
            for m, mrows, qx, qy in _by_count(
                frows[paint], keep2[paint], cnt2[paint], px[paint],
                py[paint],
            ):
                st = np.empty((len(mrows), 2 * m + 3), dtype=np.int64)
                st[:, 0] = tm.command_integer_np(tm.MOVE_TO, 1)
                st[:, 1] = tm.zigzag_encode_np(qx[:, 0])
                st[:, 2] = tm.zigzag_encode_np(qy[:, 0])
                st[:, 3] = tm.command_integer_np(tm.LINE_TO, m - 1)
                st[:, 4:-1:2] = tm.zigzag_encode_np(np.diff(qx, axis=1))
                st[:, 5:-1:2] = tm.zigzag_encode_np(np.diff(qy, axis=1))
                st[:, -1] = tm.command_integer_np(tm.CLOSE_PATH, 1)
                pieces.append((mrows, st))
    return done, nverts, pieces


def make_encode_kernel(
    layer_name: str,
    extent: int,
    buffer_units: int,
    simplify_distance: float = 0.0,
    area_threshold: float = 0.0,
    emit_tiles: bool = False,
    repair: bool = False,
    fill_rule: str = "even_odd",
    simplify_strategy: str = "douglas-peucker",
):
    """The encode kernel (prepare, encode_group, encode_batch) used by
    encode_layer_partials — exposed at module level so
    jobs/kernel_bench.py can time it on a fixed in-process batch
    with no Spark/host-noise confound (BASELINE.md §4.4)."""
    # the batch ring path reproduces the plain clip -> quantize ->
    # winding -> encode chain only; repair/simplify/area options keep
    # every multi-vertex row on the per-row path
    ring_batch = not (repair or simplify_distance > 0 or area_threshold > 0)

    def prepare(cols: dict, n: int) -> dict:
        # singles arrive pre-quantized from assign_tiles (px/py tile
        # ints, arrays nulled) — the buffered-bounds check is pure int
        # compare, no world coords touched
        single = cols["is_single"].astype(bool)
        px = cols["px"].astype(np.int64)
        py = cols["py"].astype(np.int64)
        lo = -buffer_units
        hi = extent + buffer_units
        ok = single & (px >= lo) & (px <= hi) & (py >= lo) & (py <= hi)
        zzx = np.where(px >= 0, px << 1, (-px << 1) - 1)
        zzy = np.where(py >= 0, py << 1, (-py << 1) - 1)
        return {
            "_single": single,
            "_ok": ok,
            "_zzx": zzx,
            "_zzy": zzy,
        }

    def tile_frame(z, x, y):
        """(minx, maxy, scale, bx0, by0, bx1, by1) of tile z/x/y and its
        buffered box, for scalars or elementwise over int64 arrays (the
        same float operations either way)."""
        span = tm.tile_span(z)
        minx = -tm.W + x * span
        maxy = tm.W - y * span
        buf_m = span * buffer_units / extent
        return (
            minx,
            maxy,
            extent / span,
            minx - buf_m,
            (maxy - span) - buf_m,
            minx + span + buf_m,
            maxy + buf_m,
        )

    def feature_stream(gtype, blob, frame) -> tuple[np.ndarray, int]:
        """One packed multi-vertex row: clip (world coords) -> quantize
        -> winding/simplify (tile units) -> command stream. Returns the
        stream (empty when nothing is painted) and the raw vertex
        count."""
        minx, maxy, scale, bx0, by0, bx1, by1 = frame
        xs, ys, offs = _unpack_coords(blob)
        n_xs = len(xs)
        unpainted = np.empty(0, dtype=np.int64), n_xs
        if gtype == gc.GEOM_POINT:
            cx, cy = clipmod.clip_points(xs, ys, bx0, by0, bx1, by1)
            if len(cx) == 0:
                return unpainted
            px = tm.round_half_away_np((cx - minx) * scale)
            py = tm.round_half_away_np((maxy - cy) * scale)
            px, py = _dedup_pairs(px, py)
            stream = gc.encode_geometry(
                gc.GEOM_POINT, px, py, np.array([0, len(px)])
            )
        elif gtype == gc.GEOM_LINESTRING:
            parts = []
            for p in range(len(offs) - 1):
                parts.extend(
                    clipmod.clip_line(
                        xs[offs[p] : offs[p + 1]],
                        ys[offs[p] : offs[p + 1]],
                        bx0,
                        by0,
                        bx1,
                        by1,
                    )
                )
            if not parts:
                return unpainted
            fx = np.concatenate([p[0] for p in parts])
            fy = np.concatenate([p[1] for p in parts])
            poffs = np.cumsum([0] + [len(p[0]) for p in parts])
            px = tm.round_half_away_np((fx - minx) * scale)
            py = tm.round_half_away_np((maxy - fy) * scale)
            if simplify_distance > 0:
                px, py, poffs = simp.simplify_rings(
                    px, py, poffs, simplify_distance, closed=False,
                    strategy=simplify_strategy,
                )
            stream = gc.encode_geometry(gc.GEOM_LINESTRING, px, py, poffs)
        elif gtype == gc.GEOM_POLYGON:
            if repair:
                # F12 wagyu-parity repair: decompose invalid
                # (self-crossing / self-touching) rings into
                # simple lobes BEFORE box clipping — S-H clip
                # is only sound on simple rings
                xs, ys, offs = repairmod.repair_rings(
                    xs, ys, offs, fill_rule=fill_rule
                )
            fx, fy, roffs = clipmod.clip_polygon(
                xs, ys, offs, bx0, by0, bx1, by1
            )
            if len(fx) == 0:
                return unpainted
            px = tm.round_half_away_np((fx - minx) * scale)
            py = tm.round_half_away_np((maxy - fy) * scale)
            # wagyu-parity winding repair in tile coords (even-odd
            # containment depth -> exterior positive, hole negative)
            px, py = pipmod.normalize_ring_winding(
                px, py, roffs, gc.signed_area2
            )
            if simplify_distance > 0:
                px, py, roffs = simp.simplify_rings(
                    px, py, roffs, simplify_distance, closed=True,
                    strategy=simplify_strategy,
                )
            if area_threshold > 0:
                # reference processor option: drop tiny rings in
                # tile units (clipper.hpp area_threshold). AFTER
                # simplify, matching the reference chain
                # (geometry_simplifier feeds the clipper that
                # applies area_threshold) — simplification-created
                # slivers must not survive.
                px, py, roffs = clipmod.drop_small_rings(
                    px, py, roffs, area_threshold, gc.signed_area2
                )
                if len(px) == 0:
                    return unpainted
            stream = gc.encode_geometry(gc.GEOM_POLYGON, px, py, roffs)
        else:
            return unpainted
        return stream, n_xs

    def encode_group(key, cols: dict, sl: slice) -> list[tuple] | None:
        z, x, y = int(key[0]), int(key[1]), int(key[2])
        frame = tile_frame(z, x, y)
        lb = pbf.LayerBuilder(layer_name, extent=extent)
        n_pts = 0
        fids = cols["feature_id"]
        gts = cols["geom_type"]
        coords = cols["coords"]
        caps = cols["caption"]
        oks = cols["_ok"]
        singles = cols["_single"]
        zzxs = cols["_zzx"]
        zzys = cols["_zzy"]
        for i in range(sl.start, sl.stop):
            gtype = gts[i]
            if singles[i]:
                # vectorized fast path: stream precomputed in `prepare`
                if not oks[i]:
                    continue
                stream = (9, int(zzxs[i]), int(zzys[i]))
                n_xs = 1
            else:
                stream, n_xs = feature_stream(gtype, coords[i], frame)
                if len(stream) == 0:
                    continue
            lb.add_feature(int(fids[i]), int(gtype), stream, {"caption": caps[i]})
            n_pts += n_xs
        if not lb.painted:
            return None
        if emit_tiles:
            return [
                (z, x, y, pbf.concat_tile([lb.build()]), 1, len(lb._features))
            ]
        return [(z, x, y, layer_name, lb.build(), len(lb._features), n_pts)]

    def encode_batch(keycols, cols: dict, starts: np.ndarray):
        """Whole-batch path for every group whose captions are all
        non-null: per-row geometry streams first — singles from
        `prepare`, small unclipped rings from one vectorized pass
        (_small_ring_streams), every other row through the same
        `feature_stream` as encode_group — then ONE layer assembly for
        all groups (pbf.build_layers_batch). Byte-identical to
        encode_group (pinned by tests + the kernel-bench out_bytes pin +
        every engine oracle). Returns (rows, handled_mask); groups with
        a null caption fall through to encode_group."""
        n_g = len(starts) - 1
        caps = cols["caption"]
        if n_g == 0:
            return [], np.zeros(0, dtype=bool)
        s0 = starts[:-1]
        counts = np.diff(starts)
        handled = (
            np.add.reduceat(pd.isna(caps).astype(np.int64), s0) == 0
        )
        grp = np.repeat(np.arange(n_g, dtype=np.int64), counts)
        rows = np.flatnonzero(handled[grp])
        if not len(rows):
            return [], handled
        # per handled row: geometry stream length (0 = not painted),
        # raw vertex count, and the streams as (positions, matrix)
        single = cols["_single"][rows]
        pts = np.flatnonzero(single & cols["_ok"][rows])
        glen = np.zeros(len(rows), dtype=np.int64)
        glen[pts] = 3
        nverts = np.ones(len(rows), dtype=np.int64)
        pieces = [(pts, np.stack([
            np.full(len(pts), 9, dtype=np.int64),
            cols["_zzx"][rows[pts]],
            cols["_zzy"][rows[pts]],
        ], axis=1))]
        fallback = []
        multi = np.flatnonzero(~single)
        if len(multi):
            mrows = rows[multi]
            frame = tile_frame(
                *(c[mrows].astype(np.int64) for c in keycols[:3])
            )
            gts = cols["geom_type"][mrows]
            blobs = cols["coords"][mrows]
            todo = np.ones(len(multi), dtype=bool)
            if ring_batch:
                poly = np.flatnonzero(gts == gc.GEOM_POLYGON)
                done, nv, rpieces = _small_ring_streams(
                    blobs[poly], tuple(a[poly] for a in frame)
                )
                todo[poly[done]] = False
                nverts[multi[poly]] = nv
                for prow, st in rpieces:
                    at = multi[poly[prow]]
                    glen[at] = st.shape[1]
                    pieces.append((at, st))
            for j in np.flatnonzero(todo).tolist():
                stream, nv = feature_stream(
                    gts[j], blobs[j], tuple(float(a[j]) for a in frame)
                )
                nverts[multi[j]] = nv
                if len(stream):
                    glen[multi[j]] = len(stream)
                    fallback.append((multi[j], stream))
        emit = glen > 0
        if not emit.any():
            return [], handled
        geom_offs = np.zeros(int(emit.sum()) + 1, dtype=np.int64)
        np.cumsum(glen[emit], out=geom_offs[1:])
        at0 = np.zeros(len(rows), dtype=np.int64)
        at0[emit] = geom_offs[:-1]
        geom = np.empty(int(geom_offs[-1]), dtype=np.int64)
        for at, st in pieces:
            geom[at0[at][:, None] + np.arange(st.shape[1])] = st
        for p, stream in fallback:
            geom[at0[p]: at0[p] + len(stream)] = stream
        erows = rows[emit]
        live_ids, gidx = np.unique(grp[erows], return_inverse=True)
        layers = pbf.build_layers_batch(
            layer_name,
            2,
            extent,
            "caption",
            cols["feature_id"][erows],
            cols["geom_type"][erows],
            geom,
            geom_offs,
            caps[erows],
            gidx,
            len(live_ids),
            emit_tiles=emit_tiles,
        )
        nf = np.bincount(gidx, minlength=len(live_ids))
        npts = np.bincount(
            gidx, weights=nverts[emit], minlength=len(live_ids)
        ).astype(np.int64)
        zs, xs_, ys_ = keycols[0], keycols[1], keycols[2]
        out = []
        for j, g in enumerate(live_ids.tolist()):
            s = int(s0[g])
            key = (int(zs[s]), int(xs_[s]), int(ys_[s]))
            if emit_tiles:
                out.append((*key, layers[j], 1, int(nf[j])))
            else:
                out.append(
                    (*key, layer_name, layers[j], int(nf[j]), int(npts[j]))
                )
        return out, handled

    return prepare, encode_group, encode_batch


def encode_layer_partials(
    assigned: DataFrame,
    layer_name: str = "features",
    extent: int = tm.DEFAULT_EXTENT,
    buffer_units: int = tm.DEFAULT_BUFFER,
    simplify_distance: float = 0.0,
    area_threshold: float = 0.0,
    n_salts: int = 16,
    num_partitions: int | None = None,
    adaptive_salt_target: int | None = None,
    emit_tiles: bool = False,
    repair: bool = False,
    fill_rule: str = "even_odd",
    simplify_strategy: str = "douglas-peucker",
) -> DataFrame:
    """Per-(z,x,y,salt) fold: quantize (A.3) -> clip in world coords
    (F10-F12) -> simplify (F9, tile units) -> command stream (F4-F8) ->
    Layer blob (A1-A3 dictionaries). Returns PARTIAL layers: one row
    per (z,x,y,salt-group); callers merge via merge_salted_layers
    (layer output) or fold_tiles_from_partials (tile output, one fewer
    shuffle).

    ``emit_tiles=True`` (callers guarantee every group is a WHOLE
    unsalted single-layer tile — encode_tiles passes n_salts=1):
    each group folds to its final Tile buffer inline, so the finished
    output corpus is never shuffled a second time.

    Executed via grouped.apply_grouped (repartition + in-batch group
    iteration) because tile workloads have ~1 group per tile — per-group
    applyInPandas overhead would dominate by ~100x. Single points and
    unclipped small rings (the bulk of an image-footprint table) are
    encoded for the WHOLE Arrow batch in numpy (`prepare`,
    `encode_batch`), and one batch assembly writes every layer whose
    captions are all non-null; only the remaining rows run per-row
    Python.
    """
    prepare, encode_group, encode_batch = make_encode_kernel(
        layer_name,
        extent,
        buffer_units,
        simplify_distance=simplify_distance,
        area_threshold=area_threshold,
        emit_tiles=emit_tiles,
        repair=repair,
        fill_rule=fill_rule,
        simplify_strategy=simplify_strategy,
    )

    if adaptive_salt_target is not None:
        salted = with_adaptive_salt(
            assigned, target_group_rows=adaptive_salt_target
        )
    else:
        salted = with_salt(assigned, n_salts=n_salts)
    return apply_grouped(
        salted,
        keys=["z", "x", "y", "salt"],
        order_by=["z", "x", "y", "salt", "feature_id"],
        fn=encode_group,
        schema=TILE_ROW_SCHEMA if emit_tiles else LAYER_SCHEMA,
        out_columns=TILE_ROW_COLS if emit_tiles else LAYER_COLS,
        num_partitions=num_partitions,
        prepare=prepare,
        batch_fn=encode_batch,
    )


def encode_layers(
    assigned: DataFrame,
    layer_name: str = "features",
    extent: int = tm.DEFAULT_EXTENT,
    buffer_units: int = tm.DEFAULT_BUFFER,
    simplify_distance: float = 0.0,
    area_threshold: float = 0.0,
    n_salts: int = 16,
    num_partitions: int | None = None,
    adaptive_salt_target: int | None = None,
    repair: bool = False,
    fill_rule: str = "even_odd",
    simplify_strategy: str = "douglas-peucker",
) -> DataFrame:
    """encode_layer_partials + salted-partial merge: one row per
    (z,x,y) layer. Use encode_tiles when the consumer wants whole
    tiles — it skips this intermediate shuffle."""
    return merge_salted_layers(
        encode_layer_partials(
            assigned,
            layer_name=layer_name,
            extent=extent,
            buffer_units=buffer_units,
            simplify_distance=simplify_distance,
            area_threshold=area_threshold,
            n_salts=n_salts,
            num_partitions=num_partitions,
            adaptive_salt_target=adaptive_salt_target,
            repair=repair,
            fill_rule=fill_rule,
            simplify_strategy=simplify_strategy,
        )
    )


def encode_tiles(
    assigned: DataFrame,
    layer_name: str = "features",
    extent: int = tm.DEFAULT_EXTENT,
    buffer_units: int = tm.DEFAULT_BUFFER,
    simplify_distance: float = 0.0,
    area_threshold: float = 0.0,
    num_partitions: int | None = None,
    adaptive_salt_target: int | None = None,
    repair: bool = False,
    fill_rule: str = "even_odd",
    simplify_strategy: str = "douglas-peucker",
) -> DataFrame:
    """EP1 fused finish, byte-identical to fold_tiles(encode_layers(...))
    (the salted/unsalted byte-equality invariant): every zoom of
    ``assigned`` goes through one encode exchange.

    * Unsalted, each (z,x,y) group is a whole tile, so the encode stage
      finishes it inline (``emit_tiles``): the finished output never
      shuffles a second time and nothing is merged.
    * Adaptive salting (``adaptive_salt_target``) splits any tile whose
      counted rows exceed the target, at any zoom. The inline finish
      would emit each salted partial as a duplicate tile, so the tiles
      then take the merge pass (fold_tiles_from_partials)."""
    salted = adaptive_salt_target is not None
    out = encode_layer_partials(
        assigned,
        layer_name=layer_name,
        extent=extent,
        buffer_units=buffer_units,
        simplify_distance=simplify_distance,
        area_threshold=area_threshold,
        n_salts=1,
        num_partitions=num_partitions,
        adaptive_salt_target=adaptive_salt_target,
        emit_tiles=not salted,
        repair=repair,
        fill_rule=fill_rule,
        simplify_strategy=simplify_strategy,
    )
    return fold_tiles_from_partials(out) if salted else out


def encode_tiles_from_features(
    features: DataFrame,
    z_min: int = 0,
    z_max: int = 14,
    buffer_units: int = tm.DEFAULT_BUFFER,
    thin_base_z: int | None = None,
    thin_rate: tuple[int, int] = (5, 2),
    **encode_kwargs,
) -> DataFrame:
    """encode_tiles(assign_tiles(features, z_min, z_max, ...)) in one
    call: the features are evaluated and assigned once for the whole
    zoom range, then go through one encode exchange.  buffer_units,
    the extent and thin_* feed the assign; everything else passes
    through to the encode stage."""
    assigned = assign_tiles(
        features,
        z_min,
        z_max,
        buffer_units=buffer_units,
        extent=encode_kwargs.get("extent", tm.DEFAULT_EXTENT),
        thin_base_z=thin_base_z,
        thin_rate=thin_rate,
    )
    return encode_tiles(assigned, buffer_units=buffer_units, **encode_kwargs)


def encode_wafer_tiles(
    features: DataFrame,
    z: int,
    k: int = 3,
    layer_name: str = "features",
    buffer_units: int = tm.DEFAULT_BUFFER,
    simplify_distance: float = 0.0,
    area_threshold: float = 0.0,
    repair: bool = False,
) -> DataFrame:
    """Wafer rendering — the mapycz fork's multi-tile strategy
    (SURVEY §0: render a 2^k × 2^k block of tiles in ONE pass, then
    split — the fork added it so one datasource query and one render
    pass serve a whole block instead of 4^k separate tiles).

    Spark shape: features are assigned and encoded ONCE per WAFER — a
    tile at z−k with extent 4096·2^k, which is EXACTLY the z-level
    integer grid, so the split into children is a pure integer
    translation (overzoom_children with child_extent=4096 → coordinate
    factor f = 1: no rescale, no precision change). The split is a
    NARROW 1→4^k mapInPandas; the only shuffle is the wafer-level
    group-by, with 4^k FEWER keys than direct per-tile encode.

    When it wins at 100 TB: the per-group costs of EP1 (dictionary
    build, group dispatch, shuffle key overhead) amortize over the
    block — point-heavy corpora (the input_hint shape) split on the
    pure-int fast path, so wafers trade almost nothing back. The
    trade for large polygons: clipped once per wafer, re-clipped per
    child, and each child rebuilds its tag dictionary.

    Equivalence to direct encode_tiles: feature→tile membership and
    geometry are exact for single points (integer end-to-end on the
    shared grid — driver-gated by q_engine_wafer against closed-form
    SQL); multi-vertex geometry matches up to the half-quantum
    anchoring jitter every overzoom path has (quantization happens at
    the wafer origin instead of the child origin — sub-output-
    resolution by construction, same class as assign_tiles' documented
    bounds-check note).

    simplify/area_threshold apply at the CHILD stage (tile units),
    matching direct-encode semantics; the wafer encode itself never
    simplifies."""
    from mapnik_vector_tile_spark.operators import composite as comp

    if not 0 <= k <= z:
        raise ValueError("encode_wafer_tiles: need 0 <= k <= z")
    if k == 0:
        return encode_tiles(
            assign_tiles(features, z, z, buffer_units=buffer_units),
            layer_name=layer_name,
            buffer_units=buffer_units,
            simplify_distance=simplify_distance,
            area_threshold=area_threshold,
            repair=repair,
        )
    zw = z - k
    wext = tm.DEFAULT_EXTENT << k
    assigned = assign_tiles(
        features, zw, zw, buffer_units=buffer_units, extent=wext
    )
    # unsalted layer rows: each wafer is one whole group, and the split
    # into children consumes layers
    wafers = encode_layer_partials(
        assigned,
        n_salts=1,
        layer_name=layer_name,
        extent=wext,
        buffer_units=buffer_units,
        repair=repair,
    )
    children = comp.overzoom_layers(
        wafers,
        dz=k,
        buffer_units=buffer_units,
        simplify_distance=simplify_distance,
        area_threshold=area_threshold,
        child_extent=tm.DEFAULT_EXTENT,
    )

    # every child is a complete single-layer tile already (one wafer
    # owns each child address, one layer per pipeline), so the tile
    # wrap is a NARROW map — folding through a second (z,x,y) shuffle
    # would re-shuffle the entire output corpus for nothing
    def wrap(it):
        import pandas as pd

        for pdf in it:
            if not len(pdf):
                continue
            yield pd.DataFrame(
                {
                    "z": pdf["z"].astype("int32"),
                    "x": pdf["x"].astype("int64"),
                    "y": pdf["y"].astype("int64"),
                    "tile": [
                        pbf.concat_tile([bytes(b)]) for b in pdf["blob"]
                    ],
                    "n_layers": np.ones(len(pdf), dtype=np.int64),
                    "n_features": pdf["n_features"].astype("int64"),
                }
            )

    return children.mapInPandas(wrap, schema=TILE_ROW_SCHEMA)


def _dedup_pairs(px: np.ndarray, py: np.ndarray):
    """Distinct quantized points for multipoint encode, order-preserving."""
    if len(px) <= 1:
        return px, py
    seen = {}
    keep = []
    for i in range(len(px)):
        k = (int(px[i]), int(py[i]))
        if k not in seen:
            seen[k] = True
            keep.append(i)
    keep = np.array(keep, dtype=np.int64)
    return px[keep], py[keep]


def merge_salted_layers(partials: DataFrame) -> DataFrame:
    """Second-phase fold: merge partial layer blobs for the same
    (z,x,y,layer). The merge re-maps tag indices into a fresh combined
    dictionary (the 'genuinely novel kernel' of SURVEY.md §4.3) —
    features keep global feature_id order. Single-partial groups (the
    overwhelming majority — only salted low-z tiles split) pass the
    blob through untouched."""

    def merge_group(key, cols: dict, sl: slice) -> list[tuple]:
        z, x, y, layer = int(key[0]), int(key[1]), int(key[2]), str(key[3])
        blobs = cols["blob"][sl]
        nf = int(cols["n_features"][sl].sum())
        npts = int(cols["n_points"][sl].sum())
        if len(blobs) == 1:
            return [(z, x, y, layer, blobs[0], nf, npts)]
        # splice: raw geometry bytes untouched, dictionaries rebuilt
        # first-appearance in global feature order (byte-identical to a
        # single-pass encode), tag indices remapped
        merged = pbf.splice_merge_layers(list(blobs), layer)
        return [(z, x, y, layer, merged, nf, npts)]

    return apply_grouped(
        partials,
        keys=["z", "x", "y", "layer"],
        order_by=["z", "x", "y", "layer"],
        fn=merge_group,
        schema=LAYER_SCHEMA,
        out_columns=LAYER_COLS,
    )


def fold_tiles(layers: DataFrame) -> DataFrame:
    """A4 final fold: (z,x,y) -> one Tile buffer. Deterministic layer
    order via the partition-local sort; Tile message legality per A.5
    (field-3 concat)."""

    def concat_group(key, cols: dict, sl: slice) -> list[tuple]:
        z, x, y = int(key[0]), int(key[1]), int(key[2])
        tile = pbf.concat_tile(list(cols["blob"][sl]))
        return [
            (
                z,
                x,
                y,
                tile,
                sl.stop - sl.start,
                int(cols["n_features"][sl].sum()),
            )
        ]

    return apply_grouped(
        layers,
        keys=["z", "x", "y"],
        order_by=["z", "x", "y", "layer"],
        fn=concat_group,
        schema=TILE_ROW_SCHEMA,
        out_columns=TILE_ROW_COLS,
    )


def fold_tiles_from_partials(partials: DataFrame) -> DataFrame:
    """merge_salted_layers + fold_tiles fused into one grouped pass on
    (z,x,y): within each tile's slice, layer runs are detected on the
    sorted layer column; multi-partial layers are splice-merged
    (splice_merge_layers re-sorts features by id, so partial arrival
    order is irrelevant), then layer blobs concat in layer-name order
    (A.5). Output is byte-identical to the two-stage path — asserted
    by tests/test_pipeline.py — for one fewer shuffle."""

    def tile_group(key, cols: dict, sl: slice) -> list[tuple]:
        z, x, y = int(key[0]), int(key[1]), int(key[2])
        layers_arr = cols["layer"]
        blobs = cols["blob"]
        nfs = cols["n_features"]
        runs = group_starts([layers_arr[sl.start : sl.stop]], sl.stop - sl.start)
        layer_blobs = []
        n_feats = 0
        for r in range(len(runs) - 1):
            s = sl.start + int(runs[r])
            e = sl.start + int(runs[r + 1])
            if e - s == 1:
                layer_blobs.append(blobs[s])
            else:
                layer_blobs.append(
                    pbf.splice_merge_layers(list(blobs[s:e]), str(layers_arr[s]))
                )
            n_feats += int(nfs[s:e].sum())
        tile = pbf.concat_tile(layer_blobs)
        return [(z, x, y, tile, len(layer_blobs), n_feats)]

    return apply_grouped(
        partials,
        keys=["z", "x", "y"],
        order_by=["z", "x", "y", "layer"],
        fn=tile_group,
        schema=TILE_ROW_SCHEMA,
        out_columns=TILE_ROW_COLS,
    )


def decode_tiles_to_features(
    tiles: DataFrame,
    bbox: tuple[float, float, float, float] | None = None,
) -> DataFrame:
    """S2/EP2: tiles table -> features rows (lazy per-layer decode in a
    narrow mapInPandas — no shuffle).

    ``bbox`` (merc minx,miny,maxx,maxy) is the tile_datasource_pbf query
    bbox, applied BEFORE any byte is decoded as a disjunction of
    PER-ZOOM LITERAL ranges: ``(z=0 AND x BETWEEN .. AND y BETWEEN ..)
    OR (z=1 AND ..) OR ..`` over every legal level (z<=30, A.6). All
    constants are literals — no column-dependent arithmetic — so the
    predicate reaches the parquet/Iceberg source as pushed filters and
    non-intersecting ROW GROUPS are skipped via min/max stats, not just
    rows post-scan (a z-dependent floor() expression cannot be pushed;
    asserted by tests/test_plan_quality.py)."""
    if bbox is not None:
        import math

        minx, miny, maxx, maxy = bbox
        disjuncts = None
        for z in range(0, 31):
            span = TWO_W_ARR / (1 << z)
            lim = (1 << z) - 1
            lox = max(0, int(math.floor((minx + tm.W) / span)))
            hix = min(lim, int(math.floor((maxx + tm.W) / span)))
            loy = max(0, int(math.floor((tm.W - maxy) / span)))
            hiy = min(lim, int(math.floor((tm.W - miny) / span)))
            if lox > hix or loy > hiy:
                continue
            d = (
                (F.col("z") == z)
                & F.col("x").between(lox, hix)
                & F.col("y").between(loy, hiy)
            )
            disjuncts = d if disjuncts is None else (disjuncts | d)
        tiles = tiles.filter(
            disjuncts if disjuncts is not None else F.lit(False)
        )

    def _tile_rows(z, x, y, blob) -> list[tuple]:
        rows = []
        for lmsg in pbf.decode_tile(blob):
            layer = pbf.decode_layer(lmsg)
            for f in layer["features"]:
                gxs, gys, offs = gc.decode_geometry(
                    int(f["type"]),
                    f["geometry"].astype(np.int64),
                    version=int(layer["version"]),
                )
                if not len(gxs):
                    continue  # v1 feature degenerated entirely
                props = pbf.feature_props(layer, f)
                # MVT 2.1 makes the id optional: no id, null feature_id
                fid = None if f["id"] is None else int(f["id"])
                rows.append((
                    z, x, y, layer["name"], fid, int(f["type"]),
                    gxs.tolist(), gys.tolist(), offs.tolist(),
                    props.get("caption"),
                ))
        return rows

    def _slow_rows(zs, xs_t, ys_t, blobs, which) -> pd.DataFrame:
        """General per-feature decode (v1 tolerance, multi-key props,
        arbitrary geometry) for tiles the canonical-singles scan
        rejected — the original decode path, bit-for-bit. A tile this
        decoder rejects too (malformed wire data, a non-UTF-8 layer
        name, key or string) yields no rows, so one bad tile never
        aborts the rest of the batch."""
        rows = []
        for i in which:
            try:
                rows += _tile_rows(
                    int(zs[i]), int(xs_t[i]), int(ys_t[i]), blobs[i]
                )
            except (ValueError, IndexError, struct.error):
                continue
        out = pd.DataFrame.from_records(rows, columns=[
            "z", "x", "y", "layer", "feature_id", "geom_type",
            "pxs", "pys", "part_offsets", "caption",
        ])
        if out["feature_id"].dtype != np.int64:
            # a null id made the column float64, which rounds ids
            # beyond 2^53: rebuild it as nullable ints
            out["feature_id"] = pd.array([r[4] for r in rows], dtype="Int64")
        return out

    def gen(it):
        import pyarrow as pa

        pa_schema = pa.schema([
            ("z", pa.int32()), ("x", pa.int64()), ("y", pa.int64()),
            ("layer", pa.string()), ("feature_id", pa.int64()),
            ("geom_type", pa.int32()), ("pxs", pa.list_(pa.int64())),
            ("pys", pa.list_(pa.int64())),
            ("part_offsets", pa.list_(pa.int64())),
            ("caption", pa.string()),
        ])
        for rb in it:
            zs = rb.column("z").to_numpy(zero_copy_only=False)
            xs_t = rb.column("x").to_numpy(zero_copy_only=False)
            ys_t = rb.column("y").to_numpy(zero_copy_only=False)
            blobs = [
                pbf.maybe_decompress(t) for t in rb.column("tile").to_pylist()
            ]
            # canonical-singles fast path: scan every tile (cheap skip
            # scan), batch-decode all conforming layers in one
            # vectorized pass; anything non-conforming falls back to
            # the general per-feature decoder below
            descs, tix, fallback = [], [], []
            for i, b in enumerate(blobs):
                d = pbf.scan_singles_tile(b)
                if d is None:
                    fallback.append(i)
                else:
                    for lay in d:
                        descs.append(lay)
                        tix.append(i)
            if descs:
                # tile-granular: res covers pure-singles tiles, bad
                # lists scan-accepted tiles the validator demoted
                # (mixed geometry, foreign encoder) — those join the
                # per-feature fallback below
                res, bad = pbf.decode_singles_batch(
                    descs, blobs, tix, n_tiles=len(blobs)
                )
                fallback.extend(bad)
            else:
                res = None
            if res is not None:
                nf = len(res["fid"])
                t_of_lay = np.asarray(tix, dtype=np.int64)[
                    res["lay_idx"]
                ]
                t_of_feat = np.repeat(t_of_lay, res["nfeat"])
                off1 = np.arange(nf + 1, dtype=np.int32)
                pxs = pa.ListArray.from_arrays(
                    pa.array(off1), pa.array(res["px"], type=pa.int64())
                )
                pys = pa.ListArray.from_arrays(
                    pa.array(off1), pa.array(res["py"], type=pa.int64())
                )
                po = pa.ListArray.from_arrays(
                    pa.array(off1 * 2),
                    pa.array(
                        np.tile(np.array([0, 1], dtype=np.int64), nf)
                    ),
                )
                lay_name_feat = res["layer_name"][res["lay_of_feat"]]
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(zs[t_of_feat].astype(np.int32)),
                        pa.array(xs_t[t_of_feat].astype(np.int64)),
                        pa.array(ys_t[t_of_feat].astype(np.int64)),
                        pa.array(lay_name_feat, type=pa.string()),
                        pa.array(res["fid"]),
                        pa.array(res["gt"]),
                        pxs,
                        pys,
                        po,
                        res["caption"],
                    ],
                    schema=pa_schema,
                )
            if fallback:
                yield pa.RecordBatch.from_pandas(
                    _slow_rows(zs, xs_t, ys_t, blobs, fallback),
                    schema=pa_schema,
                    preserve_index=False,
                )

    return tiles.mapInArrow(gen, schema=DECODED_SCHEMA)


def vtquery(
    tiles: DataFrame,
    lon: float,
    lat: float,
    radius_px: int,
    z: int,
    k: int = 10,
    extent: int = tm.DEFAULT_EXTENT,
) -> DataFrame:
    """S7: nearest-feature point query over the ENCODED tile store —
    mapbox/vtquery parity (the serving-side "what is near this
    point?" operation): decode ONLY the tiles whose addresses can
    intersect the query radius (reuses decode_tiles_to_features'
    literal bbox ranges, so the prune reaches the parquet scan as
    pushed filters + row-group skipping — two-level, never a full
    store read), project every decoded vertex onto the GLOBAL integer
    pixel grid at z (gx = tile_x·extent + px — per-tile quantization
    commutes with the global grid because the tile offset is an exact
    integer), keep features whose nearest vertex lies within
    radius_px (EXACT BIGINT d² compare), collapse buffer duplicates
    to their min-d² copy, and return the k nearest by (d², id) — a
    TakeOrderedAndProject top-k, never a full sort. Output:
    (feature_id, d2, rnk) with rnk 1-based."""
    mxa, mya = tm.lonlat_to_merc_np(
        np.array([float(lon)]), np.array([float(lat)])
    )
    mx, my = float(mxa[0]), float(mya[0])
    span = tm.tile_span(z)
    scale = float(extent) / span
    qgx = int(tm.round_half_away_np(np.array([(mx + tm.W) * scale]))[0])
    qgy = int(tm.round_half_away_np(np.array([(tm.W - my) * scale]))[0])
    r_m = float(radius_px) / scale
    dec = decode_tiles_to_features(
        tiles, bbox=(mx - r_m, my - r_m, mx + r_m, my + r_m)
    ).filter(F.col("z") == z)
    gx0 = F.col("x") * F.lit(extent)
    gy0 = F.col("y") * F.lit(extent)
    d2 = F.array_min(
        F.zip_with(
            F.col("pxs"),
            F.col("pys"),
            lambda px, py: (gx0 + px - F.lit(qgx))
            * (gx0 + px - F.lit(qgx))
            + (gy0 + py - F.lit(qgy)) * (gy0 + py - F.lit(qgy)),
        )
    )
    near = (
        dec.select("feature_id", d2.alias("d2"))
        .filter(F.col("d2") <= F.lit(int(radius_px) * int(radius_px)))
        .groupBy("feature_id")
        .agg(F.min("d2").alias("d2"))
        .orderBy("d2", "feature_id")
        .limit(k)
    )
    w = Window.orderBy("d2", "feature_id")
    return near.select(
        "feature_id",
        "d2",
        F.row_number().over(w).cast("bigint").alias("rnk"),
    )


def label_grid_top1(
    assigned: DataFrame,
    cell_shift: int = 8,
    priority: Column | None = None,
) -> DataFrame:
    """Label/marker collision placement (W4) — the grid rule every
    tile server applies before rendering text (mapbox collision grid /
    supercluster at fixed zoom): within each tile, partition the
    extent into 2^cell_shift-pixel cells and keep exactly ONE feature
    per cell — the highest ``priority`` (descending), feature_id
    ascending as the deterministic tiebreak. Single-point rows only
    (labels are anchored at points; callers centroid polygons first).

    Plan shape: declared as row_number over (z, x, y, gx, gy) <= 1, so
    Spark's WindowGroupLimit rewrites it to a per-map-partition top-1
    BEFORE the exchange — the shuffle carries at most one row per
    (cell × input partition), not the corpus (the same 100 TB shape as
    balanced_topk, asserted in tests/test_plan_quality.py). Arithmetic
    shift-right == floor division, so buffered negative pixels land in
    the -1 cell in both engines."""
    pr = priority if priority is not None else F.col("feature_id")
    gx = F.shiftright(F.col("px"), cell_shift).alias("gx")
    gy = F.shiftright(F.col("py"), cell_shift).alias("gy")
    base = assigned.filter(F.col("is_single")).select(
        "z", "x", "y", "feature_id", "px", "py", gx, gy,
        pr.cast("long").alias("label_priority"),
    )
    w = (
        Window.partitionBy("z", "x", "y", "gx", "gy")
        .orderBy(F.col("label_priority").desc(), F.col("feature_id"))
    )
    return (
        base.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


UTFGRID_POW31 = [pow(31, i, 1 << 31) for i in range(64)]


def utfgrid_rows(
    points: DataFrame, z: int = 6, cell_bits: int = 6
) -> DataFrame:
    """S9 UTFGrid encode — mapnik's interactivity-grid output format
    (grid_renderer / save_to_string("utf"): a per-tile raster of
    feature KEYS where each cell stores a key index as a UTF-8
    codepoint with the JSON-unsafe gaps skipped: cp = idx + 32, then
    +1 at '\"' (34), +1 at '\\\\' (92)). Rebuilt pure-Catalyst — no
    UDF anywhere:

    * cell assignment is exact tile math: the (z + cell_bits) tile
      coordinate minus the z tile origin gives the in-tile cell, so
      the 2^cell_bits grid inherits the engine's pinned floor
      arithmetic;
    * painter's order is pinned as max feature id per cell (last
      feature wins under ascending-id render order);
    * the key table is the tile's distinct cell values ranked
      ascending (dense_rank), index 0 reserved for empty cells;
    * each grid ROW emits a positional polynomial hash
      Σ cp·31^cx mod 2³¹ over its nonempty cells (committed power
      table), so a single cell moving columns or swapping keys breaks
      the value — empty cells' contribution is implied by n_cells.

    Output: (z, x, y, row_idx, n_cells, rh, n_keys) for nonempty
    rows. Plan: one shuffle to the cell aggregate; the key-ranking
    window and row fold reuse the tile partitioning."""
    from pyspark.sql.window import Window

    from mapnik_vector_tile_spark.functions.tilemath import W

    span_z = 2.0 * W / (1 << z)
    span_f = 2.0 * W / (1 << (z + cell_bits))
    mx, my = F.col("mx"), F.col("my")
    tx = F.floor((mx + F.lit(W)) / F.lit(span_z)).cast("long")
    ty = F.floor((F.lit(W) - my) / F.lit(span_z)).cast("long")
    fx = F.floor((mx + F.lit(W)) / F.lit(span_f)).cast("long")
    fy = F.floor((F.lit(W) - my) / F.lit(span_f)).cast("long")
    cells = (
        points.select(
            tx.alias("x"),
            ty.alias("y"),
            (fx - tx * F.lit(1 << cell_bits)).alias("cx"),
            (fy - ty * F.lit(1 << cell_bits)).alias("cy"),
            F.col("id"),
        )
        .groupBy("x", "y", "cx", "cy")
        .agg(F.max("id").alias("v"))
    )
    w_tile = Window.partitionBy("x", "y").orderBy("v")
    ranked = cells.withColumn("ki", F.dense_rank().over(w_tile))
    cp0 = F.col("ki").cast("long") + F.lit(32)
    cp1 = cp0 + F.when(cp0 >= 34, 1).otherwise(0)
    cp = cp1 + F.when(cp1 >= 92, 1).otherwise(0)
    pow31 = F.array(*[F.lit(p).cast("long") for p in UTFGRID_POW31])
    contrib = ranked.withColumn(
        "h", cp * F.element_at(pow31, F.col("cx").cast("int") + 1)
    )
    nk = contrib.groupBy("x", "y").agg(F.max("ki").alias("n_keys"))
    rows = (
        contrib.groupBy("x", "y", F.col("cy").alias("row_idx"))
        .agg(
            F.count("*").cast("long").alias("n_cells"),
            (F.sum("h") % F.lit(1 << 31)).cast("long").alias("rh"),
        )
    )
    return (
        rows.join(nk, ["x", "y"])
        .select(
            F.lit(z).cast("long").alias("z"),
            "x",
            "y",
            "row_idx",
            "n_cells",
            "rh",
            F.col("n_keys").cast("long"),
        )
    )


def label_place_greedy(cands: DataFrame) -> DataFrame:
    """W7 greedy label placement with box collision — the mapnik
    placement_finder shape (placements processed in priority order;
    a label is placed iff its box overlaps no already-PLACED box;
    discarded labels do NOT block later ones). Pinned semantics:
    priority = ascending feature id; boxes are centered integer
    half-extents; overlap is STRICT on both axes
    (|dx| < hw_a + hw_b AND |dy| < hh_a + hh_b), so exact edge
    contact does not collide.

    Input: (x, y, id, cx, cy, hw, hh) — tile keys + box center/half
    sizes in tile-pixel coords. Output one row per tile:
    (x, y, n_cands, n_placed, ph) with ph = Σ over placed of
    (id·2654435761 mod 2³¹). One groupBy shuffle; the per-tile kernel
    is the O(k²) sequential scan (k = labels per tile, bounded by the
    tile's visual budget — the 100 TB axis is tile count)."""
    import pandas as pd

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("id", kind="mergesort")
        cx = pdf["cx"].to_numpy(np.int64)
        cy = pdf["cy"].to_numpy(np.int64)
        hw = pdf["hw"].to_numpy(np.int64)
        hh = pdf["hh"].to_numpy(np.int64)
        ids = pdf["id"].to_numpy(np.int64)
        placed = np.zeros(len(ids), dtype=bool)
        for k in range(len(ids)):
            p = placed[:k]
            hit = (
                (np.abs(cx[:k][p] - cx[k]) < hw[:k][p] + hw[k])
                & (np.abs(cy[:k][p] - cy[k]) < hh[:k][p] + hh[k])
            ).any()
            placed[k] = not hit
        ph = int(((ids[placed] * 2654435761) % (1 << 31)).sum())
        return pd.DataFrame(
            [
                (
                    int(pdf["x"].iloc[0]),
                    int(pdf["y"].iloc[0]),
                    len(ids),
                    int(placed.sum()),
                    ph,
                )
            ],
            columns=["x", "y", "n_cands", "n_placed", "ph"],
        )

    return (
        cands.select("x", "y", "id", "cx", "cy", "hw", "hh")
        .groupBy("x", "y")
        .applyInPandas(
            kernel,
            "x long, y long, n_cands long, n_placed long, ph long",
        )
    )
